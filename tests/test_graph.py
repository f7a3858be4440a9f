"""pagerank (operators/graph.py): integer fixed-point recurrence checked
against a pure-python dict oracle on hand-built graphs."""

from pyspark.sql import functions as F

from app_insights_generator_spark.operators.graph import pagerank


def _py_pagerank(edges, iterations=5, damping=85, scale=1_000_000):
    nodes = sorted({a for a, _ in edges} | {b for _, b in edges})
    n = len(nodes)
    outdeg = {}
    for a, _ in edges:
        outdeg[a] = outdeg.get(a, 0) + 1
    teleport = (100 - damping) * scale // (100 * n)
    rank = {v: scale // n for v in nodes}
    for _ in range(iterations):
        s = {v: 0 for v in nodes}
        for a, b in edges:
            s[b] += rank[a] // outdeg[a]
        rank = {v: teleport + damping * s[v] // 100 for v in nodes}
    return rank


def test_pagerank_matches_python_oracle(spark):
    edges = [
        ("a", "b"), ("b", "a"), ("b", "c"),          # c is a sink
        ("d", "a"), ("d", "b"), ("d", "c"), ("c", "d"),
    ]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r.node: r.rank for r in pagerank(df, iterations=5).collect()}
    assert got == _py_pagerank(edges, iterations=5)


def test_pagerank_star_graph_ranks_center_highest(spark):
    edges = [(f"leaf{i}", "hub") for i in range(6)] + [("hub", "leaf0")]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r.node: r.rank for r in pagerank(df, iterations=5).collect()}
    assert got == _py_pagerank(edges, iterations=5)
    assert got["hub"] == max(got.values())


def test_bfs_depths_hand_graph(spark):
    from app_insights_generator_spark.operators.graph import bfs_depths

    # a -> b -> c -> d chain, shortcut a -> c, disconnected x -> y,
    # cycle back d -> a (must not loop), plus e reachable only at depth 3
    edges = [
        ("a", "b"), ("b", "c"), ("c", "d"), ("a", "c"),
        ("d", "a"), ("x", "y"), ("d", "e"),
    ]
    df = spark.createDataFrame(edges, ["src", "dst"])
    sources = spark.createDataFrame([("a",)], ["node"])
    got = {r.node: r.depth for r in bfs_depths(df, sources).collect()}
    assert got == {"a": 0, "b": 1, "c": 1, "d": 2, "e": 3}


def test_bfs_depths_max_iter_caps_depth(spark):
    from app_insights_generator_spark.operators.graph import bfs_depths

    edges = [("a", "b"), ("b", "c"), ("c", "d")]
    df = spark.createDataFrame(edges, ["src", "dst"])
    sources = spark.createDataFrame([("a",)], ["node"])
    got = {r.node: r.depth for r in bfs_depths(df, sources, max_iter=2).collect()}
    assert got == {"a": 0, "b": 1, "c": 2}  # d is 3 hops: excluded


def test_triangle_counts_k4_plus_isolated_edge(spark):
    from app_insights_generator_spark.operators.graph import triangle_counts

    edges = [(a, b) for a in "abcd" for b in "abcd" if a < b] + [("x", "y")]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r.node: r.n_triangles for r in triangle_counts(df).collect()}
    assert got == {"a": 3, "b": 3, "c": 3, "d": 3}  # K4; x,y omitted


def test_triangle_counts_random_graph_matches_bruteforce(spark):
    import itertools
    import random

    from app_insights_generator_spark.operators.graph import triangle_counts

    rng = random.Random(7)
    nodes = [f"n{i}" for i in range(30)]
    und = {
        (a, b)
        for a, b in itertools.combinations(nodes, 2)
        if rng.random() < 0.25
    }
    # feed as a messy directed multigraph: random orientation + dups + loops
    edges = [((b, a) if rng.random() < 0.5 else (a, b)) for a, b in und]
    edges += edges[:20] + [("n0", "n0")]
    expect: dict[str, int] = {}
    for a, b, c in itertools.combinations(nodes, 3):
        if ((a, b) in und and (b, c) in und and (a, c) in und):
            for v in (a, b, c):
                expect[v] = expect.get(v, 0) + 1
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r.node: r.n_triangles for r in triangle_counts(df).collect()}
    assert got == expect


def test_bfs_source_outside_graph_still_depth_zero(spark):
    from app_insights_generator_spark.operators.graph import bfs_depths

    df = spark.createDataFrame([("a", "b")], ["src", "dst"])
    sources = spark.createDataFrame([("zzz",)], ["node"])
    got = {r.node: r.depth for r in bfs_depths(df, sources).collect()}
    assert got == {"zzz": 0}  # source always reported, no expansion


def test_bfs_null_endpoints_dropped(spark):
    from app_insights_generator_spark.operators.graph import bfs_depths

    df = spark.createDataFrame(
        [("a", "b"), ("a", None), (None, "c"), ("b", "c")],
        "src string, dst string",
    )
    sources = spark.createDataFrame([("a",)], ["node"])
    got = {r.node: r.depth for r in bfs_depths(df, sources).collect()}
    assert got == {"a": 0, "b": 1, "c": 2}  # no NULL node, no re-adds


def test_sssp_hand_graph(spark):
    from app_insights_generator_spark.operators.graph import sssp

    edges = [
        ("a", "b", 1), ("b", "c", 1), ("a", "c", 5),   # a->c best is 2
        ("c", "d", 2), ("a", "d", 10), (None, "x", 1), ("x", None, 1),
    ]
    df = spark.createDataFrame(edges, "src string, dst string, w bigint")
    sources = spark.createDataFrame([("a",)], ["node"])
    got = {r.node: r.cost for r in sssp(df, sources).collect()}
    assert got == {"a": 0, "b": 1, "c": 2, "d": 4}


def test_sssp_matches_bfs_on_unit_weights(spark):
    from app_insights_generator_spark.operators.graph import bfs_depths, sssp

    edges = [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")]
    df = spark.createDataFrame(edges, ["src", "dst"])
    wdf = df.withColumn("w", F.lit(1))
    sources = spark.createDataFrame([("a",)], ["node"])
    by_bfs = {r.node: r.depth for r in bfs_depths(df, sources).collect()}
    by_sssp = {r.node: r.cost for r in sssp(wdf, sources).collect()}
    assert by_bfs == by_sssp


def test_kcore_peel_cascade(spark):
    """A path graph peels one tip per round; a triangle never peels at
    k=2. Fixed-round budget strips exactly `rounds` chain nodes."""
    from pyspark.sql import functions as F  # noqa: F401

    from app_insights_generator_spark.operators.graph import kcore_peel

    # triangle 0-1-2 plus a tail 2-3-4-5-6
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 5), (5, 6)],
        ["src", "dst"],
    )
    # round 1 peels 6, round 2 peels 5 -> survivors {0,1,2,3,4}, but 4
    # now has degree 1 (peel not yet converged at rounds=2)
    got = {r.node: r.deg for r in kcore_peel(edges, k=2, rounds=2).collect()}
    assert set(got) == {0, 1, 2, 3, 4}
    # rounds=4 converges: only the triangle remains, all degree 2
    got4 = {r.node: r.deg for r in kcore_peel(edges, k=2, rounds=4).collect()}
    assert got4 == {0: 2, 1: 2, 2: 2}
    # self-loops and duplicate/reversed edges must not inflate degrees
    noisy = spark.createDataFrame(
        [(0, 1), (1, 0), (0, 0), (1, 2), (2, 0)], ["src", "dst"]
    )
    gotn = {r.node: r.deg for r in kcore_peel(noisy, k=2, rounds=3).collect()}
    assert gotn == {0: 2, 1: 2, 2: 2}


def test_label_propagation_two_cliques(spark):
    from app_insights_generator_spark.operators.graph import label_propagation

    # two 4-cliques joined by one bridge edge (3-4): LPA must settle each
    # clique on its min label and not bleed across the bridge
    k4a = [(a, b) for a in range(4) for b in range(4) if a < b]
    k4b = [(a, b) for a in range(4, 8) for b in range(4, 8) if a < b]
    edges = spark.createDataFrame(k4a + k4b + [(3, 4)], ["src", "dst"])
    got = {r.node: r.label for r in label_propagation(edges, iterations=4).collect()}
    assert {got[n] for n in range(4)} == {0}
    assert {got[n] for n in range(4, 8)} == {4}


def test_label_propagation_star_min_tiebreak(spark):
    from app_insights_generator_spark.operators.graph import label_propagation

    # star: center 9 with leaves 1,2,3 — every leaf label is equally
    # frequent at the center, so the min label (1) must win there
    edges = spark.createDataFrame([(9, 1), (9, 2), (9, 3)], ["src", "dst"])
    got = {r.node: r.label for r in label_propagation(edges, iterations=1).collect()}
    assert got[9] == 1
    # leaves see only the center
    assert got[1] == got[2] == got[3] == 9


def test_star_components_match_hashmin_and_beat_diameter(spark):
    from app_insights_generator_spark.operators.dedup import connected_components
    from app_insights_generator_spark.operators.graph import (
        connected_components_star,
    )

    # a 200-node path (diameter 199) + a separate triangle + a singleton
    path = [(i, i + 1) for i in range(200)]
    tri = [(500, 501), (501, 502), (502, 500)]
    edges = spark.createDataFrame(path + tri, ["src", "dst"])
    ids = spark.createDataFrame(
        [(i,) for i in range(201)] + [(500,), (501,), (502,), (999,)], ["doc_id"]
    )

    # star converges within 12 rounds on a diameter-199 graph (log-round
    # law); hash-min at the same budget must FAIL to converge (its rounds
    # track the diameter) — the crossover claim, measured not asserted
    got = {
        r.doc_id: r.component
        for r in connected_components_star(edges, ids, "doc_id", max_rounds=12).collect()
    }
    want = {i: 0 for i in range(201)} | {500: 500, 501: 500, 502: 500, 999: 999}
    assert got == want

    pairs = edges.select(
        F.col("src").alias("id_a"), F.col("dst").alias("id_b")
    )
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, ids, "doc_id", max_iterations=12)


def test_hits_star_graph_semantics(spark):
    from app_insights_generator_spark.operators.graph import hits

    # star pointing IN: 1,2,3 -> 0. Node 0 is the only authority; the
    # three spokes split all hub mass equally.
    edges = spark.createDataFrame([(1, 0), (2, 0), (3, 0)], ["src", "dst"])
    got = {r.node: (r.hub, r.authority) for r in hits(edges, iterations=3).collect()}
    assert got[0][1] == 1_000_000 and got[0][0] == 0
    for n in (1, 2, 3):
        assert got[n][1] == 0
        assert abs(got[n][0] - 333_333) <= 1  # integer renorm floor


def test_personalized_pagerank_naive_equivalence(spark):
    """Bit-exact vs a driver-side integer replica on a hand graph, and
    PPR-specific shape: source holds the most rank, untouched distant
    nodes get 0."""
    from app_insights_generator_spark.operators.graph import personalized_pagerank

    edges = [
        ("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"),
        ("d", "e"),  # component the walk from 'a' never reaches
    ]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r.node: r.rank for r in personalized_pagerank(df, iterations=5).collect()}

    # naive replica
    scale, d = 1_000_000, 85
    nodes = sorted({n for e in edges for n in e})
    out = {}
    for s, _ in edges:
        out[s] = out.get(s, 0) + 1
    src0 = min(s for s, _ in edges)
    rank = {n: scale if n == src0 else 0 for n in nodes}
    tele = (100 - d) * scale // 100
    for _ in range(5):
        contrib = {n: 0 for n in nodes}
        for s, t in edges:
            contrib[t] += rank[s] // out[s]
        rank = {
            n: (tele if n == src0 else 0) + d * contrib[n] // 100 for n in nodes
        }
    assert got == rank
    assert got["a"] == max(got.values())
    assert got["d"] == 0 and got["e"] == 0


def test_clustering_coefficient_hand_graph(spark):
    """Triangle+pendant graph: a-b-c triangle (lcc 1.0 each except where
    the pendant opens wedges), d pendant on a; d has degree 1 -> lcc 0.
    Exercises the clustering_coefficient construction on a hand edge
    list where every wedge/triangle/lcc value is known."""
    from pyspark.sql import functions as F

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("a", "d")], ["src", "dst"]
    )
    und = (
        edges.filter(F.col("src") != F.col("dst"))
        .select(F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b"))
        .distinct()
    )
    adj = und.select(F.col("a").alias("v"), F.col("b").alias("n")).unionAll(
        und.select(F.col("b").alias("v"), F.col("a").alias("n"))
    )
    deg = {r.v: r.degree for r in adj.groupBy("v").agg(F.count(F.lit(1)).alias("degree")).collect()}
    assert deg == {"a": 3, "b": 2, "c": 2, "d": 1}
    x = adj.select("v", F.col("n").alias("n1"))
    y = adj.select(F.col("v").alias("v2"), F.col("n").alias("n2"))
    tri = {
        r.v: r.t
        for r in x.join(y, (F.col("v") == F.col("v2")) & (F.col("n1") < F.col("n2")))
        .join(und, (F.col("a") == F.col("n1")) & (F.col("b") == F.col("n2")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("t"))
        .collect()
    }
    assert tri == {"a": 1, "b": 1, "c": 1}
    # lcc: b,c = 1.0 (10000 bp); a = 1/3 of 3 wedges (3333 bp); d = 0
    lcc = {
        v: (2 * tri.get(v, 0) * 10000 // (d * (d - 1)) if d >= 2 else 0)
        for v, d in deg.items()
    }
    assert lcc == {"a": 3333, "b": 10000, "c": 10000, "d": 0}


def test_graph_checkpoint_dir_output_equality(spark, reliable_pins):
    """With ``spark.checkpoint.dir`` set, every iterative graph fixpoint
    must produce exactly the local-checkpoint-mode rows — the
    executor-loss-safe deployment on a real cluster. One representative
    per fixpoint shape: mass propagation (pagerank, personalized),
    frontier expansion (bfs), relaxation (sssp), peeling (kcore), label
    convergence (lpa, star-CC), mutual recursion (hits), and the
    join-based triangle counter's pinned intermediates."""
    from app_insights_generator_spark.operators import graph as G

    edges = [
        ("a", "b"), ("b", "a"), ("b", "c"), ("c", "d"),
        ("d", "a"), ("d", "b"), ("d", "c"), ("a", "c"),
    ]
    df = spark.createDataFrame(edges, ["src", "dst"])
    srcs = spark.createDataFrame([("a",)], ["node"])
    wdf = spark.createDataFrame(
        [(s, d, 1) for s, d in edges], ["src", "dst", "w"]
    )
    ids = spark.createDataFrame([(0,), (1,), (2,), (3,)], ["doc_id"])
    iedges = spark.createDataFrame([(0, 1), (1, 2)], ["src", "dst"])

    def rows(d):
        return sorted(map(tuple, d.collect()))

    calls = {
        "pagerank": lambda: G.pagerank(df),
        "personalized": lambda: G.personalized_pagerank(df),
        "bfs": lambda: G.bfs_depths(df, srcs),
        "sssp": lambda: G.sssp(wdf, srcs),
        "kcore": lambda: G.kcore_peel(df, k=2, rounds=3),
        "lpa": lambda: G.label_propagation(df),
        "triangles": lambda: G.triangle_counts(df),
        "hits": lambda: G.hits(df),
        "star_cc": lambda: G.connected_components_star(iedges, ids, "doc_id"),
    }
    default = {name: rows(f()) for name, f in calls.items()}
    with reliable_pins():
        reliable = {name: rows(f()) for name, f in calls.items()}
    assert reliable == default
