"""Iterative graph algorithms as driver-loop DataFrame fixpoints.

Hash-min connected components for dup clusters (``connected_components``)
lives in operators/dedup.py; this module holds the general-purpose graph
operators: PageRank and its variants, BFS, SSSP, triangles, k-core, label
propagation, HITS and large-star/small-star connected components
(``connected_components_star``).

Design notes (same iterative-Spark discipline as connected_components):
- each PageRank iteration is ONE shuffle: edges join ranks on src
  (map-side when the rank table is broadcastable), then sum per dst;
- lineage is pinned per round (operators/checkpointing.pin) so the plan
  stays flat. The pins are local checkpoints unless the session sets
  ``spark.checkpoint.dir``, which makes them reliable checkpoints that
  survive executor loss (dynamic-allocation decommission included);
- fixed-count loops (PageRank, HITS, SSSP, k-core, label propagation)
  collect nothing per round. The loops that stop on convergence observe
  one metric per round: ``bfs_depths`` the frontier count and
  ``connected_components_star`` an edge signature, each read from an
  ``observe()`` on the round's pin, so a round is still one job
  (star-CC adds one exact confirm once two signatures match).

Determinism: ranks are INTEGER fixed-point (micro-units of total mass
``scale``), contributions use floor division — integer sums are exact
and associative, so the result is bit-identical regardless of partition
merge order AND reproducible in ANSI SQL with `//`/`DIV` (no
cross-engine float drift class). The floor
steps leak a little mass (as does the simplified dangling-node handling:
sinks absorb rank) — standard for the fixed-point formulation and
documented behavior, not an accident of the engine.

Reference parity: the reference (main.py) has no graph operators at all;
this is part of the §2.3/§2.4 engine-extension surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from app_insights_generator_spark.operators.checkpointing import pin


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 5,
    damping_pct: int = 85,
    scale: int = 1_000_000,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list -> [node, rank]
    with rank in integer micro-units of ``scale`` total mass.

    rank_0(v)   = scale DIV n
    rank_i+1(v) = (100-d)*scale DIV (100*n)
                  + d * SUM_{u->v} (rank_i(u) DIV outdeg(u)) DIV 100

    Every step is integer arithmetic, so the 5-iteration unrolled SQL twin
    (see pagerank_nation_trade's oracle) matches bit-for-bit.
    """
    # ONE materialization of the edge derivation (often a multi-table
    # join upstream): nodes, outdeg, and the per-iteration join all read
    # this checkpoint instead of re-running the derivation (3+ executions
    # measured on the nation-trade graph without it).
    edges = edges.select(
        F.col(src).alias(src), F.col(dst).alias(dst)
    ).transform(pin)
    nodes = (
        edges.select(F.col(src).alias("node"))
        .unionByName(edges.select(F.col(dst).alias("node")))
        .distinct()
        .transform(pin)
    )
    n = nodes.count()
    if n == 0:
        raise ValueError("pagerank: empty edge list")
    outdeg = edges.groupBy(F.col(src).alias("_src")).agg(
        F.count(F.lit(1)).alias("_odeg")
    )
    teleport = (100 - damping_pct) * scale // (100 * n)
    ranks = nodes.select("node", F.lit(scale // n).cast("long").alias("rank"))
    e = edges.select(F.col(src).alias("_src"), F.col(dst).alias("_dst")).join(
        outdeg, "_src"
    )
    for _ in range(iterations):
        contribs = (
            e.join(ranks, e["_src"] == ranks["node"])
            .select(
                F.col("_dst").alias("node"),
                F.expr("rank DIV _odeg").alias("_c"),
            )
            .groupBy("node")
            .agg(F.sum("_c").alias("_s"))
        )
        ranks = (
            nodes.join(contribs, "node", "left")
            .select(
                "node",
                (
                    F.lit(teleport)
                    + F.expr(f"{damping_pct} * coalesce(_s, 0L) DIV 100")
                )
                .cast("long")
                .alias("rank"),
            )
            .transform(pin)
        )
    return ranks


def bfs_depths(
    edges: DataFrame,
    sources: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 6,
) -> DataFrame:
    """Unweighted single/multi-source BFS -> [node, depth] for every node
    reachable within ``max_iter`` hops (depth = minimum hop count).

    The third iterative-fixpoint shape alongside pagerank (mass
    propagation) and connected_components (label convergence): FRONTIER
    EXPANSION, where per-round work shrinks to the newly-discovered set
    instead of staying proportional to the node count. Each round is one
    distinct + one anti-join against the visited set — both shuffles are
    keyed on node, and AQE sizes them to the (shrinking) frontier. Driver
    state is a single boolean per round (`is the frontier empty`, the
    same scalar-only discipline as connected_components' convergence
    check); depths are small integers, so the result is engine-exact and
    the oracle is the recurrence unrolled to ``max_iter`` level CTEs with
    a final MIN(depth) per node (min over exactly-i-step reachability ==
    visited-pruned BFS depth).

    ``sources`` must be a single-column DataFrame named ``node``.
    """
    if max_iter < 0:
        raise ValueError(f"bfs_depths: max_iter must be >= 0, got {max_iter}")
    # NULL endpoints are dropped up front: a NULL node would defeat the
    # anti-join visited check (NULL = NULL is not TRUE), re-adding itself
    # every round.
    e = (
        edges.select(F.col(src).alias("_src"), F.col(dst).alias("_dst"))
        .filter(F.col("_src").isNotNull() & F.col("_dst").isNotNull())
        .transform(pin)
    )
    from pyspark.sql import Observation

    dist = sources.select(
        F.col("node"), F.lit(0).cast("int").alias("depth")
    ).distinct().transform(pin)
    frontier = dist
    for i in range(1, max_iter + 1):
        candidates = (
            e.join(frontier, e["_src"] == frontier["node"])
            .select(F.col("_dst").alias("node"), F.lit(i).cast("int").alias("depth"))
            .distinct()
        )
        # ONE job per round: the frontier-empty check is an observe()
        # metric on the fresh-frontier pin (not a separate action), and
        # the visited set is NOT re-pinned — it is a flat union of
        # already-pinned frontier frames, so its lineage stays
        # constant-depth without re-materializing every visited node each
        # round (a re-pin would be O(visited) work per round at scale).
        obs = Observation()
        fresh = (
            candidates.join(dist, "node", "left_anti")
            .observe(obs, F.count(F.lit(1)).alias("n"))
            .transform(pin)
        )
        if obs.get["n"] == 0:
            break
        dist = dist.unionByName(fresh)
        frontier = fresh
    return dist


def triangle_counts(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Per-node triangle participation counts -> [node, n_triangles]
    (nodes in no triangle are omitted).

    Join-based (not iterative): the classic degree-ordered formulation —
    treat the graph as undirected, then direct every edge from its
    lower-(degree, name) endpoint to the higher one. The directed graph
    is a DAG under that total order, each triangle {u,v,w} survives as
    exactly one path u->v->w closed by u->w, and — the scale property —
    every node's OUT-degree is O(sqrt(m)) (a node of degree d only keeps
    out-edges to neighbors of degree >= d, and there are at most 2m/d of
    those), so the wedge join's per-key fan-out is bounded regardless of
    raw degree skew. A hub with 10^7 neighbors contributes wedges
    proportional to sqrt(m), not 10^14: this is what makes the plan
    survive power-law graphs at 100 TB where the naive a<b ordering
    explodes on the hub keys.

    Two shuffles dominate: the wedge join on the middle node and the
    closing semi-equijoin on (u, w); both are plain hash joins Catalyst
    can re-plan under AQE. The result is ordering-strategy-independent
    (the triangle SET is a graph invariant), so the SQL oracle may use
    the simple lexicographic formulation and must match bit-for-bit.
    """
    und = (
        edges.filter(F.col(src) != F.col(dst))
        .select(
            F.least(F.col(src), F.col(dst)).alias("_a"),
            F.greatest(F.col(src), F.col(dst)).alias("_b"),
        )
        .distinct()
        .transform(pin)
    )
    deg = (
        und.select(F.col("_a").alias("node"))
        .unionByName(und.select(F.col("_b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("_deg"))
    )
    d = (
        und.join(deg.select(F.col("node").alias("_a"), F.col("_deg").alias("_da")), "_a")
        .join(deg.select(F.col("node").alias("_b"), F.col("_deg").alias("_db")), "_b")
    )
    a_first = (F.col("_da") < F.col("_db")) | (
        (F.col("_da") == F.col("_db")) & (F.col("_a") < F.col("_b"))
    )
    directed = d.select(
        F.when(a_first, F.col("_a")).otherwise(F.col("_b")).alias("u"),
        F.when(a_first, F.col("_b")).otherwise(F.col("_a")).alias("v"),
    ).transform(pin)
    wedges = (
        directed.alias("e1")
        .join(directed.alias("e2"), F.col("e1.v") == F.col("e2.u"))
        .select(
            F.col("e1.u").alias("u"), F.col("e1.v").alias("v"), F.col("e2.v").alias("w")
        )
    )
    tri = wedges.join(
        directed.select(F.col("u").alias("tu"), F.col("v").alias("tw")),
        (F.col("u") == F.col("tu")) & (F.col("w") == F.col("tw")),
    ).select("u", "v", "w")
    corners = (
        tri.select(F.col("u").alias("node"))
        .unionByName(tri.select(F.col("v").alias("node")))
        .unionByName(tri.select(F.col("w").alias("node")))
    )
    return corners.groupBy("node").agg(
        F.count(F.lit(1)).cast("long").alias("n_triangles")
    )


def sssp(
    edges: DataFrame,
    sources: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    max_iter: int = 6,
) -> DataFrame:
    """Single/multi-source shortest paths with non-negative INTEGER edge
    weights -> [node, cost]: minimum total weight over paths of at most
    ``max_iter`` edges (Bellman-Ford relaxation; set max_iter >= the hop
    diameter for exact shortest paths).

    The relaxation twin of bfs_depths: instead of a shrinking frontier,
    every round recomputes tentative costs in ONE shuffle —
    cost_i(v) = min(cost_{i-1}(v), min over edges u->v of
    (cost_{i-1}(u) + w)) — which is exactly unrollable into chained SQL
    CTEs (MIN over <=i-edge path costs), and integer weights make every
    round engine-exact. Rounds are fixed-count with no driver-side
    convergence state at all (an extra round past convergence is a
    no-op); lineage is truncated per round like the other fixpoints.

    NULL endpoints/weights are dropped up front (a NULL node defeats
    min-merge grouping the same way it defeats BFS's anti-join).
    """
    if max_iter < 0:
        raise ValueError(f"sssp: max_iter must be >= 0, got {max_iter}")
    e = (
        edges.select(
            F.col(src).alias("_src"),
            F.col(dst).alias("_dst"),
            F.col(weight).cast("long").alias("_w"),
        )
        .filter(
            F.col("_src").isNotNull()
            & F.col("_dst").isNotNull()
            & F.col("_w").isNotNull()
        )
        .transform(pin)
    )
    dist = (
        sources.select(F.col("node"), F.lit(0).cast("long").alias("cost"))
        .distinct()
        .transform(pin)
    )
    for _ in range(max_iter):
        relaxed = (
            e.join(dist, e["_src"] == dist["node"])
            .select(
                F.col("_dst").alias("node"),
                (F.col("cost") + F.col("_w")).alias("cost"),
            )
        )
        dist = (
            dist.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("cost").alias("cost"))
            .transform(pin)
        )
    return dist


def kcore_peel(
    edges: DataFrame,
    k: int,
    rounds: int,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Fixed-round k-core peeling -> surviving [node, deg]: symmetrize
    the edge list, then ``rounds`` times drop every node whose current
    degree is < k (and all its edges). After enough rounds this IS the
    k-core (the maximal subgraph of minimum degree k — the standard
    graph-degeneracy/community-seed primitive); a fixed round budget
    peels the cascade ``rounds`` levels deep, which is the same
    fixed-iteration contract as pagerank/sssp and what makes the result
    oracle-unrollable into chained CTEs. Convergence detection (a
    count() per round) is the driver-loop alternative when exactness of
    the fixpoint matters more than a pinned plan.

    Scale: per round, one degree aggregation + two semi-joins keyed on
    node — the same one-shuffle-per-round shape as the rest of the
    module; the per-round pin truncates lineage so ``rounds`` stays a
    constant-factor cost, never a growing plan. Degree skew (hubs)
    lands in the groupBy, which AQE splits.

    Cite: reference has no graph surface (main.py); SURVEY §2.5/§2.6
    engine extension."""
    und = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionByName(
            edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
        )
        .filter(F.col("a").isNotNull() & F.col("b").isNotNull())
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .transform(pin)
    )
    cur = und
    for _ in range(rounds):
        keep = (
            cur.groupBy("a")
            .agg(F.count(F.lit(1)).alias("_d"))
            .filter(F.col("_d") >= k)
            .select("a")
        )
        cur = (
            cur.join(keep, "a", "left_semi")
            .join(keep.withColumnRenamed("a", "b"), "b", "left_semi")
            .select("a", "b")
            .transform(pin)
        )
    return cur.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("deg")
    )


def label_propagation(
    edges: DataFrame,
    iterations: int = 4,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Synchronous label propagation (LPA, Raghavan et al. 2007) ->
    [node, label]: every node starts as its own label; each round every
    node adopts the most frequent label among its neighbors, ties broken
    by MIN label. Synchronous fixed-round updates make the algorithm
    fully deterministic (the classic async formulation is run-order
    dependent — useless under a hash gate) and unrollable into chained
    SQL CTEs for the oracle.

    One shuffle per round: neighbor-label frequencies (groupBy with
    map-side combine) + a per-node row_number window on the same
    partitioning; a per-round pin truncates lineage. Driver state: none.
    The frequency table is bounded by the round's (node, distinct
    neighbor label) pairs <= edge count — never quadratic.
    """
    und = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .unionByName(edges.select(F.col(dst).alias("src"), F.col(src).alias("dst")))
        .distinct()
        .transform(pin)
    )
    labels = (
        und.select(F.col("src").alias("node")).distinct().withColumn("label", F.col("node"))
    )
    pick = Window.partitionBy("node").orderBy(F.desc("c"), F.asc("label"))
    for _ in range(iterations):
        freq = (
            und.join(labels.withColumnRenamed("node", "dst"), "dst")
            .groupBy(F.col("src").alias("node"), "label")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        labels = (
            freq.withColumn("rn", F.row_number().over(pick))
            .filter(F.col("rn") == 1)
            .select("node", "label")
            .transform(pin)
        )
    return labels


def _large_star(e: DataFrame) -> DataFrame:
    """Large-star round (Kiveris et al. 2014): every node u connects its
    strictly-larger neighbors to min(N(u) ∪ {u})."""
    und = (
        e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
    )
    m = F.least(F.min("dst").over(Window.partitionBy("src")), F.col("src"))
    return (
        und.withColumn("m", m)
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Small-star round: orient edges large->small, then every node u
    connects its ≤-neighbors AND itself to min(N≤(u) ∪ {u})."""
    ee = (
        e.select(
            F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    out = ee.withColumn(
        "m", F.least(F.min("dst").over(Window.partitionBy("src")), F.col("src"))
    )
    a = out.select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    b = out.select("src", F.col("m").alias("dst")).distinct()
    return a.unionByName(b).filter(F.col("src") != F.col("dst")).distinct()


def connected_components_star(
    edges: DataFrame,
    ids: DataFrame,
    id_col: str,
    max_rounds: int = 20,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components by alternating large-star/small-star
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC 2014) -> [<id_col>, component] with component = min id,
    singletons keeping their own id — output-identical to
    dedup.connected_components (hash-min), different convergence law:

    ROUNDS = O(log² n) (observed ~log n) regardless of graph DIAMETER,
    vs hash-min's O(diameter). On a path of length 200 hash-min needs
    200 rounds; this needs ~8 (pinned in tests/test_graph.py). The price
    is more shuffles per round (symmetrize + window + distinct vs one
    join+min), so hash-min stays the right choice for the shallow
    clusters dedup produces, and THIS is the right choice for
    arbitrary-topology graphs — both are provided, the crossover is the
    diameter.

    Each round's edge set only shrinks toward the star forest (node ->
    component min); convergence = edge set unchanged. The check is a
    (count, bit_xor(xxhash64)) edge-set signature collected by an
    ``observe()`` metric DURING each round's pin job, so it adds no
    action. A signature match triggers ONE exact symmetric-difference
    confirmation (both exceptAlls in a single action), so convergence
    stays exact: a 64-bit hash collision can only cost one wasted
    confirm, never a wrong early exit. The per-round pin truncates
    lineage. One pin job per round, +1 exact confirm at the fixpoint.
    """
    from pyspark.sql import Observation

    def _sig_metrics():
        # bit_xor, not sum: xxhash64 values span the full long range and a
        # sum would overflow (an error under ANSI semantics); xor cannot
        # overflow and is order/multiplicity-safe here because the edge
        # set is distinct.
        return (
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64("src", "dst")).alias("h"),
        )

    obs0 = Observation()
    e = (
        edges.select(F.col("src").cast("long"), F.col("dst").cast("long"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .observe(obs0, *_sig_metrics())
        .transform(pin)
    )
    m0 = obs0.get
    sig = (m0["n"], m0["h"])
    for rounds in range(1, max_rounds + 1):
        obs = Observation()
        new_e = (
            _small_star(_large_star(e))
            .observe(obs, *_sig_metrics())
            .transform(pin)
        )
        m = obs.get
        new_sig = (m["n"], m["h"])
        converged = False
        if new_sig == sig:
            converged = (
                new_e.exceptAll(e)
                .union(e.exceptAll(new_e))
                .limit(1)
                .count()
                == 0
            )
        e, sig = new_e, new_sig
        if converged:
            if stats is not None:
                stats["rounds"] = rounds
            break
    else:
        raise RuntimeError(
            f"connected_components_star did not converge in {max_rounds} rounds"
        )
    labels = e.select(F.col("src").alias("node"), F.col("dst").alias("component"))
    return (
        ids.select(F.col(id_col).cast("long").alias("node"))
        .join(labels, "node", "left")
        .select(
            F.col("node").alias(id_col),
            F.coalesce("component", F.col("node")).alias("component"),
        )
    )


def hits(
    edges: DataFrame,
    iterations: int = 3,
    scale: int = 1_000_000,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """HITS (Kleinberg 1999) -> [node, hub, authority] in integer
    fixed-point: authority(v) = Σ hub(u) over in-edges, hub(u) =
    Σ authority(v) over out-edges, each renormalized to total mass
    ``scale`` per half-step (s * scale DIV total — exact integer, so the
    recurrence unrolls into SQL like pagerank's). Fixed iteration count,
    no driver state beyond the loop counter; one shuffle per half-step
    (edges join scores on one side, sum per other side).

    The mutually-recursive twin of pagerank's single-score recurrence —
    together they cover both classic link-analysis formulations.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).transform(pin)
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .transform(pin)
    )
    n = nodes.count()
    if n == 0:
        raise ValueError("hits: empty edge list")
    if scale // n == 0:
        # initial mass would floor to 0 everywhere -> first renorm total is
        # 0 and the engines diverge (Spark DIV NULL-coalesces, SQL errors);
        # fail fast instead (the memory rule: guard every integer divide).
        raise ValueError(f"hits: scale {scale} too small for {n} nodes")
    hub = nodes.select("node", F.lit(scale // n).cast("long").alias("s"))
    auth = hub  # iterations=0 degenerates to the uniform initial scores
    for _ in range(iterations):
        raw_auth = (
            e.join(hub.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("s").alias("raw"))
        )
        auth = _renorm(nodes, raw_auth, scale)
        raw_hub = (
            e.join(auth.withColumnRenamed("node", "dst").withColumnRenamed("s", "a"), "dst")
            .groupBy(F.col("src").alias("node"))
            .agg(F.sum("a").alias("raw"))
        )
        hub = _renorm(nodes, raw_hub, scale)
    return (
        nodes.join(hub.withColumnRenamed("s", "hub"), "node", "left")
        .join(auth.withColumnRenamed("s", "authority"), "node", "left")
        .select(
            "node",
            F.coalesce("hub", F.lit(0)).cast("long").alias("hub"),
            F.coalesce("authority", F.lit(0)).cast("long").alias("authority"),
        )
    )


def _renorm(nodes: DataFrame, raw: DataFrame, scale: int) -> DataFrame:
    """Integer renormalization to total mass ``scale``: s = raw * scale
    DIV Σraw (Σraw > 0 whenever the graph has any edge)."""
    total = raw.agg(F.sum("raw").alias("t"))
    return pin(
        nodes.join(raw, "node", "left")
        .crossJoin(F.broadcast(total))
        .select(
            "node",
            F.expr("coalesce(raw, 0L) * CAST(%d AS BIGINT) DIV t" % scale)
            .cast("long")
            .alias("s"),
        )
    )


def personalized_pagerank(
    edges: DataFrame,
    source: str | None = None,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 5,
    damping_pct: int = 85,
    scale: int = 1_000_000,
) -> DataFrame:
    """Personalized PageRank (random walk with restart) -> [node, rank]:
    identical recurrence to :func:`pagerank` except ALL teleport mass
    returns to the single ``source`` node (default: lexicographically
    smallest src, the bfs_depths convention), so rank measures
    PROXIMITY TO THE SOURCE rather than global centrality — the
    similarity/recommendation form of the algorithm (seed expansion,
    related-entity ranking).

    rank_0(v)   = scale if v = source else 0
    rank_i+1(v) = [v = source] * (100-d)*scale DIV 100
                  + d * SUM_{u->v} (rank_i(u) DIV outdeg(u)) DIV 100

    Same integer fixed-point discipline as pagerank: floor division at
    the same points, exact associative sums, bit-identical to the
    unrolled-CTE SQL twin; same one-shuffle-per-round plan with a
    per-round pin truncating lineage. Nodes the walk never reaches
    hold rank 0 (emitted, not dropped — the gate witnesses them)."""
    edges = edges.select(
        F.col(src).alias(src), F.col(dst).alias(dst)
    ).transform(pin)
    nodes = (
        edges.select(F.col(src).alias("node"))
        .unionByName(edges.select(F.col(dst).alias("node")))
        .distinct()
        .transform(pin)
    )
    if source is None:
        source = edges.agg(F.min(src)).first()[0]
    if source is None:
        raise ValueError("personalized_pagerank: empty edge list")
    outdeg = edges.groupBy(F.col(src).alias("_src")).agg(
        F.count(F.lit(1)).alias("_odeg")
    )
    is_src = F.col("node") == F.lit(source)
    teleport = (100 - damping_pct) * scale // 100
    ranks = nodes.select(
        "node",
        F.when(is_src, F.lit(scale)).otherwise(F.lit(0)).cast("long").alias("rank"),
    )
    e = edges.select(F.col(src).alias("_src"), F.col(dst).alias("_dst")).join(
        outdeg, "_src"
    )
    for _ in range(iterations):
        contribs = (
            e.join(ranks, e["_src"] == ranks["node"])
            .select(
                F.col("_dst").alias("node"),
                F.expr("rank DIV _odeg").alias("_c"),
            )
            .groupBy("node")
            .agg(F.sum("_c").alias("_s"))
        )
        ranks = (
            nodes.join(contribs, "node", "left")
            .select(
                "node",
                (
                    F.when(is_src, F.lit(teleport)).otherwise(F.lit(0))
                    + F.expr(f"{damping_pct} * coalesce(_s, 0L) DIV 100")
                )
                .cast("long")
                .alias("rank"),
            )
            .transform(pin)
        )
    return ranks
