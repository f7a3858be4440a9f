"""Dedup operators (operators/dedup.py) on constructed corpora with known
ground truth: exact dedup, MinHash-LSH recall vs brute-force Jaccard,
SimHash distances."""

import random

import pytest
from pyspark.sql import functions as F

from app_insights_generator_spark.operators import dedup as D
from app_insights_generator_spark.operators.text import shingles

VOCAB = [f"w{i}" for i in range(50)]


def _corpus(spark, n_docs=40, seed=7):
    """Docs in near-dup pairs: (2k, 2k+1) share ~90% of tokens."""
    rng = random.Random(seed)
    rows = []
    for k in range(n_docs // 2):
        base = [rng.choice(VOCAB) for _ in range(60)]
        variant = list(base)
        for _ in range(6):  # ~10% token edits
            variant[rng.randrange(len(variant))] = rng.choice(VOCAB)
        rows.append((2 * k, " ".join(base)))
        rows.append((2 * k + 1, " ".join(variant)))
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "other text"), (4, "HELLO WORLD ")],
        ["doc_id", "text"],
    )
    out = {r.keep_id: r.n_copies for r in D.exact_dedup(df, "text", "doc_id").collect()}
    assert out == {1: 3, 3: 1}


@pytest.fixture(scope="module")
def corpus(spark):
    return _corpus(spark).cache()


def _true_pairs(spark, corpus, threshold):
    """Brute-force all-pairs Jaccard ground truth."""
    sh = corpus.select(
        F.col("doc_id").alias("id"),
        F.array_distinct(shingles(F.col("text"), 3)).alias("sh"),
    )
    a, b = sh.alias("a"), sh.alias("b")
    inter = F.size(F.array_intersect("a.sh", "b.sh"))
    union = F.size(F.array_union("a.sh", "b.sh"))
    pairs = (
        a.join(b, F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"), (inter / union).alias("j"))
        .filter(F.col("j") >= threshold)
    )
    return {(r.id_a, r.id_b) for r in pairs.collect()}


def test_minhash_lsh_recall_and_precision(spark, corpus):
    truth = _true_pairs(spark, corpus, 0.5)
    assert len(truth) >= 10  # the construction guarantees near-dup pairs
    got = {
        (r.id_a, r.id_b)
        for r in D.near_dedup_minhash(corpus, "doc_id", "text", threshold=0.5).collect()
    }
    # exact-Jaccard verification -> no false positives
    assert got <= truth
    # 16 bands x 4 rows: collision prob at j=0.5 is 1-(1-0.5^4)^16 ~ 0.65,
    # and our true pairs sit well above 0.5 -> expect high recall
    assert len(got) >= 0.8 * len(truth)


def test_simhash_deterministic_and_discriminative(spark, corpus):
    sig = D.simhash_signatures(corpus, "doc_id", "text")
    vals = {r._id: r._sim for r in sig.collect()}
    df2 = corpus.withColumn("doc_id", F.col("doc_id") + 1000)
    vals2 = {r._id - 1000: r._sim for r in D.simhash_signatures(df2, "doc_id", "text").collect()}
    assert vals == vals2  # deterministic

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    near = [ham(vals[2 * k], vals[2 * k + 1]) for k in range(20)]
    far = [ham(vals[2 * k], vals[(2 * k + 5) % 40]) for k in range(20)]
    # near-dup pairs are markedly closer in hamming space than random pairs
    assert sum(near) / len(near) < 0.6 * (sum(far) / len(far))


def test_simhash_pairs_catch_tiny_edits(spark):
    # 1-token edits out of 60 flip few shingles -> hamming stays small;
    # the 4x16-bit chunk banding GUARANTEES candidates at hamming <= 3 and
    # probabilistically catches slightly larger distances.
    rng = random.Random(11)
    rows = []
    for k in range(10):
        base = [rng.choice(VOCAB) for _ in range(60)]
        variant = list(base)
        variant[30] = "CHANGED"
        rows.append((2 * k, " ".join(base)))
        rows.append((2 * k + 1, " ".join(variant)))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    found = {
        (r.id_a, r.id_b)
        for r in D.simhash_pairs(df, "doc_id", "text", max_hamming=12).collect()
    }
    near = [(2 * k, 2 * k + 1) for k in range(10)]
    assert sum(1 for p in near if p in found) >= 5
    # identical docs -> hamming 0, always found
    df_same = spark.createDataFrame(
        [(1, "a b c d e f g h"), (2, "a b c d e f g h")], ["doc_id", "text"]
    )
    same = D.simhash_pairs(df_same, "doc_id", "text", max_hamming=0).collect()
    assert [(r.id_a, r.id_b, r.hamming) for r in same] == [(1, 2, 0)]


def test_jaccard_pairs_values(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d e"), (3, "v w x y z")], ["doc_id", "text"]
    )
    cand = spark.createDataFrame([(1, 2), (1, 3)], ["id_a", "id_b"])
    got = {(r.id_a, r.id_b): r.jaccard for r in
           D.jaccard_pairs(df, cand, "doc_id", "text", threshold=0.0).collect()}
    assert got[(1, 2)] == 1.0
    assert got[(1, 3)] == 0.0


def test_empty_docs_and_threshold_boundary_pinned(spark):
    """Adversarial gate inputs pinned (VERDICT r03 item 6):

    - Two EMPTY documents: the shingle convention is ``['']`` (one empty
      shingle) in BOTH the Spark operator and the DuckDB oracle CTEs, so
      two empty docs are jaccard-1.0 duplicates of each other (they ARE
      identical) and never a cross-engine divergence. An empty and a
      non-empty doc share nothing.
    - A pair at EXACTLY the 0.5 threshold: intersection 25 / union 50 is
      exactly representable (0.5), and the filter biases with +1e-9 on the
      UNROUNDED value, so the pair is included deterministically. A pair
      just below (24/49) is excluded.
    """
    shared = [f"s{i}" for i in range(25)]
    a_only = [f"a{i}" for i in range(12)]
    b_only = [f"b{i}" for i in range(13)]  # union = 25+12+13 = 50, j = 0.5
    c_only = [f"c{i}" for i in range(12)]
    df = spark.createDataFrame(
        [
            (1, ""),
            (2, "   "),
            (3, " ".join(shared + a_only)),
            (4, " ".join(shared + b_only)),
            (5, " ".join(shared[:24] + c_only + ["zz"])),  # inter 24, union 24+13+1+12=50 -> 0.48
        ],
        ["doc_id", "text"],
    )
    cand = spark.createDataFrame(
        [(1, 2), (1, 3), (3, 4), (3, 5)], ["id_a", "id_b"]
    )
    # shingle_n=1 -> shingles are the tokens themselves, set sizes exact
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in D.jaccard_pairs(
            df, cand, "doc_id", "text", shingle_n=1, threshold=0.0
        ).collect()
    }
    assert got[(1, 2)] == 1.0  # two empty docs are identical
    assert got[(1, 3)] == 0.0  # empty vs non-empty shares nothing
    assert got[(3, 4)] == 0.5  # exact boundary, representable
    assert abs(got[(3, 5)] - 0.48) < 1e-9
    # threshold filter: +1e-9 bias admits the exact-0.5 pair, rejects 0.48
    kept = {
        (r.id_a, r.id_b)
        for r in D.jaccard_pairs(
            df, cand, "doc_id", "text", shingle_n=1, threshold=0.5
        ).collect()
    }
    assert (3, 4) in kept and (3, 5) not in kept and (1, 2) in kept


def test_connected_components_chain_and_singletons(spark):
    # Graph: chain 1-2-3-4 (diameter 3, needs multiple propagation rounds),
    # pair {10,11}, singletons 20 and 21.
    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11)], ["id_a", "id_b"]
    )
    ids = spark.createDataFrame(
        [(i,) for i in [1, 2, 3, 4, 10, 11, 20, 21]], ["doc_id"]
    )
    got = {
        (r.doc_id, r.component)
        for r in D.connected_components(pairs, ids, "doc_id").collect()
    }
    assert got == {
        (1, 1), (2, 1), (3, 1), (4, 1),
        (10, 10), (11, 10),
        (20, 20), (21, 21),
    }


def test_components_query_matches_union_find(spark, sf_dir):
    # The registered query path on the real table, checked against a
    # driver-side union-find over the same MinHash pair graph.
    from app_insights_generator_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    pairs = D.near_dedup_minhash(docs, "doc_id", "text", shingle_n=3, threshold=0.5)
    comp = D.connected_components(pairs, docs, "doc_id")

    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in pairs.select("id_a", "id_b").collect():
        ra, rb = find(r.id_a), find(r.id_b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    got = {(r.doc_id, r.component) for r in comp.collect()}
    want = {
        (r.doc_id, find(r.doc_id) if r.doc_id in parent else r.doc_id)
        for r in docs.select("doc_id").collect()
    }
    assert got == want


def test_duplicate_span_stats_known_passage(spark):
    """Two docs share one 10-token passage; a third repeats a 4-token
    phrase internally (below k=4? no — exactly at k). Hand-checkable."""
    passage = "the quick brown fox jumps over the lazy sleeping dog"
    docs = [
        (1, "alpha beta " + passage + " gamma delta"),          # 14 tokens
        (2, passage + " epsilon zeta eta theta"),                # 14 tokens
        (3, "one two three four five six seven eight nine ten"), # unique
        (4, "ping pong ping pong ping pong ping pong"),          # self-repeat
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = {r.doc_id: r for r in D.duplicate_span_stats(df, "doc_id", "text", k=4).collect()}

    # docs 1&2: every 4-window inside the shared 10-token passage is
    # duplicated -> 7 windows covering the 10 passage tokens.
    for d in (1, 2):
        assert out[d].n_tokens == 14 and out[d].n_windows == 11
        assert out[d].dup_windows == 7
        assert out[d].dup_tokens == 10
        assert out[d].dup_frac_bp == 10 * 10000 // 14
    assert out[3].dup_windows == 0 and out[3].dup_tokens == 0 and out[3].dup_frac_bp == 0
    # doc 4: "ping pong ping pong" repeats; windows at pos 0..4 all
    # hash-equal pairs (0,2,4 identical; 1,3 identical) -> all 5 windows
    # duplicated, covering all 8 tokens.
    assert out[4].dup_windows == 5 and out[4].dup_tokens == 8
    assert out[4].dup_frac_bp == 10000


def test_duplicate_span_stats_short_and_empty_docs(spark):
    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c"), (3, "")], ["doc_id", "text"]
    )
    out = {r.doc_id: r for r in D.duplicate_span_stats(df, "doc_id", "text", k=4).collect()}
    # 3-token docs have no 4-windows even though they are exact dups
    assert all(out[d].n_windows == 0 and out[d].dup_windows == 0 for d in (1, 2))
    # empty string splits to one empty token -> 1 token, 0 windows, no div-by-zero
    assert out[3].n_tokens == 1 and out[3].dup_frac_bp == 0


def test_duplicate_span_stats_skew_robust_identical(spark):
    """skew_robust=True (groupBy + SHUFFLE_MERGE join-back, AQE-splittable)
    must produce EXACTLY the default window-shape output, and its plan
    must not broadcast the unbounded dup-hash set."""
    rows = [(i, f"tok{i} " * 3 + "the quick brown fox jumps again") for i in range(40)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    a = {tuple(r) for r in D.duplicate_span_stats(df, k=4).collect()}
    robust = D.duplicate_span_stats(df, k=4, skew_robust=True)
    b = {tuple(r) for r in robust.collect()}
    assert a == b
    plan = robust._jdf.queryExecution().executedPlan().toString()
    # the dup-hash join keys on h and must be sort-merge (never a
    # broadcast of the unbounded dup-hash set); the OUTER per-doc stats
    # join may still broadcast — that one AQE sizes at runtime
    assert "SortMergeJoin [h#" in plan, plan
    assert "BroadcastHashJoin [h#" not in plan, plan


def test_prefix_filter_join_is_lossless(spark, corpus):
    """The prefix-filter join must equal the brute-force truth set EXACTLY
    (zero false negatives by the prefix lemma, zero false positives by
    verification) — the property that distinguishes it from the MinHash
    path, whose equality needs a banding-recall argument."""
    truth = _true_pairs(spark, corpus, 0.5)
    got = {
        (r.id_a, r.id_b)
        for r in D.jaccard_join_prefix_filter(
            corpus, "doc_id", "text", shingle_n=3, threshold=0.5
        ).collect()
    }
    assert got == truth


def test_prefix_filter_boundary_thresholds(spark):
    """Hand corpus around the threshold: identical docs (j=1.0), a pair
    at exactly j=0.5, and a disjoint pair; verify at t=0.5 and t=0.9."""
    docs = spark.createDataFrame(
        [
            (1, "a b c d e f"),     # shingles abc bcd cde def
            (2, "a b c d e f"),     # identical -> j=1.0 with 1
            (3, "a b c d x y"),     # shingles abc bcd cdx dxy: inter {abc,bcd}=2, union 6 -> j=1/3
            (4, "p q r s t u"),     # disjoint
        ],
        ["doc_id", "text"],
    )
    at_05 = {
        (r.id_a, r.id_b, r.jaccard)
        for r in D.jaccard_join_prefix_filter(
            docs, "doc_id", "text", shingle_n=3, threshold=0.5
        ).collect()
    }
    assert at_05 == {(1, 2, 1.0)}
    at_033 = {
        (r.id_a, r.id_b)
        for r in D.jaccard_join_prefix_filter(
            docs, "doc_id", "text", shingle_n=3, threshold=0.33
        ).collect()
    }
    assert at_033 == {(1, 2), (1, 3), (2, 3)}


# --- winnowing fingerprints (MOSS) -------------------------------------------


def _naive_winnow(text: str, k: int = 4, w: int = 4):
    """Reference winnowing: k-token md5 grams, clamped w-windows, min per
    window (lexicographic hex), distinct selected set."""
    import hashlib
    import re

    toks = [t for t in re.split(r"\s+", text.strip().lower()) if t]
    m = max(len(toks) - k + 1, 0)
    grams = [
        hashlib.md5(" ".join(toks[i : i + k]).encode()).hexdigest()
        for i in range(m)
    ]
    if m == 0:
        return 0, 0, set()
    starts = range(max(m - w + 1, 1))
    sel = {min(grams[j : j + w]) for j in starts}
    return m, len(list(starts)), sel


def test_winnowing_matches_naive(spark):
    corpus = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "pack my box with five dozen liquor jugs right now"),
        (3, "the quick brown fox jumps over the lazy dog by the river"),
        (4, "short doc"),          # < k tokens -> all zeros
        (5, ""),                    # empty -> all zeros
        (6, "a b c d"),             # exactly k tokens -> 1 gram, 1 window
    ]
    df = spark.createDataFrame(corpus, ["doc_id", "text"])
    got = {r.doc_id: r for r in D.winnowing_stats(df, "doc_id", "text").collect()}
    sels = {i: _naive_winnow(t) for i, t in corpus}
    for i, t in corpus:
        m, nw, sel = sels[i]
        r = got[i]
        assert (r.n_grams, r.n_windows, r.n_selected) == (m, nw, len(sel))
        shared = sum(
            1 for h in sel if any(h in s for j, (_, _, s) in sels.items() if j != i)
        )
        assert r.shared_sel == shared
        assert r.density_bp == (len(sel) * 10000 // nw if nw else 0)


def test_winnowing_guarantee_long_clone_shares_fingerprint(spark):
    """Schleimer et al. theorem: any shared token run of >= w+k-1 tokens
    produces at least one shared selected fingerprint (here w+k-1 = 7)."""
    clone = "alpha beta gamma delta epsilon zeta eta"  # 7 shared tokens
    df = spark.createDataFrame(
        [
            (1, f"unrelated prefix words here {clone}"),
            (2, f"{clone} and a completely different suffix tail"),
            (3, "nothing in common with the others at all whatsoever"),
        ],
        ["doc_id", "text"],
    )
    got = {r.doc_id: r for r in D.winnowing_stats(df, "doc_id", "text").collect()}
    assert got[1].shared_sel >= 1
    assert got[2].shared_sel >= 1
    assert got[3].shared_sel == 0


# --- containment join ----------------------------------------------------------


def _true_containment(spark, df, t_bp: int):
    from pyspark.sql import functions as F

    from app_insights_generator_spark.operators.text import (
        normalized_text,
        shingles_from_tokens,
        tokens,
    )

    sh = df.select(
        F.col("doc_id"),
        F.array_distinct(
            shingles_from_tokens(tokens(normalized_text(F.col("text"))), 3)
        ).alias("g"),
    ).collect()
    sets = {r.doc_id: set(r.g) for r in sh}
    out = set()
    for a, ga in sets.items():
        for b, gb in sets.items():
            if a != b and len(ga & gb) * 10000 >= t_bp * len(ga):
                out.add((a, b))
    return out


def test_containment_join_matches_bruteforce(spark, sf_dir):
    from app_insights_generator_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    truth = _true_containment(spark, docs, 6000)
    got = {
        (r.id_a, r.id_b)
        for r in D.containment_join_prefix_filter(
            docs, "doc_id", "text", shingle_n=3, threshold_bp=6000
        ).collect()
    }
    assert got == truth


def test_containment_asymmetry(spark):
    """A short doc quoted inside a long one: containment(A->B) high,
    containment(B->A) low, Jaccard low — only the directed pair (A,B)
    must appear."""
    quote = "alpha beta gamma delta epsilon"
    long_doc = f"intro words before the quote {quote} and then a long tail of many other tokens here"
    df = spark.createDataFrame(
        [(1, quote), (2, long_doc), (3, "completely unrelated content words")],
        ["doc_id", "text"],
    )
    got = {
        (r.id_a, r.id_b): r.containment_bp
        for r in D.containment_join_prefix_filter(
            df, "doc_id", "text", shingle_n=3, threshold_bp=6000
        ).collect()
    }
    assert set(got) == {(1, 2)}
    assert got[(1, 2)] == 10000  # every shingle of the quote is in the long doc


def test_cross_split_contamination_conservation(spark, sf_dir):
    """Leaked counts must be symmetric facts: a fingerprint counted as
    leaked in one split is selected in >= 2 splits, so summing leaked
    over splits >= 2x the number of multi-split fingerprints; totals
    conserve against the winnowing fingerprint rows."""
    from pyspark.sql import functions as F

    from app_insights_generator_spark.operators.dedup import (
        winnowing_fingerprint_rows,
    )
    from app_insights_generator_spark.queries.llm_queries import (
        cross_split_contamination_documents,
    )
    from app_insights_generator_spark.sources import load_table

    rows = cross_split_contamination_documents(spark, sf_dir).collect()
    docs = load_table(spark, sf_dir, "documents")
    n_fp_total = (
        winnowing_fingerprint_rows(docs, "doc_id", "text")
        .select("doc_id", "wmin")
        .distinct()
        .count()
    )
    assert sum(r.n_fp for r in rows) == n_fp_total
    assert {r.split for r in rows} <= {"train", "val", "test"}
    for r in rows:
        assert 0 <= r.n_leaked <= r.n_fp
        assert r.leak_bp == r.n_leaked * 10000 // r.n_fp


def test_reliable_checkpoint_mode_output_equality(spark, reliable_pins, corpus):
    """With ``spark.checkpoint.dir`` set, every dedup operator that pins an
    intermediate (including the banded hamming join and the incremental
    batch index) must produce exactly the rows of the default
    local-checkpoint mode. The default mode's pinned blocks live in
    executor storage and cannot survive executor loss on a cluster; the
    reliable mode is the dynamic-allocation-safe deployment."""

    def rows(d):
        return sorted(map(tuple, d.collect()))

    calls = {
        "minhash": lambda: D.near_dedup_minhash(corpus, "doc_id", "text", threshold=0.5),
        "winnowing": lambda: D.winnowing_fingerprint_rows(
            corpus, "doc_id", "text", k=4, w=4
        ),
        "prefix_jaccard": lambda: D.jaccard_join_prefix_filter(
            corpus, "doc_id", "text", threshold=0.5
        ),
        "prefix_containment": lambda: D.containment_join_prefix_filter(
            corpus, "doc_id", "text", threshold_bp=6000
        ),
        "components": lambda: D.connected_components(
            D.near_dedup_minhash(corpus, "doc_id", "text", threshold=0.5),
            corpus.select("doc_id"),
        ),
        # exact copies under new ids: hamming 0, so every copy pair is found
        "simhash": lambda: D.simhash_pairs(
            corpus.unionByName(corpus.selectExpr("doc_id + 100 AS doc_id", "text")),
            "doc_id",
            "text",
        ),
        # batch = doc_id % 4 != 0: pairs (4j, 4j+1) cross the index/batch
        # split, pairs (4j+2, 4j+3) lie inside the batch.
        "incremental": lambda: D.incremental_near_dedup(
            corpus.filter("doc_id % 4 != 0"),
            D.build_band_index(corpus.filter("doc_id % 4 = 0"), "doc_id", "text"),
            "doc_id",
            "text",
            threshold=0.5,
        ),
    }
    default = {name: rows(f()) for name, f in calls.items()}
    assert all(default.values()), default
    with reliable_pins():
        reliable = {name: rows(f()) for name, f in calls.items()}
    assert reliable == default


def test_dedup_rate_by_source_conservation(spark, sf_dir):
    """Per-source dup rollup must conserve: n_docs sums to the corpus,
    n_dups equals the distinct flagged-id count from the underlying
    near-dup pipeline, and dup_bp is the exact integer ratio."""
    from app_insights_generator_spark.queries.llm_queries import (
        dedup_rate_by_source_documents,
    )
    from app_insights_generator_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    rows = dedup_rate_by_source_documents(spark, sf_dir).collect()
    assert sum(r.n_docs for r in rows) == docs.count()
    dup_ids = {
        r.id_b
        for r in D.near_dedup_minhash(
            docs, "doc_id", "text", shingle_n=3, threshold=0.5
        ).collect()
    }
    assert sum(r.n_dups for r in rows) == len(dup_ids)
    for r in rows:
        assert r.dup_bp == r.n_dups * 10000 // r.n_docs


def test_lsh_recall_is_full_at_gate_tier(spark):
    """ADVICE r08: dedup_rate_by_source_documents' oracle is exact
    all-pairs Jaccard while the Spark side is banded MinHash LSH (64
    hashes / 16 bands); the gate's equality rests on LSH recall being
    EXACTLY 1.0 on the sf0.01 documents corpus at threshold 0.5. Pin that
    as a named test so a parameter or corpus change that drops recall
    surfaces here, not as a gate-hash mystery."""
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    truth = _true_pairs(spark, docs, 0.5)
    got = {
        (r.id_a, r.id_b)
        for r in D.near_dedup_minhash(
            docs, "doc_id", "text", shingle_n=3, threshold=0.5
        ).collect()
    }
    assert got <= truth  # exact verification: no false positives, ever
    missed = truth - got
    assert not missed, f"LSH recall < 1.0 at the gated tier: missed {missed}"


def test_dedup_cluster_profile_conservation(spark, sf_dir):
    """The size histogram must cover every document exactly once
    (sum n_docs == corpus size; n_docs == cluster_size * n_clusters per
    row) and agree with a Python recount of the component labels."""
    from app_insights_generator_spark.queries.llm_queries import (
        dedup_cluster_profile_documents,
        dedup_components_documents,
    )

    rows = dedup_cluster_profile_documents(spark, sf_dir).collect()
    n_corpus = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert sum(r.n_docs for r in rows) == n_corpus
    for r in rows:
        assert r.n_docs == r.cluster_size * r.n_clusters
        assert r.doc_share_bp == r.n_docs * 10000 // n_corpus

    from collections import Counter

    comp = dedup_components_documents(spark, sf_dir).collect()
    sizes = Counter(Counter(r.component for r in comp).values())
    assert {(r.cluster_size, r.n_clusters) for r in rows} == set(sizes.items())


def test_hot_bucket_pair_generation_is_streamed_and_exact(spark):
    """ADVICE r12 (high): exact-duplicate boilerplate docs share identical
    band hashes at ANY banding parameters, so one LSH bucket holds the
    whole cluster. The round-12 per-bucket collect_list form materialized
    that bucket's O(|bucket|^2) pair array inside ONE aggregation row/task
    — an OOM/straggler cliff at scale. The round-13 pinned-banded equi
    self-join must (a) emit the exact i<j pair set for a hot cluster and
    (b) plan the pair stage as a JOIN over the pinned table (streamed,
    AQE-skew-splittable), with no collect_list bucket arrays anywhere."""
    hot_n = 60
    rows = [(i, "boilerplate header the same every time " * 4) for i in range(hot_n)]
    rows += [(1000 + i, f"unique doc {i} " + " ".join(f"tok{i}_{j}" for j in range(30)))
             for i in range(20)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    sh = D._shingle_sets(docs, "doc_id", "text", 3)
    cands = D._candidates_from_sets(sh, 64, 16)
    plan = cands._jdf.queryExecution().executedPlan().toString()
    assert "collect_list" not in plan, "pair stage regressed to bucket arrays"
    assert "Join" in plan, "pair stage must be a (skew-splittable) join"

    got = {(r.id_a, r.id_b) for r in cands.collect()}
    expected = {(a, b) for a in range(hot_n) for b in range(hot_n) if a < b}
    assert expected <= got, "hot-cluster pair set incomplete"
    # strict inequality contract: no self-pairs even with duplicate texts
    assert all(a < b for a, b in got)

    # SimHash/dHash twin: same contract through hamming_band_pairs.
    sig = D.simhash_signatures(docs, "doc_id", "text", 3)
    hp = D.hamming_band_pairs(sig, "_id", "_sim", max_hamming=3)
    hplan = hp._jdf.queryExecution().executedPlan().toString()
    assert "collect_list" not in hplan
    assert "Join" in hplan
    hgot = {(r.id_a, r.id_b) for r in hp.collect()}
    assert expected <= hgot
    assert all(a < b for a, b in hgot)


def _one_file_corpus(spark, path, n_docs=120, seed=11):
    """The near-dup-pair corpus written as ONE parquet file, so the scan
    reads it as a single partition (a generated corpus arrives that way)."""
    _corpus(spark, n_docs=n_docs, seed=seed).coalesce(1).write.parquet(str(path))
    docs = spark.read.parquet(str(path))
    assert docs.rdd.getNumPartitions() == 1
    return docs


def _final_children(n):
    """Children of a physical-plan node, descending through the FINAL
    adaptive plan and query stages but not into a cached relation's own
    plan."""
    cls = n.getClass().getSimpleName()
    if "AdaptiveSparkPlan" in cls:
        return [n.executedPlan()]
    if "QueryStage" in cls:
        return [n.plan()]
    ch = n.children()
    return [ch.apply(i) for i in range(ch.size())]


def _final_nodes(plan):
    out, stack = [], [plan]
    while stack:
        n = stack.pop()
        out.append(n)
        stack.extend(_final_children(n))
    return out


def _scan_to_join_paths(plan):
    """For every InMemoryTableScan below a join, the node names on the
    way up to the nearest join above it."""
    paths = []

    def walk(n, since_join):
        name = n.nodeName()
        if name == "InMemoryTableScan":
            if since_join is not None:
                paths.append(since_join)
            return
        if "Join" in name:
            since_join = []
        elif since_join is not None:
            since_join = since_join + [name]
        for k in _final_children(n):
            walk(k, since_join)

    walk(plan, None)
    return paths


def test_near_dedup_shingle_table_partitioned_by_id(spark, tmp_path, monkeypatch):
    """near_dedup_minhash hash-partitions the documents by id into
    ``spark.sql.shuffle.partitions`` before shingling, even when the
    corpus is one file split, and every consumer of the cached shingle
    table reuses that partitioning: the signature aggregation plans no
    ``_id`` exchange, and both shingle lookups of the verify join read the
    cache with no Exchange in between. Broadcasts are off so the verify
    join is the shuffle join it is on a corpus of real size."""
    docs = _one_file_corpus(spark, tmp_path / "docs")
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert n > 1
    real_pin = D._shared_pin
    seen = []

    def spy(df):
        out = real_pin(df)
        plan = df._jdf.queryExecution().executedPlan()
        cached = [
            node.relation().cacheBuilder().cachedColumnBuffers().getNumPartitions()
            for node in _final_nodes(plan)
            if node.nodeName() == "InMemoryTableScan"
        ]
        seen.append((plan, cached))
        return out

    monkeypatch.setattr(D, "_shared_pin", spy)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        pairs = D.near_dedup_minhash(docs, "doc_id", "text", threshold=0.5)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert pairs.count() > 0
    (banded, banded_cached), (verify, verify_cached) = seen

    assert banded_cached == [n]
    assert verify_cached and set(verify_cached) == {n}

    exchanges = [
        node.simpleString(10)
        for node in _final_nodes(banded)
        if node.nodeName() == "Exchange"
    ]
    id_exchanges = [
        e for e in exchanges
        if e.startswith("Exchange hashpartitioning(_id#") and "ENSURE_REQUIREMENTS" in e
    ]
    assert not id_exchanges, id_exchanges

    paths = _scan_to_join_paths(verify)
    assert len(paths) == 2, paths
    assert not [p for p in paths if any("Exchange" in name for name in p)], paths


def test_near_dedup_matches_unpartitioned_composition(spark, reliable_pins, tmp_path):
    """On a one-file corpus with planted near-dups, the partitioned
    pipeline returns exactly the pairs and Jaccard values of the
    composition of the public operators, which shingles the corpus as it
    is read, in both pin modes."""
    docs = _one_file_corpus(spark, tmp_path / "docs")

    def both():
        fused = D.near_dedup_minhash(docs, "doc_id", "text", threshold=0.5)
        composed = D.jaccard_pairs(
            docs,
            D.minhash_candidates(docs, "doc_id", "text"),
            "doc_id",
            "text",
            threshold=0.5,
        )
        return sorted(map(tuple, fused.collect())), sorted(map(tuple, composed.collect()))

    fused, composed = both()
    assert len(fused) >= 40  # most planted pairs clear 0.5
    assert fused == composed
    with reliable_pins():
        r_fused, r_composed = both()
    assert r_fused == r_composed == fused


def test_signature_and_band_build_round_trip_budget(spark, corpus, round_trips):
    """The 64-hash signature and 16-band rows are built as SQL text: a
    bounded number of py4j round trips (a Column tree per hash and band
    cost about 3,000), with the values of that Column-tree form."""
    sh = D._shingle_sets(corpus, "doc_id", "text", 3).cache()
    try:
        with round_trips() as n:
            sig = D._signatures_from_sets(sh, 64)
            banded = D._band_rows(sig, 64, 16)
        assert n[0] <= 150, n[0]

        ex = sh.select("_id", F.explode_outer("_sh").alias("_sh"))
        ref_sig = ex.groupBy("_id").agg(
            *[F.min(F.xxhash64("_sh", F.lit(i))).alias(f"_m{i}") for i in range(64)]
        )

        def band(b):
            ms = [f"_m{4 * b + r}" for r in range(4)]
            return F.struct(F.lit(b).alias("band"), F.xxhash64(F.concat_ws(",", *ms)).alias("bhash"))

        ref_bands = ref_sig.select(
            "_id", F.explode(F.array(*map(band, range(16)))).alias("bk")
        ).select("_id", "bk.band", "bk.bhash")
        assert sig.schema == ref_sig.schema and banded.schema == ref_bands.schema
        assert sorted(sig.collect()) == sorted(ref_sig.collect())
        assert sorted(banded.collect()) == sorted(ref_bands.collect())
        assert banded.count() == 16 * corpus.count()
    finally:
        sh.unpersist()
