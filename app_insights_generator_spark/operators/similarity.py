"""Similarity search over embedding columns (SURVEY.md §7 M5).

- Brute-force cosine top-k: the exact baseline, all built-in array
  expressions (zip_with + aggregate), fully distributed map-side work plus
  one top-k — scales as one scan of the embedding table.
- Random-hyperplane LSH: the 100 TB path. Hyperplanes come from a seeded
  NumPy RNG on the driver (a few KB, shipped as literals); each vector maps
  to a bit-signature bucket; candidate generation joins inside buckets
  only; exact cosine re-ranks, so results have no false positives.
- Distributed k-means pins each round through operators/checkpointing.pin:
  local checkpoints by default, reliable ones when the session sets
  ``spark.checkpoint.dir``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

from app_insights_generator_spark.operators.checkpointing import pin


def dot(a, b):
    """Sequential-fold dot product of two array<numeric> columns (exactly
    reproducible: left-to-right double accumulation)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a):
    return F.sqrt(dot(a, a))


def cosine(a, b):
    d = norm(a) * norm(b)
    return F.when(d > 0, dot(a, b) / d).otherwise(F.lit(0.0))


@F.pandas_udf(DoubleType())
def _pair_cos_fold(
    va: pd.Series, vb: pd.Series, na: pd.Series, nb: pd.Series
) -> pd.Series:
    """Arrow-batched pair cosine with precomputed norms — bit-identical to
    ``F.when(na*nb > 0, dot(va, vb) / (na*nb)).otherwise(0.0)``.

    The numpy fold accumulates left-to-right over DIMENSIONS
    (``acc = acc + A[:, i] * B[:, i]`` in float64), vectorized across
    pairs, so every pair's sum is the identical sequential double chain
    the HOF ``aggregate(zip_with(...))`` produces (pinned bit-for-bit in
    tests/test_similarity.py, incl. null/ragged edges). Exists because
    the HOF lambdas evaluate interpreted, outside whole-stage codegen —
    per-element virtual calls dominate the pair-join stage (optimization
    guide §4.2: hand whole Arrow batches to numpy). Measured on the
    semdedup within-cluster join at sf0.1: 2.1s -> 1.3s per run."""
    n = len(va)
    if n == 0:
        return pd.Series([], dtype="float64")
    den = na.to_numpy(dtype="float64", na_value=np.nan) * nb.to_numpy(
        dtype="float64", na_value=np.nan
    )
    ok = den > 0  # False for NaN/null denom == the when() otherwise-branch
    try:
        A = np.array(va.tolist(), dtype="float64")
        B = np.array(vb.tolist(), dtype="float64")
        rect = A.ndim == 2 and B.ndim == 2 and A.shape == B.shape
    except (TypeError, ValueError):
        rect = False
    if rect:
        acc = np.zeros(n, dtype="float64")
        for i in range(A.shape[1]):
            acc = acc + A[:, i] * B[:, i]
        out = np.zeros(n, dtype="float64")
        out[ok] = acc[ok] / den[ok]
        return pd.Series(out)
    # Edge fallback (null or ragged vectors): replicate the HOF exactly —
    # zip_with pads the shorter array with nulls, a null product poisons
    # the running sum to null, and a null array yields a null sim.
    vals: list = []
    for xa, xb, d in zip(va.tolist(), vb.tolist(), den):
        if not (d > 0):
            vals.append(0.0)
            continue
        if xa is None or xb is None:
            vals.append(None)
            continue
        acc, poisoned = 0.0, False
        for i in range(max(len(xa), len(xb))):
            x = xa[i] if i < len(xa) else None
            y = xb[i] if i < len(xb) else None
            if x is None or y is None:
                poisoned = True
                break
            acc = acc + float(x) * float(y)
        vals.append(None if poisoned else acc / d)
    return pd.Series(vals, dtype="float64")


#: Marked non-deterministic ON PURPOSE (guide §4.4): the callers filter on
#: the UDF's output column, and the optimizer's filter-pushdown otherwise
#: duplicates the evaluation (two ArrowEvalPython nodes — observed on
#: cosine_pairs_exact/similarity_join_lsh before the mark; one after).
#: The function is in fact pure, so results are unchanged.
_pair_cos_fold_nd = _pair_cos_fold.asNondeterministic()


def pair_cosine(va, vb, na, nb) -> F.Column:
    """Cosine of a candidate PAIR from its two vectors and precomputed
    norms, Arrow-batched (see :func:`_pair_cos_fold`). Drop-in for the
    expression ``F.when(na*nb > 0, dot(va, vb)/(na*nb)).otherwise(0.0)``
    on pair-join verify paths, where per-pair HOF folding is the stage
    bottleneck."""
    return _pair_cos_fold_nd(va, vb, na, nb)


def lit_vector(vec) -> F.Column:
    return F.array(*[F.lit(float(x)) for x in vec])


def cosine_topk(
    df: DataFrame, vec_col: str, id_col: str, query_vec, k: int = 10
) -> DataFrame:
    """Exact top-k by cosine similarity to a constant query vector.
    Output [id, cos_sim] — deterministic via (sim desc, id) ordering;
    Spark plans TakeOrderedAndProject (no global sort)."""
    q = lit_vector(query_vec)
    return (
        df.select(
            F.col(id_col).alias("id"),
            F.round(cosine(F.col(vec_col), q), 6).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col("id"))
        .limit(k)
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> np.ndarray:
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_planes, dim))
    return planes / np.linalg.norm(planes, axis=1, keepdims=True)


def lsh_buckets_vectorized(planes_per_table: list[np.ndarray]):
    """Pandas UDF: vector -> array of per-table LSH bucket ids.

    One numpy matmul per Arrow batch replaces n_tables*n_planes separate
    fold-expression dot products per row (the expression form was the
    benchmark hotspot: 32 aggregate-expression evaluations/row vs one
    (batch x dim) @ (dim x planes) GEMM)."""
    from pyspark.sql.pandas.functions import pandas_udf

    stacked = np.vstack(planes_per_table)  # (sum_planes, dim)
    counts = [p.shape[0] for p in planes_per_table]
    offsets = np.cumsum([0] + counts)
    weights = [1 << i for i in range(max(counts))]

    @pandas_udf("array<long>")
    def buckets(vecs: pd.Series) -> pd.Series:
        m = np.vstack(vecs.to_numpy())  # (batch, dim)
        signs = (m.astype(np.float64) @ stacked.T) >= 0  # (batch, sum_planes)
        out = []
        for t in range(len(counts)):
            chunk = signs[:, offsets[t] : offsets[t + 1]]
            out.append(chunk @ np.array(weights[: counts[t]], dtype=np.int64))
        packed = np.stack(out, axis=1)  # (batch, n_tables)
        return pd.Series(list(packed))

    return buckets


def lsh_bucket(vec_col, planes: np.ndarray):
    """Pack sign(v . plane_i) into a bigint bucket id."""
    bucket = F.lit(0).cast("bigint")
    for i, p in enumerate(planes):
        bit = F.when(dot(vec_col, lit_vector(p)) >= 0, F.lit(2**i)).otherwise(F.lit(0))
        bucket = bucket + bit.cast("bigint")
    return bucket


def ann_topk_lsh(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query_vec,
    k: int = 10,
    n_planes: int = 8,
    seed: int = 42,
    multiprobe: int = 1,
) -> DataFrame:
    """Approximate top-k: probe the query's LSH bucket plus all buckets
    within hamming distance ``multiprobe`` (multiprobe recovers neighbors
    that straddle one hyperplane — the dominant LSH failure mode), then
    exact-cosine re-rank. One scan with a bucket IN-filter that Catalyst
    folds to a cheap per-row expression; at 100 TB, write the table
    partitioned by bucket and this becomes partition pruning instead."""
    dim = len(query_vec)
    planes = _hyperplanes(dim, n_planes, seed)
    qbits = [1 if float(np.dot(query_vec, p)) >= 0 else 0 for p in planes]
    qbucket = sum(b << i for i, b in enumerate(qbits))
    probes = {qbucket}
    if multiprobe >= 1:
        probes |= {qbucket ^ (1 << i) for i in range(n_planes)}
    if multiprobe >= 2:
        probes |= {
            qbucket ^ (1 << i) ^ (1 << j)
            for i in range(n_planes)
            for j in range(i + 1, n_planes)
        }
    buckets = lsh_buckets_vectorized([planes])
    bucketed = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("_v"),
        buckets(F.col(vec_col)).getItem(0).alias("_bucket"),
    )
    q = lit_vector(query_vec)
    return (
        bucketed.filter(F.col("_bucket").isin([int(p) for p in probes]))
        .select("id", F.round(cosine(F.col("_v"), q), 6).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col("id"))
        .limit(k)
    )


def cosine_pairs_exact(
    df: DataFrame, vec_col: str, id_col: str, threshold: float = 0.9,
    round_bias: float = 0.0,
) -> DataFrame:
    """Exact all-pairs cosine near-dup: [id_a, id_b, cos_sim] with
    id_a < id_b and raw cos_sim >= threshold (the filter runs on the
    unrounded value; ``round_bias`` only biases the displayed rounding,
    the engine-wide +1e-9 halfway convention).

    O(n^2) by construction — this is the ORACLE baseline for the LSH/IVF
    candidate generators, not the scale path (SURVEY.md §2.2: use
    similarity_join_lsh at 100 TB). Norms are precomputed per side so the
    join multiplies but never re-folds them."""
    base = df.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        norm(F.col(vec_col)).alias("_n"),
    )
    a, b = base.alias("a"), base.alias("b")
    # Arrow-batched pair cosine (identical result to the when/dot/denom
    # expression — see pair_cosine): the O(n^2) verify stage is pure
    # per-pair arithmetic, exactly the shape guide §4.2 moves to numpy.
    sim = pair_cosine(
        F.col("a._v"), F.col("b._v"), F.col("a._n"), F.col("b._n")
    )
    return (
        a.join(b, F.col("a._id") < F.col("b._id"))
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            sim.alias("_sim"),
        )
        .filter(F.col("_sim") >= threshold)
        .select(
            "id_a", "id_b", F.round(F.col("_sim") + F.lit(round_bias), 6).alias("cos_sim")
        )
    )


def _kmeans_centroids(
    vectors: np.ndarray, k: int, iters: int = 10, seed: int = 42
) -> np.ndarray:
    """Plain Lloyd's k-means on a driver-side SAMPLE (the coarse quantizer
    for IVF). Deterministic: seeded init, ties to the lowest centroid id."""
    rng = np.random.default_rng(seed)
    idx = rng.choice(len(vectors), size=min(k, len(vectors)), replace=False)
    centroids = vectors[np.sort(idx)].astype(np.float64)
    for _ in range(iters):
        d2 = ((vectors[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for c in range(len(centroids)):
            members = vectors[assign == c]
            if len(members):
                centroids[c] = members.mean(axis=0)
    return centroids


def ivf_assign_udf(centroids: np.ndarray):
    """Pandas UDF: vector -> nearest-centroid list id (one GEMM per batch)."""
    from pyspark.sql.pandas.functions import pandas_udf

    c = centroids.astype(np.float64)
    c_sq = (c**2).sum(axis=1)

    @pandas_udf("int")
    def assign(vecs: pd.Series) -> pd.Series:
        m = np.vstack(vecs.to_numpy()).astype(np.float64)
        # argmin over ||v-c||^2 = -2 v.c + ||c||^2 (+ ||v||^2, constant per row)
        d = -2.0 * (m @ c.T) + c_sq[None, :]
        return pd.Series(d.argmin(axis=1).astype(np.int32))

    return assign


def ann_topk_ivf(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query_vec,
    k: int = 10,
    n_lists: int = 16,
    n_probe: int = 3,
    sample_size: int = 2048,
    seed: int = 42,
) -> DataFrame:
    """IVF approximate top-k: k-means coarse quantizer fit on a driver-side
    sample, every vector assigned to its nearest centroid list, query
    probes the ``n_probe`` nearest lists, exact cosine re-ranks inside.

    Scale path: at 100 TB the assignment is one map-side UDF pass and the
    table is written partitioned by list id, so a probe reads n_probe/n_lists
    of the data via partition pruning (same role the bucket filter plays
    here)."""
    sample = df.select(vec_col).limit(sample_size).collect()
    vectors = np.array([r[0] for r in sample], dtype=np.float64)
    centroids = _kmeans_centroids(vectors, n_lists, seed=seed)
    q = np.asarray(query_vec, dtype=np.float64)
    probe_lists = np.argsort(((centroids - q) ** 2).sum(axis=1))[:n_probe]
    assign = ivf_assign_udf(centroids)
    qcol = lit_vector(query_vec)
    return (
        df.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("_v"),
            assign(F.col(vec_col)).alias("_list"),
        )
        .filter(F.col("_list").isin([int(x) for x in probe_lists]))
        .select("id", F.round(cosine(F.col("_v"), qcol), 6).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col("id"))
        .limit(k)
    )


# --- IVF index persist-and-refresh (round 10, VERDICT r09 item 4) -----------
#
# The build-once / serve-and-refresh operational half of similarity search:
# ann_topk_ivf refits its coarse quantizer on every call, which is fine for
# a one-shot query but wrong for the 100 TB serving loop, where the index
# is fitted ONCE, written to reliable storage, and every later ingest batch
# is assigned to the FROZEN centroids (O(batch), no refit) while queries
# probe the persisted lists. Mirrors the incremental-dedup pattern
# (operators/dedup.py build_band_index / incremental_near_dedup): the
# persisted artifact is the thing that makes the daily job O(batch).
#
# On-disk layout under ``index_dir``:
#   centroids/  one small parquet [list_id int, centroid array<double>]
#   lists/      assignments [id long, vec array<...>] PARTITIONED BY
#               list_id — a probe filters on the partition column, so the
#               scan reads n_probe/n_lists of the data via partition
#               pruning (plan-guarded in tests/test_plans.py).


def build_ivf_index(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    n_lists: int = 16,
    sample_size: int = 2048,
    seed: int = 42,
):
    """Fit the IVF coarse quantizer once and assign every corpus vector.

    The k-means fit runs on a DETERMINISTIC driver-side sample (first
    ``sample_size`` rows by ``id_col`` — bounded driver state, same
    discipline as ann_recall_ivf's gate); assignment is one Arrow-batched
    map pass over the corpus. Returns ``(centroids, assigned)`` where
    ``assigned`` is [id, vec, list_id] ready for a partitioned write."""
    sample = df.orderBy(id_col).limit(sample_size).select(vec_col).collect()
    vectors = np.array([r[0] for r in sample], dtype=np.float64)
    centroids = _kmeans_centroids(vectors, n_lists, seed=seed)
    assign = ivf_assign_udf(centroids)
    assigned = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        assign(F.col(vec_col)).alias("list_id"),
    )
    return centroids, assigned


def write_ivf_index(index_dir: str, centroids, assigned: DataFrame) -> None:
    """Persist a fitted IVF index: tiny centroid table plus the corpus
    assignments partitioned by list id (the probe's pruning key).

    The centroid table is parallelized into an explicit 1-partition RDD
    before createDataFrame (round 13): writing a driver-local relation
    (plain ``createDataFrame(rows)`` -> parquet) pays a ~4s fixed
    LocalTableScan-write overhead in this Spark version regardless of row
    count (measured: 16 rows, 4.3-7.4s vs 0.36s via parallelize — the
    dominant cost of every index build in the lifecycle gates). Values
    are identical; only the source RDD of the tiny write changes."""
    import os

    spark = assigned.sparkSession
    cent_rows = [
        (int(i), [float(x) for x in c]) for i, c in enumerate(centroids)
    ]
    (
        spark.createDataFrame(
            spark.sparkContext.parallelize(cent_rows, 1),
            "list_id int, centroid array<double>",
        )
        .write.mode("overwrite")
        .parquet(os.path.join(index_dir, "centroids"))
    )
    (
        assigned.write.mode("overwrite")
        .partitionBy("list_id")
        .parquet(os.path.join(index_dir, "lists"))
    )


def read_ivf_centroids(spark, index_dir: str):
    """Load ONLY a persisted index's frozen centroid table as an ndarray
    whose row index IS the list id. Split out of read_ivf_index so that
    ingest-side callers (assign_to_index) never touch a lists table:
    after a streaming compaction with gc=True the default ``lists`` dir
    no longer exists (the committed rows live under ``lists_base_v{N}``),
    and an assignment pass must not care."""
    import os

    cent_rows = (
        spark.read.parquet(os.path.join(index_dir, "centroids"))
        .orderBy("list_id")
        .collect()
    )
    return np.array([r["centroid"] for r in cent_rows], dtype=np.float64)


def read_ivf_index(spark, index_dir: str):
    """Load a persisted IVF index -> (centroids ndarray, lists DataFrame).

    The centroid table is list-id-sorted so the ndarray row index IS the
    list id; the lists read keeps list_id as a partition column so later
    filters prune at the source. BATCH-layout API: for an index dir
    maintained by streaming/ivf_stream.py use read_streaming_index,
    which follows the ``_BASE`` pointer instead of assuming ``lists``."""
    import os

    centroids = read_ivf_centroids(spark, index_dir)
    lists = spark.read.parquet(os.path.join(index_dir, "lists"))
    return centroids, lists


def assign_to_index(
    new_batch: DataFrame, index_dir: str, vec_col: str, id_col: str
) -> DataFrame:
    """Assign an ingest batch to a persisted index's FROZEN centroids
    (one Arrow-batched map pass, O(batch), no refit) and return the
    [id, vec, list_id] assignment DataFrame — shared by the in-place
    batch refresh (refresh_ivf_index) and the staged streaming ingest
    (streaming/ivf_stream.py), which commit the rows differently.

    Reads ONLY the centroid table (ADVICE r11 item 1): the streaming
    layout's lists state moves between ``lists``/``lists_base_v{N}``
    under compaction, and the assignment pass must stay independent of
    it — otherwise the first gc'd compaction wedges every later ingest
    batch on a PATH_NOT_FOUND for a dir the reader no longer needs."""
    spark = new_batch.sparkSession
    centroids = read_ivf_centroids(spark, index_dir)
    assign = ivf_assign_udf(centroids)
    return new_batch.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        assign(F.col(vec_col)).alias("list_id"),
    )


def refresh_ivf_index(
    new_batch: DataFrame, index_dir: str, vec_col: str, id_col: str
) -> int:
    """Append an ingest batch to a persisted index WITHOUT refitting: the
    batch is assigned to the frozen persisted centroids (one map pass,
    O(batch)) and appended into the partitioned lists table. Returns the
    number of distinct lists THE BATCH touched (counted on the batch's
    own assignments before the append — ADVICE r10 item 3; bounded by
    n_lists, and exactly the set of partitions the append writes).

    This in-place append is the single-shot BATCH job API; a replayable
    caller (Structured Streaming foreachBatch) must not use it directly —
    a crash between the append and its own commit marker would duplicate
    the batch on replay. streaming/ivf_stream.py stages each batch under
    a versioned path and commits via pointer flip instead.

    Centroid staleness is the documented trade-off (same as every IVF
    serving system): quality degrades only if the batch distribution
    drifts off the fitted quantizer, which the recall audit
    (ann_incremental_probe's in-query invariant) measures rather than
    assumes; refit on an audit failure, not on a schedule."""
    import os

    from pyspark.sql import Observation

    # ONE job: the touched-list count is an observe() metric collected
    # DURING the append write, so the Arrow assignment UDF runs exactly
    # once and there is no separate pin or distinct-count action.
    # collect_set is bounded by n_lists, so the metric is O(n_lists)
    # driver state.
    add = assign_to_index(new_batch, index_dir, vec_col, id_col)
    obs = Observation()
    add.observe(obs, F.size(F.collect_set("list_id")).alias("n_touched")).write.mode(
        "append"
    ).partitionBy("list_id").parquet(os.path.join(index_dir, "lists"))
    return obs.get["n_touched"]


def ann_probe_persisted(
    spark,
    index_dir: str,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 3,
):
    """Top-k search of a query panel against a PERSISTED index (no fit,
    no corpus scan): probe lists come from the stored centroids, the
    union of all queries' probe lists becomes a LITERAL partition filter
    (static partition pruning — at most n_lists values, so the filter is
    bounded regardless of panel size), and per-query membership is a
    broadcast join on the pruned slice. Exact cosine re-ranks inside.

    ``queries`` is [qid, qv]; output [qid, id, cos_sim, rn <= k]."""
    centroids, lists = read_ivf_index(spark, index_dir)
    return probe_index_view(spark, centroids, lists, queries, k, n_probe)


def probe_index_view(
    spark,
    centroids,
    lists: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 3,
):
    """ann_probe_persisted's core against an in-memory (centroids,
    lists) view — shared by the base-table probe and the streaming
    committed view (base + staged batch dirs, streaming/ivf_stream.py),
    where every unioned source is list_id-partitioned so the literal
    probe filter prunes each scan identically."""
    qrows = queries.orderBy("qid").collect()
    probe_pairs = []
    for r in qrows:
        qv = np.asarray(r["qv"], dtype=np.float64)
        near = np.argsort(((centroids - qv) ** 2).sum(axis=1))[:n_probe]
        probe_pairs += [(int(r["qid"]), int(l)) for l in near]
    probes = spark.createDataFrame(probe_pairs, "qid int, list_id int")
    touched = sorted({l for _, l in probe_pairs})
    pruned = lists.filter(F.col("list_id").isin(touched))
    w = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("id"))
    return (
        pruned.join(F.broadcast(probes), "list_id")
        .join(
            F.broadcast(queries.select("qid", "qv")), "qid"
        )
        .select(
            "qid",
            "id",
            F.round(cosine(F.col("vec"), F.col("qv")) + 1e-9, 6).alias(
                "cos_sim"
            ),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
    )


def similarity_join_lsh(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.9,
    n_planes: int = 8,
    n_tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """All-pairs near-neighbor join: ``n_tables`` independent hyperplane
    signatures (OR-amplification — a pair is a candidate if it collides in
    ANY table), join within buckets, exact-cosine verify >= threshold.
    Output [id_a, id_b, cos_sim] with id_a < id_b (no false positives;
    false-negative rate shrinks with n_tables, candidate count grows).

    Cost shape: candidate generation ships (id, table, bucket) triples
    only; pairs are DISTINCTed before verification so a pair colliding in
    several tables is verified once; verification joins back vectors with
    PRE-FOLDED norms (one norm fold per row, not per pair) so each unique
    pair costs a single dot-product fold plus a scalar divide."""
    first = df.select(vec_col).first()
    if first is None:
        return df.sparkSession.createDataFrame([], "id_a long, id_b long, cos_sim double")
    dim = len(first[0])
    tables = [_hyperplanes(dim, n_planes, seed + t) for t in range(n_tables)]
    buckets = lsh_buckets_vectorized(tables)
    sig = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(buckets(F.col(vec_col))).alias("table", "bucket"),
    )
    a, b = sig.alias("a"), sig.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.table") == F.col("b.table"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .distinct()
    )
    base = df.select(
        F.col(id_col).alias("_uid"),
        F.col(vec_col).alias("_u"),
        norm(F.col(vec_col)).alias("_n"),
    )
    ua, ub = base.alias("ua"), base.alias("ub")
    # Arrow-batched exact-cosine re-rank (identical result — pair_cosine):
    # candidates are LSH-bounded, but each still paid an interpreted
    # 64-step HOF fold; the batch form is the guide §4.2 shape.
    sim = pair_cosine(
        F.col("ua._u"), F.col("ub._u"), F.col("ua._n"), F.col("ub._n")
    )
    return (
        pairs.join(ua, F.col("id_a") == F.col("ua._uid"))
        .join(ub, F.col("id_b") == F.col("ub._uid"))
        .select("id_a", "id_b", sim.alias("_sim"))
        .filter(F.col("_sim") >= threshold)
        .select("id_a", "id_b", F.round("_sim", 6).alias("cos_sim"))
    )


def _pca_moments(embs: DataFrame, vec_col: str):
    """(n, mean, cov) from ONE Arrow-batched pass over the data.

    Per-partition partial payload = [count, sum-vector, raw Gram X^T X
    flattened]; the count rides INSIDE the payload (index 0), so a single
    posexplode + groupBy(idx) reduction covers everything — no second
    branch re-reading the mapInPandas subtree (ADVICE r03: the old
    count-union shape executed the full scan and per-partition Gram twice
    per fit). Only (1 + dim + dim^2) doubles ever reach the driver."""
    import numpy as np
    import pandas as pd

    from collections.abc import Iterator

    def partials(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            X = np.asarray([np.asarray(v, dtype="f8") for v in pdf[vec_col]])
            if len(X) == 0:
                continue
            payload = np.concatenate([[float(len(X))], X.sum(axis=0), (X.T @ X).ravel()])
            yield pd.DataFrame({"payload": [payload.tolist()]})

    parts = embs.select(vec_col).mapInPandas(partials, schema="payload array<double>")
    reduced = (
        parts.select(F.posexplode("payload").alias("idx", "v"))
        .groupBy("idx")
        .agg(F.sum("v").alias("s"))
        .collect()
    )
    vals = {r.idx: r.s for r in reduced}
    flat = np.array([vals[i] for i in range(len(vals))])
    n = int(flat[0])
    dim = int(round((-1 + (1 + 4 * (len(flat) - 1)) ** 0.5) / 2))  # d + d^2
    mean = flat[1 : dim + 1] / n
    gram = flat[dim + 1 :].reshape(dim, dim)
    cov = gram / n - np.outer(mean, mean)
    return n, mean, cov


def pca_eigenspectrum(embs: DataFrame, vec_col: str = "embedding") -> tuple:
    """Distributed PCA, the 100 TB shape: only dim-sized summaries ever
    reach the driver. One Arrow-batched pass computes per-partition
    partial (count, sum-vector, raw Gram X^T X); partials reduce
    element-wise through a single posexplode + groupBy(index) aggregation;
    the driver assembles the dim x dim covariance (Gram/n - outer(mean))
    and runs numpy eigh on it — O(dim^3) driver work, independent of row
    count. Returns (eigenvalues_desc: np.ndarray, n_rows: int).

    The covariance trace equals the data's total variance, which an
    external engine can recompute exactly — the anchor the oracle gate
    uses (eigendecomposition itself is not SQL-expressible)."""
    import numpy as np

    n, _mean, cov = _pca_moments(embs, vec_col)
    eig = np.linalg.eigvalsh(cov)[::-1]
    return eig, n


def pca_project(
    embs: DataFrame, components, mean, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Project every embedding onto the given principal components: the
    broadcast-back half of distributed PCA — the (k x dim) basis and mean
    ship to executors as closure constants (a few KB), projection is one
    numpy GEMM per Arrow batch, and no shuffle is added. Output
    [<id_col>, proj: array<double> (length k)]."""
    import numpy as np
    import pandas as pd

    from collections.abc import Iterator

    W = np.asarray(components, dtype="f8")  # (k, dim)
    mu = np.asarray(mean, dtype="f8")

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            X = np.asarray([np.asarray(v, dtype="f8") for v in pdf[vec_col]])
            P = (X - mu) @ W.T if len(X) else np.zeros((0, W.shape[0]))
            yield pd.DataFrame({id_col: pdf[id_col], "proj": [row.tolist() for row in P]})

    return embs.select(id_col, vec_col).mapInPandas(
        batches, schema=f"{id_col} long, proj array<double>"
    )


def pca_fit(embs: DataFrame, vec_col: str = "embedding") -> tuple:
    """Full PCA fit: (eigenvalues_desc, components (dim x dim, row-major
    eigenvectors), mean, n). Same single-pass driver-bounded reduction as
    pca_eigenspectrum, also returning the basis for pca_project."""
    import numpy as np

    n, mean, cov = _pca_moments(embs, vec_col)
    w, v = np.linalg.eigh(cov)
    order = np.argsort(w)[::-1]
    return w[order], v[:, order].T, mean, n


# --- Distributed fixed-point k-means (Lloyd's, engine-exact) -----------------


def quantized_long_form(
    embs: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1_000_000,
    offset: int = 1_000_000,
) -> DataFrame:
    """The fixed-point quantization used by every engine-exact vector op:
    (vid, d, v) long form with v = floor(x*scale) + offset — ONE home for
    the scheme so k-means, PQ codes, LUTs, and exact-distance anchors can
    never quantize differently (review r06 item: the expression was
    copy-pasted at three sites)."""
    return embs.select(
        F.col(id_col).alias("vid"),
        F.posexplode(
            F.expr(
                f"transform(cast({vec_col} AS array<double>), "
                f"x -> CAST(floor(x * {scale}) AS LONG) + {offset})"
            )
        ).alias("d", "v"),
    )


def assign_to_centroids(e: DataFrame, cent: DataFrame) -> DataFrame:
    """One assignment half-step: argmin squared distance (ties -> min cid)
    of every (vid, d, v) vector against a centroid table [cid, d, v] ->
    [vid, cid, dist]. Used as the FINAL re-assignment that makes PQ codes
    consistent with the returned (post-update) codebook — kmeans'
    in-loop assignment is vs the PREVIOUS centroids by construction."""
    dist = (
        e.join(
            F.broadcast(cent.select("cid", "d", F.col("v").alias("cv"))), "d"
        )
        .groupBy("vid", "cid")
        .agg(
            F.sum((F.col("v") - F.col("cv")) * (F.col("v") - F.col("cv"))).alias(
                "dist"
            )
        )
    )
    w = Window.partitionBy("vid").orderBy("dist", "cid")
    return (
        dist.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vid", "cid", "dist")
    )


def kmeans_parallel_init(
    embs: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 4,
    oversample: int = 8,
    rounds: int = 2,
    scale: int = 1_000_000,
    offset: int = 1_000_000,
) -> DataFrame:
    """k-means|| scalable seeding (Bahmani et al., VLDB 2012) ->
    [seed_rank, vid, weight, phi0, phi_sel].

    k-means++ picks seeds one at a time with cost-proportional
    probability — k sequential full-data passes, the reason it cannot
    run at 100 TB. k-means|| replaces the sequence with ``rounds``
    passes that each OVERSAMPLE: every point joins the candidate set
    independently with probability min(1, l * d2(x) / phi), so a round
    admits ~l candidates in parallel, and the final k seeds come from
    weighting candidates by how many points they attract.

    Deterministic twin: the Bernoulli draw u(x, r) is the 48-bit sha256
    prefix of "vid#round" (the train/val/test discipline), and the
    acceptance test u/2^48 < l*d2/phi is evaluated as the cross-
    multiplied double comparison u*phi < l*d2*2^48 — identical IEEE ops
    on identical integers in both engines, so the whole seeding unrolls
    into chained SQL CTEs like kmeans/pagerank. Final seed pick is
    top-k candidates by (attraction weight DESC, vid) — the weighted
    re-clustering step of the paper simplified to its first iteration,
    documented as such. phi0 (cost vs the single min-vid start center)
    and phi_sel (cost vs the k selected seeds) ride along so the gate
    pins the seeding-quality improvement, not just membership.

    Scale: per round one broadcast join (candidate centers are ~l*r
    vectors) + two keyed aggregations + a 1-row cost broadcast — same
    plan family as kmeans_fixed_point's iterations, no driver state.

    Reference parity: no counterpart; cited file is public Spark's own
    MLlib initializer concept (initMode="k-means||"), re-expressed
    relationally.

    Per-round pins go through operators/checkpointing.pin, so the
    session's ``spark.checkpoint.dir`` decides whether they survive
    executor loss."""
    e = quantized_long_form(embs, id_col, vec_col, scale, offset).transform(pin)
    first = e.groupBy().agg(F.min("vid").alias("vid"))
    centers = (
        e.join(F.broadcast(first), "vid")
        .select(F.col("vid").alias("cid"), "d", "v")
        .transform(pin)
    )
    phi0 = None
    two48 = 281474976710656.0
    for r in range(1, rounds + 1):
        d2 = (
            e.join(
                F.broadcast(centers.select("cid", "d", F.col("v").alias("cv"))),
                "d",
            )
            .groupBy("vid", "cid")
            .agg(
                F.sum(
                    (F.col("v") - F.col("cv")) * (F.col("v") - F.col("cv"))
                ).alias("dist")
            )
            .groupBy("vid")
            .agg(F.min("dist").alias("d2"))
        )
        phi = d2.agg(F.sum("d2").cast("long").alias("phi"))
        if phi0 is None:
            phi0 = phi
        u48 = F.expr(
            "CAST(conv(substring(sha2(concat(CAST(vid AS STRING), '#', "
            f"'{r}'), 256), 1, 12), 16, 10) AS DOUBLE)"
        )
        sel = (
            d2.crossJoin(F.broadcast(phi))
            .filter(
                u48 * F.col("phi").cast("double")
                < F.lit(float(oversample)) * F.col("d2").cast("double") * F.lit(two48)
            )
            .select("vid")
        )
        centers = centers.unionByName(
            e.join(sel, "vid").select(F.col("vid").alias("cid"), "d", "v")
        ).transform(pin)
    assign = assign_to_centroids(e, centers)
    w = Window.orderBy(F.desc("weight"), "cid")
    seeds = (
        assign.groupBy("cid")
        .agg(F.count(F.lit(1)).cast("long").alias("weight"))
        .withColumn("seed_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("seed_rank") <= k)
    )
    seed_cent = centers.join(seeds.select("cid"), "cid")
    phi_sel = assign_to_centroids(e, seed_cent).agg(
        F.sum("dist").cast("long").alias("phi_sel")
    )
    return (
        seeds.crossJoin(F.broadcast(phi0))
        .crossJoin(F.broadcast(phi_sel))
        .select(
            "seed_rank",
            F.col("cid").alias("vid"),
            "weight",
            F.col("phi").alias("phi0"),
            "phi_sel",
        )
    )


def kmeans_fixed_point(
    embs: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 4,
    n_iter: int = 2,
    scale: int = 1_000_000,
    offset: int = 1_000_000,
    checkpoint: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Distributed Lloyd's k-means in INTEGER fixed-point ->
    (assignments [vid, cid, dist], centroids [cid, d, v]).

    The fully-distributed twin of the sampled driver-side fit IVF uses
    (_kmeans_centroids): vectors are quantized to micro-units
    (floor(x*scale) + offset, the offset keeping every coordinate
    positive so Spark's truncating DIV and DuckDB's flooring // agree on
    the centroid means), exploded to long (vid, dim, value) form, and
    each Lloyd iteration is pure relational algebra — assignment joins
    the corpus against the tiny centroid table (BROADCAST: k*dim rows),
    takes argmin by (distance, cid) via one row_number window, and the
    update is a (cid, dim) groupBy computing floor-divided means. No
    driver-side state AT ALL (not even the centroids — they stay a
    DataFrame), every step engine-exact, so the whole recursion unrolls
    into chained SQL CTEs for the oracle, like pagerank/sssp.

    Init: the k lowest-id vectors (deterministic, seedless). Empty
    clusters drop out of the centroid table (both engines identically).
    ``checkpoint=False`` skips the per-round lineage pin so plan guards
    can inspect the full iteration DAG; with ``checkpoint=True`` each
    round goes through operators/checkpointing.pin, reliable when the
    session sets ``spark.checkpoint.dir``.

    Scale: per iteration one broadcast join producing n*k*dim partial
    products -> (vid,cid) partial-agg groupBy -> n*k rows -> window by
    vid -> (cid,d) groupBy. The n*k*dim explosion is the classic
    distributed-Lloyd cost; the GEMM-per-batch Pandas-UDF assignment
    (ivf_assign_udf) is the throughput variant when exactness across
    engines is not required. int64 headroom: per-pair distance <=
    dim*(scale)^2 ~ 6.4e13 at dim 64 — safe; SUM over a 1e9-row corpus
    of those is the one quantity that would need DECIMAL at extreme
    scale (the gate keeps inertia per-cluster at ~1e17).
    """
    e = quantized_long_form(embs, id_col, vec_col, scale, offset)
    e = pin(e) if checkpoint else e

    init = (
        e.select("vid")
        .distinct()
        .orderBy("vid")
        .limit(k)
        .select(
            "vid",
            (F.row_number().over(Window.orderBy("vid")) - 1).alias("cid"),
        )
    )
    cent = e.join(init, "vid").select("cid", "d", "v")
    if checkpoint:
        cent = pin(cent)

    assign = None
    for _ in range(n_iter):
        dist = (
            e.join(
                F.broadcast(
                    cent.select(
                        F.col("cid"), F.col("d"), F.col("v").alias("cv")
                    )
                ),
                "d",
            )
            .groupBy("vid", "cid")
            .agg(F.sum((F.col("v") - F.col("cv")) * (F.col("v") - F.col("cv"))).alias("dist"))
        )
        w = Window.partitionBy("vid").orderBy("dist", "cid")
        assign = (
            dist.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("vid", "cid", "dist")
        )
        cent = (
            e.join(assign.select("vid", "cid"), "vid")
            .groupBy("cid", "d")
            .agg(F.expr("CAST(sum(v) DIV count(1) AS LONG)").alias("v"))
        )
        if checkpoint:
            cent = pin(cent)
    return assign, cent


def semdedup_sign_dims(n_rows: int, dim: int) -> tuple[int, ...]:
    """Scale-aware hyperplane-sign dimensions for :func:`semdedup_flags`.

    SemDeDup's cost is sum-of-squared-cluster-sizes, so the cluster count
    must GROW with the corpus — the paper (Abbas et al. 2023) uses
    k ~ sqrt(n). With one cluster bit per sign dimension, k = 2^bits, so
    ``bits = ceil(log2(n)/2)`` gives k in [sqrt(n), 2*sqrt(n)): expected
    per-cluster size ~sqrt(n) and total candidate work ~n^1.5 instead of
    n² (measured curve in SCALE.md). Bits are capped at the embedding
    width (one sign per distinct dimension) and dims are spread evenly
    across the width (1-based, strictly increasing — consecutive picks
    differ by >= floor((dim-1)/(bits-1)) >= 1 whenever bits <= dim)."""
    import math

    if dim < 1:
        raise ValueError(f"embedding width must be >= 1, got {dim}")
    bits = 1 if n_rows <= 2 else min(max(1, math.ceil(math.log2(n_rows) / 2)), dim)
    if bits == 1:
        return (1,)
    return tuple(1 + (i * (dim - 1)) // (bits - 1) for i in range(bits))


def semdedup_flags(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.3,
    sign_dims: tuple[int, ...] | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication that never compares across clusters — partition the
    embedding space, compute pairwise cosine ONLY within each cluster,
    and drop every vector that has a >= ``threshold`` neighbor with a
    smaller id (the deterministic stand-in for the paper's keep-one-
    representative rule). Output: ``[vec_id, cluster, is_dup]``.

    Clustering here is a fixed HYPERPLANE-SIGN partition — bit b of the
    cluster id is the sign of embedding dimension ``sign_dims[b]`` —
    i.e. an axis-aligned random-projection code. It is deterministic,
    engine-exact (a float's sign has no drift class), and needs no
    training pass; the paper's k-means partition drops in unchanged
    (assign_to_centroids / kmeans_fixed_point produce the same
    [id, cluster] shape) when cluster balance matters.

    Scale: the whole point of SemDeDup — candidate generation is
    sum-of-squared-CLUSTER-sizes, not corpus². ``sign_dims=None`` (the
    default) derives the cluster count FROM the corpus at plan-build
    time (one count + one-row probe): :func:`semdedup_sign_dims` picks
    ceil(log2(n)/2) sign bits, i.e. the paper's k ~ sqrt(n), so total
    candidate work grows ~n^1.5 as the corpus scales (measured
    replication curve in SCALE.md) with zero config. Passing explicit
    dims pins the partition (the gated query does, for cross-round hash
    stability) and fails fast with ValueError if any dim exceeds the
    embedding width — under ANSI mode an oversized dim would otherwise
    surface as a runtime INVALID_ARRAY_INDEX mid-join, and under
    non-ANSI it would silently NULL the sign and collapse clusters.
    One shuffle keys both join sides on the cluster id; skewed clusters
    are AQE skew-join territory, and the fix is one more sign bit. The
    within-cluster pair set is a strict SUBSET of the exact all-pairs
    set that oracle_exact_cosine_pairs already hash-anchors at the same
    threshold, so the float-boundary class is inherited solved, not
    re-risked."""
    first = df.select(vec_col).first()
    if first is None:
        # Empty path must agree with the non-empty path's schema: derive
        # the id type from the input instead of hardcoding long (ADVICE
        # r08 — a string doc-id corpus would otherwise change schema
        # exactly when it became empty).
        id_type = df.schema[id_col].dataType.simpleString()
        return df.sparkSession.createDataFrame(
            [], f"{id_col} {id_type}, cluster int, is_dup boolean"
        )
    dim = len(first[0])
    if sign_dims is None:
        sign_dims = semdedup_sign_dims(df.count(), dim)
    bad = [d for d in sign_dims if not 1 <= d <= dim]
    if bad:
        raise ValueError(
            f"sign_dims {bad} out of range for embedding width {dim} "
            f"(1-based; probe row has {dim} dims)"
        )
    cluster = F.lit(0)
    nb = len(sign_dims)
    for b, d in enumerate(sign_dims):
        cluster = cluster + F.when(
            F.element_at(F.col(vec_col), d) >= 0, F.lit(1 << (nb - 1 - b))
        ).otherwise(F.lit(0))
    base = df.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        norm(F.col(vec_col)).alias("_n"),
        cluster.cast("int").alias("_cl"),
    )
    a, b_ = base.alias("a"), base.alias("b")
    # Arrow-batched within-cluster cosine (identical result — see
    # pair_cosine): the cluster-bounded pair join is the query's dominant
    # stage and each pair paid an interpreted 64-step HOF fold; batching
    # the arithmetic through numpy is the guide §4.2 shape (measured
    # 2.1s -> 1.3s per run at sf0.1).
    sim = pair_cosine(
        F.col("a._v"), F.col("b._v"), F.col("a._n"), F.col("b._n")
    )
    dups = (
        a.join(
            b_,
            (F.col("a._cl") == F.col("b._cl")) & (F.col("a._id") < F.col("b._id")),
        )
        .select(F.col("b._id").alias("_dup_id"), sim.alias("_sim"))
        .filter(F.col("_sim") >= threshold)
        .select("_dup_id")
        .distinct()
    )
    return base.join(
        dups, base["_id"] == dups["_dup_id"], "left"
    ).select(
        F.col("_id").alias(id_col),
        F.col("_cl").alias("cluster"),
        F.col("_dup_id").isNotNull().alias("is_dup"),
    )


def _tdiv(a: int, b: int) -> int:
    """Truncate-toward-zero integer division — Python's // floors, but
    Spark's DIV and DuckDB's // on BIGINTs both truncate; every driver-
    side step of the power iteration must match the engines bit-for-bit."""
    q = abs(a) // b
    return q if a >= 0 else -q


def power_iteration_top_pc(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    iterations: int = 5,
    scale: int = 1_000_000,
) -> DataFrame:
    """Top principal component of an embedding table by INTEGER
    fixed-point power iteration — the embedding-drift / whitening
    primitive (the dominant direction of centered embeddings; comparing
    it across dataset versions catches encoder or distribution shift the
    per-dim moments miss).

    Method: values snap to ppm ints (ROUND(CAST(v AS DOUBLE)*scale +
    1e-9) — the explicit DOUBLE cast makes both engines compute the
    identical IEEE product from the stored float32, and the house 1e-9
    bias removes the only remaining divergence, tie rules at exact
    halves; measured: without it the raw float32 snap differed by ±1
    ulp-of-cents between engines), means use integer DIV,
    and each iteration is the two matrix-free products y = C w (per
    row), w' = C^T (y DIV scale) (per dim), followed by max-abs
    normalization back to +-scale with a deterministic GLOBAL SIGN from
    the largest-|w'| dimension (tie: lowest dim) — so the output is a
    unique integer vector, not an eigenvector-up-to-sign. Every division
    is truncate-toward-zero in BOTH engines (verified: Spark DIV ==
    DuckDB // on negatives), so the unrolled-CTE oracle is bit-exact.

    Scale: the centered (id, dim, value) table is the only large object;
    each iteration is one bounded groupBy(id) + one groupBy(dim) with
    map-side combine, and only 64-row weight vectors ever reach the
    driver (the bounded-scalar collect class). int64 headroom: |w'| <=
    n * cmax * 64 * cmax ~ n * 7.7e13 at unit-norm-ish inputs — the
    cliff sits at n ~ 1.2e5 rows PER JOB; beyond that, deepen the
    post-product down-shift (y DIV scale^2) or pre-reduce C, the
    acf/HHI rescale convention.

    Output: [dim (1-based), mean_ppm, weight_ppm]."""
    first = df.select(vec_col).first()
    if first is None:
        return df.sparkSession.createDataFrame(
            [], "dim long, mean_ppm long, weight_ppm long"
        )
    width = len(first[0])
    n = df.count()
    e = df.select(
        F.col(id_col).alias("vid"),
        F.posexplode(F.col(vec_col)).alias("p", "v"),
    ).select(
        "vid",
        (F.col("p") + 1).cast("long").alias("d"),
        F.expr(f"CAST(ROUND(CAST(v AS DOUBLE) * {scale} + 1e-9) AS BIGINT)").alias("vi"),
    )
    means = e.groupBy("d").agg(F.expr(f"SUM(vi) DIV {n}").alias("mean_ppm"))
    c = (
        e.join(F.broadcast(means), "d")
        .select("vid", "d", F.expr("vi - mean_ppm").alias("c"))
        .persist()
    )
    c.count()  # materialize once; every iteration reuses the cache

    w = [scale] * width
    for _ in range(iterations):
        arr = F.array(*[F.lit(int(x)) for x in w])
        y = (
            c.withColumn("wv", F.element_at(arr, F.col("d").cast("int")))
            .groupBy("vid")
            .agg(F.sum(F.expr("c * wv")).alias("y"))
            .select("vid", F.expr(f"y DIV {scale}").alias("ys"))
        )
        wp = {
            r.d: r.wp
            for r in c.join(y, "vid")
            .groupBy("d")
            .agg(F.sum(F.expr("c * ys")).alias("wp"))
            .collect()
        }
        wr = {d: _tdiv(v, scale) for d, v in wp.items()}
        d_star = min(wr, key=lambda d: (-abs(wr[d]), d))
        m = max(abs(wr[d_star]), 1)
        sgn = 1 if wr[d_star] >= 0 else -1
        w = [_tdiv(sgn * wr.get(d, 0) * scale, m) for d in range(1, width + 1)]

    w_arr = F.array(*[F.lit(int(x)) for x in w])
    out = means.select(
        F.col("d").alias("dim"),
        F.col("mean_ppm").cast("long").alias("mean_ppm"),
        F.element_at(w_arr, F.col("d").cast("int")).cast("long").alias("weight_ppm"),
    )
    c.unpersist()
    return out
