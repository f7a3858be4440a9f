"""Deduplication operators for LLM data pipelines (SURVEY.md §7 M5):
exact, MinHash+LSH near-dup, SimHash, n-gram Jaccard verification.

Design for 100 TB:
- exact dedup is one hash-partitioned groupBy on a 32-byte digest (never
  shuffles full documents);
- MinHash/SimHash sketches are computed by explode(shingles) -> one
  groupBy(doc) with 64 min/sum aggregates: the shingle expression is
  evaluated ONCE per document (inlining 64 per-seed array expressions made
  Catalyst re-evaluate the shingling 64x per row), and partial aggregation
  does the mins map-side;
- near_dedup_minhash hash-partitions the documents by id ONCE, into
  ``spark.sql.shuffle.partitions`` partitions, before it shingles them,
  and persists the shingle table with that partitioning. The signature
  groupBy and both sides of the verify join then reuse it instead of
  planning their own exchanges. The raw text is shuffled once, where
  shuffling the shingle arrays (about 3x the text) twice plus the
  signature partials was the alternative, and tokenizing and hashing use
  every core even when the corpus arrives as one file split;
- LSH banding turns the O(n^2) pair space into a banded equi self-join
  over a PINNED narrow (id, band, band_hash) table: the pin computes the
  signature aggregation exactly once (an aliased self-join would run it
  once per side), while the join streams pairs and AQE skew-splitting
  bounds hot buckets (a per-bucket pair array would park each bucket's
  O(|bucket|^2) pairs in a single task);
- candidate pairs are verified with exact Jaccard on shingle arrays, so
  the output has no LSH false positives — only (tunable) false negatives;
- every pin goes through operators/checkpointing.pin, so the session's
  ``spark.checkpoint.dir`` decides whether pinned intermediates survive
  executor loss;
- the wide expression lists (64 per-seed mins or bit sums, the banded
  struct arrays) are SQL text, one py4j call each, with literals typed as
  ``F.lit`` types them (ints INT, e.g. the xxhash64 seeds), so the hash
  values are the ones a Column tree computes (operators/cleaning.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from app_insights_generator_spark.operators.checkpointing import pin as _shared_pin
from app_insights_generator_spark.operators.text import (
    normalized_text,
    shingles_from_tokens,
    tokens,
)


def _shingle_sets(df: DataFrame, id_col: str, text_col: str, shingle_n: int) -> DataFrame:
    """[_id, _sh: array<string>] distinct shingle set per document.

    Two projections on purpose: tokens are materialized as an attribute
    before shingles_from_tokens builds n-grams from them, keeping the
    tokenize work out of the per-element transform() lambda (see
    operators/text.py shingles_from_tokens)."""
    toked = df.select(
        F.col(id_col).alias("_id"),
        tokens(normalized_text(F.col(text_col))).alias("_toks"),
    )
    return toked.select(
        "_id",
        F.array_distinct(shingles_from_tokens(F.col("_toks"), shingle_n)).alias("_sh"),
    )


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """One surviving row id per distinct normalized text.

    Returns [keep_id, n_copies]. Grouping key is the sha256 digest of the
    normalized text: constant-width shuffle keys at any document size.
    """
    return (
        df.select(
            F.sha2(normalized_text(F.col(text_col)), 256).alias("_h"),
            F.col(id_col).alias("keep_id"),
        )
        .groupBy("_h")
        .agg(F.min("keep_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
        .select("keep_id", "n_copies")
    )


def _explode_shingle_sets(sh: DataFrame) -> DataFrame:
    """One row per (doc, distinct shingle); empty docs keep one NULL row
    (explode_outer) so every document still gets a sketch."""
    return sh.selectExpr("_id", "explode_outer(_sh) AS _sh")


def _signatures_from_sets(sh: DataFrame, num_hashes: int) -> DataFrame:
    # The k aggregates cross to the JVM as one struct expression, unpacked
    # by one star, where k aliased Columns cost about 30 round trips each.
    mins = ", ".join(f"min(xxhash64(_sh, {i})) AS _m{i}" for i in range(num_hashes))
    return (
        _explode_shingle_sets(sh)
        .groupBy("_id")
        .agg(F.expr(f"struct({mins}) AS _sig"))
        .select("_id", "_sig.*")
    )


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, shingle_n: int = 3, num_hashes: int = 64
) -> DataFrame:
    """Wide MinHash signature table [_id, _m0.._m{k-1}]: for seed i,
    min over shingles of xxhash64(shingle, i). Explode + groupBy on purpose:
    the 64 hashes run inside whole-stage codegen and partial HashAggregate
    takes the mins map-side, so the exchange carries ~one 64-long row per
    doc per partition, not the exploded shingles. (A zero-shuffle
    array_min(transform(...)) variant measured ~2x slower: higher-order
    functions evaluate per-element outside codegen.)"""
    return _signatures_from_sets(_shingle_sets(df, id_col, text_col, shingle_n), num_hashes)


def _band_rows(sig: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """[_id, band, bhash]: one row per document and band, ``bhash`` the
    xxhash64 of the band's ``num_hashes // bands`` signature values."""
    rows = num_hashes // bands

    def band(b: int) -> str:
        ms = ", ".join(f"_m{b * rows + r}" for r in range(rows))
        return f"struct({b} AS band, xxhash64(concat_ws(',', {ms})) AS bhash)"

    structs = ", ".join(map(band, range(bands)))
    return sig.selectExpr("_id", f"explode(array({structs})) AS bk").selectExpr(
        "_id", "bk.band", "bk.bhash"
    )


def _candidates_from_sets(sh: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    sig = _signatures_from_sets(sh, num_hashes)
    # Pairs come from an equi self-join over a PINNED narrow banded table.
    # Without the pin, the aliased self-join recomputes the 64-hash
    # signature aggregation once per join side (aliased subtrees get no
    # ReusedExchange). Per-bucket collect_list + i<j combinations compute
    # signatures once but concentrate every bucket in ONE aggregation row
    # and ONE task, building the O(|bucket|^2) pair array in memory — an
    # OOM/straggler cliff on boilerplate-heavy corpora, where
    # exact-duplicate docs share band hashes at ANY banding parameters.
    # Pinning the (id, band, bhash) rows first gets both properties at
    # once: the signature subtree runs exactly once (both join sides scan
    # the pin), pairs STREAM out of the join (no materialized pair
    # array), and AQE's skew-join splitting can break a hot (band, bhash)
    # key across tasks — which per-bucket arrays structurally cannot.
    # NULL-id guard replicates the old join's a._id < b._id semantics.
    banded = _shared_pin(
        _band_rows(sig, num_hashes, bands).filter(F.col("_id").isNotNull())
    )
    a = banded.select(F.col("_id").alias("id_a"), "band", "bhash")
    b = banded.select(F.col("_id").alias("id_b"), "band", "bhash")
    return (
        a.join(b, ["band", "bhash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
) -> DataFrame:
    """LSH candidate pairs [id_a, id_b] (id_a < id_b) whose signatures
    collide in >=1 of ``bands`` bands (rows-per-band = num_hashes/bands)."""
    return _candidates_from_sets(
        _shingle_sets(df, id_col, text_col, shingle_n), num_hashes, bands
    )


def _jaccard_from_sets(
    sh: DataFrame, candidates: DataFrame, threshold: float
) -> DataFrame:
    a = sh.select(F.col("_id").alias("id_a"), F.col("_sh").alias("sh_a"))
    b = sh.select(F.col("_id").alias("id_b"), F.col("_sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    # |A ∪ B| = |A| + |B| - |A ∩ B| exactly: both sides are
    # array_distinct'd shingle sets (_shingle_sets), so the arithmetic
    # form equals size(array_union(...)) integer-for-integer while
    # skipping the union's per-pair hash-set build — the verify join
    # touches each array once instead of twice (whole-stage CSE
    # evaluates the shared intersect once).
    union = F.size("sh_a") + F.size("sh_b") - inter
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    # Filter on the UNROUNDED jaccard (with the same +1e-9 bias the DuckDB
    # oracles use) and round only in the final projection: filtering on
    # round(j,4) would keep j >= threshold-5e-5, a boundary the oracle's
    # raw-value filter disagrees with.
    return (
        candidates.join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", jac.alias("_jac"))
        .filter(F.col("_jac") + F.lit(1e-9) >= threshold)
        .select("id_a", "id_b", F.round("_jac", 4).alias("jaccard"))
    )


def jaccard_pairs(
    df: DataFrame,
    candidates: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    threshold: float = 0.7,
) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs; keeps pairs >= threshold.
    Output: [id_a, id_b, jaccard]."""
    return _jaccard_from_sets(
        _shingle_sets(df, id_col, text_col, shingle_n), candidates, threshold
    )


def near_dedup_minhash(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.7,
) -> DataFrame:
    """Full near-dup pipeline: LSH candidates -> exact-Jaccard verification.

    The shingle-set table is computed ONCE and persisted, then feeds both
    the MinHash signatures and BOTH sides of the verify self-join — the
    naive composition tokenized+shingled the corpus three times (the
    costliest step: regex splits over every document). The (tiny) verified
    pair list is pinned so the cache can be released before returning; at
    100 TB the persist spills to disk, which still beats two extra full
    text-processing passes.

    The documents are hash-partitioned by ``id_col`` into
    ``spark.sql.shuffle.partitions`` partitions before shingling, so the
    cached table carries a ``_id`` hash partitioning that its consumers
    reuse: the signature ``groupBy("_id")`` and both shingle lookups of
    the verify join plan no Exchange of their own. The raw text is
    shuffled once instead of the shingle arrays (about 3x the text)
    twice plus the signature partials, and the tokenize/shingle and
    64-hash work spreads over every core even when the input arrives as
    one file split. The count is explicit so that the cache's partition
    count never depends on AQE: a count-less ``repartition(id_col)`` may
    be coalesced toward the advisory partition size, which for a corpus
    of a few MB is one or two tasks. The repartition stays here rather
    than in ``_shingle_sets``: the other consumers keep their input's row
    order."""
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    sh = _shingle_sets(df.repartition(n, id_col), id_col, text_col, shingle_n).persist()
    pairs = _jaccard_from_sets(
        sh, _candidates_from_sets(sh, num_hashes, bands), threshold
    )
    pinned = _shared_pin(pairs)
    sh.unpersist()
    return pinned


def simhash_signatures(
    df: DataFrame, id_col: str, text_col: str, shingle_n: int = 3
) -> DataFrame:
    """[_id, _sim]: 64-bit SimHash as bigint. Bit i is the sign of
    sum over shingles of (bit i of xxhash64(shingle) ? +1 : -1).
    Same explode+groupBy shape as MinHash (codegen'd hashing, map-side
    partial sums; a per-element higher-order-function variant measured
    slower — see minhash_signatures)."""
    sh = _shingle_sets(df, id_col, text_col, shingle_n)
    ex = _explode_shingle_sets(sh).selectExpr("_id", "xxhash64(_sh) AS _h")
    # Bit i's weight is 2^i as a signed bigint: -2^63 for the top bit.
    terms = ["CAST(0 AS BIGINT)"] + [
        f"CASE WHEN (sum(CASE WHEN ((shiftright(_h, {i}) & 1) = 1) THEN 1 ELSE -1 END) > 0) "
        f"THEN CAST({-(2**63) if i == 63 else 2**i} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        for i in range(64)
    ]
    return ex.groupBy("_id").agg(F.expr(f"{' + '.join(terms)} AS _sim"))


def hamming_band_pairs(
    hashes: DataFrame, id_col: str, hash_col: str, max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs over any 64-bit signature column: bucket on each of
    4 exact 16-bit chunks — by pigeonhole, any pair within hamming
    distance 3 (< number of bands) shares at least one UNCHANGED chunk,
    so the banded equi-join has zero false negatives — then verify with
    bit_count(xor) <= max_hamming. Output [id_a, id_b, hamming].

    Scale: the only join is equi on (chunk, cval) — never Cartesian; a
    signature appears in exactly 4 buckets, so candidate volume tracks
    real collisions, not corpus size squared. Shared by SimHash (text)
    and dHash (image) near-dup detection."""
    sig = hashes.select(
        F.col(id_col).alias("_id"), F.col(hash_col).alias("_sig")
    )
    chunks = ", ".join(
        f"struct({c} AS chunk, (shiftrightunsigned(_sig, {c * 16}) & {0xFFFF}) AS cval)"
        for c in range(4)
    )
    chunked = sig.selectExpr("_id", "_sig", f"explode(array({chunks})) AS ck").selectExpr(
        "_id", "_sig", "ck.chunk", "ck.cval"
    )
    # Equi self-join over a PINNED narrow chunked table, as in
    # _candidates_from_sets: the pin computes the upstream signature
    # aggregation (64 bit-sums for SimHash) exactly once, the join streams
    # pairs instead of building a per-bucket O(|bucket|^2) struct array in
    # one task's memory, and a hot (chunk, cval) bucket stays
    # AQE-skew-splittable.
    # NULL guard replicates equi-join semantics exactly: a NULL cval/_id
    # never matched in the old join.
    pinned = _shared_pin(
        chunked.filter(F.col("cval").isNotNull() & F.col("_id").isNotNull())
    )
    a = pinned.select(
        F.col("_id").alias("id_a"), F.col("_sig").alias("sig_a"), "chunk", "cval"
    )
    b = pinned.select(
        F.col("_id").alias("id_b"), F.col("_sig").alias("sig_b"), "chunk", "cval"
    )
    ham = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        a.join(b, ["chunk", "cval"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", ham.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def simhash_pairs(
    df: DataFrame, id_col: str, text_col: str, shingle_n: int = 3, max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs by SimHash: signatures + the shared banded hamming
    join (hamming_band_pairs). Output [id_a, id_b, hamming]."""
    sh = simhash_signatures(df, id_col, text_col, shingle_n)
    return hamming_band_pairs(sh, "_id", "_sim", max_hamming)


def connected_components(
    pairs: DataFrame,
    ids: DataFrame,
    id_col: str = "doc_id",
    max_iterations: int = 25,
) -> DataFrame:
    """Duplicate-cluster assignment: connected components over a pair graph
    by iterative hash-min label propagation. Output: [<id_col>, component]
    with component = min id reachable from the node (singletons keep their
    own id).

    The iterative-algorithm pattern Spark has no built-in for (SURVEY.md
    §2.2 custom operators rule (a) doesn't apply — a fixpoint genuinely
    needs a driver loop). Scale design:
    - each round is ONE shuffle: edges join labels on src, then min per dst
      (classic hash-min; rounds needed = graph diameter, and dedup-cluster
      diameters are tiny);
    - a pin per round truncates the lineage so the plan does not grow
      exponentially with iterations (the classic iterative-Spark failure
      mode). Set ``spark.checkpoint.dir`` on a cluster: a reliable pin
      matters MORE here than for the one-shot pins, since a lost round-k
      block kills all later rounds;
    - convergence check is a count of changed labels — one scalar to the
      driver per round, never the labels themselves, collected by an
      ``observe()`` metric DURING the pin job, so the check costs no extra
      action. The metric fires from the eager pin in both pin modes.
    """
    from pyspark.sql import Observation

    sym = _shared_pin(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .union(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .distinct()
    )
    labels = ids.select(F.col(id_col).alias("node"), F.col(id_col).alias("component"))
    changed = 0
    for _ in range(max_iterations):
        neighbor_min = (
            sym.join(labels, sym.src == labels.node)
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min("component").alias("nbr_component"))
        )
        new_labels = (
            labels.join(neighbor_min, "node", "left")
            .select(
                "node",
                F.least(
                    "component", F.coalesce("nbr_component", F.col("component"))
                ).alias("component"),
                (F.coalesce("nbr_component", F.col("component")) < F.col("component"))
                .cast("int")
                .alias("_changed"),
            )
        )
        obs = Observation()
        new_labels = _shared_pin(
            new_labels.observe(obs, F.sum("_changed").alias("n"))
        )
        changed = obs.get["n"] or 0
        labels = new_labels.drop("_changed")
        if changed == 0:
            break
    if changed != 0:
        # Labels are still moving: the graph diameter exceeds the iteration
        # budget and the clustering would be silently wrong — fail loudly.
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            f"iterations ({changed} labels still changing); raise max_iterations"
        )
    return labels.select(F.col("node").alias(id_col), "component")


def build_band_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
) -> DataFrame:
    """One-time LSH band index over a corpus: [(band, bhash, _id)] plus the
    shingle sets needed for later exact verification, carried as a second
    return-free design — callers persist/write THIS table once and every
    future ingest batch probes it instead of re-sketching the corpus.

    At 100 TB this is the difference between an O(corpus) daily dedup job
    and an O(batch) one: the index is written bucketed by (band, bhash) so
    batch probes co-locate without shuffling the index side again.
    Returns [band, bhash, _id, _sh]."""
    sh = _shingle_sets(df, id_col, text_col, shingle_n)
    banded = _band_rows(_signatures_from_sets(sh, num_hashes), num_hashes, bands)
    return banded.join(sh, "_id").select("band", "bhash", "_id", "_sh")


def incremental_near_dedup(
    new_df: DataFrame,
    index: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.7,
    broadcast_probe: bool | None = None,
    batch_index: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs between an ingest batch and an EXISTING corpus index
    (plus within the batch itself) without re-sketching the corpus:
    the batch is sketched, its bands probe the index (shuffle keyed on
    (band, bhash) — the index side is pre-bucketable on exactly that key),
    candidates are verified with exact Jaccard on the stored shingle sets.
    Output [id_a, id_b, jaccard] with id_a < id_b, id collision-free
    because batch ids and corpus ids share one id space.

    The batch's OWN index rows are unioned into the probe TARGET, so
    intra-batch duplicates are also caught; pairs already present
    corpus-side are the caller's dedup history and never re-emitted
    (corpus-corpus pairs are structurally impossible: one join side is
    always the batch).

    Shape: the batch index (tiny) joins INTO the full index on the
    (band, bhash) key — an asymmetric probe, never a full-index self-join
    (the original full x full + `_new` filter shape re-scanned the corpus
    index on BOTH sides; measured 20x-corpus probe 9.5 s -> 5.8 s after
    the rewrite, tools/scale_bench.py). ``broadcast_probe`` controls the
    hint: None (default) leaves the decision to AQE, which converts to a
    broadcast join at runtime when the batch index is actually small —
    a hard hint on an arbitrary caller-supplied batch could force an
    oversized broadcast that OOMs where a shuffle join degrades
    gracefully. Pass True only when the caller KNOWS the batch is tiny.
    At 100 TB store the index bucketed on (band, bhash): the probe then
    prunes to the batch's buckets instead of scanning the index at all.

    ``batch_index``: the batch's ALREADY-MATERIALIZED band-index rows
    (build_band_index shape) — callers that stage the batch index to
    storage anyway (the streaming ingest, the compaction receipts) pass
    the read-back staged table so the batch's shingle+signature subtree
    is computed exactly once per batch. When None it is built here and
    PINNED: the batch index feeds the probe side, the union
    target AND the verify shingle lookup — without the pin the costliest
    per-batch work (tokenize/shingle/64-hash-min) ran up to three times."""
    if batch_index is None:
        batch_index = _shared_pin(
            build_band_index(new_df, id_col, text_col, shingle_n, num_hashes, bands)
        )
    full = index.unionByName(batch_index)
    probe = batch_index.select("band", "bhash", F.col("_id").alias("_bid"))
    if broadcast_probe:
        probe = F.broadcast(probe)
    target = full.select("band", "bhash", F.col("_id").alias("_tid"))
    cands = (
        target.join(probe, ["band", "bhash"])
        .filter(F.col("_bid") != F.col("_tid"))
        .select(
            F.least("_bid", "_tid").alias("id_a"),
            F.greatest("_bid", "_tid").alias("id_b"),
        )
        .distinct()
    )
    sh_all = full.select("_id", "_sh").dropDuplicates(["_id"])
    return _jaccard_from_sets(sh_all, cands, threshold)


# --- Substring-level duplicate spans (Lee et al., "Deduplicating Training
# --- Data Makes Language Models Better", arXiv:2107.06499) -------------------


def duplicate_span_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    skew_robust: bool = False,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Per-document duplicated-substring statistics: slide a k-token
    window over every document, hash each window (xxhash64 by default —
    8-byte shuffle keys, no crypto cost; ``hash_fn="md5"`` for the gated
    query, whose DuckDB oracle needs a hash both engines compute
    identically), call a window DUPLICATED when its
    hash occurs >= 2 times anywhere in the corpus (cross- OR within-doc,
    the Lee-et-al. criterion), and report per doc:

      n_tokens, n_windows, dup_windows, dup_tokens (tokens covered by
      the UNION of duplicated windows), dup_frac_bp (integer basis
      points — drift-proof).

    Scale shape: one scan -> posexplode to (doc, pos, hash) -> dup
    detection (one hash shuffle; see the skew_robust note inline) ->
    ONE window pass per doc for merged-interval coverage (running
    max-end subtraction), so overlapping windows are unioned WITHOUT
    exploding k positions per window — coverage costs O(dup_windows),
    not O(k * dup_windows). A true suffix array (the paper's tool) is a
    single-machine construct; the k-token rolling-window hash is the
    standard distributed re-expression and finds every duplicated
    substring of length >= k.
    """
    from pyspark.sql import Window

    base = df.select(
        F.col(id_col).alias("_id"), F.split(F.col(text_col), " ").alias("_t")
    ).select("_id", F.size("_t").alias("n_tokens"), "_t")
    if hash_fn not in ("xxhash64", "md5"):
        raise ValueError(f"hash_fn must be xxhash64 or md5, got {hash_fn!r}")
    # xxhash64 (default): 8-byte keys, no crypto cost — the production
    # choice; md5 exists because it is the one hash both Spark and the
    # DuckDB oracle can compute identically (the gated query pins it).
    wins = base.filter(F.col("n_tokens") >= k).select(
        "_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, n_tokens - {k}),"
                f" i -> {hash_fn}(array_join(slice(_t, i + 1, {k}), ' ')))"
            )
        ).alias("pos", "h"),
    )
    # Duplicated = window-hash count >= 2. Two shapes, same semantics:
    #
    # DEFAULT (skew_robust=False): count() OVER (PARTITION BY h) — ONE
    # pass, one shuffle, no materialized dup-hash set and no broadcast.
    # Its hazard: a window partition holds EVERY occurrence of a hash,
    # so the corpus's single most-duplicated passage (boilerplate) lands
    # in one task. Fine until the top hash's count rivals a partition.
    #
    # skew_robust=True: groupBy(h) (map-side partial counts collapse hot
    # keys BEFORE the shuffle) + SHUFFLE_MERGE join-back (hinted: the
    # dup-hash set is unbounded, it must never broadcast) — AQE's skew
    # handling can split the join's hot partitions, which it cannot do
    # for a window. Cost: the window table is computed twice (2x md5).
    # Pick per corpus: robust for web-scale boilerplate, default for
    # corpora whose top duplicate is partition-sized or smaller.
    if skew_robust:
        dup_h = (
            wins.groupBy("h")
            .agg(F.count(F.lit(1)).alias("_c"))
            .filter(F.col("_c") >= 2)
            .select("h")
        )
        dups = wins.join(dup_h.hint("SHUFFLE_MERGE"), "h", "inner").select(
            "_id", "pos"
        )
    else:
        dups = (
            wins.withColumn(
                "_c", F.count(F.lit(1)).over(Window.partitionBy("h"))
            )
            .filter(F.col("_c") >= 2)
            .select("_id", "pos")
        )

    w = Window.partitionBy("_id").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, -1
    )
    cov = (
        dups.withColumn(
            "_prev_end", F.coalesce(F.max(F.col("pos") + k).over(w), F.lit(0))
        )
        .withColumn(
            "_contrib",
            F.greatest(
                F.lit(0),
                F.col("pos") + k - F.greatest(F.col("_prev_end"), F.col("pos")),
            ),
        )
        .groupBy("_id")
        .agg(
            F.count("*").alias("_dup_windows"),
            F.sum("_contrib").alias("_dup_tokens"),
        )
    )
    return (
        base.select(
            "_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.greatest(F.lit(0), F.col("n_tokens") - (k - 1))
            .cast("long")
            .alias("n_windows"),
        )
        .join(cov, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            "n_tokens",
            "n_windows",
            F.coalesce("_dup_windows", F.lit(0)).cast("long").alias("dup_windows"),
            F.coalesce("_dup_tokens", F.lit(0)).cast("long").alias("dup_tokens"),
            F.expr(
                "CASE WHEN n_tokens = 0 THEN 0 "
                "ELSE coalesce(_dup_tokens, 0) * 10000 DIV n_tokens END"
            )
            .cast("long")
            .alias("dup_frac_bp"),
        )
    )


def jaccard_join_prefix_filter(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    threshold: float = 0.5,
    positional: bool = True,
) -> DataFrame:
    """EXACT Jaccard similarity self-join >= threshold via prefix
    filtering (the AllPairs/PPJoin family, Bayardo et al. 2007) — the
    third candidate-generation strategy beside banded MinHash
    (probabilistic) and SimHash (bit-distance), and the only one that is
    exact: prefix filtering has ZERO false negatives, so output ==
    brute-force all-pairs truth, with no sketch parameters to tune.

    Method: shingles are globally ordered rarest-first (count asc, then
    shingle — deterministic); each document keeps only its PREFIX, the
    first |S| - ceil(t*|S|) + 1 shingles in that order. If J(A,B) >= t
    then |A∩B| >= ceil(t*|A|), and A's prefix omits only ceil(t*|A|)-1
    elements, so at least one common shingle falls in A's prefix — a
    prefix-vs-FULL token join therefore finds every qualifying pair
    (the asymmetric AllPairs scheme; the prefix-vs-prefix shortcut
    needs the longer (t/(1+t))-prefixes to stay lossless). Candidates
    are verified with the exact Jaccard, removing false positives.

    Scale: the join is keyed on shingles, and prefixes contain only
    each document's RAREST shingles — the canonical order exists
    precisely to keep hot tokens out of the probing side, so the join
    fanout per key stays small even on Zipfian vocabularies. One
    groupBy for frequencies, one sort inside collect per doc, one
    equi-join, one verify join.

    ``positional=True`` additionally applies PPJoin's positional filter
    (Xiao et al. 2008): a match on token at 1-based rank i of A and j of
    B can support an overlap of at most min(|A|-i, |B|-j) + 1, while
    J >= t forces overlap >= ceil(t/(1+t) * (|A|+|B|)); candidate pairs
    whose every token-match fails that bound are dropped BEFORE the
    verify join (any-match-pass keeps a superset of classic PPJoin, so
    still zero false negatives). Measured at sf0.01/t=0.5: 2,162
    prefix-only candidates collapse to 27 (98.8% cut; 25 are true
    pairs), so the expensive verify join runs on an essentially exact
    candidate set — positions prune precisely the high-fanout
    shared-common-token matches that prefix length alone cannot.
    """
    sh = _shingle_sets(df, id_col, text_col, shingle_n).persist()
    ex = _explode_shingle_sets(sh).filter(F.col("_sh").isNotNull())
    freq = ex.groupBy("_sh").agg(F.count(F.lit(1)).alias("_c"))
    ranked = ex.join(freq, "_sh")
    ordered = ranked.groupBy("_id").agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("_c").alias("c"), F.col("_sh").alias("s")))
        ).alias("toks")
    )
    # Positions in the canonical order ride along on both join sides.
    # ONE positional explode feeds both sides: the prefix rows are exactly
    # the full rows with pos < prefix_len, so deriving pref by a position
    # filter over a persisted (id, sz, pos, sh) table removes the second
    # collect_list+sort aggregation the old twin posexplode subtrees each
    # re-ran (measured on the containment twin: 4.3s -> 2.6s at sf0.1,
    # rows identical).
    # DISK_ONLY: this is the fully exploded
    # positional token table — row count = corpus token count — and it is
    # held across the prefix join; MEMORY_AND_DISK would compete with the
    # join's execution memory at scale for a table that is scanned
    # twice sequentially. Measured flat locally (3.38/2.79s vs
    # 3.21/2.72s interleaved at sf0.1).
    from pyspark.storagelevel import StorageLevel

    pos_rows = ordered.select(
        "_id",
        F.size("toks").alias("sz"),
        F.posexplode(F.expr("transform(toks, x -> x.s)")).alias("pos", "_sh"),
    ).persist(StorageLevel.DISK_ONLY)
    full = pos_rows.select(
        F.col("_id").alias("id_f"),
        F.col("sz").alias("sz_f"),
        F.col("pos").alias("pos_f"),
        "_sh",
    )
    pref = pos_rows.filter(
        F.col("pos")
        < F.expr(f"sz - CAST(ceil({threshold} * sz) AS INT) + 1")
    ).select(
        F.col("_id").alias("id_p"),
        F.col("sz").alias("sz_p"),
        F.col("pos").alias("pos_p"),
        "_sh",
    )
    matches = pref.join(full, "_sh").filter(F.col("id_p") != F.col("id_f"))
    if positional:
        # posexplode is 0-based: remaining tokens incl. the match are
        # (sz - pos); overlap upper bound = min(remaining_a, remaining_b).
        ubound = F.least(
            F.col("sz_p") - F.col("pos_p"), F.col("sz_f") - F.col("pos_f")
        )
        need = F.expr(
            f"CAST(ceil({threshold} / (1 + {threshold}) * (sz_p + sz_f)) AS INT)"
        )
        matches = matches.filter(ubound >= need)
    cand = (
        matches.select(
            F.least("id_p", "id_f").alias("id_a"),
            F.greatest("id_p", "id_f").alias("id_b"),
        )
        .distinct()
    )
    pairs = _jaccard_from_sets(sh, cand, threshold)
    pinned = _shared_pin(pairs)
    pos_rows.unpersist()
    sh.unpersist()
    return pinned


def winnowing_fingerprint_rows(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 4,
    w: int = 4,
) -> DataFrame:
    """The selected winnowing fingerprint SET as rows: one distinct
    (doc_id, wmin) per document fingerprint, pinned because the
    explode+window subtree always fans out downstream. Shared core of
    :func:`winnowing_stats` and the cross-split contamination audit —
    same grams, window minima, and clamped-window semantics."""
    return _shared_pin(_winnowing_selected_rows(df, id_col, text_col, k, w))


def _winnowing_selected_rows(
    df: DataFrame, id_col: str, text_col: str, k: int, w: int
) -> DataFrame:
    """Unpinned core of :func:`winnowing_fingerprint_rows`: the exploded
    gram rows with their sliding-window minima, one row per selected
    window end position (doc_id, m, i, wmin)."""
    from pyspark.sql import Window

    base = df.select(
        F.col(id_col).alias("doc_id"),
        tokens(normalized_text(F.col(text_col))).alias("toks"),
    ).select(
        "doc_id",
        "toks",
        F.greatest(F.size("toks") - k + 1, F.lit(0)).alias("m"),
    )
    g = (
        base.filter(F.col("m") >= 1)
        .select(
            "doc_id",
            "m",
            "toks",
            F.explode(F.sequence(F.lit(1), F.col("m"))).alias("i"),
        )
        .select(
            "doc_id",
            "m",
            "i",
            F.md5(F.array_join(F.slice(F.col("toks"), F.col("i"), k), " ")).alias(
                "h"
            ),
        )
    )
    wspec = Window.partitionBy("doc_id").orderBy("i").rowsBetween(-(w - 1), 0)
    return g.select(
        "doc_id", "m", "i", F.min("h").over(wspec).alias("wmin")
    ).filter(F.col("i") >= F.least(F.lit(w), F.col("m")))


def winnowing_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 4,
    w: int = 4,
) -> DataFrame:
    """Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS algorithm): hash every k-token gram, slide a
    window of w consecutive gram hashes, and SELECT the minimum hash of
    each window. The selected set is a position-robust ~2/(w+1)-density
    fingerprint with the winnowing guarantee: any shared substring of
    at least w+k-1 tokens yields at least one shared fingerprint, so
    cross-document overlap detection never misses long clones while
    storing only a small fraction of the gram hashes.

    Output per document: ``[doc_id, n_grams, n_windows, n_selected,
    density_bp, shared_sel]`` — all integers (density in basis points of
    windows; ``shared_sel`` = how many of this document's selected
    fingerprints are selected by >=1 OTHER document, the plagiarism /
    clone signal). Documents shorter than k tokens have zero grams and
    all-zero stats.

    Plan/scale: deliberately RELATIONAL, not array-side — the sliding
    minimum is ``MIN(h) OVER (PARTITION BY doc ORDER BY pos ROWS w-1
    PRECEDING)`` over exploded (doc, pos, md5) gram rows. The array
    formulation (transform(j -> array_min(slice(grams, j, w)))) reads
    nicer but Catalyst inlines the gram-building transform into the
    window lambda and re-evaluates it per element — O(m^2) md5 calls per
    document, measured 16x slower at sf0.01. Here every md5 is computed
    exactly once, the one shuffle is keyed on doc_id (fine-grained, no
    skew class), and the exchange is reused across the stats / share
    branches. Window end positions i in [LEAST(w, m), m] reproduce the
    clamped-window semantics exactly: full windows j = i-w+1 for m >= w,
    one partial all-gram window when 1 <= m < w.

    The hash is md5 of the space-joined gram, compared LEXICOGRAPHICALLY
    as hex text — identical total order in Spark and DuckDB, so window
    minima (and therefore the whole selected set) are engine-exact with
    no float or integer-width class at all.
    """
    base = df.select(
        F.col(id_col).alias("doc_id"),
        tokens(normalized_text(F.col(text_col))).alias("toks"),
    ).select(
        "doc_id",
        F.greatest(F.size("toks") - k + 1, F.lit(0)).alias("m"),
    )
    # The pinned fan-out table is the (doc, wmin) GRAIN, not the raw
    # selected-window rows: every downstream branch consumes
    # either distinct fingerprints or their per-doc multiplicities, so one
    # groupBy right after the window collapses the pin to the fingerprint
    # set (cnt = selected window-ends per fingerprint, i.e. the old
    # per-row count; m rides along, constant per doc) — fewer pinned rows
    # and the old separate stats-vs-sel scans become scans of one smaller
    # table. The explode+window subtree still runs ONCE, inside the pin's
    # lineage (zero Window nodes in the final plan — guarded in
    # test_plans).
    d = _shared_pin(
        _winnowing_selected_rows(df, id_col, text_col, k, w)
        .groupBy("doc_id", "wmin")
        .agg(F.count(F.lit(1)).alias("cnt"), F.any_value("m").alias("m"))
    )
    stats = d.groupBy("doc_id").agg(
        F.any_value(F.col("m")).cast("long").alias("n_grams"),
        F.sum("cnt").cast("long").alias("n_windows"),
        F.count(F.lit(1)).cast("long").alias("n_selected"),
    )
    # d is distinct per (doc, wmin), so count(*) per hash == number of
    # docs selecting it; >=2 means shared with at least one other document.
    shared_h = (
        d.groupBy("wmin")
        .agg(F.count(F.lit(1)).alias("nd"))
        .filter(F.col("nd") >= 2)
    )
    shared = (
        d.join(shared_h.select("wmin"), "wmin")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("shared_sel"))
    )
    return (
        base.select("doc_id")
        .join(stats, "doc_id", "left")
        .join(shared, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_grams"), F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce(F.col("n_windows"), F.lit(0))
            .cast("long")
            .alias("n_windows"),
            F.coalesce(F.col("n_selected"), F.lit(0))
            .cast("long")
            .alias("n_selected"),
            F.expr(
                "CAST(CASE WHEN coalesce(n_windows, 0) = 0 THEN 0"
                " ELSE n_selected * 10000 DIV n_windows END AS LONG)"
            ).alias("density_bp"),
            F.coalesce(F.col("shared_sel"), F.lit(0))
            .cast("long")
            .alias("shared_sel"),
        )
    )


def containment_join_prefix_filter(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    threshold_bp: int = 6000,
    positional: bool = True,
) -> DataFrame:
    """EXACT directed CONTAINMENT self-join: emit (id_a, id_b) where
    C(A->B) = |A∩B| / |A| >= threshold — A's shingles mostly appear in
    B, the subset/quotation/near-superset relation Jaccard deliberately
    ignores (a short doc fully quoted inside a long one has high
    containment but low Jaccard, because Jaccard's denominator is the
    UNION). This is the curation signal for boilerplate extraction,
    quote detection, and keep-the-superset dedup policies.

    Same AllPairs-family prefix lemma as jaccard_join_prefix_filter, in
    its containment form: C(A->B) >= t forces |A∩B| >= ceil(t*|A|), and
    A's prefix (rarest-first canonical order) omits only ceil(t*|A|)-1
    shingles, so >= 1 common shingle falls in A's prefix; probing A's
    prefix against B's FULL list therefore finds every qualifying
    DIRECTED pair with zero false negatives. The positional filter
    adapts too: a match at 0-based rank i of A and j of B supports an
    overlap of at most min(|A|-i, |B|-j), which must reach ceil(t*|A|).

    The threshold is integer BASIS POINTS and the verify predicate is
    ``inter * 10000 >= threshold_bp * |A|`` — pure int64, no float
    boundary class at all (ceil(t*|A|) = (t_bp*|A| + 9999) DIV 10000).
    Output: [id_a, id_b, size_a, inter, containment_bp] — all integers.

    Scale: identical shuffle structure to the Jaccard form — one
    frequency groupBy, one per-doc sort, prefix-vs-full equi-join keyed
    on (rare) shingles, verify join on candidate ids only."""
    sh = _shingle_sets(df, id_col, text_col, shingle_n).persist()
    ex = _explode_shingle_sets(sh).filter(F.col("_sh").isNotNull())
    freq = ex.groupBy("_sh").agg(F.count(F.lit(1)).alias("_c"))
    ranked = ex.join(freq, "_sh")
    ordered = ranked.groupBy("_id").agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("_c").alias("c"), F.col("_sh").alias("s")))
        ).alias("toks")
    )
    # ONE positional explode feeds both sides (see the Jaccard twin above):
    # pref == full rows with pos < prefix_len, where prefix length =
    # |A| - ceil(t*|A|) + 1, ceil in exact integer bp. Measured at sf0.1:
    # 4.3s -> 2.6s, output identical. DISK_ONLY for the same reason as
    # the Jaccard twin: corpus-token-count rows held across the join.
    from pyspark.storagelevel import StorageLevel

    pos_rows = ordered.select(
        "_id",
        F.size("toks").alias("sz"),
        F.posexplode(F.expr("transform(toks, x -> x.s)")).alias("pos", "_sh"),
    ).persist(StorageLevel.DISK_ONLY)
    full = pos_rows.select(
        F.col("_id").alias("id_f"),
        F.col("sz").alias("sz_f"),
        F.col("pos").alias("pos_f"),
        "_sh",
    )
    pref = pos_rows.filter(
        F.col("pos")
        < F.expr(f"sz - CAST(({threshold_bp} * sz + 9999) DIV 10000 AS INT) + 1")
    ).select(
        F.col("_id").alias("id_p"),
        F.col("sz").alias("sz_p"),
        F.col("pos").alias("pos_p"),
        "_sh",
    )
    matches = pref.join(full, "_sh").filter(F.col("id_p") != F.col("id_f"))
    if positional:
        ubound = F.least(
            F.col("sz_p") - F.col("pos_p"), F.col("sz_f") - F.col("pos_f")
        )
        need = F.expr(f"CAST(({threshold_bp} * sz_p + 9999) DIV 10000 AS INT)")
        matches = matches.filter(ubound >= need)
    cand = matches.select(
        F.col("id_p").alias("id_a"), F.col("id_f").alias("id_b")
    ).distinct()
    a = sh.select(F.col("_id").alias("id_a"), F.col("_sh").alias("_sh_a"))
    b = sh.select(F.col("_id").alias("id_b"), F.col("_sh").alias("_sh_b"))
    verified = (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.size("_sh_a").cast("long").alias("size_a"),
            F.size(F.array_intersect("_sh_a", "_sh_b")).cast("long").alias("inter"),
        )
        .filter(F.col("inter") * 10000 >= F.lit(threshold_bp) * F.col("size_a"))
        .select(
            "id_a",
            "id_b",
            "size_a",
            "inter",
            F.expr("CAST(inter * 10000 DIV size_a AS LONG)").alias(
                "containment_bp"
            ),
        )
    )
    pinned = _shared_pin(verified)
    pos_rows.unpersist()
    sh.unpersist()
    return pinned
