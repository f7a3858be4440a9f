"""Streaming incremental near-dedup: foreachBatch feeding the persisted
LSH band index (operators/dedup.py build_band_index /
incremental_near_dedup) — the streaming face of the daily-ingest dedup
job.

Per micro-batch of newly ingested documents:

1. probe: near-dup pairs between the batch and the CURRENT persisted
   index (plus within the batch itself) via ``incremental_near_dedup``
   — O(batch) keyed probe, the corpus is never re-sketched;
2. extend: the batch's own band-index rows are STAGED under a
   per-batch dir, so the next batch probes a corpus that includes this
   one;
3. emit: the batch's verified pairs are staged the same way; the
   cumulative pair set is the union of committed stagings.

State discipline (the ivf_stream staged layout): batch N writes ONLY
its own rows to ``index_batches/b{N}`` / ``pairs_batches/b{N}`` with
mode=overwrite (a replayed half-written batch cleanly rewrites itself)
and the ``_LATEST`` pointer flip is the commit — exactly-once state
from at-least-once invocation, at **O(batch)** write cost per batch.
Readers union the base table (if a compaction has run) with exactly the
staged dirs in (base.upto, _LATEST].

``compact_streaming_dedup_state`` is the maintenance job (the
ivf_stream compaction twin): folds every committed staged dir into
``index_base_v{N}`` / ``pairs_base_v{N}``, clustered by row key so
files actually coalesce, committed by the atomic ``_BASE`` pointer flip —
readers see identical rows at any crash point — and ``gc=True``
reclaims ALL superseded state (staged dirs <= the new upto and every
non-current base), so the read amplification of a long-running stream
is bounded by the compaction cadence, not the batch count.

Reusing a state dir with a fresh checkpoint — or a checkpoint dir
deleted and recreated at the same path — fails loudly
(``ensure_lineage``: realpath + streaming-query-id pins).

Equivalence contract (pinned by tests/test_streaming_dedup.py): feeding
the corpus through ANY micro-batch partitioning yields exactly the
batch-mode pair set of ``incremental_near_dedup`` driven over the same
cut — pairs are discovered when their LATER document arrives, and
corpus-corpus re-pairs are structurally impossible (one probe side is
always the batch) — before AND after compaction.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from app_insights_generator_spark.operators.dedup import (
    build_band_index,
    incremental_near_dedup,
)
from app_insights_generator_spark.streaming._state import (
    ensure_lineage,
    flip_base_pointer,
    flip_latest,
    latest_version as _latest_version,
    read_base_pointer,
)

#: Persisted band-index schema (build_band_index's output): the first
#: batch probes an EMPTY index of exactly this shape.
_INDEX_SCHEMA = "band int, bhash bigint, _id bigint, _sh array<string>"
_PAIRS_SCHEMA = "id_a bigint, id_b bigint, jaccard double"

#: Two state tables share one commit stream: staged per-batch dirs under
#: ``{kind}_batches/b{N}``, compacted bases at ``{kind}_base_v{N}``. The
#: ``_BASE`` pointer stores the shared version tag ``base_v{N}``. Each
#: kind maps to its row key, which the fold clusters its rows by.
_KINDS = {"index": "_id", "pairs": "id_a"}
_NO_BASE = ""


def _staged_path(state_dir: str, kind: str, batch_id: int) -> str:
    return os.path.join(state_dir, f"{kind}_batches", f"b{batch_id}")


def _committed_batch_ids(state_dir: str, kind: str, lo: int, hi: int):
    broot = os.path.join(state_dir, f"{kind}_batches")
    if not os.path.isdir(broot):
        return []
    return sorted(
        int(d[1:])
        for d in os.listdir(broot)
        if d.startswith("b") and d[1:].isdigit() and lo < int(d[1:]) <= hi
    )


def _read_committed(spark, state_dir: str, kind: str) -> DataFrame | None:
    v = _latest_version(state_dir)
    if v < 0:
        return None
    base_tag, upto = read_base_pointer(state_dir, _NO_BASE)
    out = None
    if base_tag != _NO_BASE:
        out = spark.read.parquet(
            os.path.join(state_dir, f"{kind}_{base_tag}")
        )
    for bid in _committed_batch_ids(state_dir, kind, upto, v):
        part = spark.read.parquet(_staged_path(state_dir, kind, bid))
        out = part if out is None else out.unionByName(part)
    return out


def read_index(spark, state_dir: str) -> DataFrame | None:
    """Committed band index (base + unfolded staged batches), or None
    before the first committed batch."""
    return _read_committed(spark, state_dir, "index")


def read_pairs(spark, state_dir: str) -> DataFrame | None:
    """Cumulative verified near-dup pairs across every committed batch,
    or None before the first committed batch."""
    return _read_committed(spark, state_dir, "pairs")


def run_streaming_dedup(
    docs_sdf: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.7,
) -> None:
    """Drain a streaming document source (trigger availableNow) through
    the incremental near-dedup probe, maintaining the persisted band
    index and cumulative pair set under ``state_dir`` with O(batch)
    staged writes. Reusing a state dir with a fresh or recreated
    checkpoint fails loudly (ensure_lineage)."""
    ensure_lineage(state_dir, checkpoint_dir)

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        # Re-check INSIDE the batch: by now the checkpoint's metadata
        # file exists, so the query-id pin catches a checkpoint dir
        # deleted and recreated at the same path.
        ensure_lineage(state_dir, checkpoint_dir)
        if batch_id <= _latest_version(state_dir):
            return  # checkpoint replay of an applied batch: state is current
        spark = batch_df.sparkSession
        prev_index = read_index(spark, state_dir)
        if prev_index is None:
            prev_index = spark.createDataFrame([], _INDEX_SCHEMA)

        # Staged, idempotent, O(batch): ONLY this batch's rows are
        # written; a replay of an uncommitted batch overwrites its own
        # half-written dirs. The pointer flip below makes both tables'
        # stagings visible atomically. The batch index is written FIRST
        # and the staged parquet is read back into the pair probe, so the
        # batch's shingle+signature subtree — the costliest per-batch
        # work — runs once, not again in each of incremental_near_dedup's
        # probe/union/verify consumers.
        batch_index = build_band_index(
            batch_df, id_col, text_col, shingle_n, num_hashes, bands
        ).select(
            F.col("band").cast("int"),
            F.col("bhash").cast("bigint"),
            F.col("_id").cast("bigint"),
            "_sh",
        )
        batch_index.write.mode("overwrite").parquet(
            _staged_path(state_dir, "index", batch_id)
        )
        staged_index = spark.read.parquet(
            _staged_path(state_dir, "index", batch_id)
        )
        new_pairs = incremental_near_dedup(
            batch_df,
            prev_index,
            id_col,
            text_col,
            shingle_n=shingle_n,
            num_hashes=num_hashes,
            bands=bands,
            threshold=threshold,
            batch_index=staged_index,
        ).select(
            F.col("id_a").cast("bigint"),
            F.col("id_b").cast("bigint"),
            F.col("jaccard").cast("double"),
        )
        new_pairs.write.mode("overwrite").parquet(
            _staged_path(state_dir, "pairs", batch_id)
        )
        flip_latest(state_dir, batch_id)  # atomic commit

    (
        docs_sdf.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def compact_streaming_dedup_state(
    spark, state_dir: str, gc: bool = False, target_files: int = 8
) -> int:
    """Fold every committed staged batch of BOTH state tables into new
    versioned base tables — the dedup twin of ivf_stream's
    compact_streaming_index: a long-running ingest stream accumulates
    one small dir per batch per table, and probe read-amplification
    grows with file count until the stagings fold.

    Commit discipline: both merged tables land at
    ``{kind}_base_v{N}`` (N = the _LATEST id folded up to,
    mode=overwrite so a crashed compaction retries into the same
    paths), hash-partitioned by each table's row key into at most
    ``target_files`` files, sorted by that key, so files genuinely
    coalesce (a partitioned write alone preserves input splits) and each
    document's rows land in one file; the atomic ``_BASE`` pointer flip
    publishes BOTH at once — a reader before the flip sees old-base + all
    stagings, a reader after sees new-base + none: identical rows at any
    crash point. ``gc=True`` reclaims every superseded dir afterwards (staged
    <= the new upto, and every base other than the newly committed
    one), so alternating gc settings cannot leak.

    Returns the number of staged index batch dirs folded (0 = no-op)."""
    import shutil

    v = _latest_version(state_dir)
    if v < 0:
        return 0
    base_tag, upto = read_base_pointer(state_dir, _NO_BASE)
    batch_ids = _committed_batch_ids(state_dir, "index", upto, v)
    if not batch_ids:
        return 0
    new_tag = f"base_v{v}"
    for kind in _KINDS:
        in_dirs = []
        if base_tag != _NO_BASE:
            in_dirs.append(os.path.join(state_dir, f"{kind}_{base_tag}"))
        in_dirs += [
            _staged_path(state_dir, kind, bid)
            for bid in _committed_batch_ids(state_dir, kind, upto, v)
        ]
        merged = None
        n_in = 0
        for d in in_dirs:
            part = spark.read.parquet(d)
            merged = part if merged is None else merged.unionByName(part)
            n_in += sum(
                1 for f in os.listdir(d) if f.endswith(".parquet")
            )
        # Output file count adapts to the input (at least halving, capped
        # at target_files) so the fold ALWAYS reduces file count — a
        # fixed target wrote MORE files than it folded at small scale
        # (footer overhead included, measured by the receipt gate). A
        # production fold would target bytes-per-file instead of count.
        # Rows cluster by the table's row key: a document's 16 band rows
        # share one shingle array, which a round-robin deal would re-store
        # in every output file.
        n_out, key = max(1, min(target_files, n_in // 2)), _KINDS[kind]
        merged.repartition(n_out, key).sortWithinPartitions(key).write.mode(
            "overwrite"
        ).parquet(os.path.join(state_dir, f"{kind}_{new_tag}"))
    flip_base_pointer(state_dir, new_tag, v)  # the commit, both tables
    if gc:
        for kind in _KINDS:
            broot = os.path.join(state_dir, f"{kind}_batches")
            if os.path.isdir(broot):
                for d in os.listdir(broot):
                    if (
                        d.startswith("b")
                        and d[1:].isdigit()
                        and int(d[1:]) <= v
                    ):
                        shutil.rmtree(
                            os.path.join(broot, d), ignore_errors=True
                        )
            for d in os.listdir(state_dir):
                if (
                    d.startswith(f"{kind}_base_v")
                    and d != f"{kind}_{new_tag}"
                ):
                    shutil.rmtree(
                        os.path.join(state_dir, d), ignore_errors=True
                    )
    return len(batch_ids)
