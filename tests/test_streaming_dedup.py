"""Streaming incremental near-dedup (streaming/dedup_stream.py): the
foreachBatch probe against the persisted band index must, across any
micro-batch partitioning, accumulate exactly the batch-mode pair set —
and checkpoint replay must be a no-op (the rollup versioned-state
discipline)."""

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from app_insights_generator_spark.operators import dedup as D
from app_insights_generator_spark.streaming.dedup_stream import (
    read_index,
    read_pairs,
    run_streaming_dedup,
)

# Texts long enough for 3-shingles; near-dup pairs are exact text
# duplicates (jaccard 1.0 — always surfaced by 16x4 banding), distinct
# texts share no shingles.
_T = {
    "a": "the quick brown fox jumps over the lazy dog today",
    "b": "completely different words describing an unrelated subject entirely",
    "c": "numbers one two three four five six seven eight nine",
}
_BATCH1 = [(1, _T["a"]), (2, _T["b"]), (3, _T["a"])]  # intra-batch pair (1,3)
_BATCH2 = [
    (11, _T["a"]),  # cross-batch pairs (1,11), (3,11)
    (12, _T["c"]),
    (13, _T["c"]),  # intra-batch pair (12,13)
]


def _write(src, name, rows):
    pq.write_table(
        pa.Table.from_pandas(pd.DataFrame(rows, columns=["doc_id", "text"])),
        str(src / name),
    )


def test_streaming_dedup_accumulates_batch_mode_pairs(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    state_dir = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    def run_once():
        sdf = spark.readStream.schema("doc_id long, text string").parquet(
            str(src)
        )
        run_streaming_dedup(sdf, state_dir, ckpt, threshold=0.7)

    _write(src, "b1.parquet", _BATCH1)
    run_once()
    got1 = {
        (r.id_a, r.id_b) for r in read_pairs(spark, state_dir).collect()
    }
    assert got1 == {(1, 3)}

    _write(src, "b2.parquet", _BATCH2)
    run_once()
    got2 = {
        (r.id_a, r.id_b) for r in read_pairs(spark, state_dir).collect()
    }

    # Batch-mode truth over the full corpus: every pair is discovered by
    # the stream when its later document arrives.
    full = spark.createDataFrame(_BATCH1 + _BATCH2, ["doc_id", "text"])
    want = {
        (r.id_a, r.id_b)
        for r in D.near_dedup_minhash(
            full, "doc_id", "text", threshold=0.7
        ).collect()
    }
    assert got2 == want and {(1, 11), (3, 11), (12, 13)} <= want

    # The persisted index now covers the whole corpus (16 bands/doc).
    assert read_index(spark, state_dir).select("_id").distinct().count() == 6

    # Replay/no-new-data: a third run must not change state or pairs.
    run_once()
    got3 = {
        (r.id_a, r.id_b) for r in read_pairs(spark, state_dir).collect()
    }
    assert got3 == got2


def test_streaming_dedup_staged_layout_is_o_batch(spark, tmp_path):
    """Round-12 layout: each committed batch stages ONLY its own rows
    (O(batch) writes — the old design rewrote the full accumulated index
    per micro-batch), and the committed view unions the stagings."""
    import os

    src = tmp_path / "src"
    src.mkdir()
    state_dir = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    def run_once():
        sdf = spark.readStream.schema("doc_id long, text string").parquet(
            str(src)
        )
        run_streaming_dedup(sdf, state_dir, ckpt, threshold=0.7)

    _write(src, "b1.parquet", _BATCH1)
    run_once()
    _write(src, "b2.parquet", _BATCH2)
    run_once()

    b0 = spark.read.parquet(f"{state_dir}/index_batches/b0")
    b1 = spark.read.parquet(f"{state_dir}/index_batches/b1")
    assert {r["_id"] for r in b0.select("_id").distinct().collect()} == {
        1, 2, 3,
    }
    assert {r["_id"] for r in b1.select("_id").distinct().collect()} == {
        11, 12, 13,
    }
    assert os.path.isdir(f"{state_dir}/pairs_batches/b0")
    assert os.path.isdir(f"{state_dir}/pairs_batches/b1")
    assert read_index(spark, state_dir).select("_id").distinct().count() == 6


def test_streaming_dedup_compaction_preserves_state_and_probe(
    spark, tmp_path
):
    """Compaction must preserve BOTH committed views exactly, survive a
    crash between the base writes and the pointer flip, keep probing
    correctly for later batches, and gc must reclaim every superseded
    dir — the ivf_stream compaction contract, two tables at once."""
    import os

    from app_insights_generator_spark.streaming._state import (
        read_base_pointer,
    )
    from app_insights_generator_spark.streaming.dedup_stream import (
        compact_streaming_dedup_state,
    )

    src = tmp_path / "src"
    src.mkdir()
    state_dir = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    def run_once():
        sdf = spark.readStream.schema("doc_id long, text string").parquet(
            str(src)
        )
        run_streaming_dedup(sdf, state_dir, ckpt, threshold=0.7)

    _write(src, "b1.parquet", _BATCH1)
    run_once()
    _write(src, "b2.parquet", _BATCH2)
    run_once()

    def snapshot():
        idx = {
            tuple(r)
            for r in read_index(spark, state_dir)
            .select("band", "bhash", "_id")
            .collect()
        }
        pairs = {
            (r.id_a, r.id_b)
            for r in read_pairs(spark, state_dir).collect()
        }
        return idx, pairs

    before = snapshot()
    assert before[1] == {(1, 3), (1, 11), (3, 11), (12, 13)}

    # Crash between base writes and pointer flip: readers unaffected.
    read_index(spark, state_dir).write.mode("overwrite").parquet(
        f"{state_dir}/index_base_v1"
    )
    assert snapshot() == before
    assert read_base_pointer(state_dir, "") == ("", -1)

    # The retried compaction commits; views identical; idempotent after.
    assert compact_streaming_dedup_state(spark, state_dir) == 2
    assert read_base_pointer(state_dir, "") == ("base_v1", 1)
    assert snapshot() == before
    assert compact_streaming_dedup_state(spark, state_dir) == 0

    # Ingest continues after compaction: a new exact-dup of doc 1 must
    # pair with docs discovered across the fold boundary.
    _write(src, "b3.parquet", [(21, _T["a"])])
    run_once()
    _, pairs3 = snapshot()
    assert {(1, 21), (3, 21), (11, 21)} <= pairs3

    # gc'd second compaction reclaims EVERYTHING superseded, including
    # the first compaction's bases and all staged dirs.
    assert compact_streaming_dedup_state(spark, state_dir, gc=True) == 1
    for leftover in (
        "index_base_v1",
        "pairs_base_v1",
        "index_batches/b0",
        "index_batches/b1",
        "index_batches/b2",
        "pairs_batches/b2",
    ):
        assert not os.path.isdir(f"{state_dir}/{leftover}"), leftover
    assert os.path.isdir(f"{state_dir}/index_base_v2")
    assert snapshot()[1] == pairs3
    assert read_index(spark, state_dir).select("_id").distinct().count() == 7


def test_compaction_clusters_band_rows_by_document(spark, sf_dir, tmp_path):
    """The fold must shrink storage whatever layout the index was staged
    in. Here each batch's index is built from input hash-partitioned by
    id into 8 files; a round-robin fold dealt every document's 16 band
    rows, which all carry the same shingle array, across every output
    file and grew the index about 3.5x."""
    import os

    from pyspark.sql import functions as F

    from app_insights_generator_spark.sources.readers import load_table
    from app_insights_generator_spark.streaming._state import flip_latest
    from app_insights_generator_spark.streaming.dedup_stream import (
        _staged_path,
        compact_streaming_dedup_state,
    )

    state_dir = str(tmp_path / "state")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    cut = docs.agg(F.expr("percentile_approx(doc_id, 0.5)")).first()[0]
    batches = (docs.filter(f"doc_id < {cut}"), docs.filter(f"doc_id >= {cut}"))
    for bid, batch in enumerate(batches):
        D.build_band_index(batch.repartition(8, "doc_id"), "doc_id", "text").write.parquet(
            _staged_path(state_dir, "index", bid)
        )
        spark.createDataFrame(
            [(bid, bid + 1, 1.0), (bid + 10, bid + 11, 1.0)],
            "id_a bigint, id_b bigint, jaccard double",
        ).write.parquet(_staged_path(state_dir, "pairs", bid))
        flip_latest(state_dir, bid)

    def du(kind):
        sizes = [
            os.path.getsize(os.path.join(root, f))
            for root, _dirs, files in os.walk(state_dir)
            if os.path.relpath(root, state_dir).startswith(kind)
            for f in files
            if f.endswith(".parquet")
        ]
        return len(sizes), sum(sizes)

    before = {kind: du(kind) for kind in ("index", "pairs")}
    rows_before = read_index(spark, state_dir).count()
    assert before["index"][0] > 8  # the staged layout under test
    assert compact_streaming_dedup_state(spark, state_dir, gc=True) == 2
    for kind, (files, size) in before.items():
        after = du(kind)
        assert after[0] < files and after[1] < size, (kind, (files, size), after)
    assert read_index(spark, state_dir).count() == rows_before
