"""End-to-end insights pipeline (reference extract_data, main.py:363-404).

Flow parity: read CSV -> cast -> range-filter -> bucket -> repartition ->
combination sweep -> write -> optional two-phase compaction merge
(main.py:391-393). Differences from the reference, on purpose:

- returns the FINAL insights DataFrame, not the raw input (the reference
  returns the pre-transform frame, main.py:404 — a vestigial surface);
- ``mode="native"`` runs the sweep as grouping-sets aggregations over a
  pre-aggregated tuple table and a single parallel write — no input cache,
  no append batches, no compaction, no ``coalesce(1)`` unless
  ``single_file`` is requested (the reference's per-batch coalesce(1),
  main.py:358, is a single-task bottleneck at scale) — and returns the
  sweep's pinned result, the rows it wrote, without reading the CSV back;
- ``mode="loop"`` keeps the faithful shape: the input cached and counted
  once, ≤128-combination batches appended to ``<out>_partitioned`` with
  per-file headers, then re-read and merged into the final CSV exactly
  like the reference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from app_insights_generator_spark.config import InsightsConfig
from app_insights_generator_spark.operators.insights import prepare
from app_insights_generator_spark.operators.sweep import (
    sweep_grouping_sets,
    sweep_loop,
)
from app_insights_generator_spark.sources.readers import read_csv
from app_insights_generator_spark.sources.writers import write_csv


def extract_data(
    spark: SparkSession,
    csv_path: str,
    output_path: str,
    cfg: InsightsConfig,
    *,
    header: bool = True,
    infer_schema: bool = True,
    schema=None,
    mode: str = "native",
    num_partitions: int | None = None,
    batch_size: int = 128,
    single_file: bool = False,
) -> DataFrame:
    """Run the full reference pipeline over a CSV; returns the insights
    DataFrame after writing ``output_path``.

    In native mode that DataFrame is the sweep's pinned result, and it
    lasts only as long as ``checkpointing.pin``'s storage: without
    ``spark.checkpoint.dir`` a local checkpoint, whose blocks are lost
    with their executor. A caller that keeps it across executor loss
    (dynamic allocation, spot executors) should set
    ``spark.checkpoint.dir`` or re-read ``output_path``."""
    if mode not in ("native", "loop"):
        raise ValueError(f"unknown mode {mode!r} (want 'native' or 'loop')")
    raw = read_csv(spark, csv_path, header=header, infer_schema=infer_schema, schema=schema)
    bucketed = prepare(raw, cfg)
    if num_partitions:
        # reference main.py:388; at scale prefer AQE coalescing instead
        bucketed = bucketed.repartition(num_partitions)
    if mode == "native":
        # The sweep's tuple table is its only pass over the input and
        # supplies the threshold denominator, so nothing is cached here.
        insights = sweep_grouping_sets(bucketed, cfg)
        write_csv(insights, output_path, header=True, mode="overwrite",
                  single_file=single_file)
        return insights
    bucketed = bucketed.cache()
    try:
        total = bucketed.count()  # one shared threshold denominator (main.py:344)
        part_dir = f"{output_path}_partitioned"
        batches = sweep_loop(bucketed, cfg, total_count=total, batch_size=batch_size)
        for batch in batches:
            # append + per-file header, reconciled on re-read (main.py:358, 392)
            write_csv(batch, part_dir, header=True, mode="append",
                      single_file=single_file)
        merged = spark.read.option("header", True).csv(part_dir)
        write_csv(merged, output_path, header=True, mode="overwrite",
                  single_file=single_file)
        return spark.read.option("header", True).csv(output_path)
    finally:
        bucketed.unpersist()


def main(argv: list[str] | None = None) -> None:
    """CLI entry point (reference __main__, main.py:407-421): run the
    pipeline on a CSV with a workload described on the command line."""
    import argparse
    import json

    from app_insights_generator_spark.session import get_spark

    p = argparse.ArgumentParser(description="insights pipeline over a CSV")
    p.add_argument("--csv_file_path", required=True)
    p.add_argument("--output_path", required=True)
    p.add_argument("--agg_cols", required=True, help="comma-separated sweep columns")
    p.add_argument("--bucket_sizes", default="{}", help='JSON, e.g. {"price": 100}')
    p.add_argument("--range_filters", default="{}", help='JSON, e.g. {"year": [1971, 2023]}')
    p.add_argument("--int_cast_cols", default="", help="comma-separated")
    p.add_argument("--threshold_percent", type=float, default=2.0)
    p.add_argument("--mode", choices=("native", "loop"), default="native")
    p.add_argument("--single_file", action="store_true")
    args = p.parse_args(argv)

    cfg = InsightsConfig(
        agg_cols=tuple(c for c in args.agg_cols.split(",") if c),
        bucket_sizes=json.loads(args.bucket_sizes),
        range_filters={
            k: (float(lo), float(hi))
            for k, (lo, hi) in json.loads(args.range_filters).items()
        },
        int_cast_cols=tuple(c for c in args.int_cast_cols.split(",") if c),
        threshold_percent=args.threshold_percent,
    )
    spark = get_spark(app_name="insights-pipeline")
    out = extract_data(
        spark,
        args.csv_file_path,
        args.output_path,
        cfg,
        mode=args.mode,
        single_file=args.single_file,
    )
    print(f"insights rows: {out.count()}")


if __name__ == "__main__":
    main()
