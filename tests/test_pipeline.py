"""End-to-end extract_data pipeline (reference main.py:363-404 parity):
CSV in -> prepare -> sweep -> CSV out (+ two-phase merge in loop mode),
native and faithful-loop modes must produce identical insight sets."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from app_insights_generator_spark.config import InsightsConfig
from app_insights_generator_spark.pipeline import extract_data, main
from app_insights_generator_spark.sources import load_table
from app_insights_generator_spark.sources.writers import write_csv

CFG = InsightsConfig(
    agg_cols=("o_orderstatus", "o_orderpriority", "o_totalprice", "o_orderyear"),
    bucket_sizes={"o_totalprice": 100_000, "o_orderyear": 5},
    range_filters={"o_orderyear": (1971, 2023)},
    threshold_percent=2.0,
)


@pytest.fixture(scope="module")
def orders_csv(spark, sf_dir, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("pipe") / "orders_csv")
    base = (
        load_table(spark, sf_dir, "orders")
        .withColumn("o_orderyear", F.year("o_orderdate"))
        .select("o_orderstatus", "o_orderpriority", "o_totalprice", "o_orderyear")
    )
    write_csv(base, path, header=True, mode="overwrite")
    return path


def _insights(df) -> list[str]:
    return sorted(r.Insights for r in df.collect())


def test_native_and_loop_modes_agree(spark, orders_csv, tmp_path):
    native = extract_data(
        spark, orders_csv, str(tmp_path / "out_native"), CFG, mode="native"
    )
    loop = extract_data(
        spark, orders_csv, str(tmp_path / "out_loop"), CFG, mode="loop", batch_size=4
    )
    a, b = _insights(native), _insights(loop)
    assert len(a) > 0
    assert a == b
    # native mode returns the rows it wrote
    assert a == _insights(spark.read.option("header", True).csv(str(tmp_path / "out_native")))


def test_loop_mode_two_phase_merge_artifacts(spark, orders_csv, tmp_path):
    out = str(tmp_path / "merged")
    extract_data(spark, orders_csv, out, CFG, mode="loop", batch_size=4)
    # compaction source dir exists alongside the final output (main.py:391-393)
    assert os.path.isdir(f"{out}_partitioned")
    # batched append writes -> several part files; final merge re-reads them all
    merged = spark.read.option("header", True).csv(out)
    parts = spark.read.option("header", True).csv(f"{out}_partitioned")
    assert _insights(merged) == _insights(parts)


def test_single_file_flag(spark, orders_csv, tmp_path):
    out = str(tmp_path / "single")
    extract_data(spark, orders_csv, out, CFG, mode="native", single_file=True)
    csvs = [f for f in os.listdir(out) if f.startswith("part-") and f.endswith(".csv")]
    assert len(csvs) == 1  # coalesce(1) opt-in (reference main.py:358, 393)


def test_cli_rejects_empty_agg_cols(tmp_path):
    # --agg_cols "" parses to no sweep column; the config refuses it
    # before a session starts or anything is written.
    out = tmp_path / "out"
    args = ["--csv_file_path", str(tmp_path / "in.csv"), "--output_path", str(out)]
    with pytest.raises(ValueError, match="agg_cols"):
        main(args + ["--agg_cols", ""])
    assert not out.exists()
