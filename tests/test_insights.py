"""Hand-computed golden cases for the single-combination insight query
(reference get_insights_from_df, main.py:259-315): threshold floor,
[lo-(lo+size)] labels, name=value fields, bare trailing count, NULL display
value vanishing via concat_ws (FIXTURES.md §2 golden expectations)."""

import pytest

from app_insights_generator_spark.config import InsightsConfig
from app_insights_generator_spark.operators.insights import insight_query

CFG = InsightsConfig(
    agg_cols=("genreId", "price"),
    bucket_sizes={"price": 100},
    id_to_value={"genreId": ("genre",)},
    threshold_percent=20.0,
)


def _micro_df(spark):
    # 10 rows: genre g1 x6 (price 0..50), g2 x3 (price 150), g3 x1
    rows = (
        [("g1", "Action", 10 * i) for i in range(6)]
        + [("g2", "Puzzle", 150)] * 3
        + [("g3", None, 520)]
    )
    return spark.createDataFrame(rows, ["genreId", "genre", "price"])


def test_single_combo_format_and_threshold(spark):
    from app_insights_generator_spark.operators.bucketing import bucketize

    df = bucketize(_micro_df(spark), CFG.bucket_sizes)
    # threshold = int(0.20 * 10) = 2 -> g3 (count 1) is dropped
    out = insight_query(df, ("genreId", "price"), CFG, total_count=10)
    got = sorted(r.Insights for r in out.collect())
    # reference field order: non-ID group cols first (IDs dropped in place),
    # then display cols, then bare count (main.py:292-312)
    assert got == [
        "price=[0-100];genre=Action;6",
        "price=[100-200];genre=Puzzle;3",
    ]


def test_null_display_value_vanishes(spark):
    from app_insights_generator_spark.operators.bucketing import bucketize

    df = bucketize(_micro_df(spark), CFG.bucket_sizes)
    cfg = InsightsConfig(
        agg_cols=CFG.agg_cols,
        bucket_sizes=CFG.bucket_sizes,
        id_to_value=CFG.id_to_value,
        threshold_percent=0.0,  # keep every group
    )
    out = insight_query(df, ("genreId",), cfg, total_count=10)
    got = sorted(r.Insights for r in out.collect())
    # g3's genre is NULL -> the genre= field silently disappears
    assert got == ["1", "genre=Action;6", "genre=Puzzle;3"]


def test_non_id_combo_only(spark):
    from app_insights_generator_spark.operators.bucketing import bucketize

    df = bucketize(_micro_df(spark), CFG.bucket_sizes)
    out = insight_query(df, ("price",), CFG, total_count=10)
    got = sorted(r.Insights for r in out.collect())
    # price buckets: [0-100] x6, [100-200] x3, [500-600] x1 (below T=2)
    assert got == ["price=[0-100];6", "price=[100-200];3"]


def test_threshold_floor_semantics():
    from app_insights_generator_spark.operators.insights import threshold_count

    cfg = InsightsConfig(agg_cols=("a",), threshold_percent=2.0)
    assert threshold_count(cfg, 49) == 0  # int() floors -> no-op threshold
    assert threshold_count(cfg, 50) == 1
    assert threshold_count(cfg, 10_000) == 200


def test_empty_agg_cols_rejected():
    # No sweep column means no grouping set: both sweep modes would fail
    # deep inside Spark instead.
    with pytest.raises(ValueError, match="agg_cols"):
        InsightsConfig(agg_cols=())
