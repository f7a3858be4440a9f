"""Sweep equivalence: faithful loop mode == native grouping-sets mode
(SURVEY.md §7 M3), on real driver testdata (orders @ sf0.001), across
the cube / chunked-grouping-sets / Apriori plans, and the exhaustive
sweep's plan-choice rule."""

from collections import Counter

import pytest

from pyspark.sql import functions as F

from app_insights_generator_spark.config import InsightsConfig
from app_insights_generator_spark.operators import checkpointing, sweep
from app_insights_generator_spark.operators.insights import prepare, threshold_count
from app_insights_generator_spark.operators.sweep import (
    all_combinations,
    sweep_grouping_sets,
    sweep_loop_df,
)
from app_insights_generator_spark.queries import QUERIES
from app_insights_generator_spark.sources import load_table

ORDERS_CFG = InsightsConfig(
    agg_cols=("o_orderstatus", "o_orderpriority", "o_totalprice"),
    bucket_sizes={"o_totalprice": 100_000},
    threshold_percent=2.0,
)


def _insights_multiset(df):
    return Counter(r.Insights for r in df.collect())


@pytest.fixture(scope="module")
def orders_prepared(spark, sf_dir):
    df = prepare(load_table(spark, sf_dir, "orders"), ORDERS_CFG).cache()
    df.count()
    yield df
    df.unpersist()


def test_combination_enumeration():
    combos = list(all_combinations(ORDERS_CFG))
    assert len(combos) == 2**3 - 1
    assert combos[0] == ("o_orderstatus",)
    assert combos[-1] == ("o_orderstatus", "o_orderpriority", "o_totalprice")


def test_loop_vs_cube(spark, orders_prepared):
    loop = _insights_multiset(sweep_loop_df(orders_prepared, ORDERS_CFG))
    cube = _insights_multiset(sweep_grouping_sets(orders_prepared, ORDERS_CFG))
    assert loop == cube
    assert sum(loop.values()) > 0


def test_batched_grouping_sets_matches_cube(spark, orders_prepared, monkeypatch):
    cube = _insights_multiset(sweep_grouping_sets(orders_prepared, ORDERS_CFG))
    monkeypatch.setattr(sweep, "_adaptive_chunk_size", lambda n: 3)
    batched = _insights_multiset(sweep_grouping_sets(orders_prepared, ORDERS_CFG))
    assert cube == batched


def test_max_combo_size(spark, orders_prepared):
    cfg = InsightsConfig(
        agg_cols=ORDERS_CFG.agg_cols,
        bucket_sizes=ORDERS_CFG.bucket_sizes,
        threshold_percent=2.0,
        max_combo_size=1,
    )
    loop = _insights_multiset(sweep_loop_df(orders_prepared, cfg))
    native = _insights_multiset(sweep_grouping_sets(orders_prepared, cfg))
    assert loop == native
    # only 3 single-column sets -> every string has exactly one field + count
    assert all(s.count(";") == 1 for s in loop)


def test_id_columns_in_sweep(spark, sf_dir):
    # ID->display resolution inside the sweep: o_orderstatus as a fake ID
    # column whose "display" is itself duplicated via a projection.
    df = load_table(spark, sf_dir, "orders").withColumn(
        "status_name", F.concat(F.lit("S_"), F.col("o_orderstatus"))
    )
    cfg = InsightsConfig(
        agg_cols=("o_orderstatus", "o_orderpriority"),
        id_to_value={"o_orderstatus": ("status_name",)},
        threshold_percent=2.0,
    )
    loop = _insights_multiset(sweep_loop_df(df, cfg))
    native = _insights_multiset(sweep_grouping_sets(df, cfg))
    assert loop == native
    assert any(s.startswith("status_name=S_") for s in loop)


def test_apriori_matches_cube(spark, orders_prepared):
    from app_insights_generator_spark.operators.sweep import sweep_apriori

    native = _insights_multiset(sweep_grouping_sets(orders_prepared, ORDERS_CFG))
    apriori = _insights_multiset(sweep_apriori(orders_prepared, ORDERS_CFG))
    assert native == apriori


def test_apriori_prunes_with_biting_threshold(spark, orders_prepared):
    # A threshold high enough that multi-column sets die early: output still
    # matches the exhaustive mode exactly (anti-monotone support property).
    from app_insights_generator_spark.operators.sweep import sweep_apriori

    cfg = InsightsConfig(
        agg_cols=ORDERS_CFG.agg_cols,
        bucket_sizes=ORDERS_CFG.bucket_sizes,
        threshold_percent=30.0,
    )
    native = _insights_multiset(sweep_grouping_sets(orders_prepared, cfg))
    apriori = _insights_multiset(sweep_apriori(orders_prepared, cfg))
    assert native == apriori


def test_reliable_checkpoint_dir_matches_default(
    spark, orders_prepared, reliable_pins, monkeypatch
):
    # With spark.checkpoint.dir set, the result pin is a reliable-storage
    # checkpoint instead of an executor-local one (the cluster deployment
    # mode); output must be identical either way. Small chunks make the
    # pinned plan a union of several grouping-sets jobs.
    from app_insights_generator_spark.operators.sweep import sweep_apriori

    monkeypatch.setattr(sweep, "_adaptive_chunk_size", lambda n: 3)
    default = _insights_multiset(sweep_grouping_sets(orders_prepared, ORDERS_CFG))
    with reliable_pins():
        reliable = _insights_multiset(sweep_grouping_sets(orders_prepared, ORDERS_CFG))
        apriori_reliable = _insights_multiset(sweep_apriori(orders_prepared, ORDERS_CFG))
    assert default == reliable
    assert default == apriori_reliable


def test_cube_drops_grand_total_when_threshold_floors_to_zero(spark, orders_prepared):
    # Under 50 rows the 2% threshold floors to T=0 (SURVEY.md §7 risk 3), so
    # the grand-total row would pass it: the cube branch must drop it by
    # grouping_id, both when called directly and in sweep_apriori's
    # exhaustive bailout.
    from app_insights_generator_spark.operators.sweep import sweep_apriori

    small = orders_prepared.filter(F.col("o_orderkey") <= 40)
    n = small.count()
    assert n > 0 and threshold_count(ORDERS_CFG, n) == 0
    loop = _insights_multiset(sweep_loop_df(small, ORDERS_CFG))
    for mode in (sweep_grouping_sets, sweep_apriori):
        native = _insights_multiset(mode(small, ORDERS_CFG))
        assert native == loop
        assert all("=" in line for line in native)


def _expand_count(plan) -> int:
    """Expand nodes in a JVM logical plan."""
    children = plan.children()
    return int(plan.nodeName() == "Expand") + sum(
        _expand_count(children.apply(i)) for i in range(children.size())
    )


def _query(name):
    return lambda spark, sf_dir: QUERIES[name](spark, sf_dir)


def _playstore_capped_sweep(spark, sf_dir):
    # 14 columns capped at pairs: 105 sets over a few thousand tuples.
    from test_playstore_fidelity import CFG, SCHEMA, _apps_rows

    sweep_grouping_sets(prepare(spark.createDataFrame(_apps_rows(), SCHEMA), CFG), CFG)


CODEGEN_CONFS = ("spark.sql.codegen.factoryMode", "spark.sql.codegen.wholeStage")


@pytest.mark.parametrize(
    "run, chunk, interpreted, expands, cube",
    [
        (_query("insights_sweep_lineitem"), None, False, 1, True),  # 63 sets
        # 1,023 sets x 965 tuples, through sweep_apriori's bailout
        (_query("insights_sweep_lineitem_wide_lowcard"), None, True, 1, True),
        (_playstore_capped_sweep, None, True, 1, False),  # 105 sets
        (_query("insights_sweep_orders"), 3, False, 5, False),  # 15 sets, chunks of 3
    ],
    ids=["lineitem", "lowcard", "playstore_capped", "orders_chunk3"],
)
def test_exhaustive_plan_rule(
    spark, sf_dir, monkeypatch, run, chunk, interpreted, expands, cube
):
    # The exhaustive sweep picks its plan from the set and tuple counts
    # alone: >64 sets over a small volume run as one interpreted job,
    # anything else compiled in chunks, and a one-job sweep over every set
    # is a cube with the grand total dropped by _gid. The spy reads the
    # confs while the pin runs and the plan of the DataFrame it pins.
    before = tuple(spark.conf.get(k) for k in CODEGEN_CONFS)
    if chunk is not None:
        monkeypatch.setattr(sweep, "_adaptive_chunk_size", lambda n: chunk)
    real_pin = checkpointing.pin
    seen = []

    def spy(df):
        analyzed = df._jdf.queryExecution().analyzed()
        confs = tuple(spark.conf.get(k) for k in CODEGEN_CONFS)
        seen.append((confs, _expand_count(analyzed), "_gid" in analyzed.toString()))
        return real_pin(df)

    monkeypatch.setattr(checkpointing, "pin", spy)
    run(spark, sf_dir)
    during = ("NO_CODEGEN", "false") if interpreted else before
    assert seen == [(during, expands, cube)]
    assert tuple(spark.conf.get(k) for k in CODEGEN_CONFS) == before
