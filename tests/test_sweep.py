"""Sweep equivalence: faithful loop mode == native grouping-sets mode
(SURVEY.md §7 M3), on real driver testdata (orders @ sf0.001), across
one-job / several-job exhaustive plans and the Apriori levels, and the
shape of the exhaustive sweep's pinned plan."""

from collections import Counter

import plan_nodes
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
    monkeypatch.setattr(sweep, "_sets_per_job", lambda n: 3)
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
    # mode); output must be identical either way. Small jobs make the
    # pinned plan a union of several set aggregations.
    from app_insights_generator_spark.operators.sweep import sweep_apriori

    monkeypatch.setattr(sweep, "_sets_per_job", lambda n: 3)
    default = _insights_multiset(sweep_grouping_sets(orders_prepared, ORDERS_CFG))
    with reliable_pins():
        reliable = _insights_multiset(sweep_grouping_sets(orders_prepared, ORDERS_CFG))
        apriori_reliable = _insights_multiset(sweep_apriori(orders_prepared, ORDERS_CFG))
    assert default == reliable
    assert default == apriori_reliable


def test_cube_drops_grand_total_when_threshold_floors_to_zero(spark, orders_prepared):
    # Under 50 rows the 2% threshold floors to T=0 (SURVEY.md §7 risk 3), so
    # a grand-total row would pass it: no set mask may be 0 (every column
    # grouped out), both when called directly and in sweep_apriori's
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


def _node_count(plan, name) -> int:
    """Nodes called ``name`` in a JVM logical plan."""
    children = plan.children()
    return int(plan.nodeName() == name) + sum(
        _node_count(children.apply(i), name) for i in range(children.size())
    )


def _query(name):
    return lambda spark, sf_dir: QUERIES[name](spark, sf_dir)


def _playstore_capped_sweep(spark, sf_dir):
    # 14 columns capped at pairs: 105 sets over a few thousand tuples.
    from test_playstore_fidelity import CFG, SCHEMA, _apps_rows

    sweep_grouping_sets(prepare(spark.createDataFrame(_apps_rows(), SCHEMA), CFG), CFG)


CODEGEN_CONFS = ("spark.sql.codegen.factoryMode", "spark.sql.codegen.wholeStage")


@pytest.mark.parametrize(
    "run, per_job, jobs",
    [
        (_query("insights_sweep_lineitem"), None, 1),  # 63 sets
        # 1,023 sets x 965 tuples, through sweep_apriori's bailout
        (_query("insights_sweep_lineitem_wide_lowcard"), None, 1),
        (_playstore_capped_sweep, None, 1),  # 105 sets
        (_query("insights_sweep_orders"), 3, 5),  # 15 sets, jobs of 3
    ],
    ids=["lineitem", "lowcard", "playstore_capped", "orders_chunk3"],
)
def test_exhaustive_plan_rule(spark, sf_dir, monkeypatch, run, per_job, jobs):
    # Every exhaustive sweep is a union of set-mask aggregations, one
    # explode (Generate) each and no Expand, sized by the volume rule
    # alone; it runs in whatever codegen mode the session has. The spy
    # reads the confs while the pin runs and the plan of the DataFrame it
    # pins.
    before = tuple(spark.conf.get(k) for k in CODEGEN_CONFS)
    if per_job is not None:
        monkeypatch.setattr(sweep, "_sets_per_job", lambda n: per_job)
    real_pin = checkpointing.pin
    seen = []

    def spy(df):
        analyzed = df._jdf.queryExecution().analyzed()
        confs = tuple(spark.conf.get(k) for k in CODEGEN_CONFS)
        seen.append((confs, _node_count(analyzed, "Expand"), _node_count(analyzed, "Generate")))
        return real_pin(df)

    monkeypatch.setattr(checkpointing, "pin", spy)
    run(spark, sf_dir)
    assert seen == [(before, 0, jobs)]


def _inputs(node) -> list[str]:
    """Names of the nearest nodes below ``node`` that aggregate, explode
    or scan."""
    out = []
    for child in plan_nodes.children(node):
        name = child.nodeName()
        if name in plan_nodes.AGGREGATES or name == "Generate" or "Scan" in name:
            out.append(name)
        else:
            out += _inputs(child)
    return out


def test_sweep_sorts_only_hashed_groups(spark, monkeypatch):
    # A sort-based aggregate sorts every row it reads on all its keys, and
    # a string min(display) forces one. In the executed plans of the
    # Play-Store tuple table and of the pinned capped sweep, no
    # SortAggregate reads the input or the exploded rows: each one reads
    # a HashAggregate's groups. The one explode reads the cached table.
    real_table, real_pin = sweep._tuple_table, checkpointing.pin
    plans = []

    def table_spy(*args):
        out = real_table(*args)
        plans.append(out[0]._jdf.queryExecution().executedPlan())
        return out

    def pin_spy(df):
        out = real_pin(df)
        plans.append(df._jdf.queryExecution().executedPlan())
        return out

    monkeypatch.setattr(sweep, "_tuple_table", table_spy)
    monkeypatch.setattr(checkpointing, "pin", pin_spy)
    _playstore_capped_sweep(spark, None)
    table, swept = plans
    for plan in plans:
        assert plan_nodes.aggregate_counts(plan)["SortAggregate"] > 0  # the display min
        for node in plan_nodes.walk(plan):
            if node.nodeName() == "SortAggregate":
                inputs = _inputs(node)
                assert inputs and set(inputs) <= {"HashAggregate", "SortAggregate"}, inputs
    explodes = [_inputs(n) for n in plan_nodes.walk(swept) if n.nodeName() == "Generate"]
    assert explodes == [["InMemoryTableScan"]]

def test_sweep_explodes_key_tuples(spark, sf_dir, monkeypatch):
    # On documents a source has several langs (its display column). The
    # tuple table still has one row per key tuple, so every set explodes
    # the key tuples, not the key and display tuples.
    from app_insights_generator_spark.operators.bucketing import bucketize
    from app_insights_generator_spark.queries.insights_queries import DOCS_CFG

    real_pin, pinned = checkpointing.pin, []
    monkeypatch.setattr(checkpointing, "pin", lambda df: pinned.append(df) or real_pin(df))
    QUERIES["insights_sweep_documents_iddisplay"](spark, sf_dir)
    docs = bucketize(load_table(spark, sf_dir, "documents"), DOCS_CFG.bucket_sizes)
    keys = docs.select("source", "n_chars").distinct().count()
    wide = docs.select("source", "n_chars", "lang").distinct().count()
    (plan,) = [df._jdf.queryExecution().executedPlan() for df in pinned]
    exploded = [
        n.longMetric("numOutputRows").value()
        for n in plan_nodes.walk(plan)
        if n.nodeName() == "Generate"
    ]
    assert wide > keys
    assert exploded == [3 * keys]  # sets {source}, {n_chars}, both


@pytest.mark.parametrize("threshold_percent", [2.0, 20.0])
def test_apriori_level_wise_matches_loop(spark, orders_prepared, monkeypatch, threshold_percent):
    # Every registered input takes the exhaustive bailout, so the level
    # loop runs only when forced: two sets per job, so each level is a
    # union of several persisted jobs.
    from app_insights_generator_spark.operators.sweep import sweep_apriori

    cfg = InsightsConfig(
        agg_cols=ORDERS_CFG.agg_cols,
        bucket_sizes=ORDERS_CFG.bucket_sizes,
        threshold_percent=threshold_percent,
    )
    monkeypatch.setattr(sweep, "_small", lambda tuples, sets: False)
    monkeypatch.setattr(sweep, "_sets_per_job", lambda n: 2)
    real_agg = sweep._sets_agg
    job_sets = []

    def spy(table, cols, cfg, sets, t):
        job_sets.append(list(sets))
        return real_agg(table, cols, cfg, sets, t)

    monkeypatch.setattr(sweep, "_sets_agg", spy)
    loop = _insights_multiset(sweep_loop_df(orders_prepared, cfg))
    apriori = _insights_multiset(sweep_apriori(orders_prepared, cfg))
    assert apriori == loop
    assert sum(loop.values()) > 0
    assert job_sets[:2] == [[1, 2], [4]]  # level 1: three sets in two jobs
    assert len(job_sets) > 2  # and a second level ran


def test_sql_text_literals_and_identifiers_round_trip(spark):
    # Quotes, backslashes, escapes-in-waiting and dots survive the SQL
    # spelling unchanged, and literals keep the type F.lit gives them.
    from app_insights_generator_spark.operators.cleaning import quote_ident, sql_literal

    texts = ["dev's site", "a\\b", "\\'", "line\nbreak", "\\u0041", "a`b", "x.y", "é"]
    row = spark.range(1).selectExpr(*[f"{sql_literal(t)} AS {quote_ident(t)}" for t in texts])
    row = row.first()
    assert list(row.asDict()) == texts
    assert list(row) == texts
    values = [3, -2147483648, 2147483648, 0.5, -1e-9, True]
    got = spark.range(1).selectExpr(*[f"{sql_literal(v)} AS c{i}" for i, v in enumerate(values)])
    ref = spark.range(1).select(*[F.lit(v).alias(f"c{i}") for i, v in enumerate(values)])
    assert got.schema == ref.schema
    assert got.first() == ref.first()
    # Non-finite floats have no literal form; they parse through a cast.
    inf = [float("inf"), float("-inf")]
    assert list(spark.range(1).selectExpr(*map(sql_literal, inf)).first()) == inf


def test_sweep_modes_over_quoted_column_names(spark):
    # Grouped, display and bucketed columns whose names need quoting in
    # SQL text: a space, a backtick, an apostrophe. The prepare steps see
    # them too (int cast, float range bounds, bucketing).
    cfg = InsightsConfig(
        agg_cols=("len screenshots", "a`b", "dev id"),
        bucket_sizes={"len screenshots": 5},
        id_to_value={"dev id": ("dev's site",)},
        range_filters={"len screenshots": (0.0, 50.0)},
        int_cast_cols=("len screenshots",),
        threshold_percent=0.0,
    )
    rows = (
        [("3", "x", "d1", "site one")] * 4
        + [("7", "x", "d2", None)] * 3
        + [("n/a", "y", "d1", "site one")] * 2  # cast failure: dropped
        + [("99", "y", "d2", None)]  # out of range: dropped
    )
    schema = "`len screenshots` string, `a``b` string, `dev id` string, `dev's site` string"
    df = prepare(spark.createDataFrame(rows, schema), cfg)
    native = _insights_multiset(sweep_grouping_sets(df, cfg))
    assert native == _insights_multiset(sweep_loop_df(df, cfg))
    assert native == Counter(
        [
            "len screenshots=[0-5];4",
            "len screenshots=[5-10];3",
            "a`b=x;7",
            "dev's site=site one;4",
            "3",
            "len screenshots=[0-5];a`b=x;4",
            "len screenshots=[5-10];a`b=x;3",
            "len screenshots=[0-5];dev's site=site one;4",
            "len screenshots=[5-10];3",
            "a`b=x;dev's site=site one;4",
            "a`b=x;3",
            "len screenshots=[0-5];a`b=x;dev's site=site one;4",
            "len screenshots=[5-10];a`b=x;3",
        ]
    )
