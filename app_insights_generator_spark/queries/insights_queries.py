"""Insights-pipeline queries over the driver's `orders` table.

The reference workload (Play-Store CSV, main.py:363-404) re-expressed on
TPC-H-ish `orders`: derive o_orderyear, bucket o_totalprice/o_orderyear,
sweep every non-empty column combination with the 2% support threshold,
render `col=value;col=[lo-hi];...;<count>` strings. Oracle SQL mirrors each
step exactly (FLOOR buckets, int-floored threshold, concat field order).
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from app_insights_generator_spark.config import InsightsConfig
from app_insights_generator_spark.operators.bucketing import bucketize
from app_insights_generator_spark.operators.insights import insight_query
from app_insights_generator_spark.operators.sweep import (
    sweep_apriori,
    sweep_grouping_sets,
    sweep_loop_df,
)
from app_insights_generator_spark.queries import register
from app_insights_generator_spark.sources import load_table

ORDERS_CFG = InsightsConfig(
    agg_cols=("o_orderstatus", "o_orderpriority", "o_totalprice", "o_orderyear"),
    bucket_sizes={"o_totalprice": 100_000, "o_orderyear": 5},
    threshold_percent=2.0,
)


def _orders_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load_table(spark, sf_dir, "orders").withColumn(
        "o_orderyear", F.year("o_orderdate")
    )
    return bucketize(df, ORDERS_CFG.bucket_sizes)


_SQL_BASE = """
WITH base AS (
  SELECT o_orderstatus,
         o_orderpriority,
         CAST(FLOOR(o_totalprice / 100000) * 100000 AS BIGINT) AS o_totalprice,
         CAST(FLOOR(CAST(year(o_orderdate) AS DOUBLE) / 5) * 5 AS BIGINT) AS o_orderyear
  FROM orders
),
tot AS (SELECT CAST(FLOOR(0.02 * COUNT(*)) AS BIGINT) AS t FROM base)
"""

_BUCKET_HI = {"o_totalprice": 100_000, "o_orderyear": 5}


def _combo_select(combo: tuple[str, ...]) -> str:
    keys = ", ".join(combo)
    notnull = " AND ".join(f"{c} IS NOT NULL" for c in combo)
    fields = []
    for c in combo:
        if c in _BUCKET_HI:
            hi = _BUCKET_HI[c]
            fields.append(f"concat('{c}=[', {c}, '-', {c} + {hi}, ']')")
        else:
            fields.append(f"concat('{c}=', {c})")
    fields.append("CAST(cnt AS VARCHAR)")
    field_list = ", ';', ".join(fields)
    return (
        f"SELECT concat({field_list}) AS Insights "
        f"FROM (SELECT {keys}, COUNT(*) AS cnt FROM base "
        f"WHERE {notnull} GROUP BY {keys}) g "
        f"WHERE cnt >= (SELECT t FROM tot)"
    )


def _sweep_oracle() -> str:
    selects = []
    for size in range(1, len(ORDERS_CFG.agg_cols) + 1):
        for combo in itertools.combinations(ORDERS_CFG.agg_cols, size):
            selects.append(_combo_select(combo))
    return _SQL_BASE + "\nUNION ALL\n".join(selects)


_SWEEP_ORACLE = _sweep_oracle()


@register("insights_sweep_orders", _SWEEP_ORACLE)
def insights_sweep_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native grouping-sets sweep (SURVEY.md §2 O13 re-expressed as cube +
    grouping_id; §4.3) — 15 grouping sets, ONE aggregation job."""
    return sweep_grouping_sets(_orders_base(spark, sf_dir), ORDERS_CFG)


@register("insights_sweep_orders_loop", _SWEEP_ORACLE)
def insights_sweep_orders_loop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Faithful combination-loop sweep (reference main.py:328-361 semantics:
    per-combination groupBy batched under unions)."""
    return sweep_loop_df(_orders_base(spark, sf_dir), ORDERS_CFG)


_SINGLE_ORACLE = _SQL_BASE + _combo_select(("o_orderpriority", "o_totalprice"))


@register("insights_single_combo_orders", _SINGLE_ORACLE)
def insights_single_combo_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-combination insight query (reference get_insights_from_df,
    main.py:259-315)."""
    df = _orders_base(spark, sf_dir)
    return insight_query(df, ("o_orderpriority", "o_totalprice"), ORDERS_CFG)


LINEITEM_CFG = InsightsConfig(
    agg_cols=(
        "l_returnflag",
        "l_linestatus",
        "l_linenumber",
        "l_quantity",
        "l_extendedprice",
        "l_shipyear",
    ),
    bucket_sizes={"l_quantity": 10, "l_extendedprice": 20_000, "l_shipyear": 5},
    threshold_percent=2.0,
)


def _lineitem_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load_table(spark, sf_dir, "lineitem").withColumn(
        "l_shipyear", F.year("l_shipdate")
    )
    return bucketize(df, LINEITEM_CFG.bucket_sizes)


_LI_SQL_BASE = """
WITH base AS (
  SELECT l_returnflag, l_linestatus, l_linenumber,
         CAST(FLOOR(l_quantity / 10) * 10 AS BIGINT) AS l_quantity,
         CAST(FLOOR(l_extendedprice / 20000) * 20000 AS BIGINT) AS l_extendedprice,
         CAST(FLOOR(CAST(year(l_shipdate) AS DOUBLE) / 5) * 5 AS BIGINT) AS l_shipyear
  FROM lineitem
),
tot AS (SELECT CAST(FLOOR(0.02 * COUNT(*)) AS BIGINT) AS t FROM base)
"""

_LI_BUCKET_HI = {"l_quantity": 10, "l_extendedprice": 20_000, "l_shipyear": 5}


def _li_combo_select(combo: tuple[str, ...]) -> str:
    keys = ", ".join(combo)
    notnull = " AND ".join(f"{c} IS NOT NULL" for c in combo)
    fields = []
    for c in combo:
        if c in _LI_BUCKET_HI:
            hi = _LI_BUCKET_HI[c]
            fields.append(f"concat('{c}=[', {c}, '-', {c} + {hi}, ']')")
        else:
            fields.append(f"concat('{c}=', {c})")
    fields.append("CAST(cnt AS VARCHAR)")
    field_list = ", ';', ".join(fields)
    return (
        f"SELECT concat({field_list}) AS Insights "
        f"FROM (SELECT {keys}, COUNT(*) AS cnt FROM base "
        f"WHERE {notnull} GROUP BY {keys}) g "
        f"WHERE cnt >= (SELECT t FROM tot)"
    )


def _li_sweep_oracle() -> str:
    selects = [
        _li_combo_select(combo)
        for size in range(1, len(LINEITEM_CFG.agg_cols) + 1)
        for combo in itertools.combinations(LINEITEM_CFG.agg_cols, size)
    ]
    return _LI_SQL_BASE + "\nUNION ALL\n".join(selects)


_LI_SWEEP_ORACLE = _li_sweep_oracle()


@register("insights_sweep_lineitem", _LI_SWEEP_ORACLE)
def insights_sweep_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Headline sweep: 63 grouping sets over 6 lineitem columns as ONE
    set-mask aggregation over the pre-aggregated tuple table (SURVEY.md
    §4.3, operators/sweep.py) — the scale path for the reference's
    16,383-query loop."""
    return sweep_grouping_sets(_lineitem_base(spark, sf_dir), LINEITEM_CFG)


@register("insights_sweep_lineitem_loop", _LI_SWEEP_ORACLE)
def insights_sweep_lineitem_loop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same 63-set sweep in faithful reference mode (63 separate
    aggregations unioned) — the BASELINE.md comparison workload."""
    return sweep_loop_df(_lineitem_base(spark, sf_dir), LINEITEM_CFG)


# --- Wide sweep: 10 columns -> 1,023 grouping sets -------------------------
#
# The reference sweeps 14 columns = 16,383 sets (main.py:88-103, 345-348);
# this is the same workload shape at width 10 on lineitem, with derived
# bucket columns so every key is integer-rendered (no float formatting
# divergence between Spark and DuckDB). Two engine modes are registered
# against ONE oracle — a single DuckDB `GROUP BY CUBE` statement whose
# GROUPING() flags reproduce the per-set null-rejection, grand-total
# exclusion, and conditional field formatting.

_WIDE_BUCKETS = {
    "l_quantity": 10,
    "l_extendedprice": 20_000,
    "l_shipyear": 5,
    "l_discpct": 5,
    "l_taxpct": 4,
    "l_partgrp": 2_000,
    "l_suppgrp": 200,
}

_WIDE_COLS = (
    "l_returnflag",
    "l_linestatus",
    "l_linenumber",
    "l_quantity",
    "l_extendedprice",
    "l_shipyear",
    "l_discpct",
    "l_taxpct",
    "l_partgrp",
    "l_suppgrp",
)

WIDE_CFG = InsightsConfig(
    agg_cols=_WIDE_COLS,
    bucket_sizes=_WIDE_BUCKETS,
    threshold_percent=2.0,
)

# Low-cardinality twin of the wide sweep (VERDICT r03 item 8): the SAME 10
# columns with coarse buckets, so the distinct-tuple pre-aggregation
# collapses ~600k rows to a few hundred tuples and the count distribution
# over tuples is heavily skewed. The high-card workload above stresses
# fan-out volume; this one stresses pruning-threshold math and guards the
# sweep's per-job volume rule against distribution shift.
_WIDE_LOWCARD_BUCKETS = {
    "l_quantity": 25,
    "l_extendedprice": 50_000,
    "l_shipyear": 10,
    "l_discpct": 10,
    "l_taxpct": 8,
    "l_partgrp": 100_000,
    "l_suppgrp": 10_000,
}

WIDE_LOWCARD_CFG = InsightsConfig(
    agg_cols=_WIDE_COLS,
    bucket_sizes=_WIDE_LOWCARD_BUCKETS,
    threshold_percent=2.0,
)


def _lineitem_wide_base(
    spark: SparkSession, sf_dir: str, cfg: InsightsConfig = WIDE_CFG
) -> DataFrame:
    df = (
        load_table(spark, sf_dir, "lineitem")
        .withColumn("l_shipyear", F.year("l_shipdate"))
        .withColumn("l_discpct", F.round(F.col("l_discount") * 100).cast("int"))
        .withColumn("l_taxpct", F.round(F.col("l_tax") * 100).cast("int"))
        .withColumn("l_partgrp", F.col("l_partkey"))
        .withColumn("l_suppgrp", F.col("l_suppkey"))
    )
    return bucketize(df, cfg.bucket_sizes)


def _wide_oracle(buckets: dict[str, int] = _WIDE_BUCKETS) -> str:
    cols = list(_WIDE_COLS)
    b = buckets
    base_exprs = [
        "l_returnflag",
        "l_linestatus",
        "l_linenumber",
        f"CAST(FLOOR(l_quantity / {b['l_quantity']}) * {b['l_quantity']} AS BIGINT) AS l_quantity",
        f"CAST(FLOOR(l_extendedprice / {b['l_extendedprice']}) * {b['l_extendedprice']} AS BIGINT) AS l_extendedprice",
        f"CAST(FLOOR(CAST(year(l_shipdate) AS DOUBLE) / {b['l_shipyear']}) * {b['l_shipyear']} AS BIGINT) AS l_shipyear",
        f"CAST(FLOOR(CAST(ROUND(l_discount * 100) AS INTEGER) / {b['l_discpct']}) * {b['l_discpct']} AS BIGINT) AS l_discpct",
        f"CAST(FLOOR(CAST(ROUND(l_tax * 100) AS INTEGER) / {b['l_taxpct']}) * {b['l_taxpct']} AS BIGINT) AS l_taxpct",
        f"CAST(FLOOR(l_partkey / {b['l_partgrp']}) * {b['l_partgrp']} AS BIGINT) AS l_partgrp",
        f"CAST(FLOOR(l_suppkey / {b['l_suppgrp']}) * {b['l_suppgrp']} AS BIGINT) AS l_suppgrp",
    ]
    gflags = ", ".join(f"GROUPING({c}) AS g{i}" for i, c in enumerate(cols))
    fields = []
    for i, c in enumerate(cols):
        if c in b:
            hi = b[c]
            val = f"concat('{c}=[', {c}, '-', {c} + {hi}, ']')"
        else:
            val = f"concat('{c}=', {c})"
        fields.append(f"CASE WHEN g{i} = 0 THEN {val} END")
    fields.append("CAST(cnt AS VARCHAR)")
    field_list = ",\n         ".join(fields)
    gsum = " + ".join(f"g{i}" for i in range(len(cols)))
    nullrej = " AND ".join(
        f"(g{i} = 1 OR {c} IS NOT NULL)" for i, c in enumerate(cols)
    )
    return f"""
WITH base AS (
  SELECT {", ".join(base_exprs)}
  FROM lineitem
),
tot AS (SELECT CAST(FLOOR(0.02 * COUNT(*)) AS BIGINT) AS t FROM base),
g AS (
  SELECT {", ".join(cols)}, COUNT(*) AS cnt, {gflags}
  FROM base
  GROUP BY CUBE ({", ".join(cols)})
)
SELECT concat_ws(';',
         {field_list}) AS Insights
FROM g, tot
WHERE cnt >= t AND ({gsum}) < {len(cols)} AND {nullrej}
"""


_WIDE_ORACLE = _wide_oracle()


@register("insights_sweep_lineitem_wide", _WIDE_ORACLE)
def insights_sweep_lineitem_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide sweep (10 cols, 1,023 sets) in Apriori level-wise mode
    (operators/sweep.py sweep_apriori): the 100 TB path — the 2% support
    threshold prunes supersets of empty sets, so only a few levels run
    instead of all 1,023 sets. At sf0.01 the whole lattice is one job's
    volume, so it takes the exhaustive bailout."""
    return sweep_apriori(_lineitem_wide_base(spark, sf_dir), WIDE_CFG)


@register("insights_sweep_lineitem_wide_lowcard", _wide_oracle(_WIDE_LOWCARD_BUCKETS))
def insights_sweep_lineitem_wide_lowcard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The low-cardinality/skewed twin of the wide sweep: same 10 columns
    and 1,023 sets, but coarse buckets collapse the distinct-tuple table to
    a few hundred rows — the distribution where the pre-aggregation pays
    hardest and far more sets survive the 2% threshold (denser lattice
    levels). Benchmarked alongside the high-cardinality twin so the
    sweep's per-job volume rule is exercised under BOTH tuple
    distributions."""
    return sweep_apriori(
        _lineitem_wide_base(spark, sf_dir, WIDE_LOWCARD_CFG), WIDE_LOWCARD_CFG
    )


@register("insights_sweep_lineitem_wide_cube", _WIDE_ORACLE)
def insights_sweep_lineitem_wide_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same 1,023-set sweep in EXHAUSTIVE mode (no Apriori pruning) — the
    comparison point for the pruned sweep. The jobs follow the sweep's one
    volume rule (operators/sweep.py): at sf0.01 (14.7k tuples) all 1,023
    sets fit in one job; at sf0.1 (363k tuples) they run as 19 jobs of at
    most 55 sets and measure 54-61 s warm against the Apriori path's 9-10 s
    on a 4-core box — a ~6x gap from threshold pruning alone (1,023 -> 219
    evaluated sets plus the avoided shuffle volume of the doomed sets'
    groups), which is the whole scale argument for level-wise pruning at
    the reference's 16,383-set workload."""
    return sweep_grouping_sets(_lineitem_wide_base(spark, sf_dir), WIDE_CFG)


@register(
    "bucketize_part",
    """
    SELECT p_partkey,
           CAST(FLOOR(p_retailprice / 100) * 100 AS BIGINT) AS p_retailprice,
           CAST(FLOOR(CAST(p_size AS DOUBLE) / 10) * 10 AS BIGINT) AS p_size
    FROM part
    """,
)
def bucketize_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketing operator alone (reference do_bucketing, main.py:163-203)."""
    return bucketize(
        load_table(spark, sf_dir, "part").select("p_partkey", "p_retailprice", "p_size"),
        {"p_retailprice": 100, "p_size": 10},
    )


@register(
    "cast_range_filter_orders",
    """
    SELECT o_orderkey,
           CAST(TRUNC(o_totalprice) AS INTEGER) AS o_totalprice_int,
           o_orderpriority
    FROM orders
    WHERE CAST(TRUNC(o_totalprice) AS INTEGER) BETWEEN 50000 AND 200000
    """,
)
def cast_range_filter_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int cast + inclusive range filter (reference do_column_type_casting
    main.py:151-160 + filter_playstore_df main.py:206-218). Spark's
    double->int cast truncates; the oracle uses TRUNC to match."""
    from app_insights_generator_spark.operators.cleaning import range_filter

    df = (
        load_table(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            F.col("o_totalprice").cast("int").alias("o_totalprice_int"),
            "o_orderpriority",
        )
    )
    return range_filter(df, {"o_totalprice_int": (50_000, 200_000)})


# --- ID-column sweep: display-value resolution under the driver gate ---------

DOCS_CFG = InsightsConfig(
    agg_cols=("source", "n_chars"),
    bucket_sizes={"n_chars": 2000},
    id_to_value={"source": ("lang",)},
    threshold_percent=2.0,
)

# Reference O7's display-value trick (main.py:282-285): ID grouping columns
# are dropped from the output and replaced by a deterministic min() over
# their display columns (the reference's nondeterministic first(), SURVEY.md
# §7 risk 2). DuckDB concat() SKIPS NULLs while Spark's propagates, so the
# oracle wraps each field in CASE ... END and joins with concat_ws (which
# skips NULLs in both engines) to reproduce the vanishing-field behavior.
_DOCS_SWEEP_ORACLE = """
WITH base AS (
  SELECT source, lang,
         CAST(FLOOR(CAST(n_chars AS DOUBLE) / 2000) * 2000 AS BIGINT) AS n_chars
  FROM documents
),
tot AS (SELECT CAST(FLOOR(0.02 * COUNT(*)) AS BIGINT) AS t FROM base)
SELECT concat_ws(';',
         CASE WHEN lng IS NULL THEN NULL ELSE concat('lang=', lng) END,
         CAST(cnt AS VARCHAR)) AS Insights
FROM (SELECT source, MIN(lang) AS lng, COUNT(*) AS cnt FROM base
      WHERE source IS NOT NULL GROUP BY source) g
WHERE cnt >= (SELECT t FROM tot)
UNION ALL
SELECT concat_ws(';',
         concat('n_chars=[', n_chars, '-', n_chars + 2000, ']'),
         CAST(cnt AS VARCHAR))
FROM (SELECT n_chars, COUNT(*) AS cnt FROM base
      WHERE n_chars IS NOT NULL GROUP BY n_chars) g
WHERE cnt >= (SELECT t FROM tot)
UNION ALL
SELECT concat_ws(';',
         concat('n_chars=[', n_chars, '-', n_chars + 2000, ']'),
         CASE WHEN lng IS NULL THEN NULL ELSE concat('lang=', lng) END,
         CAST(cnt AS VARCHAR))
FROM (SELECT source, n_chars, MIN(lang) AS lng, COUNT(*) AS cnt FROM base
      WHERE source IS NOT NULL AND n_chars IS NOT NULL
      GROUP BY source, n_chars) g
WHERE cnt >= (SELECT t FROM tot)
"""


@register("insights_sweep_documents_iddisplay", _DOCS_SWEEP_ORACLE)
def insights_sweep_documents_iddisplay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep with an ID column (source -> display lang): exercises the
    reference's drop-ID-emit-display path (O7/O9, main.py:282-292) under
    the DuckDB gate, not just in pytest."""
    df = bucketize(load_table(spark, sf_dir, "documents"), DOCS_CFG.bucket_sizes)
    return sweep_grouping_sets(df, DOCS_CFG)
