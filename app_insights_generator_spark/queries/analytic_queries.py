"""Analytic breadth beyond the M4 relational suite (SURVEY.md §2.2
completeness): pivot/unpivot reshaping, exact percentiles, ntile/percent_rank
windows, gap-filled time spines, scalar subqueries, statistical aggregates,
and a token-frequency insight over ``documents``.

The reference has none of these (main.py is groupBy+count only); each is
engine surface a user of a general analytics engine expects. Scale notes
inline per query — the recurring themes: pivot values are PINNED (no extra
distinct-scan job, stable schema), scalar subqueries become broadcast
one-row joins (no driver round-trip in the plan), and spines are generated
with ``sequence``/``explode`` (distributed, never a driver-side loop).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from app_insights_generator_spark.operators.checkpointing import pin
from app_insights_generator_spark.queries import _exact as _x
from app_insights_generator_spark.queries import register
from app_insights_generator_spark.sources import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# --- pivot / unpivot (reshaping) ---------------------------------------------

@register(
    "pivot_orders_priority_status",
    """
    SELECT o_orderpriority,
           COUNT(*) FILTER (o_orderstatus = 'F') AS status_f,
           COUNT(*) FILTER (o_orderstatus = 'O') AS status_o,
           COUNT(*) FILTER (o_orderstatus = 'P') AS status_p
    FROM orders GROUP BY o_orderpriority
    """,
)
def pivot_orders_priority_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with PINNED values ('F','O','P'): passing the value list skips
    Spark's extra distinct-collect job and fixes the output schema — at
    100 TB an unpinned pivot is two full scans and a schema that drifts
    with the data. Missing cells are 0, not NULL (na.fill), matching the
    oracle's COUNT FILTER semantics."""
    out = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .withColumnsRenamed({"F": "status_f", "O": "status_o", "P": "status_p"})
    )
    return out.na.fill(0, ["status_f", "status_o", "status_p"])


@register(
    "unpivot_part_metrics",
    """
    SELECT p_partkey, 'p_retailprice' AS metric, ROUND(p_retailprice, 2) AS val
    FROM part
    UNION ALL
    SELECT p_partkey, 'p_size' AS metric, CAST(p_size AS DOUBLE) AS val
    FROM part
    """,
)
def unpivot_part_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt) wide → long. Spark's native ``unpivot`` expands rows
    with a generator — no shuffle at all; the long format is what the
    insight sweep and per-metric aggregations consume."""
    part = _t(spark, sf_dir, "part").select(
        "p_partkey",
        F.round("p_retailprice", 2).alias("p_retailprice"),
        F.col("p_size").cast("double").alias("p_size"),
    )
    return part.unpivot(
        ids=["p_partkey"],
        values=["p_retailprice", "p_size"],
        variableColumnName="metric",
        valueColumnName="val",
    )


# --- exact + approximate percentiles -----------------------------------------

@register(
    "weighted_median_lineitem",
    f"""
    WITH t AS (
      SELECT l_returnflag AS flag,
             {_x.sql_cents('l_extendedprice')} AS cents,
             CAST(ROUND(l_quantity) AS BIGINT) AS w
      FROM lineitem
    ),
    g AS (SELECT flag, cents, CAST(SUM(w) AS BIGINT) AS w
          FROM t GROUP BY flag, cents),
    c AS (
      SELECT flag, cents, w,
             CAST(SUM(w) OVER (PARTITION BY flag ORDER BY cents
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cw,
             CAST(SUM(w) OVER (PARTITION BY flag) AS BIGINT) AS tw
      FROM g
    )
    SELECT flag, MIN(cents) AS wmedian_cents, MIN(tw) AS total_weight
    FROM c WHERE 2 * cw >= tw GROUP BY flag
    """,
)
def weighted_median_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact WEIGHTED median (lower weighted median): per return flag,
    the smallest extended-price value whose cumulative quantity weight
    reaches half the group's total — the robust center that answers
    "half the UNITS ship at or below this price" (a plain median of line
    items answers about rows, which overweights small orders). Spark has
    no weighted percentile built-in; the distributed formulation is a
    groupBy to the (group, value) grain, one partitioned cumulative-sum
    window over that bounded grid, and a threshold pick — the same
    pre-aggregate-then-window shape as ks_drift.

    Exactness: prices in integer cents (the _exact discipline), weights
    as exact integer quantities, and the lower-median rule 2*cw >= tw is
    pure integer comparison — no interpolation, no floats, no ties to
    break (the pick is MIN over a set defined by the inequality).

    Scale: the window runs over distinct (flag, cents) — bounded by the
    price grid, not the fact table; one exchange keyed flag.

    Reference parity: none; §2.2 sorts/top-k extension next to the
    interpolated percentile anchors.
    Registered on ROTATION_NEXT (round-10 window; post-sweep addition)."""
    t = _t(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.expr(_x.sql_cents("l_extendedprice")).alias("cents"),
        F.expr("CAST(ROUND(l_quantity) AS BIGINT)").alias("w"),
    )
    g = t.groupBy("flag", "cents").agg(F.sum("w").cast("long").alias("w"))
    wcum = Window.partitionBy("flag").orderBy("cents").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wall = Window.partitionBy("flag")
    c = g.select(
        "flag",
        "cents",
        F.sum("w").over(wcum).cast("long").alias("cw"),
        F.sum("w").over(wall).cast("long").alias("tw"),
    )
    return (
        c.filter(F.expr("2 * cw >= tw"))
        .groupBy("flag")
        .agg(
            F.min("cents").cast("long").alias("wmedian_cents"),
            F.min("tw").cast("long").alias("total_weight"),
        )
    )


@register(
    "percentiles_orders_price",
    """
    SELECT o_orderpriority,
           ROUND(quantile_cont(o_totalprice, 0.5) + 1e-9, 2) AS median_price,
           ROUND(quantile_cont(o_totalprice, 0.9) + 1e-9, 2) AS p90_price,
           COUNT(*) AS n_orders
    FROM orders GROUP BY o_orderpriority
    """,
)
def percentiles_orders_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (PERCENTILE_CONT semantics — Spark's
    ``percentile`` and DuckDB's ``quantile_cont`` share the
    lo + frac·(hi−lo) definition). Exact percentile is a full sort per
    group; at 100 TB prefer ``approx_percentile`` (see
    ``approx_percentile_lineitem``) — this exact form is the oracle-able
    correctness anchor."""
    return (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.round(F.percentile("o_totalprice", F.lit(0.5)) + 1e-9, 2).alias("median_price"),
            F.round(F.percentile("o_totalprice", F.lit(0.9)) + 1e-9, 2).alias("p90_price"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


@register(
    "approx_percentile_lineitem",
    """
    SELECT l_returnflag,
           ROUND(quantile_cont(l_extendedprice, 0.5) + 1e-9, 2) AS exact_median_price,
           0 AS n_violations
    FROM lineitem GROUP BY l_returnflag
    """,
)
def approx_percentile_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentiles (Greenwald-Khanna sketch): the 100 TB path —
    mergeable per-partition sketches, no global sort. Oracled via the
    sketch's rank-error INVARIANT rather than its raw output: with
    accuracy 10000 the rank error is ≤ 0.01·n, so the approx median must
    lie between the exact 0.48 and 0.52 quantiles of its group.
    ``n_violations`` counts groups where that bound fails (always 0 when
    the sketch honors its contract), and the exact median — computable in
    both engines — rides along as a hash-checked anchor. This is the
    violation-count framing that makes an approximate operator verifiable
    by an exact-SQL oracle."""
    li = _t(spark, sf_dir, "lineitem")
    per_group = li.groupBy("l_returnflag").agg(
        F.approx_percentile("l_extendedprice", F.lit(0.5), F.lit(10000)).alias("_approx"),
        F.percentile("l_extendedprice", F.lit(0.48)).alias("_lo"),
        F.percentile("l_extendedprice", F.lit(0.5)).alias("_exact"),
        F.percentile("l_extendedprice", F.lit(0.52)).alias("_hi"),
    )
    return per_group.select(
        "l_returnflag",
        F.round(F.col("_exact") + 1e-9, 2).alias("exact_median_price"),
        (
            (F.col("_approx") < F.col("_lo")) | (F.col("_approx") > F.col("_hi"))
        ).cast("int").alias("n_violations"),
    )


# --- ranking windows: ntile / percent_rank -----------------------------------

@register(
    "ntile_customers_balance",
    """
    SELECT c_custkey,
           ntile(4) OVER w AS balance_quartile,
           ROUND(percent_rank() OVER w + 1e-9, 4) AS balance_pctrank
    FROM customer
    WINDOW w AS (ORDER BY c_acctbal, c_custkey)
    """,
)
def ntile_customers_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile + percent_rank over a GLOBAL ordering — deliberately the
    degenerate single-partition window (ties broken by c_custkey for
    determinism). At 100 TB a global rank is computed instead via
    range-partitioned sort + partition-offset cumsum (what Spark's
    repartitionByRange + per-partition rank gives); kept here in window
    form as the oracle-able semantic anchor."""
    w = Window.orderBy("c_acctbal", "c_custkey")
    return _t(spark, sf_dir, "customer").select(
        "c_custkey",
        F.ntile(4).over(w).alias("balance_quartile"),
        F.round(F.percent_rank().over(w) + 1e-9, 4).alias("balance_pctrank"),
    )


# --- gap-filled time spine ----------------------------------------------------

@register(
    "gapfill_hourly_events",
    """
    WITH bounds AS (
      SELECT CAST(FLOOR(epoch(MIN(ts)) / 3600) * 3600 AS BIGINT) AS lo,
             CAST(FLOOR(epoch(MAX(ts)) / 3600) * 3600 AS BIGINT) AS hi
      FROM events
    ),
    spine AS (
      SELECT unnest(generate_series(lo, hi, 3600)) AS hour_epoch FROM bounds
    ),
    hourly AS (
      SELECT CAST(FLOOR(epoch(ts) / 3600) * 3600 AS BIGINT) AS hour_epoch,
             COUNT(*) AS n_events,
             CAST(ROUND(SUM(CAST(value AS DECIMAL(14,2))), 2) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1
    )
    SELECT s.hour_epoch,
           COALESCE(h.n_events, 0) AS n_events,
           COALESCE(h.sum_value, 0.0) AS sum_value
    FROM spine s LEFT JOIN hourly h USING (hour_epoch)
    """,
)
def gapfill_hourly_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled hourly rollup (timeseries/hypertable idiom): hours with
    zero events still appear. The spine is ``sequence`` + ``explode`` off a
    one-row min/max aggregate — generated distributed, never a driver
    loop — and the hourly aggregate (small: one row per hour) is broadcast
    to the join. Epoch arithmetic, not date_trunc, keeps it TZ-proof."""
    ev = _t(spark, sf_dir, "events")
    hour = (F.floor(F.unix_timestamp("ts") / 3600) * 3600).cast("long")
    bounds = ev.agg(
        F.min(hour).alias("lo"), F.max(hour).alias("hi")
    )
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.lit(3600).cast("long"))).alias("hour_epoch")
    )
    hourly = (
        ev.groupBy(hour.alias("hour_epoch"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _x.money_sum(_x.money("value")).alias("sum_value"),
        )
    )
    return spine.join(F.broadcast(hourly), "hour_epoch", "left").select(
        "hour_epoch",
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        F.coalesce("sum_value", F.lit(0.0)).alias("sum_value"),
    )


# --- scalar subquery ----------------------------------------------------------

@register(
    "scalar_subquery_orders_above_avg",
    """
    SELECT o_orderpriority, COUNT(*) AS n_above
    FROM orders
    WHERE o_totalprice > (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2)))
                                     AS DOUBLE) / COUNT(*) FROM orders)
    GROUP BY o_orderpriority
    """,
)
def scalar_subquery_orders_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated scalar subquery as a broadcast one-row cross join —
    the aggregate stays in the plan (one extra tiny stage), no
    ``collect()`` round-trip through the driver, so the whole query is one
    job and the threshold recomputes correctly if the input changes."""
    o = _t(spark, sf_dir, "orders")
    avg_row = o.agg(
        (F.sum(_x.money("o_totalprice")).cast("double") / F.count(F.lit(1))).alias(
            "_avg_price"
        )
    )
    return (
        o.join(F.broadcast(avg_row))
        .filter(F.col("o_totalprice") > F.col("_avg_price"))
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_above"))
    )


# --- statistical aggregates ---------------------------------------------------

@register(
    "stat_aggregates_lineitem",
    """
    WITH mom AS (
      SELECT l_returnflag,
             COUNT(*) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(4,0))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(l_quantity AS DECIMAL(4,0))
                      * CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE) AS sxy,
             CAST(SUM(CAST(l_quantity AS DECIMAL(4,0))
                      * CAST(l_quantity AS DECIMAL(4,0))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2))
                      * CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE) AS syy,
             CAST(SUM(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS sd,
             CAST(SUM(CAST(l_discount AS DECIMAL(4,2))
                      * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS sdd,
             CAST(SUM(CAST(l_tax AS DECIMAL(4,2))) AS DOUBLE) AS st,
             CAST(SUM(CAST(l_tax AS DECIMAL(4,2))
                      * CAST(l_tax AS DECIMAL(4,2))) AS DOUBLE) AS stt
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           ROUND((sxy - sx * sy / n) / SQRT((sxx - sx * sx / n) * (syy - sy * sy / n))
                 + 1e-9, 4) AS qty_price_corr,
           ROUND((sxy - sx * sy / n) / (n - 1) + 1e-9, 2) AS qty_price_covar,
           ROUND(SQRT((sdd - sd * sd / n) / (n - 1)) + 1e-9, 4) AS discount_stddev,
           ROUND((stt - st * st / n) / (n - 1) + 1e-9, 4) AS tax_var
    FROM mom
    """,
)
def stat_aggregates_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates (corr/covar/stddev/var) computed from EXACT
    decimal moment sums (sum x, sum y, sum xy, sum x^2, ...), with the
    final scalar algebra done in double using the identical expression in
    both engines. Built-in corr/covar/stddev accumulate doubles in
    partition order, which drifts at the last bits and can flip a rounded
    cent (the q9 failure mode) — moment sums over exact decimals are
    order-independent, still single-pass, still mergeable, one shuffle."""
    li = _t(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("decimal(4,0)")
    price = _x.money("l_extendedprice")
    disc = F.col("l_discount").cast("decimal(4,2)")
    tax = F.col("l_tax").cast("decimal(4,2)")
    mom = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(qty).cast("double").alias("sx"),
        F.sum(price).cast("double").alias("sy"),
        F.sum(qty * price).cast("double").alias("sxy"),
        F.sum(qty * qty).cast("double").alias("sxx"),
        F.sum(price * price).cast("double").alias("syy"),
        F.sum(disc).cast("double").alias("sd"),
        F.sum(disc * disc).cast("double").alias("sdd"),
        F.sum(tax).cast("double").alias("st"),
        F.sum(tax * tax).cast("double").alias("stt"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    sd, sdd, st, stt = F.col("sd"), F.col("sdd"), F.col("st"), F.col("stt")
    return mom.select(
        "l_returnflag",
        F.round(
            (sxy - sx * sy / n) / F.sqrt((sxx - sx * sx / n) * (syy - sy * sy / n))
            + 1e-9,
            4,
        ).alias("qty_price_corr"),
        F.round((sxy - sx * sy / n) / (n - 1) + 1e-9, 2).alias("qty_price_covar"),
        F.round(F.sqrt((sdd - sd * sd / n) / (n - 1)) + 1e-9, 4).alias(
            "discount_stddev"
        ),
        F.round((stt - st * st / n) / (n - 1) + 1e-9, 4).alias("tax_var"),
    )


# --- token-frequency insight over documents ----------------------------------

@register(
    "word_frequency_documents",
    """
    WITH toks AS (
      SELECT unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS word
      FROM documents
    ),
    t AS (SELECT word FROM toks WHERE word <> ''),
    tot AS (SELECT COUNT(*) AS n FROM t)
    SELECT word, COUNT(*) AS n_occurrences
    FROM t GROUP BY word
    HAVING COUNT(*) >= 0.005 * (SELECT n FROM tot)
    """,
)
def word_frequency_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's support-threshold insight framing (2%-of-total,
    main.py:280,291) applied to text: token frequency with a 0.5%-of-corpus
    support floor. explode is a generator (no shuffle); the single shuffle
    is the word groupBy, and the corpus-total denominator joins in as a
    broadcast one-row aggregate — same pattern as the sweep's shared-N
    threshold, fully distributed."""
    toks = (
        _t(spark, sf_dir, "documents")
        .select(F.explode(F.split(F.lower("text"), "[^a-z0-9]+")).alias("word"))
        .filter(F.col("word") != "")
    )
    counts = toks.groupBy("word").agg(F.count(F.lit(1)).alias("n_occurrences"))
    total = toks.agg(F.count(F.lit(1)).alias("_n_total"))
    return (
        counts.join(F.broadcast(total))
        .filter(F.col("n_occurrences") >= 0.005 * F.col("_n_total"))
        .select("word", "n_occurrences")
    )


# --- single-pass table profiling ---------------------------------------------

_PROFILE_COLS = [
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
]


def _profile_oracle() -> str:
    parts = [
        f"""
        SELECT '{c}' AS col_name,
               COUNT(*) - COUNT({c}) AS n_nulls,
               COUNT(DISTINCT {c}) AS n_distinct,
               CAST(MIN({c}) AS VARCHAR) AS min_val,
               CAST(MAX({c}) AS VARCHAR) AS max_val
        FROM orders
        """
        for c in _PROFILE_COLS
    ]
    return " UNION ALL ".join(parts)


@register("profile_orders", _profile_oracle())
def profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data profiling: per-column null count, exact distinct count, min and
    max — in ONE aggregation pass (the multi-distinct plans as a bounded
    Expand over the column count, not a per-column scan), then reshaped to
    long format with ``inline`` inside the same plan. The first query a
    pipeline runs against an unknown 100 TB table; swap countDistinct for
    approx_count_distinct when exactness isn't required."""
    o = _t(spark, sf_dir, "orders")
    aggs = []
    for c in _PROFILE_COLS:
        aggs += [
            F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls"),
            F.countDistinct(c).alias(f"{c}__distinct"),
            F.min(c).cast("string").alias(f"{c}__min"),
            F.max(c).cast("string").alias(f"{c}__max"),
        ]
    one = o.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(c).alias("col_name"),
                F.col(f"{c}__nulls").alias("n_nulls"),
                F.col(f"{c}__distinct").alias("n_distinct"),
                F.col(f"{c}__min").alias("min_val"),
                F.col(f"{c}__max").alias("max_val"),
            )
            for c in _PROFILE_COLS
        ]
    )
    return one.select(F.inline(rows))


# --- array aggregation (collect + sort for determinism) ----------------------

@register(
    "array_agg_sizes_per_brand",
    """
    SELECT p_brand,
           array_to_string(list(DISTINCT p_size ORDER BY p_size), ',') AS sizes,
           COUNT(DISTINCT p_size) AS n_sizes
    FROM part GROUP BY p_brand
    """,
)
def array_agg_sizes_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array aggregation: distinct sizes per brand as a SORTED array —
    collect_set order is partition-dependent, so array_sort is what makes
    the result deterministic (same discipline as the first->min fix in the
    insights pipeline). The array is serialized to a comma-joined string
    for the gate: raw array columns are unhashable in the driver's
    pandas-based canonicalizer (CORRECTNESS_r01 TypeError), and a sorted
    string is the same information in a comparable form."""
    return (
        _t(spark, sf_dir, "part")
        .groupBy("p_brand")
        .agg(
            F.concat_ws(
                ",", F.array_sort(F.collect_set("p_size")).cast("array<string>")
            ).alias("sizes"),
            F.countDistinct("p_size").alias("n_sizes"),
        )
    )


# --- UDAF: grouped-agg pandas UDF --------------------------------------------

@register(
    "udaf_geomean_quantity",
    """
    SELECT l_returnflag,
           ROUND(EXP(AVG(LN(l_quantity))) + 1e-9, 4) AS geomean_qty
    FROM lineitem GROUP BY l_returnflag
    """,
)
def udaf_geomean_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom UDAF as a grouped-agg pandas_udf (Arrow-batched, vectorized
    numpy inside — never row-at-a-time): geometric mean of quantity per
    return flag. Note a log-sum decomposition (exp∘avg∘ln with built-ins)
    would stay JVM-side and is the better plan when the algebra allows it
    — the UDAF form is the template for aggregates that genuinely have no
    built-in decomposition."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _geomean(v):
        return float(np.exp(np.log(v.to_numpy()).mean()))

    # Real (non-string) annotations: this module's `from __future__ import
    # annotations` would stringify inline hints, which pandas_udf's
    # signature inference rejects.
    _geomean.__annotations__ = {"v": pd.Series, "return": float}
    geomean = pandas_udf(_geomean, "double")

    return (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.round(geomean("l_quantity") + 1e-9, 4).alias("geomean_qty"))
    )


# --- UDTF: lateral table function --------------------------------------------

_CHUNK_SIZE = 50

@register(
    "udtf_chunk_documents",
    f"""
    WITH t AS (
      SELECT doc_id,
             len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS n
      FROM documents
    ),
    c AS (
      SELECT doc_id,
             unnest(range(0, CAST(CEIL(n / {_CHUNK_SIZE}.0) AS BIGINT))) AS chunk_idx,
             n
      FROM t
    )
    SELECT doc_id,
           CAST(chunk_idx AS INT) AS chunk_idx,
           CAST(LEAST({_CHUNK_SIZE}, n - {_CHUNK_SIZE} * chunk_idx) AS INT) AS n_tokens
    FROM c
    """,
)
def udtf_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (table function) in a LATERAL join: splits each document
    into fixed-size token chunks — the LLM-pipeline chunking primitive
    (one row in, N chunk rows out, arbitrary Python per row). UDTFs run in
    a Python worker per partition; the lateral join itself adds no
    shuffle, so this scales like the mapInPandas multimodal path."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="chunk_idx int, n_tokens int")
    class ChunkTokens:
        def eval(self, text: str):
            toks = (text or "").split()
            for i in range(0, len(toks), _CHUNK_SIZE):
                yield (i // _CHUNK_SIZE, len(toks[i : i + _CHUNK_SIZE]))

    spark.udtf.register("chunk_tokens", ChunkTokens)
    _t(spark, sf_dir, "documents").createOrReplaceTempView("_udtf_docs")
    return spark.sql(
        "SELECT doc_id, c.chunk_idx, c.n_tokens FROM _udtf_docs, LATERAL chunk_tokens(text) c"
    )


# --- correlated subquery (decorrelated via window) ---------------------------

@register(
    "correlated_orders_above_cust_avg",
    """
    SELECT o_custkey, COUNT(*) AS n_above
    FROM orders o
    WHERE o_totalprice > (SELECT CAST(SUM(CAST(o2.o_totalprice AS DECIMAL(14,2)))
                                     AS DOUBLE) / COUNT(*)
                          FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
    GROUP BY o_custkey
    """,
)
def correlated_orders_above_cust_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (each order vs its own customer's
    average) hand-decorrelated into a window aggregate — one shuffle on
    o_custkey, no per-row subquery re-execution. This is exactly the
    rewrite Catalyst's decorrelation performs; stating it directly keeps
    the plan shape explicit."""
    w = Window.partitionBy("o_custkey")
    return (
        _t(spark, sf_dir, "orders")
        .withColumn(
            "_cust_avg",
            F.sum(_x.money("o_totalprice")).over(w).cast("double")
            / F.count(F.lit(1)).over(w),
        )
        .filter(F.col("o_totalprice") > F.col("_cust_avg"))
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_above"))
    )


# --- union-by-name over heterogeneous schemas --------------------------------

@register(
    "union_by_name_balances",
    """
    WITH accounts AS (
      SELECT c_custkey AS acct_id, 'customer' AS kind, c_acctbal AS bal,
             c_mktsegment AS segment
      FROM customer
      UNION ALL
      SELECT s_suppkey, 'supplier', s_acctbal, NULL FROM supplier
    )
    SELECT kind, COUNT(*) AS n_accounts,
           CAST(ROUND(SUM(CAST(bal AS DECIMAL(14,2))), 2) AS DOUBLE) AS total_bal,
           COUNT(segment) AS n_with_segment
    FROM accounts GROUP BY kind
    """,
)
def union_by_name_balances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unionByName(allowMissingColumns=True): schema-aligned union where
    the supplier side lacks ``segment`` (filled with NULL) — the safe
    union for evolving schemas, vs positional ``union`` which silently
    misaligns."""
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("acct_id"),
        F.lit("customer").alias("kind"),
        F.col("c_acctbal").alias("bal"),
        F.col("c_mktsegment").alias("segment"),
    )
    supp = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("acct_id"),
        F.lit("supplier").alias("kind"),
        F.col("s_acctbal").alias("bal"),
    )
    return (
        cust.unionByName(supp, allowMissingColumns=True)
        .groupBy("kind")
        .agg(
            F.count(F.lit(1)).alias("n_accounts"),
            _x.money_sum(_x.money("bal")).alias("total_bal"),
            F.count("segment").alias("n_with_segment"),
        )
    )


# --- single-pass argmax (max-of-struct) --------------------------------------

@register(
    "argmax_top_customer_per_nation",
    """
    SELECT n_name,
           c_custkey AS top_custkey,
           ROUND(c_acctbal, 2) AS top_acctbal
    FROM (
      SELECT n.n_name, c.c_custkey, c.c_acctbal,
             ROW_NUMBER() OVER (PARTITION BY n.n_name
                                ORDER BY c.c_acctbal DESC, c.c_custkey DESC) AS rn
      FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    ) WHERE rn = 1
    """,
)
def argmax_top_customer_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top row per group via single-pass ``max(struct(...))`` argmax
    instead of a window sort. The reference's only per-group "pick a
    value" is the nondeterministic ``first()`` (main.py:282-285); this is
    the deterministic, scale-correct form: max over a struct compares
    lexicographically (acctbal, then custkey as tiebreak), so it runs as
    an ordinary partial+final HashAggregate — map-side combine reduces
    each partition to one candidate row per nation BEFORE the shuffle.
    The window formulation (the oracle) shuffles every row and sorts each
    partition; at 100 TB that is the difference between shuffling 25
    candidate rows per partition and shuffling the whole customer table.
    The nation dim is broadcast after the aggregate, onto 25 rows."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    best = c.groupBy("c_nationkey").agg(
        F.max(F.struct("c_acctbal", "c_custkey")).alias("b")
    )
    return (
        best.join(F.broadcast(n), best.c_nationkey == n.n_nationkey)
        .select(
            "n_name",
            F.col("b.c_custkey").alias("top_custkey"),
            F.round(F.col("b.c_acctbal"), 2).alias("top_acctbal"),
        )
    )


@register(
    "histogram_orders_totalprice",
    """
    SELECT LEAST(GREATEST(CAST(FLOOR(o_totalprice / 50000) AS INTEGER) + 1, 0), 13)
             AS bucket,
           COUNT(*) AS n,
           ROUND(MIN(o_totalprice), 2) AS lo,
           ROUND(MAX(o_totalprice), 2) AS hi
    FROM orders
    GROUP BY bucket
    """,
)
def histogram_orders_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram via the native ``width_bucket`` function
    (12 buckets over [0, 600000)) — the distribution-profiling shape the
    reference's bucketing operator (main.py:163-203) approximates with
    hand-rolled floor arithmetic. DuckDB has no width_bucket, so the
    oracle states the equivalent floor expression. Single
    partial+final aggregate over the scan: 12 groups means the shuffle
    carries ~12 rows per map partition regardless of table size."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.select(
            F.expr("width_bucket(o_totalprice, 0D, 600000D, 12)")
            .cast("int")
            .alias("bucket"),
            "o_totalprice",
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
    )


@register(
    "regr_price_vs_qty_lineitem",
    """
    WITH mom AS (
      SELECT l_returnflag,
             COUNT(*) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(4,0))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(l_quantity AS DECIMAL(4,0))
                      * CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE) AS sxy,
             CAST(SUM(CAST(l_quantity AS DECIMAL(4,0))
                      * CAST(l_quantity AS DECIMAL(4,0))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2))
                      * CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE) AS syy
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           ROUND((sxy - sx * sy / n) / (sxx - sx * sx / n) + 1e-9, 2) AS slope,
           ROUND((sy - (sxy - sx * sy / n) / (sxx - sx * sx / n) * sx) / n
                 + 1e-9, 2) AS intercept,
           ROUND(((sxy - sx * sy / n) * (sxy - sx * sy / n))
                 / ((sxx - sx * sx / n) * (syy - sy * sy / n)) + 1e-9, 4) AS r2,
           CAST(n AS BIGINT) AS n
    FROM mom
    """,
)
def regr_price_vs_qty_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group least-squares fit with the ANSI regr_* aggregates: slope,
    intercept, and R² of extendedprice against quantity for each return
    flag — closed-form regression as a plain aggregation, the
    groupBy-and-fit primitive feature pipelines use for drift and trend
    checks. Computed from exact decimal moment sums (not the built-in
    regr_* double accumulators) so the result is independent of partition
    order — same single-pass, mergeable shape, one shuffle, and the final
    scalar algebra is the identical double expression in both engines."""
    li = _t(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("decimal(4,0)")
    price = _x.money("l_extendedprice")
    mom = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(qty).cast("double").alias("sx"),
        F.sum(price).cast("double").alias("sy"),
        F.sum(qty * price).cast("double").alias("sxy"),
        F.sum(qty * qty).cast("double").alias("sxx"),
        F.sum(price * price).cast("double").alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    slope = (sxy - sx * sy / n) / (sxx - sx * sx / n)
    return mom.select(
        "l_returnflag",
        F.round(slope + 1e-9, 2).alias("slope"),
        F.round((sy - slope * sx) / n + 1e-9, 2).alias("intercept"),
        F.round(
            ((sxy - sx * sy / n) * (sxy - sx * sy / n))
            / ((sxx - sx * sx / n) * (syy - sy * sy / n))
            + 1e-9,
            4,
        ).alias("r2"),
        F.col("n").cast("bigint").alias("n"),
    )


@register(
    "range_frame_moving_avg_orders",
    """
    SELECT o_orderkey,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) OVER w AS DOUBLE)
                 / COUNT(*) OVER w + 1e-9, 2) AS avg_30d
    FROM orders WHERE o_custkey < 50
    WINDOW w AS (
      PARTITION BY o_custkey ORDER BY epoch_us(CAST(o_orderdate AS TIMESTAMP))
      RANGE BETWEEN 2592000000000 PRECEDING AND CURRENT ROW)
    """,
)
def range_frame_moving_avg_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window — the frame type ROWS cannot substitute: each
    order's average over the SAME CUSTOMER's orders in the preceding 30
    DAYS of event time, however many rows that happens to be (ties and
    gaps in order dates make ROWS N PRECEDING wrong). The frame bound is
    integer epoch-microseconds, so both engines agree exactly. Scale: one
    shuffle on the partition key; the range frame is evaluated over the
    per-customer sorted run."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 50)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.unix_micros(F.col("o_orderdate").cast("timestamp")))
        .rangeBetween(-2_592_000_000_000, Window.currentRow)
    )
    return o.select(
        "o_orderkey",
        F.round(
            F.sum(_x.money("o_totalprice")).over(w).cast("double")
            / F.count(F.lit(1)).over(w)
            + 1e-9,
            2,
        ).alias("avg_30d"),
    )


@register(
    "conditional_aggregates_orders",
    """
    SELECT o_orderstatus,
           COUNT(*) FILTER (WHERE o_totalprice > 100000) AS n_big,
           bool_or(o_totalprice > 400000) AS any_huge,
           bool_and(o_totalprice > 1000) AS all_over_1k
    FROM orders GROUP BY o_orderstatus
    """,
)
def conditional_aggregates_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional/boolean aggregates (`count_if`, `bool_or`, `bool_and`)
    — the SQL:2023 additions analysts reach for before window functions.
    All are single-pass mergeable aggregates: partial combine map-side,
    one shuffle on the group key, like any count/sum."""
    return (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.count_if(F.col("o_totalprice") > 100_000).alias("n_big"),
            F.bool_or(F.col("o_totalprice") > 400_000).alias("any_huge"),
            F.bool_and(F.col("o_totalprice") > 1_000).alias("all_over_1k"),
        )
    )


@register(
    "cume_dist_customers",
    """
    SELECT c_custkey,
           ROUND(cume_dist() OVER (
             PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey
           ) + 1e-9, 4) AS bal_cume,
           ROUND(percent_rank() OVER (
             PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey
           ) + 1e-9, 4) AS bal_pct_rank
    FROM customer WHERE c_nationkey < 5
    """,
)
def cume_dist_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-rank window functions (`cume_dist`, `percent_rank`)
    per nation — the percentile-position view ntile only approximates.
    Tie-break on c_custkey makes both ranks deterministic; one shuffle on
    the partition key."""
    w = Window.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    return (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_nationkey") < 5)
        .select(
            "c_custkey",
            F.round(F.cume_dist().over(w) + 1e-9, 4).alias("bal_cume"),
            F.round(F.percent_rank().over(w) + 1e-9, 4).alias("bal_pct_rank"),
        )
    )


@register(
    "forward_fill_events",
    """
    SELECT event_id, user_id,
           (event_type = 'error') AS is_masked,
           last_value(CASE WHEN event_type <> 'error' THEN value END IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS filled_value
    FROM events
    """,
)
def forward_fill_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward fill / last-observation-carried-forward (the time-series
    idiom behind sensor downsampling and SCD current-value views):
    'error' readings are masked to NULL and replaced with the user's last
    trusted value via last(..., ignorenulls=True) over a running frame —
    IGNORE NULLS window semantics as a user-facing op (the as-of join
    uses the same primitive internally, joins.py:69). One shuffle on
    user_id; the filled value is a COPY of an input double (no
    arithmetic), so the gate is bit-exact by construction. Rows before a
    user's first trusted value stay NULL — the honest LOCF contract."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    masked = F.when(F.col("event_type") != "error", F.col("value"))
    return ev.select(
        "event_id",
        "user_id",
        (F.col("event_type") == "error").alias("is_masked"),
        F.last(masked, ignorenulls=True).over(w).alias("filled_value"),
    )


# --- Equi-depth histogram via NTILE ------------------------------------------


@register(
    "equidepth_histogram_orders",
    f"""
    WITH t AS (
      SELECT NTILE(10) OVER (ORDER BY {_x.sql_cents('o_totalprice')}, o_orderkey)
               AS decile,
             {_x.sql_cents('o_totalprice')} AS cents
      FROM orders
    )
    SELECT CAST(decile AS INTEGER) AS decile,
           COUNT(*) AS n_orders,
           CAST(MIN(cents) AS BIGINT) AS lo_cents,
           CAST(MAX(cents) AS BIGINT) AS hi_cents,
           CAST(SUM(cents) AS BIGINT) AS sum_cents
    FROM t GROUP BY decile
    """,
)
def equidepth_histogram_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (equal-height) histogram of order value: NTILE(10)
    over (cents, key) — the tie-break on the unique key makes bucket
    assignment total-order-deterministic, which is what lets an NTILE
    result hash-gate at all (bare NTILE over a column with duplicates
    is engine-dependent at the boundaries). Per-decile count, bounds,
    and exact integer mass. Equi-depth bounds are what optimizers store
    as column statistics and what skew diagnostics read — the
    complement to the fixed-width bucketing operator (O6) and the
    PERCENTILE_DISC panel (boundaries at ALL the q-points at once).

    Scale: a global NTILE is one total sort — the honest cost statement
    is the same as systematic sampling's: exact at gate scale, replaced
    by the pre-aggregated histogram form (disc_percentiles_from_counts)
    when values are billions of rows of bounded cardinality.

    Rotated into the round-6 gate window (pre-sweep addition)."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.orderBy(_x.cents("o_totalprice"), F.col("o_orderkey"))
    t = orders.select(
        F.ntile(10).over(w).alias("decile"),
        _x.cents("o_totalprice").alias("cents"),
    )
    return t.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.min("cents").cast("long").alias("lo_cents"),
        F.max("cents").cast("long").alias("hi_cents"),
        F.sum("cents").cast("long").alias("sum_cents"),
    )


# --- Autocorrelation (ACF) of the daily-revenue series ------------------------


@register(
    "acf_daily_revenue_orders",
    f"""
    WITH daily0 AS (
      SELECT CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT) AS day_idx,
             CAST(SUM({_x.sql_cents('o_totalprice')}) AS BIGINT) // 10000 AS x
      FROM orders GROUP BY 1
    ),
    ctr AS (SELECT CAST(SUM(x) AS BIGINT) // COUNT(*) AS c FROM daily0),
    daily AS (SELECT day_idx, x - c AS x FROM daily0, ctr),
    lags AS (SELECT * FROM (VALUES (1),(2),(3),(4),(5),(6),(7)) AS t(lag_d)),
    pairs AS (
      SELECT l.lag_d AS lag_d, a.x AS x, b.x AS y
      FROM daily a JOIN lags l ON TRUE
      JOIN daily b ON b.day_idx = a.day_idx + l.lag_d
    ),
    mom AS (
      SELECT lag_d, COUNT(*) AS n_pairs,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y * y) AS BIGINT) AS syy
      FROM pairs GROUP BY lag_d
    )
    SELECT lag_d, n_pairs,
           CAST(n_pairs * sxy - sx * sy AS DOUBLE)
             / SQRT(CAST(n_pairs * sxx - sx * sx AS DOUBLE)
                    * CAST(n_pairs * syy - sy * sy AS DOUBLE)) AS acf
    FROM mom
    WHERE n_pairs * sxx - sx * sx > 0 AND n_pairs * syy - sy * sy > 0
    """,
)
def acf_daily_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function (lags 1-7, Pearson per-lag form) of the
    daily order-revenue series, by CALENDAR lag: pairs join on
    day_idx + k, so date gaps pair nothing rather than silently pairing
    adjacent rows. Every moment (sx, sy, sxy, sxx, syy) is an exact
    BIGINT, and the only floating point is the final num / sqrt(d1*d2) —
    identical IEEE ops on identical integers in both engines, the repo's
    ratio-of-exact-sums rule. Degenerate (constant) series are excluded
    by the d1/d2 > 0 guard instead of dividing by zero.

    int64 headroom: the series is hundreds-of-dollars units CENTERED by
    the integer global mean — Pearson's cross-multiplied form is exactly
    shift-invariant, so the subtraction changes no output bit while
    collapsing sx from ~4e9 (whose square overflows int64 — measured,
    ARITHMETIC_OVERFLOW under ANSI) to near zero and sxx to the
    variance scale: n_pairs*sxx ~ 6e14 at sf0.01, ~100× per 10× SF, so
    ~sf1 before the per-year-strata fallback (the bm25_documents
    discipline) is needed. Centering costs one extra 1-row aggregate
    broadcast onto the 2,400-row daily series.

    Plan: one shuffle aggregates orders to the ~2,400-row daily series
    (map-side combine); the lag expansion and self-join run on that
    broadcast-sized table, and the moment aggregation is 7 groups.

    Registered for the round-7 gate window (post-sweep addition)."""
    o = _t(spark, sf_dir, "orders")
    daily0 = o.groupBy(
        F.expr(
            "unix_micros(CAST(o_orderdate AS TIMESTAMP)) DIV 86400000000"
        ).alias("day_idx")
    ).agg(
        F.expr(f"CAST(SUM({_x.sql_cents('o_totalprice')}) AS BIGINT) DIV 10000").alias(
            "x"
        )
    )
    ctr = daily0.agg(F.expr("CAST(SUM(x) AS BIGINT) DIV COUNT(*)").alias("c"))
    daily = daily0.crossJoin(F.broadcast(ctr)).select(
        "day_idx", F.expr("x - c").alias("x")
    )
    lags = spark.range(1, 8).select(F.col("id").alias("lag_d"))
    b = daily.select(F.col("day_idx").alias("b_day"), F.col("x").alias("y"))
    pairs = (
        daily.crossJoin(F.broadcast(lags))
        .join(F.broadcast(b), F.col("b_day") == F.col("day_idx") + F.col("lag_d"))
        .select("lag_d", "x", "y")
    )
    mom = pairs.groupBy("lag_d").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.expr("x * y")).alias("sxy"),
        F.sum(F.expr("x * x")).alias("sxx"),
        F.sum(F.expr("y * y")).alias("syy"),
    )
    return mom.filter(
        F.expr("n_pairs * sxx - sx * sx > 0 AND n_pairs * syy - sy * sy > 0")
    ).select(
        "lag_d",
        "n_pairs",
        F.expr(
            "CAST(n_pairs * sxy - sx * sy AS DOUBLE)"
            " / SQRT(CAST(n_pairs * sxx - sx * sx AS DOUBLE)"
            " * CAST(n_pairs * syy - sy * sy AS DOUBLE))"
        ).alias("acf"),
    )


# --- OLS trend line of the daily-revenue series --------------------------------


@register(
    "ols_trend_daily_revenue_orders",
    f"""
    WITH daily0 AS (
      SELECT CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT) AS t,
             CAST(SUM({_x.sql_cents('o_totalprice')}) AS BIGINT) // 10000 AS y
      FROM orders GROUP BY 1
    ),
    ctr AS (SELECT CAST(SUM(t) AS BIGINT) // COUNT(*) AS ct,
                   CAST(SUM(y) AS BIGINT) // COUNT(*) AS cy FROM daily0),
    daily AS (SELECT t - ct AS x, y - cy AS y FROM daily0, ctr),
    mom AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y * y) AS BIGINT) AS syy
      FROM daily
    )
    SELECT CAST(n AS BIGINT) AS n_days,
           CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE) AS slope,
           CAST(sy AS DOUBLE) / n
             - (CAST(n * sxy - sx * sy AS DOUBLE)
                / CAST(n * sxx - sx * sx AS DOUBLE))
               * (CAST(sx AS DOUBLE) / n) AS intercept,
           (CAST(n * sxy - sx * sy AS DOUBLE)
            * CAST(n * sxy - sx * sy AS DOUBLE))
             / (CAST(n * sxx - sx * sx AS DOUBLE)
                * CAST(n * syy - sy * sy AS DOUBLE)) AS r2
    FROM mom WHERE n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
    """,
)
def ols_trend_daily_revenue_orders(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Ordinary-least-squares trend line of the daily revenue series —
    the named REGRESSION capability next to the trend-test family
    (mann_kendall = direction nonparametrically, holt = smoothing,
    acf = memory): slope, intercept, and R² of revenue (hundreds of
    dollars, the acf unit) against the day index. Closed-form OLS from
    exact integer moments (n, Sx, Sy, Sxy, Sxx, Syy over the
    integer-mean-CENTERED series — the acf shift-invariance/overflow
    discipline: centering collapses Sx/Sy to near zero so every
    cross-moment stays far inside int64); the only floats are the final
    slope/intercept/r2 expressions, written with byte-identical text in
    both engines (ratio-of-exact-sums rule; r2's cross-moment squares
    are computed in DOUBLE because their int64 squares would overflow).
    Degenerate series (constant t or y) excluded by the variance > 0
    guard instead of dividing by zero.

    Plan: one map-side-combine shuffle to the ~2,400-row daily series,
    one 1-row centering broadcast, one global moment aggregate — scan
    cost is the daily rollup at any scale.

    Reference parity: no counterpart; §2.2 analytics extension.
    Registered on ROTATION_NEXT (round-11 window; post-sweep addition)."""
    o = _t(spark, sf_dir, "orders")
    daily0 = o.groupBy(
        F.expr(
            "unix_micros(CAST(o_orderdate AS TIMESTAMP)) DIV 86400000000"
        ).alias("t")
    ).agg(
        F.expr(
            f"CAST(SUM({_x.sql_cents('o_totalprice')}) AS BIGINT) DIV 10000"
        ).alias("y")
    )
    ctr = daily0.agg(
        F.expr("CAST(SUM(t) AS BIGINT) DIV COUNT(*)").alias("ct"),
        F.expr("CAST(SUM(y) AS BIGINT) DIV COUNT(*)").alias("cy"),
    )
    daily = daily0.crossJoin(F.broadcast(ctr)).select(
        F.expr("t - ct").alias("x"), F.expr("y - cy").alias("y")
    )
    mom = daily.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.expr("x * y")).alias("sxy"),
        F.sum(F.expr("x * x")).alias("sxx"),
        F.sum(F.expr("y * y")).alias("syy"),
    )
    return mom.filter(
        F.expr("n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0")
    ).select(
        F.expr("CAST(n AS BIGINT)").alias("n_days"),
        F.expr(
            "CAST(n * sxy - sx * sy AS DOUBLE)"
            " / CAST(n * sxx - sx * sx AS DOUBLE)"
        ).alias("slope"),
        F.expr(
            "CAST(sy AS DOUBLE) / n"
            " - (CAST(n * sxy - sx * sy AS DOUBLE)"
            " / CAST(n * sxx - sx * sx AS DOUBLE))"
            " * (CAST(sx AS DOUBLE) / n)"
        ).alias("intercept"),
        F.expr(
            "(CAST(n * sxy - sx * sy AS DOUBLE)"
            " * CAST(n * sxy - sx * sy AS DOUBLE))"
            " / (CAST(n * sxx - sx * sx AS DOUBLE)"
            " * CAST(n * syy - sy * sy AS DOUBLE))"
        ).alias("r2"),
    )


# --- Theil–Sen robust slope of the daily-revenue series ------------------------


@register(
    "theil_sen_daily_revenue_orders",
    f"""
    WITH daily0 AS (
      SELECT CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT) AS t0,
             CAST(SUM({_x.sql_cents('o_totalprice')}) AS BIGINT) // 10000 AS y
      FROM orders GROUP BY 1
    ),
    base AS (SELECT MIN(t0) AS t_min FROM daily0),
    daily AS (SELECT t0 - t_min AS t, y FROM daily0, base),
    slopes AS (
      SELECT a.t AS ti, b.t AS tj,
             (b.y - a.y) * 1000000 // (b.t - a.t) AS s_ppm
      FROM daily a JOIN daily b ON b.t > a.t
    ),
    ms AS (
      SELECT s_ppm FROM (
        SELECT s_ppm,
               ROW_NUMBER() OVER (ORDER BY s_ppm, ti, tj) AS rn,
               COUNT(*) OVER () AS np
        FROM slopes
      ) WHERE rn = (np + 1) // 2
    ),
    icepts AS (
      SELECT d.t, d.y * 1000000 - ms.s_ppm * d.t AS i_ppm
      FROM daily d, ms
    ),
    mi AS (
      SELECT i_ppm FROM (
        SELECT i_ppm,
               ROW_NUMBER() OVER (ORDER BY i_ppm, t) AS rn,
               COUNT(*) OVER () AS nd
        FROM icepts
      ) WHERE rn = (nd + 1) // 2
    )
    SELECT CAST((SELECT COUNT(*) FROM daily) AS BIGINT) AS n_days,
           CAST((SELECT COUNT(*) FROM slopes) AS BIGINT) AS n_pairs,
           CAST(ms.s_ppm AS BIGINT) AS slope_ppm,
           CAST(mi.i_ppm AS BIGINT) AS intercept_ppm
    FROM ms, mi
    """,
)
def theil_sen_daily_revenue_orders(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Theil–Sen estimator — the ROBUST twin of the OLS trend line
    (breakdown point 29% vs OLS's single-outlier fragility; the slope a
    revenue dashboard should trust when a flash sale or an outage day
    corrupts the series): slope = median over all day pairs of
    (Δy·1e6) DIV Δt in integer ppm, intercept = median over days of
    y·1e6 − slope_ppm·t. Both medians are LOWER medians selected by
    ROW_NUMBER over a totally ordered key ((s_ppm, i, j) / (i_ppm, t)),
    so the entire estimate is int64 arithmetic — no float anywhere,
    engine-exact by construction (Δy can be negative: Spark DIV and
    DuckDB // both truncate toward zero, the house rule).

    int64 headroom: days are re-based to t−min(t) (0..~2,400) and y is
    the acf hundreds-of-dollars unit, so y·1e6 ≈ 1e9 and
    slope_ppm·t ≤ ~1e12 — far inside range at any SF (the day-count,
    not the row count, is the driver; it is calendar-bounded).

    Plan: one shuffle to the ~2,400-row daily series; the O(days²)
    pair join (~2.9M pairs) runs broadcast on that bounded series —
    the same bounded-panel posture as acf's lag join; at decades-long
    calendars switch to the repeated-median or the
    Siegel O(n log n) sampling variant (documented, not needed at a
    calendar-bounded 2,400 days).

    Reference parity: no counterpart; §2.2 analytics extension.
    Registered on ROTATION_NEXT (round-11 window; post-sweep addition)."""
    o = _t(spark, sf_dir, "orders")
    daily0 = o.groupBy(
        F.expr(
            "unix_micros(CAST(o_orderdate AS TIMESTAMP)) DIV 86400000000"
        ).alias("t0")
    ).agg(
        F.expr(
            f"CAST(SUM({_x.sql_cents('o_totalprice')}) AS BIGINT) DIV 10000"
        ).alias("y")
    )
    base = daily0.agg(F.min("t0").alias("t_min"))
    daily = daily0.crossJoin(F.broadcast(base)).select(
        F.expr("t0 - t_min").alias("t"), "y"
    ).transform(pin)  # fan-out: pairs, intercepts, counts
    a = daily.select(F.col("t").alias("ti"), F.col("y").alias("yi"))
    bb = daily.select(F.col("t").alias("tj"), F.col("y").alias("yj"))
    slopes = (
        a.join(F.broadcast(bb), F.col("tj") > F.col("ti"))
        .select(
            "ti",
            "tj",
            F.expr("(yj - yi) * 1000000 DIV (tj - ti)").alias("s_ppm"),
        )
    )
    wslope = Window.orderBy("s_ppm", "ti", "tj")
    ms = (
        slopes.withColumn("rn", F.row_number().over(wslope))
        .withColumn("np", F.count(F.lit(1)).over(Window.partitionBy()))
        .filter(F.expr("rn = (np + 1) DIV 2"))
        .select("s_ppm", "np")
    )
    icepts = daily.crossJoin(F.broadcast(ms)).select(
        "t", F.expr("y * 1000000 - s_ppm * t").alias("i_ppm"), "s_ppm", "np"
    )
    wint = Window.orderBy("i_ppm", "t")
    mi = (
        icepts.withColumn("rn", F.row_number().over(wint))
        .withColumn("nd", F.count(F.lit(1)).over(Window.partitionBy()))
        .filter(F.expr("rn = (nd + 1) DIV 2"))
    )
    return mi.select(
        F.col("nd").cast("long").alias("n_days"),
        F.col("np").cast("long").alias("n_pairs"),
        F.col("s_ppm").cast("long").alias("slope_ppm"),
        F.col("i_ppm").cast("long").alias("intercept_ppm"),
    )


# --- Siegel repeated-median trend (the unbounded-calendar scale path) -------------


@register(
    "siegel_repeated_median_daily_revenue_orders",
    f"""
    WITH daily0 AS (
      SELECT CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT) AS t0,
             CAST(SUM({_x.sql_cents('o_totalprice')}) AS BIGINT) // 10000 AS y
      FROM orders GROUP BY 1
    ),
    base AS (SELECT MIN(t0) AS t_min FROM daily0),
    daily AS (SELECT t0 - t_min AS t, y FROM daily0, base),
    slopes AS (
      SELECT a.t AS ti, b.t AS tj,
             (b.y - a.y) * 1000000 // (b.t - a.t) AS s_ppm
      FROM daily a JOIN daily b ON b.t <> a.t
    ),
    inner_med AS (
      SELECT ti, s_ppm AS med_i FROM (
        SELECT ti, s_ppm,
               ROW_NUMBER() OVER (PARTITION BY ti
                                  ORDER BY s_ppm, tj) AS rn,
               COUNT(*) OVER (PARTITION BY ti) AS ni
        FROM slopes
      ) WHERE rn = (ni + 1) // 2
    ),
    ms AS (
      SELECT med_i AS s_ppm FROM (
        SELECT med_i, ti,
               ROW_NUMBER() OVER (ORDER BY med_i, ti) AS rn,
               COUNT(*) OVER () AS nd
        FROM inner_med
      ) WHERE rn = (nd + 1) // 2
    ),
    icepts AS (
      SELECT d.t, d.y * 1000000 - ms.s_ppm * d.t AS i_ppm
      FROM daily d, ms
    ),
    mi AS (
      SELECT i_ppm FROM (
        SELECT i_ppm,
               ROW_NUMBER() OVER (ORDER BY i_ppm, t) AS rn,
               COUNT(*) OVER () AS nd
        FROM icepts
      ) WHERE rn = (nd + 1) // 2
    )
    SELECT CAST((SELECT COUNT(*) FROM daily) AS BIGINT) AS n_days,
           CAST((SELECT COUNT(*) FROM slopes) AS BIGINT) AS n_pairs,
           CAST(ms.s_ppm AS BIGINT) AS slope_ppm,
           CAST(mi.i_ppm AS BIGINT) AS intercept_ppm
    FROM ms, mi
    """,
)
def siegel_repeated_median_daily_revenue_orders(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Siegel repeated-median trend — the 50%-breakdown robust twin of
    Theil–Sen (theil_sen_daily_revenue_orders keeps its documented
    promise: this is the variant for unbounded calendars): slope =
    median over days i of (median over j≠i of the pairwise integer-ppm
    slope), intercept = median over days of y·1e6 − slope_ppm·t. The
    directed-pair slope is symmetric under (i,j) swap even with
    truncating division (numerator AND denominator negate, so the
    quotient is identical), so the j≠i join is the textbook
    formulation. All medians are LOWER medians by ROW_NUMBER over
    totally ordered keys — pure int64, engine-exact, no float anywhere.

    Scale shape vs Theil–Sen: same bounded broadcast pair join, but the
    inner medians partition BY DAY — every window partition is one
    day's n−1 slopes, distributed across executors — and the only
    global sort is over the n per-day medians, not the n² pair table.
    At a decades-long calendar that turns the single-reducer n²-row
    sort into n bounded partitions + one n-row sort: the documented
    global-sort fallback made real (VERDICT r10 'what's wrong' #3).

    int64 headroom: identical to theil_sen (re-based t, hundreds-unit
    y; slope_ppm·t ≤ ~1e12).

    Reference parity: no counterpart; §2.2 analytics extension.
    Registered on ROTATION_NEXT (round-12 rotation; post-sweep addition)."""
    o = _t(spark, sf_dir, "orders")
    daily0 = o.groupBy(
        F.expr(
            "unix_micros(CAST(o_orderdate AS TIMESTAMP)) DIV 86400000000"
        ).alias("t0")
    ).agg(
        F.expr(
            f"CAST(SUM({_x.sql_cents('o_totalprice')}) AS BIGINT) DIV 10000"
        ).alias("y")
    )
    base = daily0.agg(F.min("t0").alias("t_min"))
    daily = (
        daily0.crossJoin(F.broadcast(base))
        .select(F.expr("t0 - t_min").alias("t"), "y")
        .transform(pin)  # fan-out: pairs, intercepts, counts
    )
    a = daily.select(F.col("t").alias("ti"), F.col("y").alias("yi"))
    bb = daily.select(F.col("t").alias("tj"), F.col("y").alias("yj"))
    slopes = a.join(F.broadcast(bb), F.col("tj") != F.col("ti")).select(
        "ti",
        "tj",
        F.expr("(yj - yi) * 1000000 DIV (tj - ti)").alias("s_ppm"),
    )
    wi = Window.partitionBy("ti").orderBy("s_ppm", "tj")
    inner_med = (
        slopes.withColumn("rn", F.row_number().over(wi))
        .withColumn(
            "ni", F.count(F.lit(1)).over(Window.partitionBy("ti"))
        )
        .filter(F.expr("rn = (ni + 1) DIV 2"))
        .select("ti", F.col("s_ppm").alias("med_i"))
    )
    wslope = Window.orderBy("med_i", "ti")
    ms = (
        inner_med.withColumn("rn", F.row_number().over(wslope))
        .withColumn("nd", F.count(F.lit(1)).over(Window.partitionBy()))
        .filter(F.expr("rn = (nd + 1) DIV 2"))
        .select(F.col("med_i").alias("s_ppm"))
    )
    n_pairs = slopes.count()
    icepts = daily.crossJoin(F.broadcast(ms)).select(
        "t", F.expr("y * 1000000 - s_ppm * t").alias("i_ppm"), "s_ppm"
    )
    wint = Window.orderBy("i_ppm", "t")
    mi = (
        icepts.withColumn("rn", F.row_number().over(wint))
        .withColumn("nd", F.count(F.lit(1)).over(Window.partitionBy()))
        .filter(F.expr("rn = (nd + 1) DIV 2"))
    )
    return mi.select(
        F.col("nd").cast("long").alias("n_days"),
        F.lit(int(n_pairs)).cast("long").alias("n_pairs"),
        F.col("s_ppm").cast("long").alias("slope_ppm"),
        F.col("i_ppm").cast("long").alias("intercept_ppm"),
    )


# --- Truncated-kernel EWMA smoothing of the daily-revenue series ---------------

#: ppm weights of a truncated (8-lag) EWMA kernel, alpha = 0.3: exact
#: integer literals computed ONCE here and inlined into both engines'
#: SQL, so the smoothing is pure int64 arithmetic with zero float drift.
_EWMA_W = [round(0.3 * 0.7**j * 1_000_000) for j in range(8)]
_EWMA_WSUM = sum(_EWMA_W)


def _ewma_expr() -> str:
    """SUM_j w_j * lag_j(rev), renormalized by the used-weight mass —
    identical text on Spark and DuckDB (LAG + integer ops only)."""
    terms = " + ".join(
        f"{w} * l{j}" if j else f"{w} * rev" for j, w in enumerate(_EWMA_W)
    )
    return f"({terms})"


@register(
    "ewma_daily_revenue_orders",
    f"""
    WITH d AS (
      SELECT CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT) AS day_idx,
             CAST(SUM({_x.sql_cents('o_totalprice')}) AS BIGINT) AS rev
      FROM orders GROUP BY 1
    ),
    l AS (
      SELECT day_idx, rev,
             {', '.join(f'LAG(rev, {j}) OVER (ORDER BY day_idx) AS l{j}' for j in range(1, 8))},
             ROW_NUMBER() OVER (ORDER BY day_idx) AS rn
      FROM d
    )
    SELECT day_idx, rev AS revenue_cents,
           CAST({_ewma_expr()} // {_EWMA_WSUM} AS BIGINT) AS ewma_cents
    FROM l WHERE rn >= 8
    """,
)
def ewma_daily_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average of daily revenue with a
    truncated 8-lag kernel: weights alpha*(1-alpha)^j (alpha = 0.3) are
    precomputed ppm INTEGER literals inlined into both engines, and the
    smoothed value is sum(w_j * lag_j) DIV sum(w_j) — renormalized by
    the used-weight mass, pure int64, drift-proof. This is the FIR
    (truncated linear filter) formulation — the complement of
    ewma_user_values, which folds the exact IIR recursion with a
    higher-order aggregate over collected arrays: the FIR form keeps the
    series AS ROWS (no per-key array materialization, so a hot series
    cannot blow executor memory) at the cost of the <6%-mass dropped
    tail, and stays integer-exact where the fold is float. The FIRST 7
    rows (incomplete kernel) are excluded rather than silently biased.
    Lags are positional over the observed days (gap days shift the
    kernel, the observation-time EWMA convention; the calendar-join form
    is acf_daily_revenue_orders' pairing).

    Plan: one map-side-combined shuffle reduces orders to the ~2,400-row
    daily series; the window runs on that bounded series, so the global
    ORDER BY never sees raw volume (same posture as ACF). At 100 TB with
    many series, PARTITION BY series_id replaces the global window.

    Reference parity: no counterpart; §2.6 time-series extension
    alongside acf/seasonal/mean_shift.

    Registered for the round-7 gate window (mid-round addition)."""
    o = _t(spark, sf_dir, "orders")
    d = o.groupBy(
        F.expr(
            "unix_micros(CAST(o_orderdate AS TIMESTAMP)) DIV 86400000000"
        ).alias("day_idx")
    ).agg(
        F.expr(f"CAST(SUM({_x.sql_cents('o_totalprice')}) AS BIGINT)").alias("rev")
    )
    w = Window.orderBy("day_idx")
    lagged = d.select(
        "day_idx",
        "rev",
        *[F.lag("rev", j).over(w).alias(f"l{j}") for j in range(1, 8)],
        F.row_number().over(w).alias("rn"),
    )
    return lagged.filter(F.col("rn") >= 8).select(
        "day_idx",
        F.col("rev").alias("revenue_cents"),
        F.expr(f"CAST({_ewma_expr()} DIV {_EWMA_WSUM} AS BIGINT)").alias(
            "ewma_cents"
        ),
    )


# --- Deterministic Poisson bootstrap ------------------------------------------


def _poisson_w(u: str) -> str:
    """Poisson(1) inverse CDF over a uniform int in [0,10000) — thresholds
    are round(CDF*10000); identical text both engines."""
    return (
        f"CASE WHEN {u} < 3679 THEN 0 WHEN {u} < 7358 THEN 1"
        f" WHEN {u} < 9197 THEN 2 WHEN {u} < 9810 THEN 3"
        f" WHEN {u} < 9963 THEN 4 WHEN {u} < 9994 THEN 5"
        f" WHEN {u} < 9999 THEN 6 ELSE 7 END"
    )


def _bootstrap_oracle() -> str:
    from app_insights_generator_spark.queries.trainprep_queries import (
        _sha_bucket_sql,
    )

    u = _sha_bucket_sql("o_orderkey * 64 + j.j", 10000)
    return f"""
    WITH reps AS (SELECT unnest(range(0, 32)) AS j),
    u AS (
      SELECT j.j AS replicate, {u} AS u,
             {_x.sql_cents('o_totalprice')} AS cents
      FROM orders, reps j
    ),
    w AS (SELECT replicate, {_poisson_w('u')} AS w, cents FROM u)
    SELECT replicate,
           CAST(SUM(w) AS BIGINT) AS n_sampled,
           CAST(SUM(w * cents) AS BIGINT) AS boot_sum_cents
    FROM w GROUP BY replicate
    """


@register("poisson_bootstrap_orders", _bootstrap_oracle())
def poisson_bootstrap_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap (Chamandy et al., Google 2012) for the total-
    revenue sampling distribution, with ZERO randomness: each (row,
    replicate) draws its Poisson(1) resample weight from a sha-bucket
    uniform through the inverse CDF — the repo's deterministic-sampling
    rule extended to resampling, so confidence intervals are
    reproducible across engines, partitionings, and reruns. 32
    replicates emit exact integer (count, cents) sums; percentiles of
    those 32 numbers are the CI downstream.

    This is THE estimator for CIs at 100 TB: unlike classic bootstrap
    (which needs N draws WITH replacement = a global shuffle per
    replicate), Poisson weights are row-local — one scan computes all B
    replicates with a 32x explode and a groupBy, map-side combinable,
    no shuffle of the fact table at all.

    Registered for the round-7 gate window (post-sweep addition)."""
    o = _t(spark, sf_dir, "orders")
    # bucket computed ONCE as a column, then the CASE reads it — one sha
    # per (row, replicate) instead of one per CASE branch (no reliance on
    # cross-branch CSE in either engine)
    u = "(CAST(conv(substring(sha2(CAST(o_orderkey * 64 + j AS STRING), 256), 1, 4), 16, 10) AS INT) % 10000)"
    w = o.select(
        F.explode(F.sequence(F.lit(0), F.lit(31))).alias("j"),
        F.col("o_totalprice"),
        F.col("o_orderkey"),
    ).select(
        F.col("j").alias("replicate"),
        F.expr(u).alias("u"),
        _x.cents("o_totalprice").alias("cents"),
    ).select(
        "replicate",
        F.expr(_poisson_w("u")).alias("w"),
        "cents",
    )
    return w.groupBy("replicate").agg(
        F.sum("w").cast("long").alias("n_sampled"),
        F.expr("CAST(SUM(w * cents) AS BIGINT)").alias("boot_sum_cents"),
    )


# --- Diagonal Mahalanobis outliers ---------------------------------------------


def _mahal_term(x: str, s: str, q: str) -> str:
    """One column's ((x-mean)^2 / variance) with mean/var from exact sums;
    the SAME text runs in Spark (F.expr) and DuckDB, so every IEEE op
    matches."""
    m = f"(CAST({s} AS DOUBLE) / n)"
    return (
        f"((CAST({x} AS DOUBLE) - {m}) * (CAST({x} AS DOUBLE) - {m})"
        f" / ({q} / n - {m} * {m}))"
    )


_MAHAL_SCORE = (
    "ROUND("
    + " + ".join(
        _mahal_term(x, s, q)
        for x, s, q in [
            ("q", "s_q", "qq_q"),
            ("pc", "s_pc", "qq_pc"),
            ("db", "s_db", "qq_db"),
            ("tb", "s_tb", "qq_tb"),
        ]
    )
    + " + 1e-9, 6)"
)

_MAHAL_X = """
      SELECT l_orderkey, l_linenumber,
             CAST(ROUND(l_quantity) AS BIGINT) AS q,
             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS pc,
             CAST(ROUND(l_discount * 100) AS BIGINT) AS db,
             CAST(ROUND(l_tax * 100) AS BIGINT) AS tb
      FROM lineitem
"""

_MAHAL_MOM = """
      SELECT COUNT(*) AS n,
             CAST(SUM(q) AS BIGINT) AS s_q,
             CAST(SUM(CAST(q AS DECIMAL(18,0)) * q) AS DOUBLE) AS qq_q,
             CAST(SUM(pc) AS BIGINT) AS s_pc,
             CAST(SUM(CAST(pc AS DECIMAL(18,0)) * pc) AS DOUBLE) AS qq_pc,
             CAST(SUM(db) AS BIGINT) AS s_db,
             CAST(SUM(CAST(db AS DECIMAL(18,0)) * db) AS DOUBLE) AS qq_db,
             CAST(SUM(tb) AS BIGINT) AS s_tb,
             CAST(SUM(CAST(tb AS DECIMAL(18,0)) * tb) AS DOUBLE) AS qq_tb
      FROM x
"""


@register(
    "mahalanobis_outliers_lineitem",
    f"""
    WITH x AS ({_MAHAL_X}),
    mom AS ({_MAHAL_MOM})
    SELECT l_orderkey, l_linenumber, {_MAHAL_SCORE} AS m2
    FROM x, mom
    ORDER BY m2 DESC, l_orderkey, l_linenumber
    LIMIT 20
    """,
)
def mahalanobis_outliers_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multivariate outlier scan: diagonal Mahalanobis distance over the
    four numeric lineitem measures — the first stats question asked of
    any new fact table ("which rows are weird across ALL columns at
    once", where per-column z-scores miss jointly-odd rows). Moments are
    EXACT: integer sums for the means, DECIMAL(38) sums for the squares
    (cents² × 600k rows ≈ 6e19 overflows int64 at sf0.1 — the ACF lesson
    applied before the driver finds it), and the per-row score is built
    from ONE expression string shared verbatim by F.expr and the oracle,
    so every IEEE operation matches by construction. Rounded score +
    full-key tie-break makes the top-20 stable.

    Plan: one aggregation pass for the 1-row moment table, broadcast
    cross join back, TakeOrderedAndProject for the top-k — two scans
    total, no shuffle of the fact table.

    Registered for the round-7 gate window (post-sweep addition)."""
    li = _t(spark, sf_dir, "lineitem")
    x = li.selectExpr(
        "l_orderkey",
        "l_linenumber",
        "CAST(ROUND(l_quantity) AS BIGINT) AS q",
        "CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS pc",
        "CAST(ROUND(l_discount * 100) AS BIGINT) AS db",
        "CAST(ROUND(l_tax * 100) AS BIGINT) AS tb",
    )
    x.createOrReplaceTempView("mahal_x_v")
    mom = spark.sql(_MAHAL_MOM.replace("FROM x", "FROM mahal_x_v"))
    return (
        x.crossJoin(F.broadcast(mom))
        .selectExpr("l_orderkey", "l_linenumber", f"{_MAHAL_SCORE} AS m2")
        .orderBy(F.desc("m2"), "l_orderkey", "l_linenumber")
        .limit(20)
    )


# --- CUSUM changepoint detection over the daily-revenue series ------------------


@register(
    "cusum_changepoint_orders",
    f"""
    WITH daily AS (
      SELECT CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT) AS day_idx,
             CAST(SUM({_x.sql_cents('o_totalprice')}) AS BIGINT) // 10000 AS x
      FROM orders GROUP BY 1
    ),
    m AS (SELECT COUNT(*) AS n_days, CAST(SUM(x) AS BIGINT) AS total FROM daily),
    c AS (
      SELECT day_idx,
             CAST(SUM(x) OVER (ORDER BY day_idx
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
             CAST(ROW_NUMBER() OVER (ORDER BY day_idx) AS BIGINT) AS i
      FROM daily
    )
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY ABS(n_days * cum - i * total) DESC,
                                   day_idx) AS BIGINT) AS rank,
           day_idx,
           CAST(n_days * cum - i * total AS BIGINT) AS cusum_scaled
    FROM c, m
    ORDER BY rank
    LIMIT 10
    """,
)
def cusum_changepoint_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection (Page 1954) on the daily order-revenue
    series: the cumulative sum of mean-deviations S_i = sum_{j<=i}(x_j -
    mu) peaks in magnitude at the most likely level-shift point — the
    top-10 |S| days are the changepoint candidates a monitoring pipeline
    alerts on. Exactness: S_i is emitted SCALED BY n_days (n*cum_i -
    i*total), which clears the division mu = total/n — every value is
    pure int64 arithmetic, argmax/ordering are unchanged (positive
    constant factor), and there is no float anywhere in the query.

    int64 headroom: x is hundreds-of-dollars units (the acf discipline);
    n_days*cum <= ~5e11 at sf0.1 and grows ~10x per 10x SF plus slowly
    in n_days — ~sf100 before DECIMAL(38) moments are needed (documented
    cliff, same family as mahalanobis).

    Plan: ONE shuffle aggregates orders to the ~2,400-row daily series
    (map-side combine); the global-order window then runs on a table
    whose size is bounded by the DATE RANGE, not the row count — at
    100 TB it is still ~2,400 rows, so the single-partition window is
    not a scale hazard here (contrast systematic_weighted_sample, where
    the window input grows with the corpus and the per-shard form is
    the production path).

    Reference parity: no counterpart; §2.3 time-series extension
    alongside acf/ewma/mean_shift (mean_shift finds the best SPLIT by
    between-variance; CUSUM tracks the running deviation path and is
    the sequential-monitoring form).

    Registered as a round-8 rotation candidate (post-sweep addition)."""
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.expr(
            "unix_micros(CAST(o_orderdate AS TIMESTAMP)) DIV 86400000000"
        ).alias("day_idx")
    ).agg(
        F.expr(f"CAST(SUM({_x.sql_cents('o_totalprice')}) AS BIGINT) DIV 10000").alias(
            "x"
        )
    )
    m = daily.agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("x").cast("long").alias("total"),
    )
    wcum = Window.orderBy("day_idx").rowsBetween(Window.unboundedPreceding, 0)
    c = daily.select(
        "day_idx",
        F.sum("x").over(wcum).cast("long").alias("cum"),
        F.row_number().over(Window.orderBy("day_idx")).cast("long").alias("i"),
    ).crossJoin(F.broadcast(m))
    scored = c.select(
        "day_idx",
        F.expr("CAST(n_days * cum - i * total AS BIGINT)").alias("cusum_scaled"),
    )
    top = scored.orderBy(
        F.abs(F.col("cusum_scaled")).desc(), "day_idx"
    ).limit(10)
    wr = Window.orderBy(F.abs(F.col("cusum_scaled")).desc(), "day_idx")
    return top.select(
        F.row_number().over(wr).cast("long").alias("rank"),
        "day_idx",
        "cusum_scaled",
    )


# --- RFM customer segmentation ---------------------------------------------------


@register(
    "rfm_segments_customers",
    f"""
    WITH base AS (
      SELECT o_custkey AS custkey,
             CAST(MAX(epoch_us(o_orderdate) // 86400000000) AS BIGINT)
               AS last_day,
             CAST(COUNT(*) AS BIGINT) AS frequency,
             CAST(SUM({_x.sql_cents('o_totalprice')}) AS BIGINT) AS monetary
      FROM orders GROUP BY o_custkey
    ),
    scored AS (
      SELECT custkey, last_day, frequency, monetary,
             CAST(NTILE(5) OVER (ORDER BY last_day, custkey) AS BIGINT) AS r,
             CAST(NTILE(5) OVER (ORDER BY frequency, custkey) AS BIGINT) AS f,
             CAST(NTILE(5) OVER (ORDER BY monetary, custkey) AS BIGINT) AS m
      FROM base
    )
    SELECT r, f, m,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(monetary) AS BIGINT) AS monetary_cents,
           CAST(MIN(custkey) AS BIGINT) AS min_custkey
    FROM scored GROUP BY r, f, m
    """,
)
def rfm_segments_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation — the marketing-analytics standard: quintile
    scores for Recency (last order day), Frequency (order count), and
    Monetary (exact cents total) per customer, reported as the 125-cell
    segment grid with sizes and value. NTILE is ANSI-deterministic once
    the ORDER BY is a total order, so every score carries the custkey
    tie-break — identical assignment in both engines, no sampling or
    percentile estimation anywhere.

    Scale: one shuffle to the per-customer grain; the three NTILE
    windows run on that (already reduced) table — at 100 TB the
    per-customer table is ~1e8 rows and the production form swaps the
    global NTILE for the pre-aggregated PERCENTILE_DISC cut points of
    disc_percentiles_from_counts (same family as length_percentiles),
    trading exact quintile EDGES for a broadcastable cut table; at gate
    scale the exact window is the right plan and the gate hashes the
    full grid.

    Reference parity: no counterpart; §2.3 product-analytics extension.

    Registered as a round-8 rotation candidate (post-sweep addition)."""
    o = _t(spark, sf_dir, "orders")
    base = o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.expr("CAST(MAX(unix_micros(CAST(o_orderdate AS TIMESTAMP))"
               " DIV 86400000000) AS BIGINT)").alias("last_day"),
        F.count(F.lit(1)).cast("long").alias("frequency"),
        F.expr(f"CAST(SUM({_x.sql_cents('o_totalprice')}) AS BIGINT)").alias(
            "monetary"
        ),
    )
    scored = base.select(
        "custkey",
        "monetary",
        F.ntile(5).over(Window.orderBy("last_day", "custkey")).cast("long").alias("r"),
        F.ntile(5).over(Window.orderBy("frequency", "custkey")).cast("long").alias("f"),
        F.ntile(5).over(Window.orderBy("monetary", "custkey")).cast("long").alias("m"),
    )
    return scored.groupBy("r", "f", "m").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum("monetary").cast("long").alias("monetary_cents"),
        F.min("custkey").cast("long").alias("min_custkey"),
    )


# --- ABC / Pareto revenue classification ------------------------------------------


@register(
    "abc_classification_parts",
    f"""
    WITH rev AS (
      SELECT l_partkey AS partkey,
             CAST(SUM({_x.sql_cents('l_extendedprice')}) AS BIGINT) AS cents
      FROM lineitem GROUP BY l_partkey
    ),
    c AS (
      SELECT partkey, cents,
             CAST(SUM(cents) OVER (ORDER BY cents DESC, partkey
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
             CAST(SUM(cents) OVER () AS BIGINT) AS total
      FROM rev
    ),
    tagged AS (
      SELECT partkey, cents, total,
             CASE WHEN cum * 100 <= 80 * total THEN 'A'
                  WHEN cum * 100 <= 95 * total THEN 'B'
                  ELSE 'C' END AS cls
      FROM c
    )
    SELECT cls,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(cents) AS BIGINT) AS rev_cents,
           CAST(SUM(cents) * 10000 // ANY_VALUE(total) AS BIGINT) AS share_bp
    FROM tagged GROUP BY cls
    """,
)
def abc_classification_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC (Pareto) classification of parts by revenue — the inventory
    standard: rank parts by exact-cents revenue, class A = the head up
    to 80% of cumulative revenue, B = to 95%, C = the tail; reported as
    per-class counts, revenue, and share. The class predicate is the
    cross-multiplied integer form cum*100 <= pct*total (the KS trick) —
    no float division decides a boundary, and the DESC order carries the
    partkey tie-break.

    Scale: one shuffle to the per-part grain; the cumulative window runs
    on that reduced table (20k rows at sf0.1; at 100 TB the part
    dimension is still dimension-sized). Same bounded-window posture as
    cusum/hazard.

    Reference parity: no counterpart; §2.3 product-analytics extension.

    Registered as a round-8 rotation candidate (post-sweep addition)."""
    li = _t(spark, sf_dir, "lineitem")
    rev = li.groupBy(F.col("l_partkey").alias("partkey")).agg(
        F.expr(f"CAST(SUM({_x.sql_cents('l_extendedprice')}) AS BIGINT)").alias(
            "cents"
        )
    )
    wcum = Window.orderBy(F.desc("cents"), "partkey").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wall = Window.partitionBy()
    c = rev.select(
        "partkey",
        "cents",
        F.sum("cents").over(wcum).cast("long").alias("cum"),
        F.sum("cents").over(wall).cast("long").alias("total"),
    )
    tagged = c.select(
        "cents",
        "total",
        F.expr(
            "CASE WHEN cum * 100 <= 80 * total THEN 'A'"
            " WHEN cum * 100 <= 95 * total THEN 'B' ELSE 'C' END"
        ).alias("cls"),
    )
    return tagged.groupBy("cls").agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        F.sum("cents").cast("long").alias("rev_cents"),
        F.expr("CAST(SUM(cents) * 10000 DIV ANY_VALUE(total) AS BIGINT)").alias(
            "share_bp"
        ),
    )


# --- Zipf rank-frequency profile ----------------------------------------------


@register(
    "zipf_rank_frequency_documents",
    """
    WITH tok AS (
      SELECT unnest(list_filter(string_split_regex(
               trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), '\\s+'),
               x -> x != '')) AS term
      FROM documents
    ),
    cnt AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS n FROM tok GROUP BY term),
    ranked AS (
      SELECT term, n,
             CAST(ROW_NUMBER() OVER (ORDER BY n DESC, term) AS BIGINT) AS rank
      FROM cnt
    )
    SELECT rank, term, n, CAST(rank * n AS BIGINT) AS rank_times_n
    FROM ranked WHERE rank <= 20
    """,
)
def zipf_rank_frequency_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency profile of the corpus vocabulary: top-20 terms
    with their frequency and the rank*frequency product (constant under
    an ideal Zipf law — the corpus-health diagnostic that catches
    templated/generated text, whose head is far flatter than natural
    language). Pure integer output; the rank order carries the term
    tie-break.

    Scale: one term-count shuffle (the word_frequency exchange) and a
    top-20 TakeOrdered — no global sort of the vocabulary.

    Reference parity: no counterpart; §2.3 corpus-report extension.

    Registered as a round-8 rotation candidate (post-sweep addition)."""
    from app_insights_generator_spark.operators import text as T

    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        F.explode(T.tokens(T.normalized_text(F.col("text")))).alias("term")
    )
    cnt = tok.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("n"))
    top = cnt.orderBy(F.desc("n"), "term").limit(20)
    w = Window.orderBy(F.desc("n"), "term")
    return top.select(
        F.row_number().over(w).cast("long").alias("rank"),
        "term",
        "n",
    ).withColumn("rank_times_n", F.expr("CAST(rank * n AS BIGINT)"))


# --- Heaps-law vocabulary growth curve ------------------------------------------


@register(
    "heaps_vocab_growth_documents",
    """
    WITH tok AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(
               trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), '\\s+'),
               x -> x != '')) AS term
      FROM documents
    ),
    first_seen AS (
      SELECT term, MIN(doc_id) // 50 AS batch FROM tok GROUP BY term
    ),
    new_types AS (
      SELECT batch, CAST(COUNT(*) AS BIGINT) AS new_types
      FROM first_seen GROUP BY batch
    ),
    batch_tokens AS (
      SELECT doc_id // 50 AS batch, CAST(COUNT(*) AS BIGINT) AS batch_tokens
      FROM tok GROUP BY 1
    )
    SELECT b.batch,
           COALESCE(n.new_types, 0) AS new_types,
           CAST(SUM(COALESCE(n.new_types, 0))
                OVER (ORDER BY b.batch) AS BIGINT) AS cum_types,
           b.batch_tokens,
           CAST(SUM(b.batch_tokens) OVER (ORDER BY b.batch) AS BIGINT)
             AS cum_tokens
    FROM batch_tokens b LEFT JOIN new_types n ON n.batch = b.batch
    """,
)
def heaps_vocab_growth_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law vocabulary growth curve: distinct-type count vs tokens
    processed, in 50-document ingest batches — the corpus-health
    diagnostic COMPLEMENTING the Zipf head profile (natural language
    grows types ~K*n^beta with beta~0.4-0.6; a templated/synthetic
    corpus plateaus almost immediately, a contaminated merge jumps).
    Each type is attributed to the batch of its FIRST occurrence
    (MIN(doc_id) per term — exact, order-independent), so the curve is
    a pure aggregation, not a sequential scan.

    Scale: one term shuffle with map-side combine (the word_frequency
    exchange) for first-seen, one for batch token counts; the cumsum
    windows run over the BATCH grain (rows = corpus/50 docs — bounded
    telemetry, the acf/ewma convention for global-order windows). All
    integers end to end.

    Reference parity: no counterpart; §2.3 corpus-report extension.
    Registered on ROTATION_NEXT (round-9 window; post-sweep addition)."""
    from app_insights_generator_spark.operators import text as T

    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.explode(T.tokens(T.normalized_text(F.col("text")))).alias("term"),
    )
    first_seen = tok.groupBy("term").agg(
        F.expr("MIN(doc_id) DIV 50").alias("batch")
    )
    new_types = first_seen.groupBy("batch").agg(
        F.count(F.lit(1)).cast("long").alias("new_types")
    )
    batch_tokens = tok.groupBy(F.expr("doc_id DIV 50").alias("batch")).agg(
        F.count(F.lit(1)).cast("long").alias("batch_tokens")
    )
    w = Window.orderBy("batch").rowsBetween(Window.unboundedPreceding, 0)
    return (
        batch_tokens.join(new_types, "batch", "left")
        .select(
            "batch",
            F.coalesce("new_types", F.lit(0)).cast("long").alias("new_types"),
            "batch_tokens",
        )
        .withColumn("cum_types", F.sum("new_types").over(w).cast("long"))
        .withColumn("cum_tokens", F.sum("batch_tokens").over(w).cast("long"))
        .select("batch", "new_types", "cum_types", "batch_tokens", "cum_tokens")
    )


# --- Mann-Kendall trend test over the daily-revenue series ---------------------


@register(
    "mann_kendall_daily_revenue_orders",
    f"""
    WITH d AS (
      SELECT CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT) AS day_idx,
             CAST(SUM({_x.sql_cents('o_totalprice')}) AS BIGINT) AS x
      FROM orders GROUP BY 1
    ),
    p AS (
      SELECT CASE WHEN b.x > a.x THEN 1 WHEN b.x < a.x THEN -1 ELSE 0 END AS sgn
      FROM d a JOIN d b ON b.day_idx > a.day_idx
    ),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM d),
    tt AS (
      SELECT CAST(COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT) AS tie18
      FROM (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM d GROUP BY x) g
      WHERE t > 1
    ),
    ss AS (SELECT CAST(COALESCE(SUM(sgn), 0) AS BIGINT) AS s_stat FROM p)
    SELECT n AS n_days, s_stat,
           n * (n - 1) * (2 * n + 5) - tie18 AS var18,
           CASE WHEN s_stat > 0 THEN CAST(s_stat - 1 AS DOUBLE)
                     / SQRT(CAST(n * (n - 1) * (2 * n + 5) - tie18 AS DOUBLE) / 18.0)
                WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE)
                     / SQRT(CAST(n * (n - 1) * (2 * n + 5) - tie18 AS DOUBLE) / 18.0)
                ELSE 0.0 END AS z_mk
    FROM nn, tt, ss
    """,
)
def mann_kendall_daily_revenue_orders(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Mann-Kendall nonparametric trend test (Mann 1945, Kendall 1975)
    on the daily order-revenue series: S = sum over day pairs i<j of
    sign(x_j - x_i), with the tie-corrected variance
    Var(S) = [n(n-1)(2n+5) - sum_t t(t-1)(2t+5)] / 18 and the standard
    continuity-corrected normal score. The monotone-trend complement of
    cusum_changepoint (level shift) and acf (serial correlation): MK
    asks "is revenue drifting up or down at all?" with no linearity or
    distribution assumption — the drift-watch statistic a curation
    dashboard runs per source over ingest volume.

    Exactness: S, n, tie18 and var18 = 18*Var(S) are pure int64 (signs
    via an identical CASE in both engines — no SIGN() builtin, whose
    return TYPE differs across engines); the only float is the final
    continuity-corrected z = (S -/+ 1)/sqrt(var18/18.0) — one identical
    IEEE division+sqrt chain on identical integers (acf discipline).
    int64 headroom: var18 ~ 2n³ is 2.8e10 at n=2,400 days; the pair sum
    |S| <= n(n-1)/2 ~ 2.9e6. Both calendar-bounded, not row-bounded.

    Plan: one map-side-combined shuffle reduces orders to the daily
    series (bounded by the CALENDAR, ~2,400 rows, like acf/ewma); the
    i<j pair expansion is a broadcast nested-loop self-join of that
    bounded grid — grid² = 5.8M sign comparisons regardless of corpus
    size — then three 1-row aggregates. At 100 TB the daily series is
    the same size; per-source MK adds a partition key to every step.

    Reference parity: no counterpart; §2.6 time-series extension.
    Registered on ROTATION_NEXT (round-10 window; post-sweep addition)."""
    o = _t(spark, sf_dir, "orders")
    d = o.groupBy(
        F.expr(
            "unix_micros(CAST(o_orderdate AS TIMESTAMP)) DIV 86400000000"
        ).alias("day_idx")
    ).agg(
        F.expr(f"CAST(SUM({_x.sql_cents('o_totalprice')}) AS BIGINT)").alias("x")
    )
    d = pin(d)  # fan-out: pairs, n, ties below
    b = d.select(F.col("day_idx").alias("b_day"), F.col("x").alias("y"))
    p = d.join(F.broadcast(b), F.col("b_day") > F.col("day_idx")).select(
        F.expr(
            "CASE WHEN y > x THEN 1 WHEN y < x THEN -1 ELSE 0 END"
        ).alias("sgn")
    )
    nn = d.agg(F.count(F.lit(1)).cast("long").alias("n"))
    tt = (
        d.groupBy("x")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
        .filter(F.col("t") > 1)
        .agg(
            F.coalesce(F.sum(F.expr("t * (t - 1) * (2 * t + 5)")), F.lit(0))
            .cast("long")
            .alias("tie18")
        )
    )
    ss = p.agg(
        F.coalesce(F.sum("sgn"), F.lit(0)).cast("long").alias("s_stat")
    )
    return (
        nn.crossJoin(F.broadcast(tt))
        .crossJoin(F.broadcast(ss))
        .select(
            F.col("n").alias("n_days"),
            "s_stat",
            F.expr("n * (n - 1) * (2 * n + 5) - tie18").alias("var18"),
            F.expr(
                "CASE WHEN s_stat > 0 THEN CAST(s_stat - 1 AS DOUBLE)"
                " / SQRT(CAST(n * (n - 1) * (2 * n + 5) - tie18 AS DOUBLE) / 18.0)"
                " WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE)"
                " / SQRT(CAST(n * (n - 1) * (2 * n + 5) - tie18 AS DOUBLE) / 18.0)"
                " ELSE 0.0 END"
            ).alias("z_mk"),
        )
    )


# --- Holt linear-trend smoothing of the weekly-revenue series -------------------


@register(
    "holt_trend_weekly_revenue_orders",
    f"""
    WITH RECURSIVE wk AS (
      SELECT CAST(epoch_us(o_orderdate) // 604800000000 AS BIGINT) AS week_idx,
             CAST(SUM({_x.sql_cents('o_totalprice')}) AS BIGINT) AS rev
      FROM orders GROUP BY 1
    ),
    d AS (
      SELECT week_idx, rev,
             CAST(ROW_NUMBER() OVER (ORDER BY week_idx) AS BIGINT) AS rn
      FROM wk
    ),
    rec AS (
      SELECT CAST(1 AS BIGINT) AS rn, d1.week_idx, d1.rev,
             d1.rev AS l, d2.rev - d1.rev AS b
      FROM d d1 JOIN d d2 ON d1.rn = 1 AND d2.rn = 2
      UNION ALL
      SELECT n.rn, n.week_idx, n.rev,
             (2 * n.rev + 8 * (r.l + r.b)) // 10 AS l,
             (((2 * n.rev + 8 * (r.l + r.b)) // 10) - r.l + 9 * r.b) // 10 AS b
      FROM rec r JOIN d n ON n.rn = r.rn + 1
    )
    SELECT rn, week_idx, rev AS rev_cents, l AS level_c, b AS trend_c,
           l + b AS forecast_c
    FROM rec WHERE rn % 4 = 0
    """,
)
def holt_trend_weekly_revenue_orders(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Holt double exponential smoothing (Holt 1957) — level + linear
    trend — over the weekly order-revenue series, alpha = 0.2, beta =
    0.1 as exact integer rationals: l_t = (2*y_t + 8*(l+b)) / 10 and
    b_t = ((l_t - l) + 9*b) / 10 with TRUNCATING integer division (both
    engines truncate toward zero: Spark's grouped-map core uses an
    explicit trunc-div — Python's // FLOORS, the cross-engine trap this
    docstring exists to record — and DuckDB's integer // truncates).
    Seeded l_1 = y_1, b_1 = y_2 - y_1; every 4th week emitted with its
    one-step forecast l + b. The trend-aware upgrade of the EWMA pair
    (ewma_daily = FIR form, ewma_user = IIR fold): Holt's recursion is
    DATA-DEPENDENT in two coupled states, which neither a window
    function nor a fold expresses — so the Spark side is a grouped-map
    over the bounded series and the oracle is a WITH RECURSIVE chain,
    the pack_next_fit twin pattern applied to time series.

    Exactness: pure int64 cents throughout — no float in either engine;
    the recursion is bit-identical by construction (trunc-div + exact
    integer adds).

    Scale: one map-side-combined shuffle reduces orders to the ~350-row
    weekly series (CALENDAR-bounded, like acf/ewma — the series does
    not grow with corpus size); the recursion runs in one grouped-map
    task over that bounded series (O(weeks) Python, trivially small).
    At 100 TB with many series, the group key becomes series_id and
    shards parallelize exactly like pack_next_fit's.

    Reference parity: no counterpart; §2.6 time-series extension.
    Registered on ROTATION_NEXT (round-10 window; post-sweep addition)."""
    import pandas as pd

    o = _t(spark, sf_dir, "orders")
    wk = o.groupBy(
        F.expr(
            "unix_micros(CAST(o_orderdate AS TIMESTAMP)) DIV 604800000000"
        ).alias("week_idx")
    ).agg(
        F.expr(f"CAST(SUM({_x.sql_cents('o_totalprice')}) AS BIGINT)").alias(
            "rev"
        )
    )

    def _holt(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("week_idx").reset_index(drop=True)
        y = [int(v) for v in pdf["rev"]]
        wkx = [int(v) for v in pdf["week_idx"]]
        if len(y) < 2:
            return pd.DataFrame(
                columns=[
                    "rn", "week_idx", "rev_cents", "level_c", "trend_c",
                    "forecast_c",
                ]
            )

        def tdiv(a: int, d: int) -> int:
            # Truncate toward zero (Spark DIV / DuckDB // semantics);
            # Python's // floors, which differs on negatives.
            q = abs(a) // d
            return q if a >= 0 else -q

        lev, tr = y[0], y[1] - y[0]
        out = []
        for t in range(1, len(y)):
            lev_new = tdiv(2 * y[t] + 8 * (lev + tr), 10)
            tr = tdiv((lev_new - lev) + 9 * tr, 10)
            lev = lev_new
            rn = t + 1
            if rn % 4 == 0:
                out.append((rn, wkx[t], y[t], lev, tr, lev + tr))
        return pd.DataFrame(
            out,
            columns=[
                "rn", "week_idx", "rev_cents", "level_c", "trend_c",
                "forecast_c",
            ],
        )

    return (
        wk.withColumn("g", F.lit(0))
        .groupBy("g")
        .applyInPandas(
            _holt,
            "rn long, week_idx long, rev_cents long, level_c long,"
            " trend_c long, forecast_c long",
        )
    )


# --- Gini coefficient of customer revenue concentration --------------------------


@register(
    "gini_revenue_customers",
    f"""
    WITH per_cust AS (
      SELECT o_custkey, CAST(SUM({_x.sql_cents('o_totalprice')}) AS BIGINT) AS x
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT x, CAST(ROW_NUMBER() OVER (ORDER BY x, o_custkey) AS BIGINT) AS i
      FROM per_cust
    ),
    mom AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(i * x) AS BIGINT) AS six
      FROM ranked
    )
    SELECT n AS n_customers, sx AS total_cents,
           CAST(2 * six - (n + 1) * sx AS DOUBLE)
             / CAST(n * sx AS DOUBLE) AS gini
    FROM mom
    """,
)
def gini_revenue_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of revenue concentration across customers — the
    standard inequality measure next to HHI (hhi_supplier_concentration):
    G = (2·Σ i·x_(i) − (n+1)·Σx) / (n·Σx) over the ascending-sorted
    per-customer revenue: rank i is total-ordered by (cents, custkey),
    numerator and denominator are exact int64 moments, and gini is the
    single final float division with identical text in both engines
    (the acf discipline — an integer-ppm final was measured to
    overflow: numerator·1e6 ≈ 2e20 at sf0.01, ARITHMETIC_OVERFLOW
    under ANSI). The token-domain sibling is token_gini_by_source;
    this is the revenue-concentration member next to
    hhi_supplier_concentration.

    int64 headroom (pre-ppm moments only): Σ i·x at sf0.1 ≈ 1e16;
    ~100× per 10× SF → per-year strata fallback documented at ~sf1
    (the bm25 discipline).

    Plan: one shuffle to the customer grain, one global sort of the
    bounded customer table for the rank, a 1-row moment aggregate. At
    100 TB the global ORDER BY over customers is the honest cost — the
    same posture as the equidepth percentile family. The 100 TB path is
    the GATED histogram twin ``gini_revenue_histogram_customers``
    (identical moments from the bounded distinct-value grid;
    equivalence-pinned in tests/test_round9b_queries.py).

    Reference parity: no counterpart; §2.2 analytics extension.
    Registered on ROTATION_NEXT (round-11 window; post-sweep addition)."""
    o = _t(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.expr(f"CAST(SUM({_x.sql_cents('o_totalprice')}) AS BIGINT)").alias(
            "x"
        )
    )
    ranked = per_cust.select(
        "x",
        F.row_number()
        .over(Window.orderBy("x", "o_custkey"))
        .cast("long")
        .alias("i"),
    )
    mom = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum(F.expr("i * x")).cast("long").alias("six"),
    )
    return mom.select(
        F.col("n").alias("n_customers"),
        F.col("sx").alias("total_cents"),
        F.expr(
            "CAST(2 * six - (n + 1) * sx AS DOUBLE)"
            " / CAST(n * sx AS DOUBLE)"
        ).alias("gini"),
    )


# --- Gini, histogram form (the 100 TB scale path) ---------------------------------


@register(
    "gini_revenue_histogram_customers",
    f"""
    WITH per_cust AS (
      SELECT o_custkey, CAST(SUM({_x.sql_cents('o_totalprice')}) AS BIGINT) AS x
      FROM orders GROUP BY o_custkey
    ),
    hist AS (
      SELECT x, CAST(COUNT(*) AS BIGINT) AS c FROM per_cust GROUP BY x
    ),
    cum AS (
      SELECT x, c,
             CAST(COALESCE(SUM(c) OVER (ORDER BY x
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS BIGINT) AS cp
      FROM hist
    ),
    mom AS (
      SELECT CAST(SUM(c) AS BIGINT) AS n,
             CAST(SUM(x * c) AS BIGINT) AS sx,
             CAST(SUM(x * (c * cp + c * (c + 1) // 2)) AS BIGINT) AS six
      FROM cum
    )
    SELECT n AS n_customers, sx AS total_cents,
           CAST(2 * six - (n + 1) * sx AS DOUBLE)
             / CAST(n * sx AS DOUBLE) AS gini
    FROM mom
    """,
)
def gini_revenue_histogram_customers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Gini coefficient from the PRE-AGGREGATED value histogram — the
    100 TB form of gini_revenue_customers (VERDICT r10 item 6): instead
    of ranking every customer row with a global-sort window, revenues
    collapse to the bounded (cents, count) grid first, and the rank
    moment is reconstructed per tie-run in closed form. For a run of c
    equal values x whose cumulative strictly-smaller count is cp, the
    row-level ranks are cp+1..cp+c, so Σ i·x over the run is
    x·(c·cp + c·(c+1)/2) — EXACTLY the row-level Σ i·x (rank ties all
    carry the same x, so the custkey tiebreak cannot change the moment).
    Equivalence is pinned bit-for-bit against the row-level form
    (tests/test_round9b_queries.py), the
    length_percentiles_by_source precedent.

    Plan: one shuffle to the customer grain, one shuffle to the VALUE
    grid (bounded by distinct revenue cents, ~n at tiny SF but sublinear
    at scale and trivially strata-partitionable), a window over the
    grid, a 1-row moment aggregate — the global sort now touches the
    grid, not the customer table. c·(c+1) is even, so //2 and DIV 2 are
    exact in both engines; all moments stay int64 with the same
    headroom budget as the row-level form.

    Reference parity: no counterpart; §2.2 analytics extension.
    Registered on ROTATION_NEXT (round-12 rotation; post-sweep addition)."""
    o = _t(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.expr(f"CAST(SUM({_x.sql_cents('o_totalprice')}) AS BIGINT)").alias(
            "x"
        )
    )
    hist = per_cust.groupBy("x").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    cum = hist.withColumn(
        "cp",
        F.coalesce(
            F.sum("c").over(
                Window.orderBy("x").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        ).cast("long"),
    )
    mom = cum.agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(F.expr("x * c")).cast("long").alias("sx"),
        F.sum(F.expr("x * (c * cp + c * (c + 1) DIV 2)"))
        .cast("long")
        .alias("six"),
    )
    return mom.select(
        F.col("n").alias("n_customers"),
        F.col("sx").alias("total_cents"),
        F.expr(
            "CAST(2 * six - (n + 1) * sx AS DOUBLE)"
            " / CAST(n * sx AS DOUBLE)"
        ).alias("gini"),
    )


# --- Friedman test: weekday effect on daily revenue -------------------------------


@register(
    "friedman_weekday_revenue_orders",
    f"""
    WITH daily AS (
      SELECT CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT) AS d,
             CAST(SUM({_x.sql_cents('o_totalprice')}) AS BIGINT) AS x
      FROM orders GROUP BY 1
    ),
    wk AS (SELECT d // 7 AS week, d % 7 AS wd, x FROM daily),
    complete AS (SELECT week FROM wk GROUP BY week HAVING COUNT(*) = 7),
    r AS (
      SELECT w.week, w.wd,
             CAST(ROW_NUMBER() OVER (PARTITION BY w.week
                                     ORDER BY w.x, w.wd) AS BIGINT) AS rnk
      FROM wk w JOIN complete USING (week)
    ),
    sums AS (SELECT wd, CAST(SUM(rnk) AS BIGINT) AS rsum FROM r GROUP BY wd),
    nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM complete),
    qstat AS (SELECT CAST(SUM(rsum * rsum) AS BIGINT) AS srr FROM sums)
    SELECT CAST(wd AS BIGINT) AS weekday, rsum,
           nb.n AS n_weeks,
           12.0 * CAST(srr AS DOUBLE)
             / (CAST(nb.n AS DOUBLE) * 7.0 * 8.0)
             - 3.0 * CAST(nb.n AS DOUBLE) * 8.0 AS friedman_q
    FROM sums, nb, qstat
    """,
)
def friedman_weekday_revenue_orders(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Friedman rank test for a weekday effect on daily revenue — the
    nonparametric repeated-measures ANOVA (blocks = complete epoch
    weeks, treatments = the 7 weekday slots): within each week the
    seven daily revenues are ranked 1..7 (total-ordered by (cents,
    weekday) — revenue-cent ties are broken deterministically so both
    engines rank identically), per-weekday rank sums are exact int64,
    and Q = 12·ΣR_j²/(n·k·(k+1)) − 3·n·(k+1) with k=7 is the single
    final float expression. Completes the rank-test family
    (Mann-Whitney = two groups, Kruskal-Wallis = independent groups,
    Friedman = blocked/repeated measures). Weekday is epoch-day MOD 7
    — calendar-library-free, so no engine disagreement on week start;
    incomplete edge weeks are excluded by the HAVING count(*) = 7
    guard (the censoring-correct discipline).

    Plan: one shuffle to the ~2,400-row daily series; ranks run per
    7-row week partition; everything after is a 7-row aggregate.

    Reference parity: no counterpart; §2.2 analytics extension.
    Registered on ROTATION_NEXT (round-11 window; post-sweep addition)."""
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.expr(
            "unix_micros(CAST(o_orderdate AS TIMESTAMP)) DIV 86400000000"
        ).alias("d")
    ).agg(
        F.expr(f"CAST(SUM({_x.sql_cents('o_totalprice')}) AS BIGINT)").alias(
            "x"
        )
    )
    wk = daily.select(
        F.expr("d DIV 7").alias("week"), F.expr("d % 7").alias("wd"), "x"
    )
    complete = wk.groupBy("week").count().filter(F.col("count") == 7).select(
        "week"
    )
    r = wk.join(F.broadcast(complete), "week").select(
        "week",
        "wd",
        F.row_number()
        .over(Window.partitionBy("week").orderBy("x", "wd"))
        .cast("long")
        .alias("rnk"),
    )
    sums = r.groupBy("wd").agg(F.sum("rnk").cast("long").alias("rsum"))
    nb = complete.agg(F.count(F.lit(1)).cast("long").alias("n"))
    qstat = sums.agg(F.sum(F.expr("rsum * rsum")).cast("long").alias("srr"))
    return (
        sums.crossJoin(F.broadcast(nb))
        .crossJoin(F.broadcast(qstat))
        .select(
            F.col("wd").cast("long").alias("weekday"),
            "rsum",
            F.col("n").alias("n_weeks"),
            F.expr(
                "12.0 * CAST(srr AS DOUBLE)"
                " / (CAST(n AS DOUBLE) * 7.0 * 8.0)"
                " - 3.0 * CAST(n AS DOUBLE) * 8.0"
            ).alias("friedman_q"),
        )
    )
