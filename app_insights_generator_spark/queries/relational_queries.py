"""Relational breadth (SURVEY.md §2.2 / §7 M4): joins, windows, sorts,
set ops, distinct aggregates, rollup/grouping-id, date & JSON functions.

The reference has NONE of these (zero .join/Window/orderBy calls in
main.py); they're required engine surface for the rebuild. Scale notes per
query: dims (region/nation/customer/supplier) are broadcast so the fact
scan never shuffles for them; window queries partition on high-cardinality
keys; all double aggregates are rounded so results are stable across
engines and partition orders.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from app_insights_generator_spark.operators.checkpointing import pin
from app_insights_generator_spark.queries import _exact as _x
from app_insights_generator_spark.queries import ORACLES, register
from app_insights_generator_spark.sources import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# --- aggregation (TPC-H Q1 shape) -------------------------------------------

@register(
    "q1_pricing_summary",
    f"""
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2) AS sum_qty,
           {_x.sql_cents_sum('l_extendedprice')} AS sum_base_price,
           {_x.sql_cents_sum_disc_price()} AS sum_disc_price,
           {_x.sql_cents_sum_charge()} AS sum_charge,
           ROUND(AVG(l_quantity) + 1e-9, 2) AS avg_qty,
           ROUND((SUM({_x.sql_cents('l_extendedprice')}) / CAST(100 AS DOUBLE))
                 / COUNT(*) + 1e-9, 2) AS avg_price,
           ROUND((SUM({_x.sql_cents('l_discount')}) / CAST(100 AS DOUBLE))
                 / COUNT(*) + 1e-9, 4) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial+final hash aggregation with multiple aggregates; the filter
    pushes into the parquet scan (PushedFilters on l_shipdate). Money sums
    run as exact integer-cents BIGINT aggregates on the codegen'd long
    fast path (value-identical to the DECIMAL path, measured 32% faster —
    _exact.py cents rationale); quantity is integral, hence exact in
    double; averages divide the exact cents sum by the row count."""
    li = _t(spark, sf_dir, "lineitem")
    cnt = F.count(F.lit(1))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            _x.cents_sum("l_extendedprice").alias("sum_base_price"),
            _x.cents_sum_disc_price().alias("sum_disc_price"),
            _x.cents_sum_charge().alias("sum_charge"),
            F.round(F.avg("l_quantity") + 1e-9, 2).alias("avg_qty"),
            F.round(_x.cents_sum("l_extendedprice") / cnt + 1e-9, 2).alias(
                "avg_price"
            ),
            F.round(_x.cents_sum("l_discount") / cnt + 1e-9, 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# --- joins -------------------------------------------------------------------

@register(
    "join_revenue_by_nation",
    """
    SELECT n.n_name AS nation, r.r_name AS region,
           (SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) / CAST(100 AS DOUBLE))
             AS revenue,
           COUNT(*) AS n_orders
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    GROUP BY n.n_name, r.r_name
    """,
)
def join_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-hop equi-joins; every dim is broadcast (no shuffle of the
    orders fact for the join — only the final group-by shuffles)."""
    o = _t(spark, sf_dir, "orders")
    c = F.broadcast(_t(spark, sf_dir, "customer"))
    n = F.broadcast(_t(spark, sf_dir, "nation"))
    r = F.broadcast(_t(spark, sf_dir, "region"))
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"), F.col("r_name").alias("region"))
        .agg(
            _x.cents_sum("o_totalprice").alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


@register(
    "semi_join_active_customers",
    """
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 150000)
    """,
)
def semi_join_active_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS). The orders side is filtered before the
    join, so the semi-join probe set is small."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 150_000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


@register(
    "anti_join_customers_without_orders",
    """
    SELECT c_custkey, c_name
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def anti_join_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (NOT EXISTS) — null-safe, unlike NOT IN."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@register(
    "supplier_part_theta_join",
    """
    SELECT s.s_suppkey, COUNT(*) AS n_cheaper_parts
    FROM supplier s
    JOIN part p ON p.p_retailprice < s.s_acctbal
    GROUP BY s.s_suppkey
    """,
)
def supplier_part_theta_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta (non-equi) join -> broadcast nested loop; only viable because
    one side is a broadcastable dim. Never do this fact-to-fact."""
    s = _t(spark, sf_dir, "supplier")
    p = _t(spark, sf_dir, "part")
    return (
        s.join(F.broadcast(p), p.p_retailprice < s.s_acctbal)
        .groupBy("s_suppkey")
        .agg(F.count(F.lit(1)).alias("n_cheaper_parts"))
    )


# --- window functions --------------------------------------------------------

@register(
    "window_top3_orders_per_customer",
    """
    SELECT o_custkey, o_orderkey, o_totalprice, rn
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    ) WHERE rn <= 3
    """,
)
def window_top3_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group via ranking window; the o_orderkey tiebreak makes it
    deterministic. Single shuffle on the partition key."""
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        _t(spark, sf_dir, "orders")
        .select("o_custkey", "o_orderkey", "o_totalprice", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 3)
    )


@register(
    "window_running_revenue",
    """
    SELECT o_custkey, o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS order_date,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(14,2))) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS DOUBLE)
             AS running_revenue,
           ROUND(o_totalprice - LAG(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey), 2) AS delta_prev
    FROM orders
    """,
)
def window_running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running sum + lag analytic frame. Dates are emitted as strings so
    cross-engine timestamp rendering can't drift."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return _t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        F.round(F.sum(_x.money("o_totalprice")).over(frame), 2).cast("double").alias("running_revenue"),
        F.round(F.col("o_totalprice") - F.lag("o_totalprice").over(w), 2).alias("delta_prev"),
    )


# --- sorts / limits ----------------------------------------------------------

@register(
    "top10_parts_by_price",
    """
    SELECT p_partkey, p_name, p_retailprice
    FROM part
    ORDER BY p_retailprice DESC, p_partkey
    LIMIT 10
    """,
)
def top10_parts_by_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: Spark plans TakeOrderedAndProject (per-partition heap
    + driver merge), not a full sort."""
    return (
        _t(spark, sf_dir, "part")
        .select("p_partkey", "p_name", "p_retailprice")
        .orderBy(F.col("p_retailprice").desc(), F.col("p_partkey"))
        .limit(10)
    )


# --- set operations ----------------------------------------------------------

@register(
    "setop_nations_intersect",
    """
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey AS nationkey FROM supplier
    """,
)
def setop_nations_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s)


@register(
    "setop_nations_except",
    """
    SELECT c_nationkey AS nationkey FROM customer
    EXCEPT
    SELECT s_nationkey AS nationkey FROM supplier
    """,
)
def setop_nations_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.subtract(s)


# --- distinct aggregates -----------------------------------------------------

@register(
    "distinct_parts_per_flag",
    """
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS distinct_parts,
           COUNT(DISTINCT l_suppkey) AS distinct_suppliers,
           COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def distinct_parts_per_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact multi-distinct aggregation (Expand-based in Spark)."""
    return (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("distinct_parts"),
            F.countDistinct("l_suppkey").alias("distinct_suppliers"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


@register(
    "approx_distinct_parts",
    """
    SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS exact_parts,
           CAST(0 AS INT) AS n_violations
    FROM lineitem GROUP BY l_returnflag
    """,
)
def approx_distinct_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) — the 100 TB path where exact
    distinct would shuffle every key.

    Gated via the HLL standard-error invariant (the framing that
    graduated cms_event_type_freq in round 2): the sketch bytes differ per
    engine, so the oracle anchors the EXACT per-group distinct count and
    asserts zero bound violations — rsd 0.01 means a 5% deviation is >5
    sigma, and the estimate is deterministic on fixed data. pytest keeps
    the tighter <2% assertion."""
    est = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_partkey", 0.01).alias("approx_parts"),
            F.count_distinct("l_partkey").alias("exact_parts"),
        )
    )
    viol = (
        F.abs(F.col("approx_parts") - F.col("exact_parts"))
        > 0.05 * F.col("exact_parts")
    )
    return est.select(
        "l_returnflag",
        "exact_parts",
        F.when(viol, 1).otherwise(0).cast("int").alias("n_violations"),
    )


# --- rollup / grouping sets with grouping id ---------------------------------

@register(
    "rollup_orders_status_priority",
    """
    SELECT o_orderstatus, o_orderpriority,
           2 * GROUPING(o_orderstatus) + GROUPING(o_orderpriority) AS gid,
           COUNT(*) AS n, CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(14,2))), 2) AS DOUBLE) AS revenue
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def rollup_orders_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native rollup with grouping_id (first grouping column = MSB in both
    Spark and the oracle's 2*g(a)+g(b))."""
    return (
        _t(spark, sf_dir, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping_id().alias("gid"),
            F.count(F.lit(1)).alias("n"),
            _x.money_sum(_x.money("o_totalprice")).alias("revenue"),
        )
        .select("o_orderstatus", "o_orderpriority", "gid", "n", "revenue")
    )


@register(
    "approx_ndv_sweep_audit_lineitem",
    """
    SELECT l_returnflag, l_linestatus,
           2 * GROUPING(l_returnflag) + GROUPING(l_linestatus) AS gid,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_nd,
           CAST(0 AS INT) AS n_violations
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def approx_ndv_sweep_audit_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct under GROUPING SETS — the one sketch family
    not yet audit-paired inside the sweep path (VERDICT r07 item 8). The
    insight-sweep engine computes COUNT per set; a 100 TB NDV-profiling
    variant swaps in HLL++ sketches, and this audits that swap across
    the whole CUBE lattice at once: per grouping set, the EXACT distinct
    part count is hash-gated against DuckDB, while Spark's
    approx_count_distinct(rsd=0.01) estimate is enforced by the HLL
    standard-error invariant (|approx - exact| <= 5% of exact, > 5 sigma
    at rsd 0.01; the approx_distinct_parts / hll_union_ndv gate design —
    sketch estimates are deterministic on fixed data but implementation
    detail, so they stay out of the cross-engine hash and inside the
    in-query bound). Key scale property exercised: the sketch is a
    PARTIAL AGGREGATE under Expand — one pass computes every set's
    estimate map-side, where exact DISTINCT under grouping sets must
    re-shuffle the key per set.

    Reference parity: no counterpart; §2.2 distinct/approx-aggregate
    family under the §2.1 sweep lattice. Registered on ROTATION_NEXT
    (round-9 window; post-sweep addition)."""
    est = (
        _t(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().alias("gid"),
            F.count_distinct("l_partkey").cast("long").alias("exact_nd"),
            F.approx_count_distinct("l_partkey", 0.01).alias("approx_nd"),
        )
    )
    viol = (
        F.abs(F.col("approx_nd") - F.col("exact_nd")) > 0.05 * F.col("exact_nd")
    )
    return est.select(
        "l_returnflag",
        "l_linestatus",
        "gid",
        "exact_nd",
        F.when(viol, 1).otherwise(0).cast("int").alias("n_violations"),
    )


# --- date / JSON scalar functions -------------------------------------------

@register(
    "orders_by_year_month",
    """
    SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
           CAST(month(o_orderdate) AS INTEGER) AS o_month,
           COUNT(*) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(14,2))), 2) AS DOUBLE) AS revenue
    FROM orders
    GROUP BY 1, 2
    """,
)
def orders_by_year_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "orders")
        .groupBy(
            F.year("o_orderdate").alias("o_year"), F.month("o_orderdate").alias("o_month")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _x.money_sum(_x.money("o_totalprice")).alias("revenue"),
        )
    )


@register(
    "json_extract_events",
    """
    SELECT event_type,
           COUNT(*) AS n,
           ROUND(AVG(CAST(json_extract_string(props, '$.k') AS INTEGER)) + 1e-9, 2) AS avg_k
    FROM events
    GROUP BY event_type
    """,
)
def json_extract_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON field extraction from the events.props string column
    (get_json_object stays JVM-side — no UDF)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg(F.get_json_object("props", "$.k").cast("int")) + 1e-9, 2).alias("avg_k"),
    )


# --- multi-join analytics (TPC-H Q3/Q5 shapes) -------------------------------

@register(
    "q3_shipping_priority",
    """
    SELECT l.l_orderkey,
           CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(14,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS revenue,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
           o.o_orderpriority
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1996-06-01 00:00:00'
      AND l.l_shipdate  > TIMESTAMP '1996-06-01 00:00:00'
    GROUP BY l.l_orderkey, orderdate, o.o_orderpriority
    ORDER BY revenue DESC, l.l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter -> broadcast join into the fact
    -> aggregate -> global top-k. Customer is filtered BEFORE the broadcast
    so only the BUILDING segment ships to executors; the lineitem scan gets
    the l_shipdate predicate pushed down. Top-k is deterministic via the
    l_orderkey tiebreak (LIMIT under ties is engine-dependent otherwise)."""
    cutoff = F.lit("1996-06-01 00:00:00").cast("timestamp")
    c = F.broadcast(
        _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    )
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .groupBy(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .agg(
            _x.money_sum(_x.disc_price()).alias("revenue")
        )
        .select("l_orderkey", "revenue", "orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


@register(
    "q5_local_supplier_volume",
    """
    SELECT n.n_name AS nation,
           CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(14,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n.n_name
    """,
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 5-way join where every dim side is broadcast, so the
    only shuffles are the fact-fact orders<->lineitem join and the final
    group-by. The c_nationkey = s_nationkey theta-term rides on the
    broadcast hash join rather than forcing a shuffle."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    c = F.broadcast(_t(spark, sf_dir, "customer"))
    s = F.broadcast(_t(spark, sf_dir, "supplier"))
    n = F.broadcast(_t(spark, sf_dir, "nation"))
    r = F.broadcast(_t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA"))
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(s, (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
        .join(n, s.s_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            _x.money_sum(_x.disc_price()).alias("revenue")
        )
    )


# --- skew mitigation (operators/skew.py) -------------------------------------

@register(
    "salted_agg_lineitem",
    """
    SELECT l_returnflag,
           ROUND(SUM(l_quantity), 2) AS sum_qty,
           COUNT(l_extendedprice) AS n_items,
           ROUND(MIN(l_extendedprice), 2) AS min_price,
           ROUND(MAX(l_extendedprice), 2) AS max_price,
           ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE)
                 / COUNT(l_discount) + 1e-9, 4) AS avg_disc
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def salted_agg_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation over a 3-value (maximally skewed) key:
    phase 1 spreads each group over 16 salt sub-groups, phase 2 merges.
    The oracle is a plain GROUP BY — salting must not change a single
    value."""
    from app_insights_generator_spark.operators.skew import salted_groupby

    li = _t(spark, sf_dir, "lineitem")
    out = salted_groupby(
        li,
        ["l_returnflag"],
        {
            "sum_qty": ("sum", "l_quantity"),
            "n_items": ("count", "l_extendedprice"),
            "min_price": ("min", "l_extendedprice"),
            "max_price": ("max", "l_extendedprice"),
            # decimal input -> the salted partial sums merge exactly
            "avg_disc": ("avg", F.col("l_discount").cast("decimal(4,2)")),
        },
        salt_n=16,
    )
    return out.select(
        "l_returnflag",
        F.round("sum_qty", 2).alias("sum_qty"),
        F.col("n_items"),
        F.round("min_price", 2).alias("min_price"),
        F.round("max_price", 2).alias("max_price"),
        F.round(F.col("avg_disc") + 1e-9, 4).alias("avg_disc"),
    )


@register(
    "salted_join_supplier_revenue",
    """
    SELECT s.s_name,
           CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(14,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
    GROUP BY s.s_name
    """,
)
def salted_join_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replicated-broadcast skew join: supplier is replicated 8x, lineitem
    scatters across replicas by row hash. Oracled against the plain join —
    salting must be row-identical."""
    from app_insights_generator_spark.operators.skew import salted_join

    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    joined = salted_join(li, s, F.col("l_suppkey") == F.col("s_suppkey"), salt_n=8)
    return joined.groupBy("s_name").agg(
        _x.money_sum(_x.disc_price()).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


@register(
    "q6_forecast_revenue",
    """
    SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(14,2)) * CAST(l_discount AS DECIMAL(4,2))), 2) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.02 AND 0.04
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure filter + global aggregate — the canonical
    pushdown showcase. All four predicates reach the parquet scan
    (PushedFilters), so at 100 TB row-group statistics skip most of the
    table before a single row is materialized; no shuffle at all except
    the final single-row reduce."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
            & F.col("l_discount").between(0.02, 0.04)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            _x.money_sum(_x.money("l_extendedprice") * F.col("l_discount").cast("decimal(4,2)")).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# --- remaining join/set-op shapes (SURVEY.md §2.2 completeness) --------------

@register(
    "full_outer_nation_bigspenders",
    """
    WITH big AS (
      SELECT c_nationkey, COUNT(*) AS n_big,
             CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(14,2))), 2) AS DOUBLE) AS bal
      FROM customer WHERE c_acctbal > 8000 GROUP BY c_nationkey
    )
    SELECT n.n_name, b.n_big, b.bal,
           CASE WHEN b.c_nationkey IS NULL THEN 1 ELSE 0 END AS no_big_spenders
    FROM nation n FULL OUTER JOIN big b ON n.n_nationkey = b.c_nationkey
    """,
)
def full_outer_nation_bigspenders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-outer join (NULL-producing on both sides). Note full outer
    cannot broadcast — Spark plans a shuffle join; fine, both sides here
    are dim-sized."""
    n = _t(spark, sf_dir, "nation")
    big = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 8000)
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_big"), _x.money_sum(_x.money("c_acctbal")).alias("bal"))
    )
    return n.join(big, n.n_nationkey == big.c_nationkey, "full_outer").select(
        "n_name",
        "n_big",
        "bal",
        F.when(F.col("c_nationkey").isNull(), 1).otherwise(0).alias("no_big_spenders"),
    )


@register(
    "cross_join_region_status",
    """
    SELECT r.r_name, s.o_orderstatus,
           (SELECT COUNT(*) FROM orders o WHERE o.o_orderstatus = s.o_orderstatus) AS n_status
    FROM region r CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders) s
    """,
)
def cross_join_region_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cartesian product of two tiny inputs (explicit crossJoin) joined
    back to a per-status count — the only sound use of cross join at
    scale: both sides provably small."""
    r = _t(spark, sf_dir, "region")
    status_counts = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n_status"))
    )
    return r.select("r_name").crossJoin(F.broadcast(status_counts))


@register(
    "exceptall_multi_lineitem_orders",
    """
    WITH d AS (
      SELECT l_orderkey AS k FROM lineitem
      EXCEPT ALL
      SELECT o_orderkey AS k FROM orders
    )
    SELECT k, COUNT(*) AS extra_lines FROM d GROUP BY k
    """,
)
def exceptall_multi_lineitem_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset EXCEPT ALL: each order appears (lineitem-count - 1) times
    in the difference, so the aggregate equals per-order line count minus
    one — a real multiset-semantics check, not just set EXCEPT."""
    li = _t(spark, sf_dir, "lineitem").select(F.col("l_orderkey").alias("k"))
    o = _t(spark, sf_dir, "orders").select(F.col("o_orderkey").alias("k"))
    return li.exceptAll(o).groupBy("k").agg(F.count(F.lit(1)).alias("extra_lines"))


@register(
    "hll_sketch_parts_mergeable",
    """
    SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS exact_parts,
           CAST(0 AS INT) AS n_violations
    FROM lineitem GROUP BY l_returnflag
    UNION ALL
    SELECT 'ALL' AS l_returnflag, COUNT(DISTINCT l_partkey) AS exact_parts,
           CAST(0 AS INT) AS n_violations
    FROM lineitem
    """,
)
def hll_sketch_parts_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HyperLogLog sketches (Apache DataSketches, Spark 3.5+):
    per-group sketches via hll_sketch_agg, then an ALL row produced by
    hll_union_agg over the PER-GROUP SKETCHES — no second scan of the
    input. This is the 100 TB distinct-count architecture: build sketches
    per partition/day once, union them forever after; re-aggregation cost
    is proportional to sketch count, not data size.

    Gated via the HLL standard-error invariant: sketch bytes differ per
    engine, so the oracle anchors the exact distinct count per group (and
    overall, for the merged row) and asserts zero 5%-bound violations —
    lgConfigK=12 gives ~1.6% rsd, and the estimate is deterministic on
    fixed data. tests/test_sketches.py keeps the raw-estimate checks."""
    li = _t(spark, sf_dir, "lineitem")
    sk = li.groupBy("l_returnflag").agg(F.hll_sketch_agg("l_partkey").alias("sk"))
    sk = sk.cache()
    per_group = sk.select(
        "l_returnflag", F.hll_sketch_estimate("sk").alias("approx_parts")
    )
    merged = sk.agg(F.hll_union_agg("sk").alias("sk")).select(
        F.lit("ALL").alias("l_returnflag"),
        F.hll_sketch_estimate("sk").alias("approx_parts"),
    )
    approx = per_group.unionByName(merged)
    exact_group = li.groupBy("l_returnflag").agg(
        F.count_distinct("l_partkey").alias("exact_parts")
    )
    exact_all = li.agg(F.count_distinct("l_partkey").alias("exact_parts")).select(
        F.lit("ALL").alias("l_returnflag"), "exact_parts"
    )
    exact = exact_group.unionByName(exact_all)
    viol = (
        F.abs(F.col("approx_parts") - F.col("exact_parts"))
        > 0.05 * F.col("exact_parts")
    )
    return approx.join(exact, "l_returnflag").select(
        "l_returnflag",
        "exact_parts",
        F.when(viol, 1).otherwise(0).cast("int").alias("n_violations"),
    )


@register(
    "bloom_pruned_join_revenue",
    """
    SELECT o.o_orderpriority,
           COUNT(*) AS n_lines,
           CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(14,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderpriority = '1-URGENT'
    GROUP BY o.o_orderpriority
    """,
)
def bloom_pruned_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime bloom-filter join pruning (Catalyst InjectRuntimeFilter):
    the selective orders side builds a bloom filter that is pushed into
    the lineitem scan as a `might_contain` semi-filter, so at 100 TB the
    fact scan discards non-matching rows BEFORE the shuffle instead of
    shuffling all of lineitem to drop ~95%% of it at the join. Results
    are exactly the plain join (false positives die in the real join), so
    the SQL oracle is the unpruned query. Local parquet is far below the
    default 10 GB application-side threshold, so the thresholds are
    overridden only while this plan is optimized (memoized by the
    DataFrame's QueryExecution), then restored; on a real cluster the
    defaults trigger by themselves. tests/test_plans.py asserts
    might_contain lands in the optimized plan."""
    conf = spark.conf
    overrides = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    saved = {k: conf.get(k, None) for k in overrides}
    for k, v in overrides.items():
        conf.set(k, v)
    try:
        li = _t(spark, sf_dir, "lineitem")
        o = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
        df = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).alias("n_lines"),
                _x.money_sum(_x.disc_price()).alias("revenue"),
            )
        )
        # Materialize the memoized optimized plan while the overrides are
        # active; later actions on this DataFrame reuse it.
        df._jdf.queryExecution().optimizedPlan()
    finally:
        for k, v in saved.items():
            conf.set(k, v) if v is not None else conf.unset(k)
    return df


@register(
    "heavy_hitters_orders_clerk",
    """
    WITH exact AS (
      SELECT o_orderpriority AS item, COUNT(*) AS exact_n
      FROM orders GROUP BY o_orderpriority
    )
    SELECT item, exact_n, CAST(0 AS INT) AS n_violations
    FROM exact ORDER BY exact_n DESC, item LIMIT 3
    """,
)
def heavy_hitters_orders_clerk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters via the approx_top_k sketch (Spark 4) — the mergeable
    frequent-items answer at 100 TB, where an exact top-k needs a full
    groupBy over every key. One aggregation pass builds the sketch
    map-side; only sketch summaries cross the shuffle.

    Gated via the sketch-vs-exact invariant (the cms/approx_distinct
    framing): emitted items must carry their EXACT counts (the default
    sketch capacity far exceeds this column's cardinality, so the
    estimates are exact and deterministic) and the top-3 set must equal
    the exact top-3 — ties broken by item so both engines order alike."""
    o = _t(spark, sf_dir, "orders")
    # Sketch with k covering the full (5-value) domain so the emitted SET
    # cannot depend on the sketch's internal tie-break at the k boundary;
    # the top-3 CUT below is then taken with the same deterministic
    # (count desc, item) order on both engines.
    tk = o.agg(
        F.expr("approx_top_k(o_orderpriority, 5)").alias("tk")
    ).select(F.explode("tk").alias("e")).select(
        F.col("e.item").alias("item"), F.col("e.count").alias("approx_n")
    )
    exact = o.groupBy(F.col("o_orderpriority").alias("item")).agg(
        F.count(F.lit(1)).alias("exact_n")
    )
    joined = exact.join(tk, "item", "left")
    return (
        joined.select(
            "item",
            "exact_n",
            F.when(
                F.col("approx_n").isNull() | (F.col("approx_n") != F.col("exact_n")), 1
            )
            .otherwise(0)
            .cast("int")
            .alias("n_violations"),
        )
        .orderBy(F.desc("exact_n"), "item")
        .limit(3)
    )


@register(
    "dq_report_orders",
    """
    WITH c AS (SELECT COUNT(*) AS n_rows FROM orders)
    SELECT chk, n_violations, n_rows FROM (
      SELECT 1 AS ord, 'orderkey_not_null' AS chk,
             (SELECT COUNT(*) FROM orders WHERE o_orderkey IS NULL)
               AS n_violations, n_rows FROM c
      UNION ALL
      SELECT 2, 'orderkey_unique',
             (SELECT COUNT(*) - COUNT(DISTINCT o_orderkey) FROM orders), n_rows
      FROM c
      UNION ALL
      SELECT 3, 'totalprice_in_range',
             (SELECT COUNT(*) FROM orders
              WHERE o_totalprice IS NULL
                 OR o_totalprice < 0 OR o_totalprice > 1000000), n_rows FROM c
      UNION ALL
      SELECT 4, 'status_in_domain',
             (SELECT COUNT(*) FROM orders
              WHERE o_orderstatus NOT IN ('F', 'O', 'P')
                 OR o_orderstatus IS NULL), n_rows FROM c
    ) ORDER BY ord
    """,
)
def dq_report_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed data-quality report — the expectation-check primitive a
    100 TB ingest pipeline runs before publishing a table: null checks,
    key uniqueness, numeric range, and domain membership, each emitted as
    (check, violation count, total rows).

    Scale shape: the three row-local checks fold into ONE conditional-
    aggregation pass over the table (no shuffle beyond the final scalar
    combine); only the uniqueness check needs a key shuffle, and it
    reuses the same scan. Nothing is collected — the report itself is the
    (4-row) DataFrame."""
    o = _t(spark, sf_dir, "orders")
    row_local = o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("o_orderkey").isNull(), 1).otherwise(0)).alias("v_null"),
        F.sum(
            F.when(
                F.col("o_totalprice").isNull()
                | (F.col("o_totalprice") < 0)
                | (F.col("o_totalprice") > 1_000_000),
                1,
            ).otherwise(0)
        ).alias("v_range"),
        F.sum(
            F.when(
                F.col("o_orderstatus").isNull()
                | ~F.col("o_orderstatus").isin("F", "O", "P"),
                1,
            ).otherwise(0)
        ).alias("v_domain"),
    )
    uniq = o.agg(
        (F.count("o_orderkey") - F.count_distinct("o_orderkey")).alias("v_dup")
    )
    r = row_local.crossJoin(F.broadcast(uniq))
    checks = [
        ("orderkey_not_null", "v_null"),
        ("orderkey_unique", "v_dup"),
        ("totalprice_in_range", "v_range"),
        ("status_in_domain", "v_domain"),
    ]
    parts = [
        r.select(
            F.lit(name).alias("chk"),
            F.col(col).cast("bigint").alias("n_violations"),
            F.col("n_rows"),
        )
        for name, col in checks
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


@register(
    "fuzzy_join_part_names",
    """
    WITH p AS (SELECT p_partkey, p_brand, p_name FROM part)
    SELECT a.p_brand, COUNT(*) AS n_fuzzy_pairs
    FROM p a JOIN p b
      ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
    WHERE abs(length(a.p_name) - length(b.p_name)) <= 2
      AND a.p_name <> b.p_name
      AND levenshtein(a.p_name, b.p_name) <= 2
    GROUP BY a.p_brand
    """,
)
def fuzzy_join_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy self-join — the entity-resolution primitive: find
    near-identical part names (edit distance <= 2, not exact-equal) WITHOUT
    the O(n^2) all-pairs comparison. Blocking on the brand key turns the
    pair space into per-block candidates (same shape as the LSH banding in
    operators/dedup.py, with a domain key instead of a hash bucket); a
    length-band pre-filter (|len a - len b| <= 2 is implied by the edit
    bound, so it drops no true pair) prunes candidates before the O(m*n)
    levenshtein verify ever runs. At 100 TB the block key would be
    (brand, length-band) so block sizes stay bounded; emitted here as
    per-brand pair counts."""
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_name")
    a = p.alias("a")
    b = p.alias("b")
    pairs = a.join(
        b,
        (F.col("a.p_brand") == F.col("b.p_brand"))
        & (F.col("a.p_partkey") < F.col("b.p_partkey"))
        & (
            F.abs(F.length(F.col("a.p_name")) - F.length(F.col("b.p_name")))
            <= 2
        )
        & (F.col("a.p_name") != F.col("b.p_name")),
    ).filter(
        # Bounded 3-arg levenshtein (round 12): banded DP with early exit —
        # O(len*k) per pair instead of O(len*len); returns -1 above the
        # threshold, so >= 0 is the identical predicate (measured at
        # sf0.1: 14.0 -> 6.2s, counts equal). A (brand, length-band)
        # blocking key was ALSO measured and rejected: the 5x explode
        # outweighs its pruning at these block sizes (6.1 -> 7.3s).
        F.levenshtein(F.col("a.p_name"), F.col("b.p_name"), 2) >= 0
    )
    return pairs.groupBy(F.col("a.p_brand").alias("p_brand")).agg(
        F.count(F.lit(1)).alias("n_fuzzy_pairs")
    )


@register(
    "recursive_cte_part_hierarchy",
    """
    WITH RECURSIVE walk(p_partkey, depth) AS (
      SELECT p_partkey, 0 FROM part WHERE p_partkey = 0
      UNION ALL
      SELECT c.p_partkey, w.depth + 1
      FROM part c JOIN walk w ON w.p_partkey = c.p_partkey // 4
      WHERE c.p_partkey > 0
    )
    SELECT depth, COUNT(*) AS n_parts, CAST(SUM(p_partkey) AS BIGINT) AS key_sum
    FROM walk GROUP BY depth
    """,
)
def recursive_cte_part_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE on Spark 4 (WITH RECURSIVE, SPARK-24497): the part
    table is given a synthetic tree shape (parent = key // 4, a proper
    4-ary hierarchy rooted at key 0) and each node's DEPTH is derived by
    recursive descent — the BOM/org-chart traversal SQL engines are asked
    for constantly, previously only expressible here as a driver loop
    (operators/dedup.py connected_components). UNION ALL recursion is
    exact on a tree: every node has one parent, so each is visited once
    and the recursion terminates at the tree height. Each recursion step
    is one self-join — at 100 TB that's height-many hash joins, not a
    driver round-trip per level. (Cyclic graphs still need the driver
    loop: Spark 4.1 rejects de-duplicating UNION inside recursive CTEs.)
    """
    part = _t(spark, sf_dir, "part")
    part.select("p_partkey").createOrReplaceTempView("_rc_part")
    # Integer `DIV` end to end — no double division feeding a cast, so the
    # parent derivation cannot drift across engines or codegen paths.
    result = spark.sql(
        """
        WITH RECURSIVE walk(p_partkey, depth) AS (
          SELECT p_partkey, 0 FROM _rc_part WHERE p_partkey = 0
          UNION ALL
          SELECT c.p_partkey, w.depth + 1
          FROM _rc_part c JOIN walk w ON w.p_partkey = c.p_partkey DIV 4
          WHERE c.p_partkey > 0
        )
        SELECT depth, COUNT(*) AS n_parts, SUM(p_partkey) AS key_sum
        FROM walk GROUP BY depth
        """
    )
    # Self-check invariants: every part is visited exactly once on a tree,
    # so the depth histogram must partition the table. A wrong recursion
    # result RAISES here instead of silently hash-failing at the gate.
    totals = part.agg(
        F.count(F.lit(1)).alias("n"), F.sum("p_partkey").alias("s")
    ).collect()[0]
    got = result.agg(
        F.sum("n_parts").alias("n"), F.sum("key_sum").alias("s")
    ).collect()[0]
    if got["n"] != totals["n"] or got["s"] != totals["s"]:
        raise AssertionError(
            "recursive_cte_part_hierarchy did not visit every part exactly "
            f"once: walked n={got['n']} key_sum={got['s']} vs table "
            f"n={totals['n']} key_sum={totals['s']}"
        )
    return result


@register(
    "nullsafe_join_order_status",
    """
    WITH a AS (
      SELECT NULLIF(o_orderstatus, 'P') AS s, COUNT(*) AS n_a
      FROM orders GROUP BY 1
    ),
    b AS (
      SELECT NULLIF(o_orderstatus, 'P') AS s, CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(14,2))), 2) AS DOUBLE) AS price_b
      FROM orders GROUP BY 1
    )
    SELECT a.s AS status, n_a, price_b
    FROM a JOIN b ON a.s IS NOT DISTINCT FROM b.s
    """,
)
def nullsafe_join_order_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (`<=>` / IS NOT DISTINCT FROM): the join
    semantics gap a plain equi-join leaves — NULL keys never match
    themselves, silently dropping the NULL group from both sides. The 'P'
    status is NULLed out on purpose; the null-safe condition keeps that
    row matched. Catalyst plans `<=>` as a hash join key exactly like
    `=`, so there is no performance penalty for the correct semantics."""
    o = _t(spark, sf_dir, "orders")
    s = F.nullif(F.col("o_orderstatus"), F.lit("P")).alias("s")
    a = o.groupBy(s).agg(F.count(F.lit(1)).alias("n_a"))
    b = o.groupBy(s).agg(_x.money_sum(_x.money("o_totalprice")).alias("price_b"))
    return (
        a.join(b, a["s"].eqNullSafe(b["s"]))
        .select(a["s"].alias("status"), "n_a", "price_b")
    )


@register(
    "merge_upsert_customer_balances",
    """
    WITH changes AS (
      SELECT o.o_custkey AS c_custkey,
             CAST(ANY_VALUE(CAST(c.c_acctbal AS DECIMAL(14,2)))
                  + SUM(CAST(o.o_totalprice AS DECIMAL(14,2)))
                    * CAST(0.001 AS DECIMAL(4,3)) AS DOUBLE) AS c_acctbal
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE o.o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
      GROUP BY o.o_custkey
    ),
    inserts AS (
      SELECT 100000 + s_suppkey AS c_custkey,
             CAST(CAST(s_acctbal AS DECIMAL(14,2)) AS DOUBLE) AS c_acctbal
      FROM supplier
    ),
    src AS (SELECT * FROM changes UNION ALL SELECT * FROM inserts)
    SELECT COALESCE(src.c_custkey, c.c_custkey) AS c_custkey,
           ROUND(COALESCE(src.c_acctbal, c.c_acctbal), 2) AS c_acctbal,
           CASE WHEN c.c_custkey IS NULL THEN 'insert'
                WHEN src.c_custkey IS NULL THEN 'keep'
                ELSE 'update' END AS _action
    FROM customer c FULL OUTER JOIN src ON c.c_custkey = src.c_custkey
    """,
)
def merge_upsert_customer_balances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO shape (operators/merge.py merge_upsert — SCD1 upsert
    without a table format): a deterministic change batch — 1998+ spenders
    get their balance bumped by 0.1% of their order volume (exact decimal
    arithmetic), suppliers arrive as brand-new customer rows under an
    offset key — merges into the customer dim. Matched keys update,
    source-only keys insert, the rest keep. One full-outer join on the
    key; a real daily batch broadcasts, leaving the dimension unshuffled."""
    from app_insights_generator_spark.operators.merge import merge_upsert

    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1998-01-01 00:00:00").cast("timestamp")
    )
    changes = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(
            (
                F.any_value(_x.money("c_acctbal"))
                + F.sum(_x.money("o_totalprice")) * F.lit(0.001).cast("decimal(4,3)")
            )
            .cast("double")
            .alias("c_acctbal")
        )
    )
    inserts = _t(spark, sf_dir, "supplier").select(
        (F.lit(100000) + F.col("s_suppkey")).alias("c_custkey"),
        _x.money("s_acctbal").cast("double").alias("c_acctbal"),
    )
    src = changes.unionByName(inserts)
    merged = merge_upsert(c, src, keys=["c_custkey"])
    return merged.select(
        "c_custkey", F.round("c_acctbal", 2).alias("c_acctbal"), "_action"
    )


# --- iterative graph: integer fixed-point PageRank ----------------------------

_PR_EDGES_SQL = """
  SELECT DISTINCT cn.n_name AS src, sn.n_name AS dst
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation cn  ON c.c_nationkey = cn.n_nationkey
  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation sn  ON s.s_nationkey = sn.n_nationkey
  WHERE cn.n_name <> sn.n_name
"""


def _pagerank_oracle(iterations: int = 5, damping: int = 85, scale: int = 1_000_000) -> str:
    """Unrolled-iteration SQL twin of operators/graph.py pagerank: the
    recursion is a FIXED count, so the oracle is iterations chained CTEs
    (standard SQL forbids aggregates in a recursive term; unrolling
    sidesteps engine-specific recursion extensions entirely). All
    arithmetic is integer floor division — bit-identical to Spark DIV."""
    ctes = [
        f"edges AS ({_PR_EDGES_SQL})",
        "nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges)",
        "meta AS (SELECT COUNT(*) AS n FROM nodes)",
        "outdeg AS (SELECT src AS _src, COUNT(*) AS odeg FROM edges GROUP BY src)",
        f"r0 AS (SELECT node, {scale} // n AS rank FROM nodes, meta)",
    ]
    for i in range(1, iterations + 1):
        ctes.append(
            f"""r{i} AS (
      SELECT nodes.node,
             (SELECT ({100 - damping} * {scale}) // (100 * n) FROM meta)
             + {damping} * COALESCE(c.s, 0) // 100 AS rank
      FROM nodes LEFT JOIN (
        SELECT e.dst AS node, SUM(r{i - 1}.rank // o.odeg) AS s
        FROM edges e
        JOIN outdeg o ON e.src = o._src
        JOIN r{i - 1} ON r{i - 1}.node = e.src
        GROUP BY e.dst) c ON c.node = nodes.node)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT node, CAST(rank AS BIGINT) AS rank FROM r{iterations}"
    )


def _nation_trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT customer-nation -> supplier-nation edges across order
    lineitems (the TPC-H Q7 join shape) — the shared graph for
    pagerank_nation_trade and bfs_depth_nation_trade. The derivation is
    the scale-bearing part (a distinct over the full 6-table join); the
    node set stays bounded at the nation count."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = F.broadcast(load_table(spark, sf_dir, "nation"))
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(n.alias("cn"), F.col("c_nationkey") == F.col("cn.n_nationkey"))
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(n.alias("sn"), F.col("s_nationkey") == F.col("sn.n_nationkey"))
        .filter(F.col("cn.n_name") != F.col("sn.n_name"))
        .select(F.col("cn.n_name").alias("src"), F.col("sn.n_name").alias("dst"))
        .distinct()
    )


@register("pagerank_nation_trade", _pagerank_oracle())
def pagerank_nation_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the nation trade graph (edges = DISTINCT customer
    nation -> supplier nation across order lineitems, the TPC-H Q7 join
    shape): 5 iterations of INTEGER fixed-point rank (operators/graph.py
    pagerank). The iterative-fixpoint capability Spark has no built-in
    for, expressed as one shuffle per round with a per-round pin
    truncating lineage; integer micro-unit arithmetic makes every iteration
    bit-identical across engines (no float-drift class at all), and the
    oracle is the same recurrence unrolled into chained CTEs. The edge
    derivation is the scale-bearing part — a distinct over the full
    6-table join — while the node set stays bounded."""
    from app_insights_generator_spark.operators.graph import pagerank

    edges = _nation_trade_edges(spark, sf_dir)
    return pagerank(edges, "src", "dst", iterations=5)


def _bfs_oracle(max_iter: int = 6) -> str:
    """Unrolled-level SQL twin of operators/graph.py bfs_depths: level CTE
    l_i holds the nodes reachable in exactly i steps; MIN(depth) over the
    union of levels equals visited-pruned BFS depth (small integers, so
    the compare is engine-exact with no float class at all)."""
    ctes = [
        f"edges AS ({_PR_EDGES_SQL})",
        "l0 AS (SELECT (SELECT MIN(src) FROM edges) AS node, 0 AS depth)",
    ]
    for i in range(1, max_iter + 1):
        ctes.append(
            f"l{i} AS (SELECT DISTINCT e.dst AS node, {i} AS depth"
            f" FROM edges e JOIN l{i - 1} p ON p.node = e.src)"
        )
    union = " UNION ALL ".join(
        f"SELECT node, depth FROM l{i}" for i in range(max_iter + 1)
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT node, CAST(MIN(depth) AS INT) AS depth FROM ({union}) GROUP BY node"
    )


@register("bfs_depth_nation_trade", _bfs_oracle())
def bfs_depth_nation_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source BFS over the nation trade graph (operators/graph.py
    bfs_depths): hop distance from the lexicographically-smallest source
    nation to every nation reachable within 6 hops. Completes the
    iterative-fixpoint trio (pagerank = mass propagation, connected
    components = label convergence, BFS = frontier expansion, where
    per-round work shrinks to the newly-discovered set). Depths are small
    integers — engine-exact — and the oracle is the recurrence unrolled
    into level CTEs with a final MIN(depth)."""
    from app_insights_generator_spark.operators.graph import bfs_depths

    edges = _nation_trade_edges(spark, sf_dir)
    sources = edges.agg(F.min("src").alias("node"))
    return bfs_depths(edges, sources, "src", "dst", max_iter=6)


@register(
    "triangle_count_nation_trade",
    f"""
    WITH und AS (
      SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
      FROM ({_PR_EDGES_SQL}) WHERE src <> dst
    ),
    tri AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM und e1
      JOIN und e2 ON e2.a = e1.b
      JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
    )
    SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM (SELECT x AS node FROM tri
          UNION ALL SELECT y FROM tri
          UNION ALL SELECT z FROM tri)
    GROUP BY node
    """,
)
def triangle_count_nation_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation triangle participation in the trade graph
    (operators/graph.py triangle_counts): the join-based graph-analytics
    shape alongside the iterative trio. Spark directs edges by DEGREE
    order, bounding wedge fan-out at O(sqrt(m)) per key on power-law
    graphs; the triangle set is an ordering-independent graph invariant,
    so the oracle uses the simple lexicographic a<b formulation and the
    integer counts must match bit-for-bit."""
    from app_insights_generator_spark.operators.graph import triangle_counts

    return triangle_counts(_nation_trade_edges(spark, sf_dir))


@register(
    "lateral_top2_orders_per_customer",
    """
    SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
    FROM customer c,
    LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
             WHERE o.o_custkey = c.c_custkey
             ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
    WHERE c.c_custkey < 100
    """,
)
def lateral_top2_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL LATERAL correlated subquery (per-row dependent subplan with
    ORDER BY + LIMIT) — the modern SQL surface for 'top-N related rows
    per outer row'. Catalyst decorrelates it to a ranked window join, so
    at scale it costs the same as window_top3_orders_per_customer; the
    capability claim here is the LATERAL syntax + decorrelation itself,
    verbatim-portable to the DuckDB oracle. event_id tiebreak on price
    keeps it deterministic."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("_lat_customer")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("_lat_orders")
    return spark.sql(
        """
        SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        FROM _lat_customer c,
        LATERAL (SELECT o_orderkey, o_totalprice FROM _lat_orders o
                 WHERE o.o_custkey = c.c_custkey
                 ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
        WHERE c.c_custkey < 100
        """
    )


@register(
    "parameterized_sql_orders",
    """
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM orders
    WHERE o_orderdate >= DATE '1995-01-01' AND o_orderstatus = 'O'
    GROUP BY o_orderpriority
    """,
)
def parameterized_sql_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized SQL (Spark 4 named parameter markers): the injection-
    safe interface a query service exposes — literals bind server-side as
    typed values (:cutoff, :status), never string-spliced. The oracle
    pins the same predicate with inline literals; integer-cents sum keeps
    the money aggregate drift-proof."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("_param_orders")
    return spark.sql(
        """
        SELECT o_orderpriority,
               COUNT(*) AS n_orders,
               SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS total_cents
        FROM _param_orders
        WHERE o_orderdate >= :cutoff AND o_orderstatus = :status
        GROUP BY o_orderpriority
        """,
        args={"cutoff": "1995-01-01", "status": "O"},
    )


@register(
    "array_hof_lineitem",
    """
    WITH per_order AS (
      SELECT l_orderkey,
             list(struct_pack(
                    pc := CAST(ROUND(l_extendedprice * 100) AS BIGINT),
                    dc := CAST(ROUND(l_discount * 100) AS BIGINT))
                  ORDER BY l_linenumber,
                           CAST(ROUND(l_extendedprice * 100) AS BIGINT),
                           CAST(ROUND(l_discount * 100) AS BIGINT)) AS arr
      FROM lineitem GROUP BY l_orderkey
    ),
    split AS (
      SELECT l_orderkey,
             list_transform(arr, s -> s.pc) AS prices_c,
             list_transform(arr, s -> s.dc) AS discs_c
      FROM per_order
    )
    SELECT l_orderkey,
           CAST(len(list_filter(prices_c, p -> p > 100000)) AS INT)
             AS n_expensive,
           CAST(list_sum(list_transform(range(1, len(prices_c) + 1),
                i -> prices_c[i] * (100 - discs_c[i]))) AS BIGINT)
             AS disc_total_c4
    FROM split
    """,
)
def array_hof_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions as a first-class surface: collect each
    order's line prices/discounts into ordered arrays (integer cents),
    then filter(p -> p > $1000) and zip_with(price, disc, ...) +
    aggregate for the discounted total — the per-element work runs inside
    the SQL engine, no UDF. All integer arithmetic, so the zip/aggregate
    is bit-exact against DuckDB's list_transform/list_sum twin. At scale
    this is one groupBy; the arrays come from ONE sorted struct array per
    order (sort key = (linenumber, price, discount)) because linenumber
    ties would otherwise misalign the zip — deterministic AND
    pair-preserving on both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    # ONE sorted struct array carrying the (price, discount) PAIR:
    # l_linenumber is not unique in this data, so independently sorted
    # price/discount arrays would misalign the zip on ties.
    per = li.groupBy("l_orderkey").agg(
        F.expr(
            "sort_array(collect_list(struct(l_linenumber, "
            "CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS pc, "
            "CAST(ROUND(l_discount * 100) AS BIGINT) AS dc)))"
        ).alias("arr")
    ).select(
        "l_orderkey",
        F.expr("transform(arr, s -> s.pc)").alias("prices_c"),
        F.expr("transform(arr, s -> s.dc)").alias("discs_c"),
    )
    return per.select(
        "l_orderkey",
        F.expr("size(filter(prices_c, p -> p > 100000))").alias("n_expensive"),
        F.expr(
            "aggregate(zip_with(prices_c, discs_c, (p, d) -> p * (100 - d)), "
            "0L, (acc, x) -> acc + x)"
        ).alias("disc_total_c4"),
    )


@register(
    "incremental_agg_orders",
    """
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n_orders,
           (SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
              / CAST(100 AS DOUBLE)) AS total_price,
           (MIN(CAST(ROUND(o_totalprice * 100) AS BIGINT))
              / CAST(100 AS DOUBLE)) AS min_price,
           (MAX(CAST(ROUND(o_totalprice * 100) AS BIGINT))
              / CAST(100 AS DOUBLE)) AS max_price,
           ((CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
              / 100) / COUNT(*)) AS avg_price
    FROM orders
    GROUP BY o_orderstatus, o_orderpriority
    """,
)
def incremental_agg_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance (operators/incremental.py): the
    orders table is split into a 90% base and a 10% delta, each reduced
    to a mergeable per-group STATE (count + integer-cents sum/min/max),
    and the two states are merged WITHOUT touching base rows — the
    refresh cost a 100 TB pipeline pays is O(delta + groups), not a
    rescan. The oracle aggregates the whole table directly, so the gate
    is the algebraic claim itself: merge(state(A), state(B)) ==
    state(A ∪ B), bit-exact (cents integers; avg derived at read time
    from exact sum and count, never stored)."""
    from app_insights_generator_spark.operators.incremental import (
        agg_state,
        merge_states,
    )
    from app_insights_generator_spark.queries._exact import cents

    orders = load_table(spark, sf_dir, "orders")
    keys = ["o_orderstatus", "o_orderpriority"]
    measures = {
        "n_orders": ("count", None),
        "total_cents": ("sum", cents("o_totalprice")),
        "min_cents": ("min", cents("o_totalprice")),
        "max_cents": ("max", cents("o_totalprice")),
    }
    base = agg_state(
        orders.filter(F.expr("o_orderkey % 10 != 0")), keys, measures
    )
    delta = agg_state(
        orders.filter(F.expr("o_orderkey % 10 = 0")), keys, measures
    )
    merged = merge_states([base, delta], keys, measures)
    hundred = F.lit(100).cast("double")
    return merged.select(
        *keys,
        F.col("n_orders"),
        (F.col("total_cents") / hundred).alias("total_price"),
        (F.col("min_cents") / hundred).alias("min_price"),
        (F.col("max_cents") / hundred).alias("max_price"),
        ((F.col("total_cents").cast("double") / 100) / F.col("n_orders")).alias(
            "avg_price"
        ),
    )


def _morton_sql(x: str, y: str, bits: int, div: str) -> str:
    """Bit-interleaved (Morton / z-order) cell id as pure integer
    arithmetic — even bit positions from ``x``, odd from ``y`` — written
    with DIV/% so the SAME construction runs on Spark (div='DIV') and
    DuckDB (div='//'). Interleaving makes lexicographic cell order a
    space-filling curve: neighbors in the plane stay near each other in
    the sort, which is what z-order data layout exploits for min/max
    file skipping on two correlated dimensions."""
    terms = []
    for i in range(bits):
        terms.append(f"((({x}) {div} {1 << i}) % 2) * {1 << (2 * i)}")
        terms.append(f"((({y}) {div} {1 << i}) % 2) * {1 << (2 * i + 1)}")
    return "(" + " + ".join(terms) + ")"


_GRID_X = "((CAST(ROUND({bal} * 100) AS BIGINT) + 100000) {div} 20000)"


@register(
    "grid_colocation_customer_supplier",
    f"""
    WITH cc AS (
      SELECT {_GRID_X.format(bal='c_acctbal', div='//')} AS x,
             CAST(c_nationkey AS BIGINT) AS y,
             CAST(COUNT(*) AS BIGINT) AS n_cust
      FROM customer GROUP BY 1, 2
    ),
    sc AS (
      SELECT {_GRID_X.format(bal='s_acctbal', div='//')} AS x,
             CAST(s_nationkey AS BIGINT) AS y,
             CAST(COUNT(*) AS BIGINT) AS n_supp
      FROM supplier GROUP BY 1, 2
    ),
    nb AS (
      SELECT sc.x + dx.d AS x, sc.y + dy.d AS y,
             CAST(SUM(sc.n_supp) AS BIGINT) AS n_supp_nbhd
      FROM sc, (VALUES (-1), (0), (1)) dx(d), (VALUES (-1), (0), (1)) dy(d)
      GROUP BY 1, 2
    )
    SELECT {_morton_sql('cc.x', 'cc.y', 6, '//')} AS morton_cell,
           cc.x AS x_grid, cc.y AS y_grid, cc.n_cust,
           COALESCE(sc.n_supp, 0) AS n_supp,
           cc.n_cust * COALESCE(nb.n_supp_nbhd, 0) AS n_nearby_pairs
    FROM cc
    LEFT JOIN sc ON cc.x = sc.x AND cc.y = sc.y
    LEFT JOIN nb ON cc.x = nb.x AND cc.y = nb.y
    """,
)
def grid_colocation_customer_supplier(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Grid-cell co-location join — the scalable spatial-join pattern:
    bucket both sides onto an integer grid (x from account balance in
    exact integer cents, y the nation key), aggregate each side to
    per-cell COUNTS first, replicate the supplier counts to their 3x3
    neighbor cells, and join counts to counts. The output is, per
    occupied customer cell, the same-cell supplier count and the number
    of (customer, supplier) pairs within Chebyshev grid distance 1 —
    computed WITHOUT ever materializing a pair (aggregate-then-join:
    the join input is bounded by occupied cells, not row pairs, which
    is what makes a proximity join survive 100 TB; the naive form is
    the theta join the oracle can afford at gate scale only because
    its input is tiny). The 9-way neighbor replication happens on the
    pre-aggregated cell table — 9x a bounded table, not 9x the data.

    Each cell also carries its Morton (z-order) id — even bits x, odd
    bits y, pure DIV/% arithmetic identical on both engines — the
    space-filling-curve key a 100 TB layout would SORT BY so that 2-D
    proximity becomes 1-D file locality (min/max skipping prunes both
    dimensions at once; sources/writers.py zorder twin).

    Reference parity: no counterpart (main.py has no joins); §2.2
    join-family extension (the spatial sibling of the banded/bucketed
    similarity joins).

    Registered for the round-7 gate window (mid-round addition)."""
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")

    def cells(df: DataFrame, bal: str, nat: str, out: str) -> DataFrame:
        return (
            df.select(
                F.expr(_GRID_X.format(bal=bal, div="DIV")).alias("x"),
                F.col(nat).cast("long").alias("y"),
            )
            .groupBy("x", "y")
            .agg(F.count(F.lit(1)).cast("long").alias(out))
        )

    cc = cells(cust, "c_acctbal", "c_nationkey", "n_cust")
    sc = cells(supp, "s_acctbal", "s_nationkey", "n_supp")
    offsets = spark.createDataFrame(
        [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)], ["dx", "dy"]
    )
    nb = (
        sc.crossJoin(F.broadcast(offsets))
        .select(
            (F.col("x") + F.col("dx")).alias("x"),
            (F.col("y") + F.col("dy")).alias("y"),
            "n_supp",
        )
        .groupBy("x", "y")
        .agg(F.sum("n_supp").cast("long").alias("n_supp_nbhd"))
    )
    return (
        cc.join(sc, ["x", "y"], "left")
        .join(nb, ["x", "y"], "left")
        .select(
            F.expr(_morton_sql("x", "y", 6, "DIV")).alias("morton_cell"),
            F.col("x").alias("x_grid"),
            F.col("y").alias("y_grid"),
            "n_cust",
            F.coalesce("n_supp", F.lit(0)).cast("long").alias("n_supp"),
            (F.col("n_cust") * F.coalesce("n_supp_nbhd", F.lit(0)))
            .cast("long")
            .alias("n_nearby_pairs"),
        )
    )


@register(
    "join_key_skew_profile_orders",
    """
    WITH f AS (
      SELECT o_custkey, COUNT(*) AS freq FROM orders GROUP BY o_custkey
    ),
    r AS (
      SELECT freq, ROW_NUMBER() OVER (ORDER BY freq, o_custkey) AS rn,
             COUNT(*) OVER () AS n
      FROM f
    ),
    p AS (
      SELECT CAST(MAX(CASE WHEN rn = (n + 1) // 2 THEN freq END) AS BIGINT)
               AS p50_freq,
             CAST(MAX(CASE WHEN rn = (99 * n + 99) // 100 THEN freq END)
               AS BIGINT) AS p99_freq
      FROM r
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
             CAST(SUM(freq) AS BIGINT) AS n_rows,
             CAST(MAX(freq) AS BIGINT) AS max_freq
      FROM f
    )
    SELECT s.n_keys, s.n_rows, s.max_freq, p.p50_freq, p.p99_freq,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM f, p
             WHERE freq > 5 * p.p50_freq) AS n_hot_keys,
           CAST(s.max_freq * 10000 // s.n_rows AS BIGINT) AS top1_share_bp
    FROM s, p
    """,
)
def join_key_skew_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew profiler — the 'should I salt this join?' diagnostic
    a 100 TB pipeline runs BEFORE shuffling on a key: per-key frequency
    distribution of orders.o_custkey reduced to the skew-decision
    numbers (distinct keys, max/p50/p99 frequency, hot-key count above
    the 5x-median rule AQE's skew-join uses as its factor default, and
    the top-1 key's share in basis points). A p99/p50 ratio near 1 means
    hash partitioning balances; a fat top1_share_bp means one reducer
    owns that fraction of the shuffle no matter how many tasks exist —
    the exact situation operators/skew.py's salted paths cure.

    Scale: one map-side-combined groupBy collapses the fact table to the
    per-key count table (bounded by the dim cardinality, not fact rows);
    the exact rank-based percentiles then run on that bounded table, so
    the global window never sees raw volume. All finals are exact
    integers (frequencies and basis points — drift-proof).

    Reference parity: no counterpart; §2.6 engine-diagnostics extension
    alongside table_checksum / schema_drift.

    Registered for the round-7 gate window (mid-round addition)."""
    orders = load_table(spark, sf_dir, "orders")
    f = orders.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("freq"))
    w = Window.orderBy("freq", "o_custkey")
    r = f.select(
        "freq",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
    )
    p = r.agg(
        F.max(F.when(F.col("rn") == F.expr("(n + 1) DIV 2"), F.col("freq")))
        .cast("long")
        .alias("p50_freq"),
        F.max(
            F.when(F.col("rn") == F.expr("(99 * n + 99) DIV 100"), F.col("freq"))
        )
        .cast("long")
        .alias("p99_freq"),
    )
    s = f.agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum("freq").cast("long").alias("n_rows"),
        F.max("freq").cast("long").alias("max_freq"),
    )
    hot = (
        f.crossJoin(F.broadcast(p))
        .filter(F.col("freq") > 5 * F.col("p50_freq"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_hot_keys"))
    )
    return (
        s.crossJoin(F.broadcast(p))
        .crossJoin(F.broadcast(hot))
        .select(
            "n_keys",
            "n_rows",
            "max_freq",
            "p50_freq",
            "p99_freq",
            "n_hot_keys",
            F.expr("CAST(max_freq * 10000 DIV n_rows AS BIGINT)").alias(
                "top1_share_bp"
            ),
        )
    )


@register(
    "ivm_join_view_orders",
    """
    WITH j AS (
      SELECT n.n_name, o.o_orderkey,
             CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS c
      FROM orders o
      JOIN customer cu ON o.o_custkey = cu.c_custkey
      JOIN nation n ON cu.c_nationkey = n.n_nationkey
    ),
    b AS (
      SELECT n_name, CAST(SUM(c) AS BIGINT) AS base_cents,
             COUNT(*) AS base_orders
      FROM j WHERE o_orderkey % 10 != 7 GROUP BY n_name
    ),
    d AS (
      SELECT n_name, CAST(SUM(c) AS BIGINT) AS delta_cents,
             COUNT(*) AS delta_orders
      FROM j WHERE o_orderkey % 10 = 7 GROUP BY n_name
    ),
    m AS (
      SELECT COALESCE(b.n_name, d.n_name) AS n_name,
             COALESCE(base_cents, 0) AS base_cents,
             COALESCE(delta_cents, 0) AS delta_cents,
             COALESCE(base_cents, 0) + COALESCE(delta_cents, 0) AS total_cents,
             COALESCE(base_orders, 0) + COALESCE(delta_orders, 0) AS n_orders
      FROM b FULL OUTER JOIN d USING (n_name)
    ),
    r AS (
      SELECT n_name, CAST(SUM(c) AS BIGINT) AS rc, COUNT(*) AS rn
      FROM j GROUP BY n_name
    )
    SELECT m.n_name, m.base_cents, m.delta_cents, m.total_cents, m.n_orders,
           (m.total_cents = r.rc AND m.n_orders = r.rn) AS matches_recompute
    FROM m JOIN r ON m.n_name = r.n_name
    """,
)
def ivm_join_view_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a JOIN view by delta propagation: the
    materialized view V = (orders JOIN customer JOIN nation) grouped by
    nation is refreshed for a new order batch as V' = V merge
    state(delta-orders JOIN dims) — the classic delta rule
    d(O join C) = dO join C when only the fact side changes. The base
    state is never re-joined or re-scanned: refresh cost is
    O(|delta| + |groups|), the step up from incremental_agg_orders
    (scan-level IVM) to join-level IVM.

    Plan: the delta batch is small by nature, so its join is
    BROADCAST (delta broadcast against the customer dim — at 100 TB the
    dim stays partitioned and only the batch moves); the base-side join
    runs once when the view is first built (here simulated in the same
    query so the gate can check the merge). matches_recompute
    re-derives the view from scratch and compares — the query is its
    own audit, and the driver hash pins that every group matches.

    Money is exact integer cents (BIGINT finals; see _exact.py rules).

    Reference parity: no counterpart (main.py has no joins); §2.6
    engine-extension surface alongside incremental_agg_orders.

    Registered for the round-7 gate window (mid-round addition)."""
    from app_insights_generator_spark.operators.incremental import (
        agg_state,
        merge_states,
    )

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    dims = F.broadcast(
        cust.join(nation, cust.c_nationkey == nation.n_nationkey).select(
            "c_custkey", "n_name"
        )
    )
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    keys = ["n_name"]
    measures = {
        "sum_cents": ("sum", cents),
        "n_orders": ("count", None),
    }

    def joined(side: DataFrame, broadcast_fact: bool) -> DataFrame:
        fact = F.broadcast(side) if broadcast_fact else side
        return fact.join(dims, fact.o_custkey == dims.c_custkey)

    base = agg_state(
        joined(orders.filter(F.expr("o_orderkey % 10 != 7")), False),
        keys,
        measures,
    )
    delta = agg_state(
        joined(orders.filter(F.expr("o_orderkey % 10 = 7")), True),
        keys,
        measures,
    )
    maintained = merge_states([base, delta], keys, measures).select(
        "n_name",
        F.col("sum_cents").alias("total_cents"),
        "n_orders",
    )
    base_named = base.select(
        "n_name",
        F.col("sum_cents").alias("base_cents"),
        F.col("n_orders").alias("base_orders"),
    )
    recompute = (
        joined(orders, False)
        .groupBy("n_name")
        .agg(
            F.sum(cents).cast("long").alias("rc"),
            F.count(F.lit(1)).alias("rn"),
        )
    )
    return (
        maintained.join(base_named, "n_name", "left")
        .join(recompute, "n_name")
        .select(
            "n_name",
            F.coalesce("base_cents", F.lit(0)).cast("long").alias("base_cents"),
            (F.col("total_cents") - F.coalesce("base_cents", F.lit(0)))
            .cast("long")
            .alias("delta_cents"),
            F.col("total_cents").cast("long"),
            F.col("n_orders").cast("long").alias("n_orders"),
            (
                (F.col("total_cents") == F.col("rc"))
                & (F.col("n_orders") == F.col("rn"))
            ).alias("matches_recompute"),
        )
    )


_WEIGHTED_EDGES_SQL = """
  SELECT cn.n_name AS src, sn.n_name AS dst,
         COUNT(DISTINCT s.s_suppkey) AS w
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation cn  ON c.c_nationkey = cn.n_nationkey
  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation sn  ON s.s_nationkey = sn.n_nationkey
  WHERE cn.n_name <> sn.n_name
  GROUP BY cn.n_name, sn.n_name
"""


def _sssp_oracle(max_iter: int = 6) -> str:
    """Unrolled Bellman-Ford twin of operators/graph.py sssp: round CTE
    d_i min-merges d_{i-1} with its one-edge relaxations — the exact
    recurrence the Spark loop runs, so integer costs match bit-for-bit."""
    ctes = [
        f"edges AS ({_WEIGHTED_EDGES_SQL})",
        "d0 AS (SELECT (SELECT MIN(src) FROM edges) AS node, 0 AS cost)",
    ]
    for i in range(1, max_iter + 1):
        ctes.append(
            f"""d{i} AS (
      SELECT node, MIN(cost) AS cost FROM (
        SELECT node, cost FROM d{i - 1}
        UNION ALL
        SELECT e.dst AS node, p.cost + e.w AS cost
        FROM edges e JOIN d{i - 1} p ON p.node = e.src) GROUP BY node)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT node, CAST(cost AS BIGINT) AS cost FROM d{max_iter}"
    )


@register("sssp_nation_trade", _sssp_oracle())
def sssp_nation_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted single-source shortest paths over the nation trade graph
    (operators/graph.py sssp): edge weight = distinct suppliers serving
    the customer-nation -> supplier-nation lane, source = the
    lexicographically-smallest nation, 6 relaxation rounds. The
    relaxation fixpoint beside BFS's frontier expansion — one min-merge
    shuffle per round, zero driver-side state — with INTEGER path costs,
    oracled by unrolling the recurrence into chained min-merge CTEs.
    Registered for the round-6 gate window (round-5 window already
    swept)."""
    from app_insights_generator_spark.operators.graph import sssp

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = F.broadcast(load_table(spark, sf_dir, "nation"))
    edges = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(n.alias("cn"), F.col("c_nationkey") == F.col("cn.n_nationkey"))
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(n.alias("sn"), F.col("s_nationkey") == F.col("sn.n_nationkey"))
        .filter(F.col("cn.n_name") != F.col("sn.n_name"))
        .groupBy(
            F.col("cn.n_name").alias("src"), F.col("sn.n_name").alias("dst")
        )
        .agg(F.countDistinct("s_suppkey").alias("w"))
    )
    sources = edges.agg(F.min("src").alias("node"))
    return sssp(edges, sources, "src", "dst", "w", max_iter=6)


@register(
    "schema_drift_orders",
    """
    WITH old_t AS (
      SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
      FROM orders WHERE o_orderkey % 4 != 0
    ),
    new_t AS (
      SELECT o_orderkey, CAST(o_custkey AS VARCHAR) AS o_custkey,
             o_totalprice, o_orderpriority
      FROM orders
    ),
    om AS (
      SELECT COUNT(*) AS n,
             SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS nl_ok,
             COUNT(DISTINCT o_orderkey) AS nd_ok,
             SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS nl_ck,
             COUNT(DISTINCT o_custkey) AS nd_ck,
             SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS nl_tp,
             COUNT(DISTINCT o_totalprice) AS nd_tp,
             SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS nl_od,
             COUNT(DISTINCT o_orderdate) AS nd_od
      FROM old_t
    ),
    nm AS (
      SELECT COUNT(*) AS n,
             SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS nl_ok,
             COUNT(DISTINCT o_orderkey) AS nd_ok,
             SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS nl_ck,
             COUNT(DISTINCT o_custkey) AS nd_ck,
             SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS nl_tp,
             COUNT(DISTINCT o_totalprice) AS nd_tp,
             SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS nl_op,
             COUNT(DISTINCT o_orderpriority) AS nd_op
      FROM new_t
    )
    SELECT col, status,
           CAST(COALESCE(null_bp_old, -1) AS BIGINT) AS null_bp_old,
           CAST(COALESCE(null_bp_new, -1) AS BIGINT) AS null_bp_new,
           CAST(COALESCE(ndv_old, -1) AS BIGINT) AS ndv_old,
           CAST(COALESCE(ndv_new, -1) AS BIGINT) AS ndv_new
    FROM (
      SELECT 'o_custkey' AS col, 'type_changed' AS status,
             om.nl_ck * 10000 // om.n AS null_bp_old,
             nm.nl_ck * 10000 // nm.n AS null_bp_new,
             om.nd_ck AS ndv_old, nm.nd_ck AS ndv_new
      FROM om, nm
      UNION ALL
      SELECT 'o_orderdate', 'removed',
             om.nl_od * 10000 // om.n, NULL, om.nd_od, NULL FROM om, nm
      UNION ALL
      SELECT 'o_orderkey', 'kept',
             om.nl_ok * 10000 // om.n, nm.nl_ok * 10000 // nm.n,
             om.nd_ok, nm.nd_ok FROM om, nm
      UNION ALL
      SELECT 'o_orderpriority', 'added',
             NULL, nm.nl_op * 10000 // nm.n, NULL, nm.nd_op FROM om, nm
      UNION ALL
      SELECT 'o_totalprice', 'kept',
             om.nl_tp * 10000 // om.n, nm.nl_tp * 10000 // nm.n,
             om.nd_tp, nm.nd_tp FROM om, nm
    )
    """,
)
def schema_drift_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema & profile drift report (operators/drift.py): v_old drops a
    quarter of the rows and carries o_orderdate; v_new adds
    o_orderpriority and retypes o_custkey to string — the report must
    classify every column (kept / added / removed / type_changed) and
    agree with the oracle's hand-assembled integer profile (null basis
    points by floor division, exact distinct counts) cell for cell. One
    aggregate pass per side; only two 1-row results reach the driver.

    Gate note: the operator reports NULL metrics on the side where a
    column does not exist; the gated twin encodes absent-as -1 on BOTH
    engines instead. Nullable int64 is probably safe (the driver's
    fetch keeps masked ints integral — r05-green scd2/asof prove it)
    but a pandas-family fetch coerces it to float64, so the sentinel
    removes any dependence on that fetch-path detail."""
    from app_insights_generator_spark.operators.drift import schema_drift

    orders = load_table(spark, sf_dir, "orders")
    old = orders.filter(F.expr("o_orderkey % 4 != 0")).select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"
    )
    new = orders.select(
        "o_orderkey",
        F.col("o_custkey").cast("string").alias("o_custkey"),
        "o_totalprice",
        "o_orderpriority",
    )
    return schema_drift(old, new).na.fill(
        -1, ["null_bp_old", "null_bp_new", "ndv_old", "ndv_new"]
    )


@register(
    "sql_udf_revenue_lineitem",
    f"""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(ROUND(SUM({_x.sql_disc_price()}), 2) AS DOUBLE) AS revenue
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def sql_udf_revenue_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-defined scalar function (Spark 4 ``CREATE FUNCTION ... RETURN
    <expr>``, SPARK-46246): the discounted-price money expression is
    defined ONCE as a catalog-level SQL UDF and reused by name — the
    governance surface for shared business logic (one definition, every
    query inherits the exact-decimal semantics instead of re-pasting the
    cast chain). Unlike Python UDFs this stays pure Catalyst expression
    code: substituted at resolution time, fully codegen'd, zero
    serialization boundary — the plan is identical to writing the
    expression inline, which is exactly what the oracle does (DuckDB's
    counterpart concept is CREATE MACRO; the oracle inlines since it
    must stay a single SELECT).

    Money math follows queries/_exact.py: DECIMAL sums (order-
    independent), one final ROUND->double."""
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION disc_price_exact(p DOUBLE, d DOUBLE) "
        "RETURNS DECIMAL(20,4) "
        "RETURN CAST(p AS DECIMAL(14,2)) * "
        "(CAST(1 AS DECIMAL(3,2)) - CAST(d AS DECIMAL(4,2)))"
    )
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("_sqludf_lineitem")
    return spark.sql(
        """
        SELECT l_returnflag,
               CAST(COUNT(*) AS BIGINT) AS n_items,
               CAST(ROUND(SUM(disc_price_exact(l_extendedprice, l_discount)), 2)
                    AS DOUBLE) AS revenue
        FROM _sqludf_lineitem
        GROUP BY l_returnflag
        """
    )


@register(
    "cdc_apply_customer_balances",
    f"""
    WITH log AS (
      SELECT o_custkey AS key, o_orderkey AS seq,
             CASE WHEN o_orderkey % 10 < 7 THEN 'U' ELSE 'D' END AS op,
             {_x.sql_cents('o_totalprice')} AS new_balance_cents
      FROM orders
    ),
    last AS (
      SELECT key, op, new_balance_cents FROM (
        SELECT key, op, new_balance_cents,
               ROW_NUMBER() OVER (PARTITION BY key ORDER BY seq DESC) AS rn
        FROM log) WHERE rn = 1
    ),
    base AS (
      SELECT c_custkey AS key, {_x.sql_cents('c_acctbal')} AS balance_cents
      FROM customer
    )
    SELECT b.key,
           CASE WHEN l.op = 'U' THEN l.new_balance_cents
                ELSE b.balance_cents END AS balance_cents,
           CASE WHEN l.op IS NULL THEN 'base'
                WHEN l.op = 'U' THEN 'updated' END AS src
    FROM base b LEFT JOIN last l USING (key)
    WHERE l.op IS NULL OR l.op <> 'D'
    UNION ALL
    SELECT l.key, l.new_balance_cents, 'inserted'
    FROM last l LEFT JOIN base b USING (key)
    WHERE b.key IS NULL AND l.op = 'U'
    """,
)
def cdc_apply_customer_balances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture apply: compact an ordered upsert/delete
    changelog down to one final operation per key (max-sequence wins),
    then apply it over the baseline snapshot — surviving rows are
    baseline keys not deleted (updated in place when the last op is an
    upsert) plus net-new inserted keys. This is what Delta/Hudi MERGE
    does under the hood, expressed as two exchanges in plain Spark: one
    window to compact the log (the "deduplicate by key, latest wins"
    step every CDC pipeline runs first) and one outer join to apply.
    The changelog is synthesized deterministically from orders
    (o_orderkey is the sequence; %10<7 -> upsert with the order's price
    as the new balance, else delete), so both engines derive the
    identical log. Balances ride as integer cents throughout.

    Scale: log compaction shuffles the CHANGELOG (usually << snapshot)
    keyed by key; the apply join shuffles once on the same key, so at
    100 TB the snapshot partitioning is reused (bucket both on key and
    neither re-shuffles). Complements merge_upsert (SCD1 single-batch)
    and scd2 (history-keeping): this is the ordered-multi-op-per-key
    form."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    log = orders.select(
        F.col("o_custkey").alias("key"),
        F.col("o_orderkey").alias("seq"),
        F.when(F.col("o_orderkey") % 10 < 7, "U").otherwise("D").alias("op"),
        _x.cents("o_totalprice").alias("new_balance_cents"),
    )
    w = Window.partitionBy("key").orderBy(F.col("seq").desc())
    last = (
        log.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("key", "op", "new_balance_cents")
    )
    base = customer.select(
        F.col("c_custkey").alias("key"),
        _x.cents("c_acctbal").alias("balance_cents"),
    )
    joined = base.join(last, "key", "left")
    survivors = joined.filter(
        F.col("op").isNull() | (F.col("op") != "D")
    ).select(
        "key",
        F.when(F.col("op") == "U", F.col("new_balance_cents"))
        .otherwise(F.col("balance_cents"))
        .alias("balance_cents"),
        F.when(F.col("op").isNull(), "base")
        .when(F.col("op") == "U", "updated")
        .alias("src"),
    )
    inserts = (
        last.join(base, "key", "left_anti")
        .filter(F.col("op") == "U")
        .select(
            "key",
            F.col("new_balance_cents").alias("balance_cents"),
            F.lit("inserted").alias("src"),
        )
    )
    return survivors.unionByName(inserts)


@register(
    "robust_stats_orders_price",
    f"""
    WITH t AS (
      SELECT o_orderpriority AS grp, o_orderkey AS uid,
             {_x.sql_cents('o_totalprice')} AS cents
      FROM orders
    ),
    r1 AS (
      SELECT grp, uid, cents,
             ROW_NUMBER() OVER (PARTITION BY grp ORDER BY cents, uid) AS rn,
             COUNT(*) OVER (PARTITION BY grp) AS n
      FROM t
    ),
    med AS (
      SELECT grp, MAX(n) AS n,
             MAX(CASE WHEN rn = (n + 1) // 2 THEN cents END) AS median_cents
      FROM r1 GROUP BY grp
    ),
    dev AS (
      SELECT t.grp, t.uid, abs(t.cents - m.median_cents) AS d
      FROM t JOIN med m ON t.grp = m.grp
    ),
    r2 AS (
      SELECT grp, d,
             ROW_NUMBER() OVER (PARTITION BY grp ORDER BY d, uid) AS rn,
             COUNT(*) OVER (PARTITION BY grp) AS n
      FROM dev
    )
    SELECT m.grp,
           CAST(m.n AS BIGINT) AS n_orders,
           CAST(m.median_cents AS BIGINT) AS median_cents,
           CAST(MAX(CASE WHEN r2.rn = (r2.n + 1) // 2 THEN r2.d END) AS BIGINT)
             AS mad_cents
    FROM med m JOIN r2 ON r2.grp = m.grp
    GROUP BY m.grp, m.n, m.median_cents
    """,
)
def robust_stats_orders_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-group statistics: exact discrete MEDIAN and MAD (median
    absolute deviation) of order price in integer cents — the
    outlier-resistant center/spread pair that mean/stddev anomaly rules
    get poisoned out of by the very outliers they hunt. Both medians use
    the ceil(n/2) rank-selection form (ties broken by order key), so the
    result is an actual corpus value and bit-identical across engines —
    no interpolation, no sketches.

    Scale: two window passes partitioned by the group key (parallel
    per-group sorts; at very high per-group cardinality the same
    rank-select runs on a pre-aggregated (grp, cents, count) histogram —
    see disc_percentiles_from_counts) plus one broadcast-sized join of
    the per-group medians back onto the rows.

    Reference parity: no counterpart; §2.5 statistics extension
    alongside regr/percentile/histogram."""
    orders = load_table(spark, sf_dir, "orders")
    t = orders.select(
        F.col("o_orderpriority").alias("grp"),
        F.col("o_orderkey").alias("uid"),
        _x.cents("o_totalprice").alias("cents"),
    )
    w1 = Window.partitionBy("grp").orderBy("cents", "uid")
    wn = Window.partitionBy("grp")
    r1 = t.select(
        "grp",
        "cents",
        F.row_number().over(w1).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    med = r1.groupBy("grp").agg(
        F.max("n").alias("n"),
        F.max(
            F.when(F.col("rn") == F.expr("(n + 1) DIV 2"), F.col("cents"))
        ).alias("median_cents"),
    )
    dev = t.join(F.broadcast(med.select("grp", "median_cents")), "grp").select(
        "grp",
        "uid",
        F.abs(F.col("cents") - F.col("median_cents")).alias("d"),
    )
    w2 = Window.partitionBy("grp").orderBy("d", "uid")
    r2 = dev.select(
        "grp",
        "d",
        F.row_number().over(w2).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    mad = r2.groupBy("grp").agg(
        F.max(
            F.when(F.col("rn") == F.expr("(n + 1) DIV 2"), F.col("d"))
        ).cast("long").alias("mad_cents")
    )
    return (
        med.join(mad, "grp")
        .select(
            "grp",
            F.col("n").cast("long").alias("n_orders"),
            F.col("median_cents").cast("long").alias("median_cents"),
            "mad_cents",
        )
    )


@register(
    "distribution_drift_chi2_documents",
    """
    WITH v1 AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS o1
      FROM documents WHERE doc_id % 2 = 1 GROUP BY lang
    ),
    v2 AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS o2
      FROM documents GROUP BY lang
    ),
    n AS (SELECT (SELECT SUM(o1) FROM v1) AS n1,
                 (SELECT SUM(o2) FROM v2) AS n2)
    SELECT v1.lang, v1.o1, v2.o2,
           CAST(((v2.o2 * n.n1 - v1.o1 * n.n2)
                 * (v2.o2 * n.n1 - v1.o1 * n.n2) * 1000000)
                // (CAST(n.n1 AS BIGINT) * v1.o1 * n.n2) AS BIGINT)
             AS chi2_contrib_micro
    FROM v1 JOIN v2 USING (lang), n
    """,
)
def distribution_drift_chi2_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Distribution drift between two dataset versions as an integer
    chi-square statistic — the PROFILE-drift complement to the
    schema-drift report: schema_drift says a column appeared or
    retyped; this says the language mix itself moved. Per-cell
    contribution uses the algebraic form
    (o2*n1 - o1*n2)^2 / (n1*o1*n2) == (o2-e)^2/e with e = o1*n2/n1,
    scaled to micro-units and floor-divided so both engines emit the
    same integer — no floating expected-count anywhere. Version 1 is
    the odd-doc_id half, version 2 the full corpus (a deterministic
    synthetic "new dump").

    Scale: two tiny keyed aggregates + a 1-row total broadcast. The
    integer products need n*o < ~3e9 to stay in int64 ((o2*n1)^2
    dominates); at real corpus counts run the identical algebra after
    down-scaling counts to per-million rates, or in DECIMAL(38) — the
    statistic is scale-invariant up to the chosen unit.

    Reference parity: no counterpart; §2.5 data-quality extension
    alongside schema_drift / dq_report."""
    docs = load_table(spark, sf_dir, "documents")
    v1 = (
        docs.filter(F.col("doc_id") % 2 == 1)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).cast("long").alias("o1"))
    )
    v2 = docs.groupBy("lang").agg(F.count(F.lit(1)).cast("long").alias("o2"))
    totals = v1.agg(F.sum("o1").alias("n1")).crossJoin(
        v2.agg(F.sum("o2").alias("n2"))
    )
    return (
        v1.join(v2, "lang")
        .crossJoin(F.broadcast(totals))
        .select(
            "lang",
            "o1",
            "o2",
            F.expr(
                "CAST(((o2 * n1 - o1 * n2) * (o2 * n1 - o1 * n2) * 1000000)"
                " DIV (n1 * o1 * n2) AS LONG)"
            ).alias("chi2_contrib_micro"),
        )
    )


# --- Kolmogorov–Smirnov distribution drift (exact integer form) --------------


@register(
    "ks_drift_orders_price",
    f"""
    WITH t AS (
      SELECT {_x.sql_cents('o_totalprice')} AS cents,
             CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END AS is_a
      FROM orders
    ),
    c AS (
      SELECT cents,
             CAST(SUM(is_a) AS BIGINT) AS ca,
             CAST(SUM(1 - is_a) AS BIGINT) AS cb
      FROM t GROUP BY cents
    ),
    cum AS (
      SELECT cents,
             CAST(SUM(ca) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ka,
             CAST(SUM(cb) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS BIGINT) AS kb,
             CAST(SUM(ca) OVER () AS BIGINT) AS na,
             CAST(SUM(cb) OVER () AS BIGINT) AS nb
      FROM c
    )
    SELECT na, nb,
           abs(ka * nb - kb * na) AS ks_scaled,
           cents AS ks_at_cents
    FROM cum
    ORDER BY ks_scaled DESC, cents ASC
    LIMIT 1
    """,
)
def ks_drift_orders_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov drift statistic, EXACT integer form:
    split orders into even/odd key halves and find the maximum CDF gap
    of o_totalprice between them. The float statistic sup|F_a - F_b| is
    computed cross-multiplied — |k_a*n_b - k_b*n_a| over the merged
    distinct-value grid — so both engines agree bit-for-bit; the float
    KS is ks_scaled/(n_a*n_b) at read time. Emits the max and the
    SMALLEST value achieving it (deterministic argmax tie-break). The
    profile-drift complement to distribution_drift_chi2_documents:
    chi-square tests categorical bins, KS tests a continuous CDF with
    no binning choice at all.

    Scale: one groupBy on value (map-side combine collapses 100 TB of
    rows to the distinct-value grid), one global-window cumulative pass
    over that grid, one top-1. The grid for 2-decimal money is bounded
    (~1e7 distinct cents), so the single-partition cumulative window is
    safe — for truly unbounded-cardinality values, pre-bucket first
    (the chi2 path). int64 headroom: k*n < n_a*n_b ~ 2.6e17 even at
    5e8 rows per side.

    Rotated into the round-6 gate window (pre-sweep addition)."""
    orders = load_table(spark, sf_dir, "orders")
    t = orders.select(
        _x.cents("o_totalprice").alias("cents"),
        F.when(F.col("o_orderkey") % 2 == 0, 1).otherwise(0).alias("is_a"),
    )
    c = t.groupBy("cents").agg(
        F.sum("is_a").cast("long").alias("ca"),
        F.sum(1 - F.col("is_a")).cast("long").alias("cb"),
    )
    wcum = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    cum = c.select(
        "cents",
        F.sum("ca").over(wcum).cast("long").alias("ka"),
        F.sum("cb").over(wcum).cast("long").alias("kb"),
        F.sum("ca").over(wall).cast("long").alias("na"),
        F.sum("cb").over(wall).cast("long").alias("nb"),
    )
    return (
        cum.select(
            "na",
            "nb",
            F.abs(F.col("ka") * F.col("nb") - F.col("kb") * F.col("na")).alias(
                "ks_scaled"
            ),
            F.col("cents").alias("ks_at_cents"),
        )
        .orderBy(F.desc("ks_scaled"), F.asc("ks_at_cents"))
        .limit(1)
    )


# --- k-core peeling (graph degeneracy) ---------------------------------------


def _kcore_oracle(k: int = 2, rounds: int = 4) -> str:
    """Unrolled fixed-round peel: e0 (symmetrized planted graph), then
    per round keep_i = nodes of degree >= k in e_{i-1}, e_i = edges with
    both endpoints kept — the same chained-CTE discipline as pagerank."""
    parts = [
        """
    WITH core AS (
      SELECT d.doc_id AS s, (d.doc_id + o.o) % 30 AS t
      FROM documents d, (SELECT unnest([1, 2, 3]) AS o) o
      WHERE d.doc_id < 30
    ),
    chain AS (
      SELECT doc_id AS s, CASE WHEN doc_id = 30 THEN 0 ELSE doc_id - 1 END AS t
      FROM documents WHERE doc_id BETWEEN 30 AND 199
    ),
    e0 AS (
      SELECT DISTINCT a, b FROM (
        SELECT s AS a, t AS b FROM core UNION ALL SELECT t, s FROM core
        UNION ALL SELECT s, t FROM chain UNION ALL SELECT t, s FROM chain
      ) WHERE a != b
    )"""
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f""",
    k{i} AS (SELECT a FROM e{i - 1} GROUP BY a HAVING COUNT(*) >= {k}),
    e{i} AS (SELECT e.a, e.b FROM e{i - 1} e
             JOIN k{i} x ON e.a = x.a JOIN k{i} y ON e.b = y.a)"""
        )
    parts.append(
        f"""
    SELECT a AS node, CAST(COUNT(*) AS BIGINT) AS deg
    FROM e{rounds} GROUP BY a"""
    )
    return "".join(parts)


@register("kcore_documents_graph", _kcore_oracle())
def kcore_documents_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core peeling (k=2, 4 rounds — operators/graph.py kcore_peel)
    over a PLANTED graph built in closed form from doc ids: nodes 0-29
    form a circulant core (each linked to the next three, degree 6 —
    inside the 2-core forever), nodes 30-199 hang off it as a single
    chain whose free end has degree 1 — so each peel round removes
    exactly the current chain tip, and a 4-round budget strips exactly
    4 nodes (196-199). The planted structure makes the peeling CASCADE
    itself the thing the gate pins: one wrong round, one missed degree
    update, one direction bug in symmetrization, and the surviving node
    set differs. Graph degeneracy/k-core is the standard community-seed
    and influence-pruning primitive (Seidman 1983) and completes the
    iterative-graph family (pagerank / BFS / SSSP / triangles / CC).

    Scale: one degree groupBy + two node-keyed semi-joins per round,
    lineage truncated per round — identical cost shape to the other
    fixed-iteration graph ops in the module.

    Rotated into the round-6 gate window (pre-sweep addition)."""
    from app_insights_generator_spark.operators.graph import kcore_peel

    docs = load_table(spark, sf_dir, "documents")
    core = (
        docs.filter(F.col("doc_id") < 30)
        .select("doc_id", F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("o"))
        .select(
            F.col("doc_id").alias("src"),
            ((F.col("doc_id") + F.col("o")) % 30).alias("dst"),
        )
    )
    chain = (
        docs.filter(F.col("doc_id").between(30, 199))
        .select(
            F.col("doc_id").alias("src"),
            F.when(F.col("doc_id") == 30, F.lit(0))
            .otherwise(F.col("doc_id") - 1)
            .cast("long")
            .alias("dst"),
        )
    )
    edges = core.unionByName(chain)
    return kcore_peel(edges, k=2, rounds=4)


# --- HLL sketch merge audit (mergeable NDV, exact side gated) ----------------


@register(
    "hll_union_ndv_orders",
    """
    WITH per AS (
      SELECT o_orderstatus AS status,
             CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_ndv
      FROM orders GROUP BY o_orderstatus
    ),
    tot AS (SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS g FROM orders)
    SELECT per.status, per.exact_ndv,
           (SELECT g FROM tot) AS exact_global_ndv,
           TRUE AS sketch_within_5pct
    FROM per
    """,
)
def hll_union_ndv_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL sketch MERGEABILITY audit: per-status HyperLogLog sketches of
    the customer key (hll_sketch_agg) are UNIONED (hll_union_agg) into a
    global sketch — the partial-aggregate algebra that lets a 100 TB NDV
    refresh merge per-partition/per-day sketches instead of re-scanning
    (the approximate cousin of incremental_agg_orders' exact states).

    Gate design (the ANN-recall pattern): the exact per-status and
    global NDVs are SQL-expressible and hash-gated; the sketch estimates
    exist only in Spark's Datasketches binary format (DuckDB's
    approx_count_distinct is a different implementation), so the sketch
    side is enforced by a HARD IN-QUERY INVARIANT — the query RAISES
    unless BOTH every per-status estimate and the union'd global
    estimate are within 5% of exact (HLL's standard error at the
    default lgConfigK=12 is ~1.6%, so 5% is a real failure bound, not a
    tautology), and emits the verdict as a constant column the oracle
    pins TRUE. Sketches are insertion-order-independent (register-max),
    so the estimates are deterministic across partitionings — but their
    exact values are implementation detail, which is precisely why they
    stay out of the hash and inside the invariant.

    Rotated into the round-6 gate window (pre-sweep addition)."""
    o = load_table(spark, sf_dir, "orders")
    per = o.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.countDistinct("o_custkey").cast("long").alias("exact_ndv"),
        F.expr("hll_sketch_agg(o_custkey)").alias("sk"),
    )
    rows = per.select(
        "status",
        "exact_ndv",
        F.expr("hll_sketch_estimate(sk)").cast("long").alias("est"),
        "sk",
    ).collect()
    exact_global = o.select(
        F.countDistinct("o_custkey").cast("long").alias("g")
    ).collect()[0].g
    global_est = (
        per.agg(F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("e"))
        .collect()[0]
        .e
    )
    for r in rows:
        if abs(r.est - r.exact_ndv) * 100 > 5 * r.exact_ndv:
            raise AssertionError(
                f"HLL per-status estimate off >5%: {r.status} "
                f"est={r.est} exact={r.exact_ndv}"
            )
    if abs(global_est - exact_global) * 100 > 5 * exact_global:
        raise AssertionError(
            f"HLL union estimate off >5%: est={global_est} exact={exact_global}"
        )
    spark_rows = [
        (r.status, r.exact_ndv, exact_global, True) for r in rows
    ]
    return spark.createDataFrame(
        spark_rows,
        "status string, exact_ndv long, exact_global_ndv long, "
        "sketch_within_5pct boolean",
    )


@register(
    "percentile_sketch_audit_lineitem",
    f"""
    WITH t AS (
      SELECT l_quantity AS q,
             ROW_NUMBER() OVER (ORDER BY l_quantity, l_orderkey, l_linenumber)
               AS rn,
             COUNT(*) OVER () AS n
      FROM lineitem
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_rows,
           CAST(MAX(CASE WHEN rn = (n * 50 + 99) // 100 THEN q END) AS BIGINT)
             AS exact_p50,
           CAST(MAX(CASE WHEN rn = (n * 99 + 99) // 100 THEN q END) AS BIGINT)
             AS exact_p99,
           TRUE AS sketch_within_rank_tolerance
    FROM t
    """,
)
def percentile_sketch_audit_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-sketch audit (the ANN-recall / HLL-audit pattern): exact
    discrete p50/p99 of l_quantity (ceil-rank selection over a total
    order, hash-gated) beside Spark's approx_percentile sketch, whose
    estimates are enforced by a HARD IN-QUERY INVARIANT: with accuracy
    parameter 10000 the sketch guarantees rank error <= n/10000, so the
    returned values' TRUE ranks must fall within that band of the
    target ranks — the query RAISES otherwise and emits the verdict as
    a constant the oracle pins TRUE. This is the audit that justifies
    replacing the global-sort exact percentile with the mergeable
    sketch at 100 TB (the same exact-vs-approx promotion decision as
    IVF-vs-exact and HLL-vs-countDistinct, measured not assumed).

    Rotated into the round-6 gate window (pre-sweep addition)."""
    li = load_table(spark, sf_dir, "lineitem")
    # exact side via rank selection (one sort), sketch side via one agg
    w = Window.orderBy(F.col("l_quantity"), F.col("l_orderkey"), F.col("l_linenumber"))
    t = li.select(
        F.col("l_quantity").alias("q"),
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
    )
    exact = t.groupBy().agg(
        F.max("n").cast("long").alias("n_rows"),
        F.max(F.when(F.col("rn") == F.expr("(n * 50 + 99) DIV 100"), F.col("q")))
        .cast("long")
        .alias("exact_p50"),
        F.max(F.when(F.col("rn") == F.expr("(n * 99 + 99) DIV 100"), F.col("q")))
        .cast("long")
        .alias("exact_p99"),
    ).collect()[0]
    approx = li.agg(
        F.expr("approx_percentile(l_quantity, 0.5, 10000)").alias("a50"),
        F.expr("approx_percentile(l_quantity, 0.99, 10000)").alias("a99"),
    ).collect()[0]
    # verify rank tolerance: the sketch value's true rank band must
    # include the target rank within n/accuracy
    tol = exact.n_rows // 10000 + 1
    for target_pct, aval in ((50, approx.a50), (99, approx.a99)):
        target_rank = (exact.n_rows * target_pct + 99) // 100
        below, at_or_below = (
            li.agg(
                F.count_if(F.col("l_quantity") < aval),
                F.count_if(F.col("l_quantity") <= aval),
            ).collect()[0]
        )
        if not (below - tol <= target_rank <= at_or_below + tol):
            raise AssertionError(
                f"approx_percentile p{target_pct}={aval} rank band "
                f"[{below}, {at_or_below}] misses target {target_rank} ± {tol}"
            )
    return spark.createDataFrame(
        [(exact.n_rows, exact.exact_p50, exact.exact_p99, True)],
        "n_rows long, exact_p50 long, exact_p99 long, "
        "sketch_within_rank_tolerance boolean",
    )


# --- Order-independent table checksum (migration validation) -----------------

#: DuckDB twin of Spark's conv(substring(md5(x), 1, 11), 16, 10): explicit
#: base-16 digit expansion (the '0x'||…::BIGINT literal cast is the
#: version-sensitive surface the r05 verdict flagged — never again).
_SQL_MD5_44 = (
    "list_sum(list_transform(range(11), i -> "
    "(strpos('0123456789abcdef', substring(md5({x}), CAST(i + 1 AS INTEGER), 1)) - 1)"
    " * (1::BIGINT << CAST(4 * (10 - i) AS INTEGER))))"
)


@register(
    "table_checksum_customer",
    f"""
    WITH h AS (
      SELECT {_SQL_MD5_44.format(x="CAST(c_custkey AS VARCHAR) || '|' || c_name || '|' || CAST(c_nationkey AS VARCHAR) || '|' || c_mktsegment")} AS rh
      FROM customer
    )
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(rh) AS BIGINT) AS checksum_sum,
           CAST(MIN(rh) AS BIGINT) AS checksum_min
    FROM h
    """,
)
def table_checksum_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent table checksum — the migration-validation
    primitive for exactly this repo's situation (switching engines and
    proving the data survived): each row's key columns are rendered to
    a canonical '|'-joined string, md5-hashed, truncated to 44 bits
    (11 hex chars), and folded with the commutative SUM — partition-,
    order-, and engine-independent — plus MIN as a second independent
    fold so a compensating-error pair cannot slip through either. 44
    bits keeps the int64 sum exact to ~500k rows; past that the fold
    moves to DECIMAL(38) (sum only — the per-row hash stays 44-bit).

    Only STRING and INTEGER columns enter the rendering; float columns
    must pass through explicit fixed-point formatting (the cents
    discipline) first — repr'ing doubles into a checksum is the classic
    cross-engine validation mistake this query exists to avoid.

    Rotated into the round-6 gate window (pre-sweep addition)."""
    c = load_table(spark, sf_dir, "customer")
    canon = F.concat_ws(
        "|",
        F.col("c_custkey").cast("string"),
        F.col("c_name"),
        F.col("c_nationkey").cast("string"),
        F.col("c_mktsegment"),
    )
    rowhash = F.conv(F.substring(F.md5(canon), 1, 11), 16, 10).cast("long")
    return c.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(rowhash).cast("long").alias("checksum_sum"),
        F.min(rowhash).cast("long").alias("checksum_min"),
    )


# --- SQL pipe syntax (Spark 4 |> operator chains) ----------------------------


@register(
    "pipe_syntax_orders_monthly",
    f"""
    SELECT o_orderpriority,
           CAST(EXTRACT(month FROM o_orderdate) AS BIGINT) AS month,
           COUNT(*) AS n_orders,
           CAST(SUM({_x.sql_cents('o_totalprice')}) AS BIGINT) AS sum_cents
    FROM orders
    WHERE o_orderstatus = 'F'
    GROUP BY o_orderpriority, EXTRACT(month FROM o_orderdate)
    """,
)
def pipe_syntax_orders_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL PIPE SYNTAX (Spark 4, SPARK-49555): the |>-chained form reads
    top-down in execution order — FROM |> WHERE |> EXTEND |> AGGREGATE —
    instead of the inside-out SELECT nesting; same Catalyst plan, purely
    an API-surface capability (the oracle is the equivalent classic
    SQL). EXTEND adds the derived month column before aggregation, and
    AGGREGATE ... GROUP BY fuses projection+grouping, the two pipe
    operators with no one-keyword classic equivalent.

    Registered for the round-7 gate window (post-sweep addition)."""
    orders = load_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("pipe_orders_v")
    return spark.sql(
        f"""
        FROM pipe_orders_v
        |> WHERE o_orderstatus = 'F'
        |> EXTEND EXTRACT(month FROM o_orderdate) AS month,
                  {_x.sql_cents('o_totalprice')} AS cents
        |> AGGREGATE COUNT(*) AS n_orders,
                     CAST(SUM(cents) AS BIGINT) AS sum_cents
           GROUP BY o_orderpriority, month
        |> SELECT o_orderpriority, CAST(month AS BIGINT) AS month,
                  n_orders, sum_cents
        """
    )


@register(
    "listagg_top_customers_orders",
    """
    WITH c AS (
      SELECT o_orderpriority AS priority,
             CAST(o_custkey AS VARCHAR) AS cust,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM orders GROUP BY 1, 2
    ),
    r AS (
      SELECT priority, cust, n,
             ROW_NUMBER() OVER (PARTITION BY priority
                                ORDER BY n DESC, CAST(cust AS BIGINT)) AS rn
      FROM c
    )
    SELECT priority,
           CAST(SUM(n) AS BIGINT) AS n_orders_top5,
           string_agg(cust, ',' ORDER BY rn) AS top_customers
    FROM r WHERE rn <= 5
    GROUP BY priority
    """,
)
def listagg_top_customers_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LISTAGG ... WITHIN GROUP (SQL:2016 T625; Spark 4.0, SPARK-42746):
    the ordered string-aggregation surface — per order priority, the
    top-5 customers by order count concatenated in rank order. DuckDB's
    twin spells it string_agg(x, sep ORDER BY ...); the WITHIN GROUP
    ordering is what makes the concatenation deterministic (an unordered
    listagg is partition-order-dependent and could never be gated).
    Ties in the customer ranking break by numeric key, so the rank — and
    therefore the string — is total-order stable in both engines.

    Scale: one (priority, customer) aggregate with map-side combine, a
    priority-partitioned rank window on the aggregate (bounded by the
    customer-count grain, not the fact table), and a 5-row-per-priority
    string fold.

    Reference parity: none (main.py has no string aggregation); SQL
    surface extension next to GROUP BY ALL / pipe syntax / collations.
    Registered on ROTATION_NEXT (round-10 window; post-sweep addition)."""
    orders = load_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("la_orders_v")
    return spark.sql(
        """
        WITH c AS (
          SELECT o_orderpriority AS priority,
                 CAST(o_custkey AS STRING) AS cust,
                 CAST(COUNT(*) AS BIGINT) AS n
          FROM la_orders_v GROUP BY 1, 2
        ),
        r AS (
          SELECT priority, cust, n,
                 ROW_NUMBER() OVER (PARTITION BY priority
                                    ORDER BY n DESC, CAST(cust AS BIGINT)) AS rn
          FROM c
        )
        SELECT priority,
               CAST(SUM(n) AS BIGINT) AS n_orders_top5,
               listagg(cust, ',') WITHIN GROUP (ORDER BY rn) AS top_customers
        FROM r WHERE rn <= 5
        GROUP BY priority
        """
    )


@register(
    "sql_group_by_all_orders",
    f"""
    SELECT o_orderstatus,
           CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS year,
           COUNT(*) AS n_orders,
           CAST(SUM({_x.sql_cents('o_totalprice')}) AS BIGINT) AS sum_cents
    FROM orders
    GROUP BY ALL
    ORDER BY ALL
    """,
)
def sql_group_by_all_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL / ORDER BY ALL (Spark 3.4+, SPARK-41231): the grouping
    key list is inferred as every non-aggregate select item — the
    analyzer sugar both engines implement with identical inference
    rules, so the SAME query text runs on Spark and DuckDB (this oracle
    IS the Spark SQL, modulo nothing). Purely API surface: the resolved
    plan is the explicit two-key aggregate.

    Registered for the round-7 gate window (mid-round addition)."""
    orders = load_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("gba_orders_v")
    return spark.sql(
        f"""
        SELECT o_orderstatus,
               CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS year,
               COUNT(*) AS n_orders,
               CAST(SUM({_x.sql_cents('o_totalprice')}) AS BIGINT) AS sum_cents
        FROM gba_orders_v
        GROUP BY ALL
        ORDER BY ALL
        """
    )


# --- Skyline / Pareto frontier ------------------------------------------------


@register(
    "skyline_parts_price_size",
    f"""
    WITH pts AS (
      SELECT p_partkey,
             {_x.sql_cents('p_retailprice')} AS price_cents,
             CAST(p_size AS BIGINT) AS p_size
      FROM part
    )
    SELECT a.p_partkey AS p_partkey,
           a.price_cents AS price_cents,
           a.p_size AS p_size
    FROM pts a
    WHERE NOT EXISTS (
      SELECT 1 FROM pts b
      WHERE b.price_cents <= a.price_cents AND b.p_size >= a.p_size
        AND (b.price_cents < a.price_cents OR b.p_size > a.p_size))
    """,
)
def skyline_parts_price_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto frontier): parts no other part dominates on
    (price low, size high); ties on both axes survive together. The
    oracle is the textbook NOT EXISTS dominance scan — O(n²), truth
    anchor only. The Spark plan is the scale-safe sort-scan form:
    (1) aggregate to price tiers (map-side combine; one shuffle on
    price_cents, output bounded by |distinct prices|), (2) one ordered
    window computes each tier's strictly-cheaper running max — a tier is
    on the frontier iff its max size beats it, so frontier tiers are
    strictly increasing in size and number at most |distinct sizes|,
    (3) broadcast the tiny frontier back onto part for the row-level
    members (equal (price,size) duplicates all survive). The global
    orderBy window runs on the TIER table, never the fact table; at a
    price domain too large for one partition the same prefix-max
    decomposes into range-partitioned partial maxima + a broadcast
    offset pass, but |tiers| ≤ |distinct cents values| makes that moot
    here.

    Registered for the round-7 gate window (post-sweep addition)."""
    part = _t(spark, sf_dir, "part").select(
        "p_partkey",
        _x.cents("p_retailprice").alias("price_cents"),
        F.col("p_size").cast("long").alias("p_size"),
    )
    return skyline_2d(part)


def skyline_2d(pts: DataFrame) -> DataFrame:
    """Skyline members of (price_cents min, p_size max); remaining columns
    of ``pts`` ride along. Tie pairs (equal on both axes) all survive."""
    tiers = pts.groupBy("price_cents").agg(F.max("p_size").alias("tier_max"))
    prior = Window.orderBy("price_cents").rowsBetween(Window.unboundedPreceding, -1)
    frontier = (
        tiers.withColumn("prev_max", F.max("tier_max").over(prior))
        .filter(F.col("prev_max").isNull() | (F.col("tier_max") > F.col("prev_max")))
        .select("price_cents", F.col("tier_max").alias("p_size"))
    )
    return pts.join(F.broadcast(frontier), ["price_cents", "p_size"]).select(
        *[c for c in pts.columns if c not in ("price_cents", "p_size")],
        "price_cents",
        "p_size",
    )


# --- Market-basket frequent pairs ---------------------------------------------


@register(
    "frequent_part_pairs_lineitem",
    """
    WITH d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
    SELECT a.l_partkey AS p1, b.l_partkey AS p2, COUNT(*) AS n_orders
    FROM d a
    JOIN d b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY a.l_partkey, b.l_partkey
    HAVING COUNT(*) >= 2
    """,
)
def frequent_part_pairs_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket mining: part pairs co-purchased in >= 2 orders (the
    frequent-itemset level-2 pass; the insights sweep's Apriori machinery
    is the same lattice discipline one level up). The oracle is the
    self-join form; the Spark plan is the basket form that survives
    scale: ONE shuffle groups lineitem to per-order sorted item arrays,
    then i<j pairs are generated JVM-side (array_sort + indexed
    transform/slice — no Python, no self-join of the fact table) at
    O(basket²) per order with basket size bounded by order width (~7 in
    TPC-H), and the pair counts aggregate with map-side combine. A
    self-join on l_orderkey would shuffle lineitem TWICE and build a
    join hash table per partition for no reason — baskets are tiny and
    already colocated after the first groupBy.

    Registered for the round-7 gate window (post-sweep addition)."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    baskets = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("items")
    )
    pairs = baskets.select(
        F.explode(
            F.expr(
                "flatten(transform(items, (x, i) ->"
                " transform(slice(items, i + 2, size(items)),"
                " y -> struct(x AS p1, y AS p2))))"
            )
        ).alias("pr")
    ).select("pr.p1", "pr.p2")
    return (
        pairs.groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= 2)
    )


# --- iterative graph: synchronous label propagation ---------------------------


def _lpa_oracle(iterations: int = 4) -> str:
    """Unrolled-iteration SQL twin of operators/graph.py
    label_propagation — same discipline as _pagerank_oracle: a fixed
    round count unrolls into chained CTEs (aggregates are illegal in a
    recursive term), and every step is engine-agnostic (COUNT + ROW_NUMBER
    with a total ORDER BY, no floats anywhere)."""
    ctes = [
        f"edges0 AS ({_PR_EDGES_SQL})",
        "edges_u AS (SELECT src, dst FROM edges0 UNION SELECT dst, src FROM edges0)",
        "l0 AS (SELECT DISTINCT src AS node, src AS label FROM edges_u)",
    ]
    for i in range(1, iterations + 1):
        ctes.append(
            f"""l{i} AS (
      SELECT node, label FROM (
        SELECT e.src AS node, p.label AS label,
               ROW_NUMBER() OVER (PARTITION BY e.src
                                  ORDER BY COUNT(*) DESC, p.label ASC) AS rn
        FROM edges_u e JOIN l{i - 1} p ON p.node = e.dst
        GROUP BY e.src, p.label
      ) WHERE rn = 1)"""
        )
    return "WITH " + ",\n".join(ctes) + f"\nSELECT node, label FROM l{iterations}"


@register("label_propagation_nation_trade", _lpa_oracle())
def label_propagation_nation_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation over the
    nation trade graph (4 rounds, min-label tie-break) — completes the
    iterative-graph family (pagerank / BFS / SSSP / triangles / k-core)
    with the community primitive. Synchronous rounds are the
    determinism-bearing choice: classic async LPA depends on visit
    order, which no cross-engine hash gate could pin. Per round: one
    neighbor-label frequency shuffle + a row_number window on the same
    key, lineage truncated per round (operators/graph.py
    label_propagation). The oracle unrolls the identical recurrence into
    chained CTEs.

    Registered for the round-7 gate window (post-sweep addition)."""
    from app_insights_generator_spark.operators.graph import label_propagation

    return label_propagation(_nation_trade_edges(spark, sf_dir), iterations=4)


# --- SQL scripting (Spark 4 BEGIN..END control flow) ---------------------------


@register(
    "sql_scripting_threshold_orders",
    """
    WITH ks AS (SELECT unnest(range(0, 40)) AS k),
    c AS (
      SELECT ks.k AS k, 100.0 * (1 << ks.k) AS t,
             (SELECT COUNT(*) FROM orders
               WHERE o_totalprice > 100.0 * (1 << ks.k)) AS n
      FROM ks
    )
    SELECT CAST(t AS BIGINT) AS threshold,
           n AS n_above,
           (SELECT COUNT(*) FROM orders WHERE o_totalprice > t / 2)
             AS n_above_half
    FROM c WHERE n < 100 ORDER BY k LIMIT 1
    """,
)
def sql_scripting_threshold_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL SCRIPTING (Spark 4, SQL/PSM BEGIN..END): a data-dependent
    WHILE loop — double a price threshold until fewer than 100 orders
    exceed it — written as a compound statement with DECLAREd variables
    and a scalar-subquery loop condition, the control-flow surface that
    previously forced a driver-side Python loop. The doubling stays
    exact (powers of two in a DOUBLE), and the oracle computes the same
    fixpoint declaratively: the least k with count(> 100·2^k) < 100.

    Scripting is driver-side control flow around ordinary distributed
    jobs — each WHILE test is one aggregation job, so the loop adds
    rounds, never data movement; same posture as the graph fixpoints.

    Registered for the round-7 gate window (post-sweep addition)."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("script_orders_v")
    return spark.sql(
        """
        BEGIN
          DECLARE v_t DOUBLE DEFAULT 100.0;
          WHILE (SELECT COUNT(*) FROM script_orders_v WHERE o_totalprice > v_t)
                >= 100 DO
            SET v_t = v_t * 2;
          END WHILE;
          SELECT CAST(v_t AS BIGINT) AS threshold,
                 (SELECT COUNT(*) FROM script_orders_v
                   WHERE o_totalprice > v_t) AS n_above,
                 (SELECT COUNT(*) FROM script_orders_v
                   WHERE o_totalprice > v_t / 2) AS n_above_half;
        END
        """
    )


@register(
    "sql_variables_identifier_orders",
    """
    SELECT o_orderpriority, COUNT(*) AS n
    FROM orders WHERE o_orderstatus = 'O'
    GROUP BY o_orderpriority
    """,
)
def sql_variables_identifier_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session variables (DECLARE / SET VAR) + the IDENTIFIER() clause:
    the table name AND the filter value arrive through typed session
    variables, with IDENTIFIER() turning the string variable into a
    relation reference — the injection-safe way to template object names
    (string-concatenated SQL is the alternative). Complements
    parameterized_sql_orders (named literal params): variables persist
    across statements in the session, parameters bind per-call.

    Registered for the round-7 gate window (post-sweep addition)."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("idvar_orders_v")
    spark.sql("DECLARE OR REPLACE VARIABLE v_tbl STRING DEFAULT 'idvar_orders_v'")
    spark.sql("DECLARE OR REPLACE VARIABLE v_status STRING DEFAULT 'F'")
    spark.sql("SET VAR v_status = 'O'")
    return spark.sql(
        """
        SELECT o_orderpriority, COUNT(*) AS n
        FROM IDENTIFIER(v_tbl)
        WHERE o_orderstatus = v_status
        GROUP BY o_orderpriority
        """
    )


# --- Collations (Spark 4 collation-aware string semantics) ----------------------


@register(
    "collation_lcase_group_orders",
    """
    WITH mixed AS (
      SELECT CASE WHEN o_orderkey % 2 = 0 THEN upper(o_orderpriority)
                  ELSE lower(o_orderpriority) END AS p
      FROM orders
    )
    SELECT lower(p) AS priority, COUNT(*) AS n
    FROM mixed GROUP BY lower(p)
    """,
)
def collation_lcase_group_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COLLATION-aware grouping (Spark 4, SPARK-46830): priorities are
    deliberately case-mangled per row, then grouped under a UTF8_LCASE
    collated type — the engine-level answer to case-insensitive
    semantics that otherwise scatter lower() calls through every
    predicate (and break on locale edge cases lower() can't express).
    The group key's DISPLAY value under a collation is whichever variant
    the aggregation sees first — partition-order dependent — so the
    gated output re-canonicalizes with lower() and casts back to a plain
    STRING; the collation is the grouping mechanism, not the emitted
    value. The oracle states the same semantics with lower() grouping.

    Collation-aware hashing/comparison happens inside Tungsten — no UDF,
    no extra pass; at scale this is a property of the shuffle key, free.

    Registered for the round-7 gate window (post-sweep addition)."""
    o = _t(spark, sf_dir, "orders")
    mixed = o.select(
        F.expr(
            "CASE WHEN o_orderkey % 2 = 0 THEN upper(o_orderpriority)"
            " ELSE lower(o_orderpriority) END"
        ).alias("p")
    )
    grouped = mixed.select(
        F.expr("CAST(p AS STRING COLLATE UTF8_LCASE)").alias("pc")
    ).groupBy("pc").agg(F.count(F.lit(1)).alias("n"))
    return grouped.select(
        F.expr("CAST(lower(pc) AS STRING)").alias("priority"), "n"
    )


# --- SQL table-valued function (CREATE FUNCTION ... RETURNS TABLE) ---------------


@register(
    "sql_table_function_orders",
    f"""
    SELECT {_x.sql_cents('o_totalprice')} // 5000000 * 5000000 AS bucket,
           COUNT(*) AS n_orders,
           CAST(SUM({_x.sql_cents('o_totalprice')}) AS BIGINT) AS sum_cents
    FROM orders
    GROUP BY 1
    """,
)
def sql_table_function_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL TABLE-VALUED FUNCTION (CREATE FUNCTION ... RETURNS TABLE,
    Spark 4): a parameterized price-histogram relation invoked FROM the
    function — the catalog-level reusable-view-with-arguments the scalar
    SQL UDF (sql_udf_revenue_lineitem) can't express. The body is
    ordinary SQL over a view, so the planner inlines it: the invocation
    plans exactly like the underlying aggregate (no UDF boundary, full
    codegen). Bucket arithmetic is exact integer cents; the oracle is
    the inlined body at the same argument.

    Registered for the round-7 gate window (post-sweep addition)."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("tvf_orders_v")
    spark.sql(
        f"""
        CREATE OR REPLACE TEMPORARY FUNCTION price_buckets(width BIGINT)
        RETURNS TABLE(bucket BIGINT, n_orders BIGINT, sum_cents BIGINT)
        RETURN SELECT {_x.sql_cents('o_totalprice')} DIV width * width AS bucket,
                      COUNT(*) AS n_orders,
                      CAST(SUM({_x.sql_cents('o_totalprice')}) AS BIGINT) AS sum_cents
               FROM tvf_orders_v
               GROUP BY 1
        """
    )
    return spark.sql("SELECT * FROM price_buckets(CAST(5000000 AS BIGINT))")


# --- Entity resolution end-to-end (block -> verify -> cluster -> canonical) ------


@register(
    "entity_resolution_parts",
    """
    WITH RECURSIVE p AS (SELECT p_partkey, p_brand, p_name FROM part),
    truth AS (
      SELECT a.p_partkey AS id_a, b.p_partkey AS id_b
      FROM p a JOIN p b
        ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
      WHERE abs(length(a.p_name) - length(b.p_name)) <= 2
        AND levenshtein(a.p_name, b.p_name) <= 2
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM truth
      UNION
      SELECT id_b AS src, id_a AS dst FROM truth
    ),
    walk(node, comp) AS (
      SELECT p_partkey, p_partkey FROM part
      UNION
      SELECT e.dst, w.comp FROM walk w JOIN edges e ON e.src = w.node
    ),
    comps AS (SELECT node, MIN(comp) AS canonical FROM walk GROUP BY node)
    SELECT canonical, COUNT(*) AS n_members,
           CAST(SUM(node) AS BIGINT) AS member_key_sum
    FROM comps GROUP BY canonical HAVING COUNT(*) >= 2
    """,
)
def entity_resolution_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution END-TO-END, composed entirely from gated stages:
    blocked candidate generation (brand key + lossless length band) ->
    edit-distance verify (levenshtein <= 2) -> transitive clustering
    (hash-min connected components) -> min-key canonical per duplicate
    cluster — byte-identical names included (unlike
    fuzzy_join_part_names, whose not-equal filter is correct for
    "fuzzy" but would drop ER's most certain matches). The text-record
    sibling of image_dedup_canonical: the
    standard MDM/dedup workload a reference user would otherwise bolt
    together by hand, with the oracle recomputing the closure via a
    recursive CTE. Emits per-cluster membership summaries (clusters of
    >= 2), which pin every cluster assignment through the key sum.

    Scale posture inherited from the stages: blocking bounds the
    verify's pair space, components is one shuffle per round on a
    shallow graph, and the final rollup is cluster-count sized.

    Registered for the round-7 gate window (post-sweep addition)."""
    from app_insights_generator_spark.operators.dedup import connected_components

    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_name")
    a, b = p.alias("a"), p.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.p_brand") == F.col("b.p_brand"))
            & (F.col("a.p_partkey") < F.col("b.p_partkey"))
            & (F.abs(F.length(F.col("a.p_name")) - F.length(F.col("b.p_name"))) <= 2),
        )
        .filter(
            # Bounded 3-arg levenshtein — see fuzzy_join_part_names.
            F.levenshtein(F.col("a.p_name"), F.col("b.p_name"), 2) >= 0
        )
        .select(F.col("a.p_partkey").alias("id_a"), F.col("b.p_partkey").alias("id_b"))
    )
    comps = connected_components(pairs, p, "p_partkey")
    return (
        comps.groupBy(F.col("component").alias("canonical"))
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum("p_partkey").cast("long").alias("member_key_sum"),
        )
        .filter(F.col("n_members") >= 2)
    )


# --- iterative graph: HITS hubs & authorities -----------------------------------


def _hits_oracle(iterations: int = 3, scale: int = 1_000_000) -> str:
    """Unrolled-iteration SQL twin of operators/graph.py hits: per
    half-step, an edge-join sum then integer renormalization to total
    mass ``scale`` (COALESCE + CAST before the divide — DuckDB SUMs to
    HUGEINT, the r05 red class)."""

    def renorm(tag: str, raw: str) -> str:
        return (
            f"{tag}_t AS (SELECT CAST(SUM(raw) AS BIGINT) AS t FROM {raw}),\n"
            f"{tag} AS (SELECT nodes.node,"
            f" CAST(COALESCE(r.raw, 0) AS BIGINT) * {scale} // t AS s"
            f" FROM nodes LEFT JOIN {raw} r ON r.node = nodes.node, {tag}_t)"
        )

    ctes = [
        f"edges AS ({_PR_EDGES_SQL})",
        "nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges)",
        "meta AS (SELECT COUNT(*) AS n FROM nodes)",
        f"h0 AS (SELECT node, {scale} // n AS s FROM nodes, meta)",
    ]
    for i in range(1, iterations + 1):
        ctes.append(
            f"""a{i}_raw AS (
      SELECT e.dst AS node, CAST(SUM(h{i - 1}.s) AS BIGINT) AS raw
      FROM edges e JOIN h{i - 1} ON h{i - 1}.node = e.src GROUP BY e.dst)"""
        )
        ctes.append(renorm(f"a{i}", f"a{i}_raw"))
        ctes.append(
            f"""h{i}_raw AS (
      SELECT e.src AS node, CAST(SUM(a{i}.s) AS BIGINT) AS raw
      FROM edges e JOIN a{i} ON a{i}.node = e.dst GROUP BY e.src)"""
        )
        ctes.append(renorm(f"h{i}", f"h{i}_raw"))
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
    SELECT nodes.node AS node,
           CAST(COALESCE(h{iterations}.s, 0) AS BIGINT) AS hub,
           CAST(COALESCE(a{iterations}.s, 0) AS BIGINT) AS authority
    FROM nodes
    LEFT JOIN h{iterations} ON h{iterations}.node = nodes.node
    LEFT JOIN a{iterations} ON a{iterations}.node = nodes.node"""
    )


@register("hits_nation_trade", _hits_oracle())
def hits_nation_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities over the nation trade graph (3 iterations,
    integer fixed-point with per-half-step renormalization to 1e6 total
    mass) — the mutually-recursive link-analysis twin of
    pagerank_nation_trade: customer nations that BUY broadly are hubs,
    supplier nations BOUGHT from broadly are authorities. Every step is
    exact integer arithmetic (edge-join sum, then raw*scale DIV total),
    so the unrolled-CTE oracle matches bit-for-bit; one shuffle per
    half-step, driver state none (operators/graph.py hits).

    Registered for the round-7 gate window (post-sweep addition)."""
    from app_insights_generator_spark.operators.graph import hits

    return hits(_nation_trade_edges(spark, sf_dir), iterations=3)


def _ppr_oracle(iterations: int = 5, damping: int = 85, scale: int = 1_000_000) -> str:
    """Unrolled-iteration SQL twin of operators/graph.py
    personalized_pagerank — the _pagerank_oracle recurrence with the
    teleport term concentrated at the source node (MIN(src))."""
    ctes = [
        f"edges AS ({_PR_EDGES_SQL})",
        "nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges)",
        "sel AS (SELECT MIN(src) AS s FROM edges)",
        "outdeg AS (SELECT src AS _src, COUNT(*) AS odeg FROM edges GROUP BY src)",
        f"""r0 AS (SELECT node,
             CASE WHEN node = (SELECT s FROM sel) THEN {scale} ELSE 0 END AS rank
           FROM nodes)""",
    ]
    for i in range(1, iterations + 1):
        ctes.append(
            f"""r{i} AS (
      SELECT nodes.node,
             CASE WHEN nodes.node = (SELECT s FROM sel)
                  THEN {(100 - damping) * scale // 100} ELSE 0 END
             + {damping} * COALESCE(c.s, 0) // 100 AS rank
      FROM nodes LEFT JOIN (
        SELECT e.dst AS node, SUM(r{i - 1}.rank // o.odeg) AS s
        FROM edges e
        JOIN outdeg o ON e.src = o._src
        JOIN r{i - 1} ON r{i - 1}.node = e.src
        GROUP BY e.dst) c ON c.node = nodes.node)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT node, CAST(rank AS BIGINT) AS rank FROM r{iterations}"
    )


@register("ppr_nation_trade", _ppr_oracle())
def ppr_nation_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank (random walk with restart) over the nation
    trade graph, seeded at the lexicographically-smallest source nation
    (operators/graph.py personalized_pagerank): rank = proximity to the
    seed, the related-entity / recommendation form of PageRank, vs the
    global-centrality form pagerank_nation_trade gates. Same integer
    fixed-point recurrence (floor division at identical points), so the
    5-iteration unrolled-CTE oracle matches bit-for-bit; same
    one-shuffle-per-round plan; the edge derivation (distinct over the
    6-table TPC-H Q7 join) is the scale-bearing part.

    Registered as a round-8 rotation candidate (post-sweep addition)."""
    from app_insights_generator_spark.operators.graph import personalized_pagerank

    edges = _nation_trade_edges(spark, sf_dir)
    return personalized_pagerank(edges, iterations=5)


# --- Population Stability Index drift (per-bin exact form) ----------------------


@register(
    "psi_drift_orders_price",
    f"""
    WITH t AS (
      SELECT {_x.sql_cents('o_totalprice')} AS cents,
             CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END AS is_a
      FROM orders
    ),
    mx AS (SELECT MAX(cents) AS mc FROM t),
    b AS (
      SELECT LEAST(cents * 10 // (mc + 1), 9) AS bin,
             CAST(SUM(is_a) AS BIGINT) AS ca,
             CAST(SUM(1 - is_a) AS BIGINT) AS cb
      FROM t, mx GROUP BY 1
    ),
    n AS (SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb
          FROM b)
    SELECT CAST(bin AS BIGINT) AS bin, ca, cb, na, nb,
           CAST(ca * 1000000 // na AS BIGINT) AS share_a_ppm,
           CAST(cb * 1000000 // nb AS BIGINT) AS share_b_ppm
    FROM b, n
    """,
)
def psi_drift_orders_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index drift — the model-monitoring standard
    (credit-risk scorecards; PSI > 0.25 = significant shift) — between
    the even/odd order-key halves of o_totalprice, over 10 equal-width
    bins on the exact integer-cents grid (bin = cents*10 DIV (max+1),
    deterministic in both engines; empty-bin counts are clamped to 1
    inside the log ratio, the standard epsilon-free PSI convention,
    while the share difference keeps the true zero).

    Emitted as EXACT INTEGER per-bin moments only (bin, ca, cb, na, nb,
    integer-ppm shares): the reader computes each bin's
    psi_term = (ca/na - cb/nb) * ln(ca*nb / (cb*na)) and sums ten rows.
    The gated hash deliberately carries NO ln() output — ln is not
    IEEE-correctly-rounded, so a JVM-vs-libm last-ulp difference on
    another platform/JDK could flip a raw-double gate even though each
    engine is internally deterministic (ADVICE r07; the same reasoning
    as the precomputed _BENFORD_PPM literals). Completes the drift
    trio: chi² (categorical bins), KS (binning-free CDF sup-gap),
    PSI (the share-weighted log-ratio practitioners alert on).

    Scale: one map-side tag + one 10-group aggregate; the max() is a
    1-row broadcast. Reference parity: no counterpart; §2.4 DQ/drift
    extension. Registered as a round-8 rotation candidate."""
    o = _t(spark, sf_dir, "orders")
    t = o.select(
        F.expr(_x.sql_cents("o_totalprice")).alias("cents"),
        F.expr("CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END").alias("is_a"),
    )
    mx = t.agg(F.max("cents").alias("mc"))
    b = (
        t.crossJoin(F.broadcast(mx))
        .groupBy(F.expr("LEAST(cents * 10 DIV (mc + 1), 9)").alias("bin"))
        .agg(
            F.sum("is_a").cast("long").alias("ca"),
            F.sum(F.expr("1 - is_a")).cast("long").alias("cb"),
        )
    )
    n = b.agg(
        F.sum("ca").cast("long").alias("na"), F.sum("cb").cast("long").alias("nb")
    )
    return b.crossJoin(F.broadcast(n)).select(
        F.col("bin").cast("long").alias("bin"),
        "ca",
        "cb",
        "na",
        "nb",
        F.expr("CAST(ca * 1000000 DIV na AS LONG)").alias("share_a_ppm"),
        F.expr("CAST(cb * 1000000 DIV nb AS LONG)").alias("share_b_ppm"),
    )


# --- Benford first-digit audit ---------------------------------------------------

#: Benford expected first-digit shares in ppm: round(log10(1 + 1/d) * 1e6).
#: Integer literals inlined into BOTH engines' SQL — zero float drift.
_BENFORD_PPM = [301030, 176091, 124939, 96910, 79181, 66947, 57992, 51153, 45757]

_BENFORD_CASE = " ".join(
    f"WHEN {d} THEN {ppm}" for d, ppm in enumerate(_BENFORD_PPM, start=1)
)


@register(
    "benford_first_digit_orders",
    f"""
    WITH t AS (
      SELECT CAST(substring(CAST({_x.sql_cents('o_totalprice')} AS VARCHAR), 1, 1)
                  AS BIGINT) AS digit
      FROM orders
    ),
    c AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM t GROUP BY digit),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM c)
    SELECT digit, n,
           CAST(n * 1000000 // total AS BIGINT) AS observed_ppm,
           CAST(CASE digit {_BENFORD_CASE} END AS BIGINT) AS expected_ppm,
           CAST(n * 1000000 // total
                - CASE digit {_BENFORD_CASE} END AS BIGINT) AS deviation_ppm
    FROM c, tot
    """,
)
def benford_first_digit_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order totals — the
    fraud/synthetic-data screen: natural multi-scale amounts follow
    P(d) = log10(1 + 1/d), and a generator or manual entry that doesn't
    shows up as large per-digit deviations (TPC-H's uniform pricing is
    exactly such a non-conforming generator, which the audit duly
    reports). First digit comes from the exact integer-cents rendering
    (never float formatting); expected shares are precomputed integer
    ppm literals inlined into both engines, so every output column is
    pure int64 — counts, shares, deviations — with no float anywhere.

    Scale: one 9-group aggregate with map-side combine plus a 1-row
    broadcast total. Reference parity: no counterpart; §2.4 DQ
    extension alongside dq_expectations / profile.

    Registered as a round-8 rotation candidate (post-sweep addition)."""
    o = _t(spark, sf_dir, "orders")
    t = o.select(
        F.expr(
            f"CAST(substring(CAST({_x.sql_cents('o_totalprice')} AS STRING), 1, 1)"
            " AS BIGINT)"
        ).alias("digit")
    )
    c = t.groupBy("digit").agg(F.count(F.lit(1)).cast("long").alias("n"))
    tot = c.agg(F.sum("n").cast("long").alias("total"))
    return c.crossJoin(F.broadcast(tot)).select(
        "digit",
        "n",
        F.expr("CAST(n * 1000000 DIV total AS LONG)").alias("observed_ppm"),
        F.expr(f"CAST(CASE digit {_BENFORD_CASE} END AS LONG)").alias(
            "expected_ppm"
        ),
        F.expr(
            f"CAST(n * 1000000 DIV total - CASE digit {_BENFORD_CASE} END"
            " AS LONG)"
        ).alias("deviation_ppm"),
    )


@register(
    "intersectall_nations_halves",
    """
    SELECT nationkey, CAST(COUNT(*) AS BIGINT) AS multiplicity FROM (
      SELECT c_nationkey AS nationkey FROM customer WHERE c_custkey % 2 = 0
      INTERSECT ALL
      SELECT c_nationkey AS nationkey FROM customer WHERE c_custkey % 2 = 1
    ) GROUP BY nationkey
    """,
)
def intersectall_nations_halves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL (bag intersection, multiplicity = MIN of the two
    sides' counts) between the even/odd customer halves' nation keys —
    the set-op surface's last member next to INTERSECT / EXCEPT /
    EXCEPT ALL / UNION (BY NAME). Emitted grouped with multiplicities so
    the gate hashes the bag exactly without duplicate-row ambiguity.
    Spark plans intersectAll as one aggregate-join pass per side (no
    row-by-row matching), identical min-count semantics to the oracle.

    Registered as a round-8 rotation candidate (post-sweep addition)."""
    c = _t(spark, sf_dir, "customer")
    even = c.filter(F.col("c_custkey") % 2 == 0).select(
        F.col("c_nationkey").alias("nationkey")
    )
    odd = c.filter(F.col("c_custkey") % 2 == 1).select(
        F.col("c_nationkey").alias("nationkey")
    )
    return (
        even.intersectAll(odd)
        .groupBy("nationkey")
        .agg(F.count(F.lit(1)).cast("long").alias("multiplicity"))
    )


# --- Mann-Whitney U drift (exact doubled-rank integer form) ----------------------


@register(
    "mannwhitney_drift_orders_price",
    f"""
    WITH t AS (
      SELECT {_x.sql_cents('o_totalprice')} AS cents,
             CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END AS is_a
      FROM orders
    ),
    g AS (
      SELECT cents,
             CAST(SUM(is_a) AS BIGINT) AS ca,
             CAST(SUM(1 - is_a) AS BIGINT) AS cb,
             CAST(COUNT(*) AS BIGINT) AS cv
      FROM t GROUP BY cents
    ),
    c AS (
      SELECT ca, cb, cv,
             CAST(COALESCE(SUM(cv) OVER (ORDER BY cents
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS f_below
      FROM g
    ),
    m AS (
      SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb,
             CAST(SUM(ca * (2 * f_below + cv + 1)) AS BIGINT) AS r2_a
      FROM c
    )
    SELECT na, nb,
           CAST(r2_a - na * (na + 1) AS BIGINT) AS u2_a,
           CAST(2 * na * nb - (r2_a - na * (na + 1)) AS BIGINT) AS u2_b,
           CAST((r2_a - na * (na + 1)) * 500000 // (na * nb) AS BIGINT)
             AS auc_ppm
    FROM m
    """,
)
def mannwhitney_drift_orders_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) two-sample drift test between
    the even/odd order-key halves of o_totalprice — the rank-based
    member completing the drift quartet (chi² categorical, KS sup-gap,
    PSI share-log, MW-U stochastic dominance). The emitted ``auc_ppm``
    is U/(na*nb) — the probability a random a-value exceeds a random
    b-value, i.e. the ROC-AUC between the two samples — in parts per
    million; 500000 means no shift.

    Exactness: tie-averaged ranks are fractional (.5), so everything is
    DOUBLED — for a distinct value with f_below smaller rows and cv
    ties, the doubled average rank is 2*f_below + cv + 1, an integer —
    and the rank-sum, U, and AUC numerators stay pure int64 end to end
    (u2_a + u2_b == 2*na*nb is the built-in identity check). The
    doubled-rank trick is the same discipline as the KS cross-multiplied
    statistic: no float ever enters the gate.

    int64 headroom: r2_a <= na*(2n+1) ~ 4.5e10 at sf0.1 and the AUC
    numerator u2_a*5e5 ~ 1e16 at sf1 — per-year strata before sf100
    (the acf/bm25 fallback).

    Scale: one shuffle to the distinct-value grid (the KS exchange), one
    window over that bounded grid, one scalar aggregate.

    Reference parity: no counterpart; §2.4 drift extension.

    Registered as a round-8 rotation candidate (post-sweep addition)."""
    o = _t(spark, sf_dir, "orders")
    t = o.select(
        F.expr(_x.sql_cents("o_totalprice")).alias("cents"),
        F.expr("CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END").alias("is_a"),
    )
    g = t.groupBy("cents").agg(
        F.sum("is_a").cast("long").alias("ca"),
        F.sum(F.expr("1 - is_a")).cast("long").alias("cb"),
        F.count(F.lit(1)).cast("long").alias("cv"),
    )
    wcum = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, -1)
    c = g.select(
        "ca",
        "cb",
        "cv",
        F.coalesce(F.sum("cv").over(wcum), F.lit(0)).cast("long").alias("f_below"),
    )
    m = c.agg(
        F.sum("ca").cast("long").alias("na"),
        F.sum("cb").cast("long").alias("nb"),
        F.sum(F.expr("ca * (2 * f_below + cv + 1)")).cast("long").alias("r2_a"),
    )
    return m.select(
        "na",
        "nb",
        F.expr("CAST(r2_a - na * (na + 1) AS BIGINT)").alias("u2_a"),
        F.expr("CAST(2 * na * nb - (r2_a - na * (na + 1)) AS BIGINT)").alias(
            "u2_b"
        ),
        F.expr(
            "CAST((r2_a - na * (na + 1)) * 500000 DIV (na * nb) AS BIGINT)"
        ).alias("auc_ppm"),
    )


# --- Spearman rank correlation (exact doubled-rank integer moments) --------------


@register(
    "spearman_qty_price_lineitem",
    f"""
    WITH t AS (
      SELECT CAST(l_quantity AS BIGINT) AS x,
             {_x.sql_cents('l_extendedprice')} AS y
      FROM lineitem
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM t),
    rx AS (
      SELECT x,
             CAST(2 * COALESCE(SUM(cv) OVER (ORDER BY x
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  + cv + 1 AS BIGINT) AS r2x
      FROM (SELECT x, CAST(COUNT(*) AS BIGINT) AS cv FROM t GROUP BY x)
    ),
    ry AS (
      SELECT y,
             CAST(2 * COALESCE(SUM(cv) OVER (ORDER BY y
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  + cv + 1 AS BIGINT) AS r2y
      FROM (SELECT y, CAST(COUNT(*) AS BIGINT) AS cv FROM t GROUP BY y)
    ),
    d AS (
      SELECT r2x - (n + 1) AS dx, r2y - (n + 1) AS dy
      FROM t JOIN rx USING (x) JOIN ry USING (y), n
    ),
    mom AS (
      SELECT CAST(SUM(dx * dy) AS BIGINT) AS sxy,
             CAST(SUM(dx * dx) AS BIGINT) AS sxx,
             CAST(SUM(dy * dy) AS BIGINT) AS syy
      FROM d
    )
    SELECT n.n AS n, sxy, sxx, syy,
           CAST(sxy AS DOUBLE)
             / SQRT(CAST(sxx AS DOUBLE) * CAST(syy AS DOUBLE)) AS spearman_rho
    FROM mom, n
    WHERE sxx > 0 AND syy > 0
    """,
)
def spearman_qty_price_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between l_quantity and l_extendedprice
    — the robust (monotone-invariant, outlier-resistant) complement of
    the Pearson regression aggregates (regr_price_vs_qty): Pearson on
    tie-averaged ranks. Completes the practitioner correlation pair the
    way MW-U completes the drift tests.

    Exactness: the mannwhitney doubled-rank trick — tie-averaged rank
    x2 = 2*f_below + cv + 1, an integer — plus an exactly-integer
    centering: doubled ranks sum to n(n+1), so their mean is n+1
    exactly, and dx = r2x - (n+1) is an exact centered integer. All
    three moments are int64 sums; the only float is the final
    sxy/sqrt(sxx*syy) (sqrt IEEE-correct) — the acf discipline.

    int64 headroom: |dx| < 2n, so sxx ~ 4n³/3: ~2.9e17 at sf0.1 (600k
    rows), int64-safe through ~sf0.5, then per-year strata (the acf
    fallback, documented there).

    Scale: two distinct-value-grid windows (bounded by value
    cardinality, not rows), two keyed joins back, one moment aggregate
    with map-side combine.

    Reference parity: no counterpart; §2.4 statistics extension.

    Registered as a round-8 rotation candidate (post-sweep addition)."""
    li = _t(spark, sf_dir, "lineitem")
    t = li.select(
        F.col("l_quantity").cast("long").alias("x"),
        F.expr(_x.sql_cents("l_extendedprice")).alias("y"),
    )
    n = t.agg(F.count(F.lit(1)).cast("long").alias("n"))

    def ranks(col):
        cnt = t.groupBy(col).agg(F.count(F.lit(1)).cast("long").alias("cv"))
        wcum = Window.orderBy(col).rowsBetween(Window.unboundedPreceding, -1)
        return cnt.select(
            col,
            (
                2 * F.coalesce(F.sum("cv").over(wcum), F.lit(0))
                + F.col("cv")
                + 1
            )
            .cast("long")
            .alias(f"r2{col}"),
        )

    d = (
        t.join(ranks("x"), "x")
        .join(ranks("y"), "y")
        .crossJoin(F.broadcast(n))
        .select(
            F.expr("r2x - (n + 1)").alias("dx"),
            F.expr("r2y - (n + 1)").alias("dy"),
        )
    )
    mom = d.agg(
        F.sum(F.expr("dx * dy")).cast("long").alias("sxy"),
        F.sum(F.expr("dx * dx")).cast("long").alias("sxx"),
        F.sum(F.expr("dy * dy")).cast("long").alias("syy"),
    )
    return (
        mom.crossJoin(F.broadcast(n))
        .filter(F.expr("sxx > 0 AND syy > 0"))
        .select(
            "n",
            "sxy",
            "sxx",
            "syy",
            F.expr(
                "CAST(sxy AS DOUBLE)"
                " / SQRT(CAST(sxx AS DOUBLE) * CAST(syy AS DOUBLE))"
            ).alias("spearman_rho"),
        )
    )


# --- Local clustering coefficient per node ----------------------------------------


@register(
    "clustering_coefficient_nation_trade",
    f"""
    WITH und AS (
      SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
      FROM ({_PR_EDGES_SQL})
      WHERE src <> dst
    ),
    adj AS (
      SELECT a AS v, b AS n FROM und
      UNION ALL
      SELECT b AS v, a AS n FROM und
    ),
    deg AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS degree FROM adj GROUP BY v),
    tri AS (
      SELECT x.v, CAST(COUNT(*) AS BIGINT) AS t
      FROM adj x
      JOIN adj y ON x.v = y.v AND x.n < y.n
      JOIN und e ON e.a = x.n AND e.b = y.n
      GROUP BY x.v
    )
    SELECT d.v AS node, d.degree,
           CAST(COALESCE(tri.t, 0) AS BIGINT) AS triangles,
           CAST(CASE WHEN d.degree >= 2
                THEN 2 * COALESCE(tri.t, 0) * 10000
                     // (d.degree * (d.degree - 1))
                ELSE 0 END AS BIGINT) AS lcc_bp
    FROM deg d LEFT JOIN tri ON tri.v = d.v
    """,
)
def clustering_coefficient_nation_trade(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-node local clustering coefficient over the (undirected-ized)
    nation trade graph: lcc(v) = closed wedges at v / possible wedges
    deg(v)*(deg(v)-1)/2, in integer basis points — the node-level
    refinement of the global triangle count (how clique-like each
    node's neighborhood is; the community-structure diagnostic next to
    k-core/LPA). The wedge enumeration is the triangle_count join shape
    (adjacency self-join with n1 < n2, closed by an edge lookup), per
    APEX node instead of globally.

    Scale: wedge count is sum of deg², the known LCC cost; the n1 < n2
    canonical order halves it and the joins are all keyed (plan has no
    Cartesian). Node set here is nation-bounded; the edge DERIVATION
    (distinct over the 6-table join) is the scale-bearing part, shared
    with pagerank/bfs/ppr.

    Reference parity: no counterpart; §2.3 graph-family extension.

    Registered as a round-8 rotation candidate (post-sweep addition)."""
    edges = _nation_trade_edges(spark, sf_dir).filter(F.col("src") != F.col("dst"))
    und = (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .distinct()
        .transform(pin)
    )
    adj = und.select(F.col("a").alias("v"), F.col("b").alias("n")).unionAll(
        und.select(F.col("b").alias("v"), F.col("a").alias("n"))
    )
    deg = adj.groupBy("v").agg(F.count(F.lit(1)).cast("long").alias("degree"))
    x = adj.select("v", F.col("n").alias("n1"))
    y = adj.select(F.col("v").alias("v2"), F.col("n").alias("n2"))
    tri = (
        x.join(y, (F.col("v") == F.col("v2")) & (F.col("n1") < F.col("n2")))
        .join(und, (F.col("a") == F.col("n1")) & (F.col("b") == F.col("n2")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
    )
    return (
        deg.join(tri, "v", "left")
        .select(
            F.col("v").alias("node"),
            "degree",
            F.coalesce(F.col("t"), F.lit(0)).cast("long").alias("triangles"),
            F.expr(
                "CAST(CASE WHEN degree >= 2"
                " THEN 2 * coalesce(t, 0L) * 10000 DIV (degree * (degree - 1))"
                " ELSE 0 END AS LONG)"
            ).alias("lcc_bp"),
        )
    )


# --- 1-D Wasserstein (earth mover's) drift, year over year ---------------------------


@register(
    "wasserstein_drift_orders_price",
    f"""
    WITH t AS (
      SELECT {_x.sql_cents('o_totalprice')} AS cents,
             CASE WHEN year(o_orderdate) = 1995 THEN 1 ELSE 0 END AS is_a
      FROM orders WHERE o_orderdate >= TIMESTAMP '1995-01-01'
        AND o_orderdate < TIMESTAMP '1997-01-01'
    ),
    c AS (
      SELECT cents,
             CAST(SUM(is_a) AS BIGINT) AS ca,
             CAST(SUM(1 - is_a) AS BIGINT) AS cb
      FROM t GROUP BY cents
    ),
    cum AS (
      SELECT cents,
             LEAD(cents) OVER (ORDER BY cents) AS next_cents,
             CAST(SUM(ca) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ka,
             CAST(SUM(cb) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS BIGINT) AS kb,
             CAST(SUM(ca) OVER () AS BIGINT) AS na,
             CAST(SUM(cb) OVER () AS BIGINT) AS nb
      FROM c
    )
    SELECT na, nb,
           CAST(SUM(abs(ka * nb - kb * na) * (next_cents - cents)) AS BIGINT)
             AS w1_scaled,
           CAST(SUM(abs(ka * nb - kb * na) * (next_cents - cents)) AS DOUBLE)
             / (CAST(na AS DOUBLE) * nb) AS w1_cents
    FROM cum WHERE next_cents IS NOT NULL
    GROUP BY na, nb
    """,
)
def wasserstein_drift_orders_price(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """1-D Wasserstein-1 (earth mover's) distance between the 1995 and
    1996 order-price distributions — the INTEGRAL drift statistic
    completing the family: KS takes the max CDF gap (one bad quantile
    dominates), PSI/JSD bucket first (resolution-bound), W1 integrates
    the full CDF gap in the variable's own units (cents of price moved
    per order), the metric most monitoring literature now recommends
    for numeric drift. Closed form on the merged value grid:
    W1 = sum over grid gaps |F_a - F_b| * gap.

    Exactness: the KS cross-multiply discipline extended with the gap
    weight — |k_a*n_b - k_b*n_a| * (next - cents) is exact int64 and
    W1_scaled = their sum; the only float is one final division by
    n_a*n_b (identical IEEE both engines). int64 headroom: the sum is
    bounded by n_a*n_b*range ~ 3e16 at sf0.1 (two ~23k-row years,
    ~6e7-cent range) — ~sf1 before the per-year-strata fallback.

    Plan: one scan with the year predicate pushed down, one grid
    aggregate (bounded by distinct prices), one window over the grid,
    one 1-row final aggregate. No Cartesian, no Python.

    Reference parity: no counterpart; §2.4 drift-family extension.
    Registered on ROTATION_NEXT (round-10 window; post-sweep addition)."""
    o = _t(spark, sf_dir, "orders").filter(
        F.expr(
            "o_orderdate >= TIMESTAMP '1995-01-01'"
            " AND o_orderdate < TIMESTAMP '1997-01-01'"
        )
    )
    t = o.select(
        F.expr(_x.sql_cents("o_totalprice")).alias("cents"),
        F.expr(
            "CASE WHEN year(o_orderdate) = 1995 THEN 1 ELSE 0 END"
        ).alias("is_a"),
    )
    c = t.groupBy("cents").agg(
        F.sum("is_a").cast("long").alias("ca"),
        F.sum(F.expr("1 - is_a")).cast("long").alias("cb"),
    )
    w_ord = Window.orderBy("cents")
    wcum = w_ord.rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    cum = c.select(
        "cents",
        F.lead("cents").over(w_ord).alias("next_cents"),
        F.sum("ca").over(wcum).cast("long").alias("ka"),
        F.sum("cb").over(wcum).cast("long").alias("kb"),
        F.sum("ca").over(wall).cast("long").alias("na"),
        F.sum("cb").over(wall).cast("long").alias("nb"),
    )
    return (
        cum.filter(F.col("next_cents").isNotNull())
        .groupBy("na", "nb")
        .agg(
            F.sum(F.expr("abs(ka * nb - kb * na) * (next_cents - cents)"))
            .cast("long")
            .alias("w1_scaled")
        )
        .select(
            "na",
            "nb",
            "w1_scaled",
            F.expr(
                "CAST(w1_scaled AS DOUBLE) / (CAST(na AS DOUBLE) * nb)"
            ).alias("w1_cents"),
        )
    )


# --- Simpson diversity of languages within each source --------------------------------


@register(
    "simpson_diversity_sources",
    """
    WITH c AS (
      SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM documents GROUP BY source, lang
    ),
    s AS (
      SELECT source,
             CAST(SUM(cnt) AS BIGINT) AS n_docs,
             CAST(COUNT(*) AS BIGINT) AS n_langs,
             CAST(SUM(cnt * (cnt - 1)) AS BIGINT) AS sum_cc1
      FROM c GROUP BY source
    )
    SELECT source, n_docs, n_langs, sum_cc1,
           CASE WHEN n_docs >= 2
                THEN 10000 - sum_cc1 * 10000 // (n_docs * (n_docs - 1))
                ELSE CAST(0 AS BIGINT) END AS simpson_bp
    FROM s
    """,
)
def simpson_diversity_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson diversity index (Simpson 1949) of languages within each
    source, unbiased finite-sample form D = 1 - sum c(c-1) / (N(N-1)) —
    the probability two documents drawn WITHOUT replacement from a
    source differ in language. The log-free twin of the entropy-based
    facet statistics (mutual_information, lang entropy): Simpson needs
    only integer products, so it gates exactly with no quantized-log
    table at all — the diversity number an ingest dashboard can compute
    in pure SQL at any scale.

    Exactness: everything int64 (c(c-1) sums, one integer bp division);
    single-doc sources take the defined 0 via the n >= 2 CASE guard
    (the HHI zero-denominator discipline).

    Plan: one map-side-combined corpus aggregate to the (source, lang)
    grain, one facet-bounded rollup. Two shuffles of facet-sized data.

    Reference parity: no counterpart; §2.4 corpus-analytics extension.
    Registered on ROTATION_NEXT (round-10 window; post-sweep addition)."""
    docs = _t(spark, sf_dir, "documents")
    c = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    s = c.groupBy("source").agg(
        F.sum("cnt").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_langs"),
        F.sum(F.expr("cnt * (cnt - 1)")).cast("long").alias("sum_cc1"),
    )
    return s.select(
        "source",
        "n_docs",
        "n_langs",
        "sum_cc1",
        F.expr(
            "CASE WHEN n_docs >= 2"
            " THEN 10000 - sum_cc1 * 10000 DIV (n_docs * (n_docs - 1))"
            " ELSE CAST(0 AS BIGINT) END"
        ).alias("simpson_bp"),
    )


# --- Kruskal-Wallis H test across order priorities -----------------------------------


@register(
    "kruskal_wallis_orders_priority",
    f"""
    WITH t AS (
      SELECT o_orderpriority AS grp, {_x.sql_cents('o_totalprice')} AS x
      FROM orders WHERE o_orderdate >= TIMESTAMP '1995-01-01'
        AND o_orderdate < TIMESTAMP '1996-01-01'
    ),
    r AS (
      SELECT x,
             CAST(2 * COALESCE(SUM(cv) OVER (ORDER BY x
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  + cv + 1 AS BIGINT) AS r2,
             cv
      FROM (SELECT x, CAST(COUNT(*) AS BIGINT) AS cv FROM t GROUP BY x)
    ),
    g AS (
      SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_i,
             CAST(SUM(r2) AS BIGINT) AS ranksum2
      FROM t JOIN r USING (x) GROUP BY grp
    ),
    nn AS (SELECT CAST(SUM(n_i) AS BIGINT) AS n FROM g),
    ties AS (
      SELECT CAST(COALESCE(SUM(cv * cv * cv - cv), 0) AS BIGINT) AS tie_sum
      FROM r WHERE cv > 1
    ),
    sq AS (
      SELECT CAST(SUM(ranksum2 * ranksum2 // (4 * n_i)) AS BIGINT) AS s_q
      FROM g
    ),
    h AS (
      SELECT 12 * (s_q * 1000000 // (n * (n + 1))) - 3000000 * (n + 1)
               AS h_micro,
             tie_sum * 1000000 // (n * n * n - n) AS c_ppm
      FROM sq, nn, ties
    )
    SELECT g.grp AS o_orderpriority, g.n_i, g.ranksum2,
           nn.n AS n_total, ties.tie_sum,
           h.h_micro,
           h.h_micro * 1000000 // (1000000 - h.c_ppm) AS h_corr_micro
    FROM g, nn, ties, h
    """,
)
def kruskal_wallis_orders_priority(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Kruskal-Wallis H test (Kruskal & Wallis 1952) — does order price
    differ across the five order priorities? The K-GROUP generalization
    of the Mann-Whitney U drift test already gated: rank everything
    jointly, H = 12/(N(N+1)) * sum R_i^2/n_i - 3(N+1), tie-corrected by
    1 - sum(t^3-t)/(N^3-N). Emitted per group with the per-group rank
    sums plus the shared H, so the gate pins both the sufficient
    statistics and the statistic itself.

    Exactness: tie-averaged ranks via the spearman doubled-rank grid
    (r2 = 2*below + cv + 1, exact integers over the DISTINCT-value
    grid); H is computed in integer micro-units with explicit
    truncating DIVs — S_q = sum(ranksum2^2 DIV 4n_i) quantizes each
    group term by < 1 rank unit and the DIV chain adds < 12 micro,
    negligible against H ~ 1e6 micro, and IDENTICAL in both engines
    (no float until nothing — the statistic itself stays integer).

    int64 headroom: the 1995 calendar slice keeps N ~ 23k at sf0.1, so
    ranksum2^2 <= (2N * n_i)^2 ~ 1.1e18 under the 9.2e18 cap (and
    s_q * 1e6 ~ 3e18); above ~sf0.3 the per-year strata fallback (the
    acf/bm25 discipline) splits the test by year. The year filter is
    also the predicate-pushdown surface (PushedFilters on the scan).

    Plan: one distinct-value-grid window (bounded by price cardinality),
    one keyed join back, one 5-row group aggregate; every H input is a
    broadcast 1-row aggregate. Nothing Cartesian, nothing Python.

    Reference parity: no counterpart; §2.4 statistics extension — the
    k-sample member of the MW-U/KS/PSI drift family.
    Registered on ROTATION_NEXT (round-10 window; post-sweep addition)."""
    o = _t(spark, sf_dir, "orders").filter(
        F.expr(
            "o_orderdate >= TIMESTAMP '1995-01-01'"
            " AND o_orderdate < TIMESTAMP '1996-01-01'"
        )
    )
    t = o.select(
        F.col("o_orderpriority").alias("grp"),
        F.expr(_x.sql_cents("o_totalprice")).alias("x"),
    )
    cnt = t.groupBy("x").agg(F.count(F.lit(1)).cast("long").alias("cv"))
    wcum = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, -1)
    r = cnt.select(
        "x",
        (2 * F.coalesce(F.sum("cv").over(wcum), F.lit(0)) + F.col("cv") + 1)
        .cast("long")
        .alias("r2"),
        "cv",
    ).transform(pin)  # fan-out: group sums + tie term
    g = (
        t.join(r.select("x", "r2"), "x")
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_i"),
            F.sum("r2").cast("long").alias("ranksum2"),
        )
        .transform(pin)  # fan-out: N, S_q, output rows
    )
    nn = g.agg(F.sum("n_i").cast("long").alias("n"))
    ties = (
        r.filter(F.col("cv") > 1)
        .agg(
            F.coalesce(F.sum(F.expr("cv * cv * cv - cv")), F.lit(0))
            .cast("long")
            .alias("tie_sum")
        )
    )
    sq = g.agg(
        F.sum(F.expr("ranksum2 * ranksum2 DIV (4 * n_i)"))
        .cast("long")
        .alias("s_q")
    )
    h = (
        sq.crossJoin(F.broadcast(nn))
        .crossJoin(F.broadcast(ties))
        .select(
            F.expr(
                "12 * (s_q * 1000000 DIV (n * (n + 1))) - 3000000 * (n + 1)"
            ).alias("h_micro"),
            F.expr("tie_sum * 1000000 DIV (n * n * n - n)").alias("c_ppm"),
        )
    )
    return (
        g.crossJoin(F.broadcast(nn))
        .crossJoin(F.broadcast(ties))
        .crossJoin(F.broadcast(h))
        .select(
            F.col("grp").alias("o_orderpriority"),
            "n_i",
            "ranksum2",
            F.col("n").alias("n_total"),
            "tie_sum",
            "h_micro",
            F.expr("h_micro * 1000000 DIV (1000000 - c_ppm)").alias(
                "h_corr_micro"
            ),
        )
    )


# --- Adamic-Adar link prediction over the heavy-trade graph -------------------------

#: Quantized reciprocal-log lookup for Adamic-Adar: degree d in [2, 1024]
#: maps to round(1e6 / ln(d)) ppm, precomputed in PYTHON and inlined as
#: integer literals into BOTH engines (the _IDF_PPM_1024 treatment) so no
#: engine evaluates ln at query time; degrees above 1024 clamp to the last
#: bucket (documented quantization, deterministic both sides). A common
#: neighbor is adjacent to both endpoints, so its degree is >= 2 and the
#: d < 2 singularity is unreachable.
_AA_RECIP_PPM_SQL = ", ".join(
    f"({d}, {round(1_000_000 / __import__('math').log(d))})"
    for d in range(2, 1025)
)


@register(
    "adamic_adar_nation_trade",
    f"""
    WITH aa_tbl(degree, recip_ppm) AS (VALUES {{AA_VALUES}}),
    pairrev AS (
      SELECT LEAST(cn.n_name, sn.n_name) AS a,
             GREATEST(cn.n_name, sn.n_name) AS b,
             CAST(SUM({{CENTS}}) AS BIGINT) AS cents
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation cn  ON c.c_nationkey = cn.n_nationkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation sn  ON s.s_nationkey = sn.n_nationkey
      WHERE cn.n_name <> sn.n_name
      GROUP BY 1, 2
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS np,
                   CAST(SUM(cents) AS BIGINT) AS tc FROM pairrev),
    heavy AS (SELECT a, b FROM pairrev, tot WHERE cents * np >= tc),
    adj AS (SELECT a AS v, b AS n FROM heavy
            UNION ALL SELECT b AS v, a AS n FROM heavy),
    deg AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS degree FROM adj GROUP BY v),
    wedge AS (
      SELECT x.n AS u, y.n AS w, x.v AS z
      FROM adj x JOIN adj y ON x.v = y.v AND x.n < y.n
      WHERE NOT EXISTS (SELECT 1 FROM heavy h WHERE h.a = x.n AND h.b = y.n)
    )
    SELECT wedge.u AS node_a, wedge.w AS node_b,
           CAST(COUNT(*) AS BIGINT) AS n_common,
           CAST(SUM(t.recip_ppm) AS BIGINT) AS aa_ppm
    FROM wedge
    JOIN deg ON deg.v = wedge.z
    JOIN aa_tbl t ON t.degree = LEAST(deg.degree, 1024)
    GROUP BY wedge.u, wedge.w
    """,
)
def adamic_adar_nation_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction (Adamic & Adar 2003) over the HEAVY
    trade graph: undirected nation pairs whose total trade revenue is at
    or above the all-pairs mean (integer cross-multiply cents*np >= tc —
    no division) form the observed graph; for every NON-adjacent pair
    the score sums 1/ln(deg(z)) over common neighbors z — shared
    well-connected partners predict a missing link, but a hub partner
    (high degree) counts for less than an exclusive one. The standard
    link-prediction baseline (the graph-ML complement of the
    descriptive graph family: pagerank ranks, LPA clusters, AA
    PREDICTS), and the curation use is recommending which under-traded
    lanes to investigate.

    Exactness: 1/ln(d) comes from the Python-precomputed _AA_RECIP_PPM
    integer table joined on degree (clamped at 1024), so the score is a
    pure int64 sum — no ln in either engine (the _IDF_PPM_1024
    discipline); the threshold, wedge enumeration, and NOT EXISTS
    anti-join are all integer/string-keyed.

    Scale: the pair-revenue aggregate is the 6-table Q7 join shape
    (scale-bearing, map-side combined to the nation-pair grain); the
    wedge join is keyed on the common neighbor z — sum-of-deg² work,
    the triangle-count cost envelope — and the anti-join is keyed on
    the candidate pair. Nothing is Cartesian; at a larger node universe
    the known hub mitigation (cap or sample a hub's neighbor list)
    applies per z.

    Reference parity: no counterpart; §2.3 graph-family extension.
    Registered on ROTATION_NEXT (round-10 window; post-sweep addition)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = F.broadcast(_t(spark, sf_dir, "nation"))
    pairrev = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(n.alias("cn"), F.col("c_nationkey") == F.col("cn.n_nationkey"))
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(n.alias("sn"), F.col("s_nationkey") == F.col("sn.n_nationkey"))
        .filter(F.col("cn.n_name") != F.col("sn.n_name"))
        .select(
            F.least(F.col("cn.n_name"), F.col("sn.n_name")).alias("a"),
            F.greatest(F.col("cn.n_name"), F.col("sn.n_name")).alias("b"),
            F.expr(_x.sql_cents("l_extendedprice")).alias("cents0"),
        )
        .groupBy("a", "b")
        .agg(F.sum("cents0").cast("long").alias("cents"))
    )
    tot = pairrev.agg(
        F.count(F.lit(1)).cast("long").alias("np"),
        F.sum("cents").cast("long").alias("tc"),
    )
    heavy = (
        pairrev.crossJoin(F.broadcast(tot))
        .filter(F.expr("cents * np >= tc"))
        .select("a", "b")
        .transform(pin)  # fan-out: adj, deg, anti-join below
    )
    adj = heavy.select(F.col("a").alias("v"), F.col("b").alias("n")).unionAll(
        heavy.select(F.col("b").alias("v"), F.col("a").alias("n"))
    )
    deg = adj.groupBy("v").agg(F.count(F.lit(1)).cast("long").alias("degree"))
    x = adj.select(F.col("v").alias("z"), F.col("n").alias("u"))
    y = adj.select(F.col("v").alias("z2"), F.col("n").alias("w"))
    wedge = (
        x.join(y, (F.col("z") == F.col("z2")) & (F.col("u") < F.col("w")))
        .join(
            heavy,
            (F.col("a") == F.col("u")) & (F.col("b") == F.col("w")),
            "left_anti",
        )
        .select("u", "w", "z")
    )
    aa_tbl = spark.createDataFrame(
        [(d, round(1_000_000 / __import__("math").log(d))) for d in range(2, 1025)],
        "d_key long, recip_ppm long",
    )
    return (
        wedge.join(deg, wedge.z == deg.v)
        .join(
            F.broadcast(aa_tbl),
            F.least(F.col("degree"), F.lit(1024)) == aa_tbl.d_key,
        )
        .groupBy(F.col("u").alias("node_a"), F.col("w").alias("node_b"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_common"),
            F.sum("recip_ppm").cast("long").alias("aa_ppm"),
        )
    )


ORACLES["adamic_adar_nation_trade"] = (
    ORACLES["adamic_adar_nation_trade"]
    .replace("{AA_VALUES}", _AA_RECIP_PPM_SQL)
    .replace("{CENTS}", _x.sql_cents("l_extendedprice"))
)


# --- Herfindahl-Hirschman supplier concentration per nation ------------------------


@register(
    "hhi_supplier_concentration",
    f"""
    WITH rev AS (
      SELECT s.s_nationkey AS nationkey, l.l_suppkey AS suppkey,
             CAST(SUM({_x.sql_cents('l_extendedprice')}) AS BIGINT) AS cents
      FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
      GROUP BY 1, 2
    )
    SELECT nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_suppliers,
           CAST(SUM(cents) AS BIGINT) AS total_cents,
           CAST(SUM((cents // 100) * (cents // 100)) AS BIGINT)
             AS sum_sq_dollars,
           CASE WHEN SUM(cents // 100) > 0 THEN
             CAST(SUM((cents // 100) * (cents // 100)) AS DOUBLE)
               / (CAST(SUM(cents // 100) AS DOUBLE) * SUM(cents // 100))
           ELSE NULL END AS hhi
    FROM rev GROUP BY nationkey
    """,
)
def hhi_supplier_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman supplier-concentration index per nation —
    the market-concentration standard (HHI = sum of squared revenue
    shares; 1/n = perfect competition, 1.0 = monopoly), the supply-risk
    diagnostic next to the skew profiler. Cross-multiplied exactness:
    the gate hashes the exact integer moments (Σcents, Σcents²) and the
    single float division Σs²/S² — never a sum of per-supplier float
    shares (the partition-order class).

    int64 headroom: shares are squared in whole-DOLLAR units (cents
    squared already overflowed at sf0.01 — measured ARITHMETIC_OVERFLOW
    under ANSI, the acf lesson repeated): dollars² per supplier ~ 3e14
    at sf0.01, ~3e18 at sf10; beyond that, thousands-units (the same
    floor-rescale, which changes hhi by < 1e-4 relative at any scale
    where it matters). A nation whose suppliers each gross under $1
    would zero the dollar-floored denominator; hhi is NULL there
    (unreachable on TPC-H data, but the operator is reusable — ADVICE
    r07: Spark's Infinity/NaN rendering and DuckDB's need not
    hash-agree).

    Scale: one shuffle to the (nation, supplier) grain with map-side
    combine, one 25-group rollup. Reference parity: no counterpart;
    §2.3 product-analytics extension.

    Registered as a round-8 rotation candidate (post-sweep addition)."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    rev = (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .groupBy(
            F.col("s_nationkey").alias("nationkey"),
            F.col("l_suppkey").alias("suppkey"),
        )
        .agg(
            F.expr(
                f"CAST(SUM({_x.sql_cents('l_extendedprice')}) AS BIGINT)"
            ).alias("cents")
        )
    )
    return rev.groupBy("nationkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_suppliers"),
        F.sum("cents").cast("long").alias("total_cents"),
        F.sum(F.expr("(cents DIV 100) * (cents DIV 100)"))
        .cast("long")
        .alias("sum_sq_dollars"),
        F.expr(
            "CASE WHEN SUM(cents DIV 100) > 0 THEN"
            " CAST(SUM((cents DIV 100) * (cents DIV 100)) AS DOUBLE)"
            " / (CAST(SUM(cents DIV 100) AS DOUBLE) * SUM(cents DIV 100))"
            " ELSE NULL END"
        ).alias("hhi"),
    )


# --- Jensen-Shannon divergence drift (quantized-log integer form) ----------------


def _jsd_oracle() -> str:
    from app_insights_generator_spark.queries.llm_queries import _IDF_VALUES_SQL

    return f"""
    WITH t AS (
      SELECT {_x.sql_cents('o_totalprice')} AS cents,
             CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END AS is_a
      FROM orders
    ),
    mx AS (SELECT MAX(cents) AS mc FROM t),
    b AS (
      SELECT LEAST(cents * 10 // (mc + 1), 9) AS bin,
             CAST(SUM(is_a) AS BIGINT) AS ca,
             CAST(SUM(1 - is_a) AS BIGINT) AS cb
      FROM t, mx GROUP BY 1
    ),
    n AS (SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb
          FROM b),
    nll(bucket, nll_ppm) AS (VALUES {_IDF_VALUES_SQL})
    SELECT CAST(bin AS BIGINT) AS bin, ca, cb,
           CAST(CASE WHEN ca = 0 THEN 0 ELSE
             (ca * 1000000 // na)
             * (693147 - pn.nll_ppm) END AS BIGINT) AS p_term_ppm2,
           CAST(CASE WHEN cb = 0 THEN 0 ELSE
             (cb * 1000000 // nb)
             * (693147 - qn.nll_ppm) END AS BIGINT) AS q_term_ppm2
    FROM b, n
    JOIN nll pn ON pn.bucket = (ca * nb * 1024) // (ca * nb + cb * na)
    JOIN nll qn ON qn.bucket = (cb * na * 1024) // (ca * nb + cb * na)
    """


@register("jsd_drift_orders_price", _jsd_oracle())
def jsd_drift_orders_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence drift between the even/odd order-key
    halves of o_totalprice — the SYMMETRIC, bounded (<= ln 2) member
    completing the drift family (chi²/KS/PSI/MW-U/CUSUM/Benford): unlike
    PSI it never blows up on empty bins, so it is the alert metric of
    choice for long-tailed score distributions.

    Exactness: the mixture ratio is cross-multiplied into pure integers
    — p/(2m) = ca*nb / (ca*nb + cb*na) exactly — then snapped to 1/1024
    buckets and mapped through the precomputed _IDF_PPM_1024 log table
    (entry b = -ln((b+1)/1025) in ppm), so each per-bin KL term is
    p_ppm * (LN2_PPM - nll_ppm): one integer product, no ln in either
    engine (the psi_drift/ADVICE-r07 class, solved the tfidf way). The
    reader sums both term columns over ten rows and divides by 2e12 for
    JSD in nats; the 0*ln0=0 and q=0 (term = p*ln2 exactly, bucket 1024
    hits the table's zero entry) conventions fall out of the integer
    arithmetic. int64 headroom: terms <= 1e6 * 7e6 = 7e12; bucket
    numerators <= ca*nb*1024 ~ 6e15 at sf1 (documented cliff ~sf100,
    rescale counts to thousands there — the HHI convention).

    Scale: one map-side tag + one 10-group aggregate; max() and the
    totals are 1-row broadcasts; the log table joins broadcast.

    Reference parity: no counterpart; §2.4 DQ/drift extension.
    Registered on ROTATION_NEXT (round-9 window)."""
    from app_insights_generator_spark.queries.llm_queries import _IDF_PPM_1024

    o = _t(spark, sf_dir, "orders")
    t = o.select(
        F.expr(_x.sql_cents("o_totalprice")).alias("cents"),
        F.expr("CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END").alias("is_a"),
    )
    mx = t.agg(F.max("cents").alias("mc"))
    b = (
        t.crossJoin(F.broadcast(mx))
        .groupBy(F.expr("LEAST(cents * 10 DIV (mc + 1), 9)").alias("bin"))
        .agg(
            F.sum("is_a").cast("long").alias("ca"),
            F.sum(F.expr("1 - is_a")).cast("long").alias("cb"),
        )
    )
    n = b.agg(
        F.sum("ca").cast("long").alias("na"), F.sum("cb").cast("long").alias("nb")
    )
    nll = spark.createDataFrame(
        list(enumerate(_IDF_PPM_1024)), "bucket long, nll_ppm long"
    )
    pn = nll.select(F.col("bucket").alias("pb"), F.col("nll_ppm").alias("p_nll"))
    qn = nll.select(F.col("bucket").alias("qb"), F.col("nll_ppm").alias("q_nll"))
    return (
        b.crossJoin(F.broadcast(n))
        .withColumn("pb", F.expr("ca * nb * 1024 DIV (ca * nb + cb * na)"))
        .withColumn("qb", F.expr("cb * na * 1024 DIV (ca * nb + cb * na)"))
        .join(F.broadcast(pn), "pb")
        .join(F.broadcast(qn), "qb")
        .select(
            F.col("bin").cast("long").alias("bin"),
            "ca",
            "cb",
            F.expr(
                "CAST(CASE WHEN ca = 0 THEN 0 ELSE"
                " (ca * 1000000 DIV na) * (693147 - p_nll) END AS LONG)"
            ).alias("p_term_ppm2"),
            F.expr(
                "CAST(CASE WHEN cb = 0 THEN 0 ELSE"
                " (cb * 1000000 DIV nb) * (693147 - q_nll) END AS LONG)"
            ).alias("q_term_ppm2"),
        )
    )


# --- Top-k heavy-hitter churn, year over year ------------------------------------


@register(
    "topk_churn_customers_orders",
    f"""
    WITH r95 AS (
      SELECT o_custkey, CAST(SUM({_x.sql_cents('o_totalprice')}) AS BIGINT) AS c
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1995-01-01'
        AND o_orderdate < TIMESTAMP '1996-01-01'
      GROUP BY o_custkey
    ),
    r96 AS (
      SELECT o_custkey, CAST(SUM({_x.sql_cents('o_totalprice')}) AS BIGINT) AS c
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate < TIMESTAMP '1997-01-01'
      GROUP BY o_custkey
    ),
    t95 AS (
      SELECT o_custkey FROM
        (SELECT o_custkey, ROW_NUMBER() OVER (ORDER BY c DESC, o_custkey) AS rn
         FROM r95) x WHERE rn <= 20
    ),
    t96 AS (
      SELECT o_custkey FROM
        (SELECT o_custkey, ROW_NUMBER() OVER (ORDER BY c DESC, o_custkey) AS rn
         FROM r96) x WHERE rn <= 20
    ),
    ov AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_overlap
      FROM t95 JOIN t96 USING (o_custkey)
    )
    SELECT CAST(20 AS BIGINT) AS k, n_overlap,
           n_overlap * 10000 // (40 - n_overlap) AS jaccard_bp,
           (20 - n_overlap) * 10000 // 20 AS churn_bp
    FROM ov
    """,
)
def topk_churn_customers_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k heavy-hitter churn between consecutive years: the overlap,
    Jaccard, and churn rate of the top-20 revenue customers in 1995 vs
    1996 — the 'dimension churn' monitor that tells a dashboard whether
    its leaderboard is stable (cache the page) or rotating (alert: the
    business mix moved). Ranking ties break by customer key, so the two
    sets are total-order deterministic in both engines.

    Exactness: revenue cents, ranks, overlap count, and the bp ratios
    (Jaccard = |∩| / (|A|+|B|-|∩|)) are all int64.

    Plan: two year-pruned aggregates (range predicates on the raw
    column reach the parquet scan), two TOP-20 windows over the
    customer-grain aggregates, one key join of 20-row sets. At 100 TB
    the per-year aggregate is the only full-data pass and the window
    input is customer-bounded.

    Reference parity: no counterpart; §2.4 monitoring extension next to
    heavy_hitters (within-period) and the drift family (distributional).
    Registered on ROTATION_NEXT (round-10 window; post-ORACLE_FULL
    addendum — own gate pass + 3-session sweep, the r08 precedent)."""
    o = _t(spark, sf_dir, "orders")

    def topk(year: int) -> DataFrame:
        yr = o.filter(
            F.expr(
                f"o_orderdate >= TIMESTAMP '{year}-01-01'"
                f" AND o_orderdate < TIMESTAMP '{year + 1}-01-01'"
            )
        )
        agg = yr.groupBy("o_custkey").agg(
            F.expr(f"CAST(SUM({_x.sql_cents('o_totalprice')}) AS BIGINT)").alias(
                "c"
            )
        )
        w = Window.orderBy(F.col("c").desc(), F.col("o_custkey"))
        return (
            agg.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 20)
            .select("o_custkey")
        )

    ov = topk(1995).join(topk(1996), "o_custkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_overlap")
    )
    return ov.select(
        F.lit(20).cast("long").alias("k"),
        "n_overlap",
        F.expr("n_overlap * 10000 DIV (40 - n_overlap)").alias("jaccard_bp"),
        F.expr("(20 - n_overlap) * 10000 DIV 20").alias("churn_bp"),
    )


# --- Kendall tau-b on the bounded (quantity, price-bucket) grid --------------------


@register(
    "kendall_tau_qty_price_lineitem",
    f"""
    WITH t AS (
      SELECT CAST(l_quantity AS BIGINT) AS x,
             {_x.sql_cents('l_extendedprice')} // 100000 AS yb
      FROM lineitem
    ),
    cells AS (SELECT x, yb, CAST(COUNT(*) AS BIGINT) AS m FROM t GROUP BY x, yb),
    cd AS (
      SELECT
        CAST(SUM(CASE WHEN b.yb > a.yb THEN a.m * b.m ELSE 0 END) AS BIGINT)
          AS c,
        CAST(SUM(CASE WHEN b.yb < a.yb THEN a.m * b.m ELSE 0 END) AS BIGINT)
          AS d
      FROM cells a JOIN cells b ON b.x > a.x
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM t),
    tx AS (SELECT CAST(SUM(m * (m - 1) // 2) AS BIGINT) AS n1 FROM
           (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM t GROUP BY x)),
    ty AS (SELECT CAST(SUM(m * (m - 1) // 2) AS BIGINT) AS n2 FROM
           (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM t GROUP BY yb))
    SELECT n.n AS n, cd.c AS concordant, cd.d AS discordant,
           tx.n1 AS ties_x, ty.n2 AS ties_y,
           CAST(cd.c - cd.d AS DOUBLE)
             / SQRT((CAST(n.n AS DOUBLE) * (n.n - 1) / 2 - tx.n1)
                    * (CAST(n.n AS DOUBLE) * (n.n - 1) / 2 - ty.n2))
             AS tau_b
    FROM cd, n, tx, ty
    WHERE CAST(n.n AS DOUBLE) * (n.n - 1) / 2 - tx.n1 > 0
      AND CAST(n.n AS DOUBLE) * (n.n - 1) / 2 - ty.n2 > 0
    """,
)
def kendall_tau_qty_price_lineitem(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Kendall's tau-b (tie-corrected) between line quantity and the
    $1,000 price bucket — the concordance member of the correlation
    family (Pearson = regr_/ols moments, Spearman = rank moments,
    tau = pairwise ordering agreement; tau-b is the standard form when
    both margins carry heavy ties, which integer quantities and price
    buckets do by construction). Concordant/discordant counts come from
    the DISTINCT-cell grid with multiplicity products — the mann_kendall
    grid² trick, O(cells²) on a ~50×~100 bounded grid instead of the
    O(n²) raw-pair join — tied-in-x pairs are structurally excluded by
    the strict x-order join, and tie counts n1/n2 are exact per-margin
    sums of m·(m−1) DIV 2. C, D, n1, n2 are exact int64 (C ≤ n²/2 ≈
    1.8e11 at sf0.1); the denominator (n0−n1)(n0−n2) would overflow
    int64 squared, so tau_b is the single final float expression.

    Plan: one map-side-combine pass to the bounded cell grid, a
    broadcast-sized grid self-join, four scalar aggregates.

    Reference parity: no counterpart; §2.2 analytics extension.
    Registered on ROTATION_NEXT (round-11 window; post-sweep addition)."""
    li = _t(spark, sf_dir, "lineitem")
    t = li.select(
        F.col("l_quantity").cast("long").alias("x"),
        F.expr(f"{_x.sql_cents('l_extendedprice')} DIV 100000").alias("yb"),
    )
    cells = t.groupBy("x", "yb").agg(
        F.count(F.lit(1)).cast("long").alias("m")
    ).transform(pin)  # fan-out: C/D join + both tie margins
    a = cells.select(
        F.col("x").alias("ax"), F.col("yb").alias("ay"), F.col("m").alias("am")
    )
    b = cells.select(
        F.col("x").alias("bx"), F.col("yb").alias("by"), F.col("m").alias("bm")
    )
    cd = (
        a.join(F.broadcast(b), F.col("bx") > F.col("ax"))
        .agg(
            F.sum(F.expr("CASE WHEN by > ay THEN am * bm ELSE 0 END"))
            .cast("long")
            .alias("c"),
            F.sum(F.expr("CASE WHEN by < ay THEN am * bm ELSE 0 END"))
            .cast("long")
            .alias("d"),
        )
    )
    n = t.agg(F.count(F.lit(1)).cast("long").alias("n"))
    tx = (
        cells.groupBy("x")
        .agg(F.sum("m").cast("long").alias("m"))
        .agg(F.sum(F.expr("m * (m - 1) DIV 2")).cast("long").alias("n1"))
    )
    ty = (
        cells.groupBy("yb")
        .agg(F.sum("m").cast("long").alias("m"))
        .agg(F.sum(F.expr("m * (m - 1) DIV 2")).cast("long").alias("n2"))
    )
    return (
        cd.crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(tx))
        .crossJoin(F.broadcast(ty))
        .filter(
            F.expr(
                "CAST(n AS DOUBLE) * (n - 1) / 2 - n1 > 0"
                " AND CAST(n AS DOUBLE) * (n - 1) / 2 - n2 > 0"
            )
        )
        .select(
            F.col("n"),
            F.col("c").alias("concordant"),
            F.col("d").alias("discordant"),
            F.col("n1").alias("ties_x"),
            F.col("n2").alias("ties_y"),
            F.expr(
                "CAST(c - d AS DOUBLE)"
                " / SQRT((CAST(n AS DOUBLE) * (n - 1) / 2 - n1)"
                " * (CAST(n AS DOUBLE) * (n - 1) / 2 - n2))"
            ).alias("tau_b"),
        )
    )
