"""Temporal / event-stream queries (SURVEY.md §7 M6 batch twins + M4
range/as-of joins) over the `events` table.

These are the BATCH twins of the streaming operators in
``app_insights_generator_spark/streaming`` — identical window semantics, so
each one is DuckDB-oracle-checkable. Window starts are emitted as epoch
seconds (BIGINT): epoch arithmetic is engine- and timezone-proof where
formatted timestamps are not.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from app_insights_generator_spark.operators.checkpointing import pin
from app_insights_generator_spark.operators.joins import asof_join
from app_insights_generator_spark.queries import _exact as _x
from app_insights_generator_spark.queries import register
from app_insights_generator_spark.sources import load_table


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events")


@register(
    "tumbling_window_events",
    """
    SELECT CAST(epoch_us(ts) // 600000000 * 600 AS BIGINT) AS window_start_epoch,
           event_type,
           COUNT(*) AS n_events,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(14,2))), 2) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def tumbling_window_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute tumbling windows (F.window is epoch-aligned, matching the
    oracle's floor(epoch/600))."""
    return (
        _events(spark, sf_dir)
        .groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _x.money_sum(_x.money("value")).alias("sum_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start_epoch"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@register(
    "sliding_window_events",
    """
    WITH starts AS (
      SELECT CAST(epoch_us(ts) // 300000000 * 300 AS BIGINT) AS window_start_epoch, value
      FROM events
      UNION ALL
      SELECT CAST(epoch_us(ts) // 300000000 * 300 - 300 AS BIGINT), value FROM events
    )
    SELECT window_start_epoch, COUNT(*) AS n_events, ROUND(CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE)
                 / COUNT(value) + 1e-9, 2) AS avg_value
    FROM starts GROUP BY 1
    """,
)
def sliding_window_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute windows sliding every 5 — each event lands in exactly two
    windows (the oracle enumerates both starts explicitly)."""
    return (
        _events(spark, sf_dir)
        .groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(
                F.sum(_x.money("value")).cast("double") / F.count("value") + 1e-9, 2
            ).alias("avg_value"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start_epoch"),
            "n_events",
            "avg_value",
        )
    )


@register(
    "session_window_events",
    """
    WITH e AS (SELECT user_id, epoch_us(ts) AS t, value FROM events),
    flagged AS (
      SELECT user_id, t, value,
             CASE WHEN t - LAG(t) OVER (PARTITION BY user_id ORDER BY t) >= 1800000000
                  OR LAG(t) OVER (PARTITION BY user_id ORDER BY t) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM e
    ),
    numbered AS (
      SELECT user_id, t, value,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY t
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    )
    SELECT user_id,
           CAST(MIN(t) // 1000000 AS BIGINT) AS session_start_epoch,
           COUNT(*) AS n_events,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(14,2))), 2) AS DOUBLE) AS sum_value
    FROM numbered GROUP BY user_id, session_id
    """,
)
def session_window_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows with a 30-minute inactivity gap
    (F.session_window); oracle is the classic gaps-and-islands rewrite."""
    return (
        _events(spark, sf_dir)
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("sw"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _x.money_sum(_x.money("value")).alias("sum_value"),
        )
        .select(
            "user_id",
            F.unix_timestamp(F.col("sw.start")).alias("session_start_epoch"),
            "n_events",
            "sum_value",
        )
    )


@register(
    "asof_join_purchase_signup",
    """
    SELECT p.event_id,
           p.user_id,
           CAST(epoch_us(p.ts) // 1000000 AS BIGINT) AS purchase_epoch,
           s.event_id AS signup_event_id
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') s
      ON p.user_id = s.user_id AND p.ts >= s.ts
    """,
)
def asof_join_purchase_signup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join: each purchase matched to the user's latest
    signup at-or-before it (operators/joins.py asof_join — union+window
    composition, one shuffle)."""
    ev = _events(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    signups = ev.filter(F.col("event_type") == "signup").select("event_id", "user_id", "ts")
    joined = asof_join(
        purchases,
        signups.withColumnRenamed("event_id", "signup_event_id"),
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        value_cols=["signup_event_id"],
    )
    return joined.select(
        "event_id",
        "user_id",
        F.unix_timestamp("ts").alias("purchase_epoch"),
        F.col("signup_event_id_asof").alias("signup_event_id"),
    )


@register(
    "range_join_clicks_before_error",
    """
    SELECT err.event_id, COUNT(c.event_id) AS n_clicks_5m
    FROM (SELECT * FROM events WHERE event_type = 'error') err
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON c.user_id = err.user_id
     AND c.ts >= err.ts - INTERVAL 5 MINUTE
     AND c.ts < err.ts
    GROUP BY err.event_id
    """,
)
def range_join_clicks_before_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join: clicks in the 5 minutes before each error,
    per user. Equi on user_id + range predicate — Spark plans the equi part
    as a real join and the range as a join-condition filter."""
    ev = _events(spark, sf_dir)
    err = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id"), F.col("user_id"), F.col("ts")
    )
    clk = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("c_event_id"),
        F.col("user_id").alias("c_user_id"),
        F.col("ts").alias("c_ts"),
    )
    cond = (
        (clk.c_user_id == err.user_id)
        & (clk.c_ts >= err.ts - F.expr("INTERVAL 5 MINUTE"))
        & (clk.c_ts < err.ts)
    )
    return (
        err.join(clk, cond, "left")
        .groupBy("event_id")
        .agg(F.count("c_event_id").alias("n_clicks_5m"))
    )


@register(
    "dedup_first_event_per_user_type",
    """
    SELECT event_id, user_id, event_type
    FROM (
      SELECT event_id, user_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts, event_id) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def dedup_first_event_per_user_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic dropDuplicates: first event per (user, type) by time
    — the batch twin of dropDuplicatesWithinWatermark."""
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        _events(spark, sf_dir)
        .select("event_id", "user_id", "event_type", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


@register(
    "cdc_merge_user_profiles",
    """
    WITH base AS (
      SELECT user_id, COUNT(*) AS n, CAST(ROUND(SUM(CAST(value AS DECIMAL(14,2))), 2) AS DOUBLE) AS v
      FROM events WHERE ts < TIMESTAMP '2024-01-16 00:00:00'
      GROUP BY user_id
    ),
    chg AS (
      SELECT user_id, COUNT(*) AS n, CAST(ROUND(SUM(CAST(value AS DECIMAL(14,2))), 2) AS DOUBLE) AS v
      FROM events WHERE ts >= TIMESTAMP '2024-01-16 00:00:00'
      GROUP BY user_id
    )
    SELECT COALESCE(b.user_id, c.user_id) AS user_id,
           CAST(COALESCE(b.n, 0) + COALESCE(c.n, 0) AS BIGINT) AS n_events,
           ROUND(COALESCE(b.v, 0) + COALESCE(c.v, 0) + 1e-9, 2) AS total_value,
           CASE WHEN b.user_id IS NULL THEN 'insert'
                WHEN c.user_id IS NULL THEN 'carry'
                ELSE 'update' END AS merge_action
    FROM base b FULL OUTER JOIN chg c ON b.user_id = c.user_id
    """,
)
def cdc_merge_user_profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO / CDC-upsert semantics without a table format: a base
    profile snapshot (events before the cutoff) merged with a change
    batch (events after), via one full-outer join — matched keys update,
    source-only keys insert, target-only keys carry over unchanged, and
    each row is tagged with its merge action. This is the incremental-
    refresh primitive for any derived table the engine maintains; at
    scale both sides pre-aggregate to one row per key before the join,
    so the shuffle carries profiles, not raw events."""
    ev = _events(spark, sf_dir)
    cutoff = F.lit("2024-01-16 00:00:00").cast("timestamp")

    def profile(df: DataFrame, prefix: str) -> DataFrame:
        return df.groupBy(F.col("user_id").alias(f"{prefix}_key")).agg(
            F.count(F.lit(1)).alias(f"{prefix}_n"),
            _x.money_sum(_x.money("value")).alias(f"{prefix}_v"),
        )

    base = profile(ev.filter(F.col("ts") < cutoff), "b")
    chg = profile(ev.filter(F.col("ts") >= cutoff), "c")
    merged = base.join(chg, base.b_key == chg.c_key, "full_outer")
    return merged.select(
        F.coalesce("b_key", "c_key").alias("user_id"),
        (F.coalesce("b_n", F.lit(0)) + F.coalesce("c_n", F.lit(0)))
        .cast("bigint")
        .alias("n_events"),
        F.round(
            F.coalesce("b_v", F.lit(0.0)) + F.coalesce("c_v", F.lit(0.0)) + 1e-9, 2
        ).alias("total_value"),
        F.when(F.col("b_key").isNull(), "insert")
        .when(F.col("c_key").isNull(), "carry")
        .otherwise("update")
        .alias("merge_action"),
    )


@register(
    "cms_event_type_freq",
    """
    SELECT event_type, COUNT(*) AS exact_n, 0 AS n_violations
    FROM events GROUP BY event_type
    """,
)
def cms_event_type_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch frequency estimates per event type. The sketch is
    built by the built-in `count_min_sketch` SQL aggregate — partial
    sketches per partition merged JVM-side, so only one ~100 KB sketch
    ever reaches the driver regardless of input size; estimates are read
    back through Spark's own CountMinSketch decoder so the bytes stay in
    Spark's sketch format end to end. This is the 100 TB heavy-hitter
    architecture (sketch once, query forever).

    Oracled via the CMS error INVARIANT rather than the raw estimates:
    CMS guarantees est >= true and, with prob 0.99 per key,
    est <= true + eps*N (eps=1e-4). ``n_violations`` counts keys breaking
    either bound (0 when the sketch honors its contract) and the exact
    count — computable in both engines — rides along as the hash anchor.
    tests/test_sketches.py additionally checks mergeability."""
    ev = _events(spark, sf_dir)
    sk = bytes(
        ev.agg(
            F.expr("count_min_sketch(event_type, 0.0001d, 0.99d, 42)").alias("sk")
        ).collect()[0]["sk"]
    )
    jcms = spark._jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(sk)
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    n_total = sum(exact.values())
    rows = []
    for t in sorted(exact):
        est, true = int(jcms.estimateCount(t)), int(exact[t])
        ok = true <= est <= true + 1e-4 * n_total
        rows.append((t, true, 0 if ok else 1))
    return spark.createDataFrame(rows, "event_type string, exact_n bigint, n_violations int")


@register(
    "dedup_watermark_batch_twin_events",
    """
    SELECT user_id, event_type,
           CAST(epoch_us(MIN(ts)) // 1000000 AS BIGINT) AS first_ts_epoch,
           COUNT(*) - 1 AS n_dropped
    FROM events GROUP BY user_id, event_type
    """,
)
def dedup_watermark_batch_twin_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of streaming/windows.py dedup_within_watermark (the
    dropDuplicatesWithinWatermark operator): one surviving row per
    (user_id, event_type) key. The streaming form keeps the first arrival
    and bounds state by the watermark; the batch twin pins determinism by
    keeping the EARLIEST event time per key and also reports how many
    duplicates were dropped. tests/test_streaming.py asserts the streaming
    path yields the same key set; this query gives the semantics a hard
    CORRECTNESS row."""
    return (
        _events(spark, sf_dir)
        .groupBy("user_id", "event_type")
        .agg(
            F.unix_timestamp(F.min("ts")).alias("first_ts_epoch"),
            (F.count(F.lit(1)) - 1).alias("n_dropped"),
        )
    )


@register(
    "enrich_stream_static_batch_twin",
    """
    SELECT event_id, user_id, c_mktsegment
    FROM events JOIN customer ON user_id = c_custkey
    """,
)
def enrich_stream_static_batch_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of streaming/windows.py enrich_stream_static — runs the
    ACTUAL streaming helper (a stream-static broadcast join degenerates to
    a plain broadcast join on a batch frame, same code path) so the
    enrichment operator itself gets a hash-checked CORRECTNESS row. The
    dim side is broadcast; the event side never shuffles."""
    from app_insights_generator_spark.streaming.windows import enrich_stream_static

    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    return enrich_stream_static(_events(spark, sf_dir), dim, "user_id").select(
        "event_id", "user_id", "c_mktsegment"
    )


@register(
    "variant_props_events",
    """
    SELECT event_type,
           CAST(MIN(CAST(json_extract(props, '$.k') AS INTEGER)) AS INTEGER) AS min_k,
           CAST(MAX(CAST(json_extract(props, '$.k') AS INTEGER)) AS INTEGER) AS max_k,
           ROUND(AVG(CAST(json_extract(props, '$.k') AS INTEGER)) + 1e-9, 2) AS avg_k
    FROM events GROUP BY event_type
    """,
)
def variant_props_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured props via Spark 4 VARIANT (parse_json +
    variant_get) instead of per-access string re-parsing
    (get_json_object): parse once into the binary variant encoding, then
    typed path extraction. At 100 TB the difference is parsing each JSON
    blob once per row versus once per accessed field; variant also
    shreds into columnar storage on modern writers. try_variant_get
    (not used here) is the dirty-data escape hatch under ANSI mode."""
    ev = _events(spark, sf_dir)
    k = ev.select(
        "event_type",
        F.variant_get(F.parse_json("props"), "$.k", "int").alias("k"),
    )
    return k.groupBy("event_type").agg(
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
        F.round(F.avg("k") + 1e-9, 2).alias("avg_k"),
    )


@register(
    "stateful_type_stats_batch_twin_events",
    """
    SELECT user_id,
           CAST(COUNT(DISTINCT event_type) AS INT) AS n_types,
           COUNT(*) AS n_events,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(14,2))), 2) AS DOUBLE)
             AS total_value
    FROM events GROUP BY user_id
    """,
)
def stateful_type_stats_batch_twin_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of streaming/stateful_v2.py user_type_stats (the
    transformWithStateInPandas operator): per-user distinct event types +
    running totals — streaming COUNT(DISTINCT) needs keyed MapState, which
    the new arbitrary-state API provides typed (vs applyInPandasWithState's
    single opaque tuple). tests/test_streaming.py asserts the real
    readStream path converges to exactly this result; this query gives the
    semantics a hash-checked CORRECTNESS row."""
    return (
        _events(spark, sf_dir)
        .groupBy("user_id")
        .agg(
            F.count_distinct("event_type").cast("int").alias("n_types"),
            F.count(F.lit(1)).alias("n_events"),
            _x.money_sum(_x.money("value")).alias("total_value"),
        )
    )


def _us(c):
    """Epoch microseconds of a ts column; the cast makes unix_micros accept
    the TIMESTAMP_NTZ the parquet reader yields (session tz is pinned UTC,
    so the instant is unchanged)."""
    return F.unix_micros(c.cast("timestamp"))


@register(
    "sessionize_events_batch",
    """
    WITH ordered AS (
      SELECT user_id, ts, value, event_id,
             LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM events
    ),
    flagged AS (
      SELECT user_id, ts, value, event_id,
             CASE WHEN prev_ts IS NULL
                       OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
                  THEN 1 ELSE 0 END AS is_new
      FROM ordered
    ),
    numbered AS (
      SELECT user_id, ts, value,
             SUM(is_new) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS session_idx
      FROM flagged
    )
    SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
           CAST(epoch_us(MIN(ts)) // 1000000 AS BIGINT) AS session_start_epoch,
           COUNT(*) AS n_events,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(14,2))), 2) AS DOUBLE) AS sum_value
    FROM numbered
    GROUP BY user_id, session_idx
    """,
)
def sessionize_events_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization with EXPLICIT session ids: a new session starts
    after a >30-minute gap; the id is the running count of session starts
    per user (lag + conditional cumsum — the standard two-window idiom).
    Complements session_window_events, which aggregates into gap windows
    but never materializes a joinable session id.

    Scale: ONE shuffle (hash by user_id); both windows and the final
    aggregate reuse that partitioning, and per-user state is a sorted
    scan — no driver involvement at any user count. Tie-break on
    (ts, event_id) makes the lag deterministic under equal timestamps."""
    ev = _events(spark, sf_dir)
    w_lag = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    flagged = ev.select(
        "user_id",
        "ts",
        "value",
        "event_id",
        F.when(
            F.lag("ts").over(w_lag).isNull()
            | (
                _us(F.col("ts")) - _us(F.lag("ts").over(w_lag))
                > 1_800_000_000
            ),
            1,
        )
        .otherwise(0)
        .alias("is_new"),
    )
    numbered = flagged.withColumn(
        "session_idx", F.sum("is_new").over(w_run).cast("bigint")
    )
    return numbered.groupBy("user_id", "session_idx").agg(
        (_us(F.min("ts")) / F.lit(1_000_000))
        .cast("bigint")
        .alias("session_start_epoch"),
        F.count(F.lit(1)).alias("n_events"),
        _x.money_sum(_x.money("value")).alias("sum_value"),
    )


@register(
    "funnel_conversion_events",
    """
    WITH s1 AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ),
    s2 AS (
      SELECT e.user_id, MIN(e.ts) AS t2
      FROM events e JOIN s1 ON e.user_id = s1.user_id
      WHERE e.event_type = 'click' AND e.ts > s1.t1
      GROUP BY e.user_id
    ),
    s3 AS (
      SELECT e.user_id, MIN(e.ts) AS t3
      FROM events e JOIN s2 ON e.user_id = s2.user_id
      WHERE e.event_type = 'purchase' AND e.ts > s2.t2
      GROUP BY e.user_id
    )
    SELECT stage, n_users FROM (
      SELECT 1 AS stage_ord, 'signup' AS stage, COUNT(*) AS n_users FROM s1
      UNION ALL
      SELECT 2, 'click_after_signup', COUNT(*) FROM s2
      UNION ALL
      SELECT 3, 'purchase_after_click', COUNT(*) FROM s3
    ) ORDER BY stage_ord
    """,
)
def funnel_conversion_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel analysis: users who signed up, then clicked AFTER the
    signup, then purchased AFTER that click — the strictly-ordered
    product-analytics funnel (order matters: a purchase before the click
    does not count).

    Each stage is min-timestamp-per-user joined forward into the next
    stage's filter. Scale: every join keys on user_id, so with one
    repartition the three stages co-locate and the per-stage state is one
    timestamp per user; stage outputs shrink monotonically, and AQE turns
    the later (small) stage tables into broadcast sides automatically."""
    ev = _events(spark, sf_dir)
    s1 = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        ev.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    rows = [
        s1.agg(F.lit("signup").alias("stage"), F.count(F.lit(1)).alias("n_users")),
        s2.agg(
            F.lit("click_after_signup").alias("stage"),
            F.count(F.lit(1)).alias("n_users"),
        ),
        s3.agg(
            F.lit("purchase_after_click").alias("stage"),
            F.count(F.lit(1)).alias("n_users"),
        ),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out


@register(
    "retention_cohorts_events",
    """
    WITH firsts AS (
      SELECT user_id,
             epoch_us(MIN(ts)) // 86400000000 AS cohort_day
      FROM events GROUP BY user_id
    )
    SELECT CAST(f.cohort_day // 7 AS BIGINT) AS cohort_week,
           CAST((epoch_us(e.ts) // 86400000000 - f.cohort_day) // 7 AS BIGINT)
             AS week_offset,
           COUNT(DISTINCT e.user_id) AS n_users
    FROM events e JOIN firsts f ON e.user_id = f.user_id
    GROUP BY 1, 2
    """,
)
def retention_cohorts_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by the week of their FIRST
    event (cohort), counted distinctly in each subsequent week offset —
    the standard retention triangle. All bucketing is integer epoch-day
    arithmetic (epoch_us // 86400e6 // 7), which is timezone- and
    engine-proof where date_trunc('week') is not (ISO vs US week starts).

    Scale: two shuffles (first-event per user, then the cohort/offset
    count-distinct); the firsts table is one row per user and joins on the
    same user_id partitioning the first aggregate produced."""
    ev = _events(spark, sf_dir)
    day = lambda c: (_us(c) / F.lit(86_400_000_000)).cast("bigint")  # noqa: E731
    firsts = ev.groupBy("user_id").agg(day(F.min("ts")).alias("cohort_day"))
    return (
        ev.join(firsts, "user_id")
        .groupBy(
            (F.col("cohort_day") / 7).cast("bigint").alias("cohort_week"),
            ((day(F.col("ts")) - F.col("cohort_day")) / 7)
            .cast("bigint")
            .alias("week_offset"),
        )
        .agg(F.count_distinct("user_id").alias("n_users"))
    )


@register(
    "scd2_user_event_history",
    """
    WITH ordered AS (
      SELECT user_id, event_type, ts, event_id,
             LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_type
      FROM events
    ),
    changes AS (
      SELECT user_id, event_type, ts, event_id
      FROM ordered
      WHERE prev_type IS NULL OR event_type <> prev_type
    )
    SELECT user_id, event_type,
           CAST(epoch_us(ts) // 1000000 AS BIGINT) AS valid_from_epoch,
           CAST(epoch_us(LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
                // 1000000 AS BIGINT) AS valid_to_epoch
    FROM changes
    """,
)
def scd2_user_event_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing-dimension builder: each user's latest
    event_type is treated as a dimension attribute, and the output is its
    full version history — one row per VALUE CHANGE (consecutive repeats
    collapse into the open version, the defining SCD2 behavior) with
    [valid_from, valid_to) validity; the current version has a NULL
    valid_to. Companion to cdc_merge_user_profiles, which keeps only the
    type-1 latest state.

    Two windows over the same (user_id, ts) ordering: lag to detect
    changes, lead to close each version when the next one opens. Scale:
    one hash shuffle on user_id serves both windows; per-user state is a
    sorted scan. Tie-break on event_id makes change detection
    deterministic under equal timestamps."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        ev.select(
            "user_id",
            "event_type",
            "ts",
            "event_id",
            F.lag("event_type").over(w).alias("prev_type"),
        )
        .filter(
            F.col("prev_type").isNull() | (F.col("event_type") != F.col("prev_type"))
        )
        .drop("prev_type")
    )
    w2 = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return changes.select(
        "user_id",
        "event_type",
        (_us(F.col("ts")) / F.lit(1_000_000)).cast("bigint").alias("valid_from_epoch"),
        (_us(F.lead("ts").over(w2)) / F.lit(1_000_000))
        .cast("bigint")
        .alias("valid_to_epoch"),
    )


@register(
    "ewma_user_values",
    """
    WITH ordered AS (
      SELECT user_id,
             list(CAST(value AS DOUBLE) ORDER BY ts, event_id) AS vs
      FROM events GROUP BY user_id
    )
    SELECT user_id,
           CAST(len(vs) AS BIGINT) AS n_events,
           ROUND(CAST(list_reduce(vs, (acc, x) -> 0.3 * x + 0.7 * acc)
                      AS DOUBLE) + 1e-9, 4) AS ewma
    FROM ordered
    """,
)
def ewma_user_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average per user (alpha = 0.3) — the
    time-series smoothing primitive that is inherently SEQUENTIAL (each
    output depends on the previous), so no plain aggregate expresses it.
    Here: one groupBy collects (ts, event_id, value) structs, array_sort
    makes the order explicit and engine-independent, and a higher-order
    ``aggregate`` folds the recurrence y_i = a*x_i + (1-a)*y_{i-1} inside
    the JVM — per-user state never leaves the executor and the driver
    sees nothing. Both engines fold in the identical order with identical
    IEEE double ops, so the oracle is exact. Scale: one shuffle on
    user_id; per-user memory is that user's event list (bounded by the
    hottest user — salt or window-chunk if a key is pathological)."""
    ev = _events(spark, sf_dir)
    structs = F.array_sort(
        F.collect_list(F.struct(_us(F.col("ts")).alias("t"), "event_id", "value"))
    )
    per_user = ev.groupBy("user_id").agg(structs.alias("evs"))
    vs = F.transform(F.col("evs"), lambda s: s["value"])
    ewma = F.aggregate(
        F.slice(vs, 2, F.greatest(F.size(vs) - 1, F.lit(0))),
        F.element_at(vs, 1),
        lambda acc, x: F.lit(0.3) * x + F.lit(0.7) * acc,
    )
    return per_user.select(
        "user_id",
        F.size("evs").cast("bigint").alias("n_events"),
        F.round(ewma + F.lit(1e-9), 4).alias("ewma"),
    )


@register(
    "anomaly_zscore_events",
    """
    WITH m AS (
      SELECT event_id, user_id, value,
             COUNT(*) OVER w AS n,
             CAST(SUM(CAST(value AS DECIMAL(14,2))) OVER w AS DOUBLE) AS s,
             CAST(SUM(CAST(value AS DECIMAL(14,2))
                      * CAST(value AS DECIMAL(14,2))) OVER w AS DOUBLE) AS ss
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_id, user_id, ROUND(value, 2) AS value,
           ROUND((value - s / n) / SQRT((ss - s * s / n) / (n - 1)) + 1e-9, 4)
             AS zscore
    FROM m
    WHERE n >= 10 AND (ss - s * s / n) / (n - 1) > 0
      AND ABS((value - s / n) / SQRT((ss - s * s / n) / (n - 1))) > 3.0
    """,
)
def anomaly_zscore_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-style anomaly detection as a batch window: each event is
    scored against the trailing 20 events of the SAME user (z-score over a
    ROWS frame that excludes the current row), flagged at |z| > 3. The
    rolling mean/variance come from exact decimal moment sums over the
    frame — the identical double algebra runs in both engines, so a
    boundary |z| can't flip on accumulation order (see _exact.py). Scale:
    one shuffle on user_id; the frame is a per-user sorted scan, state
    bounded by the frame length — the same plan at any user count."""
    ev = _events(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-20, -1)
    )
    val = _x.money("value")
    m = ev.select(
        "event_id",
        "user_id",
        "value",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum(val).over(w).cast("double").alias("s"),
        F.sum(val * val).over(w).cast("double").alias("ss"),
    )
    n, s, ss = F.col("n"), F.col("s"), F.col("ss")
    var = (ss - s * s / n) / (n - 1)
    z = (F.col("value") - s / n) / F.sqrt(var)
    return (
        m.filter((n >= 10) & (var > 0) & (F.abs(z) > 3.0))
        .select(
            "event_id",
            "user_id",
            F.round("value", 2).alias("value"),
            F.round(z + 1e-9, 4).alias("zscore"),
        )
    )


@register(
    "interval_overlap_sessions_errors",
    """
    WITH spans AS (
      SELECT user_id, CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
             CAST(MIN(epoch_us(ts) // 1000000) AS BIGINT) AS span_start,
             CAST(MAX(epoch_us(ts) // 1000000) AS BIGINT) AS span_end
      FROM events GROUP BY 1, 2
    ),
    errs AS (
      SELECT user_id, event_id AS error_id,
             CAST(epoch_us(ts) // 1000000 AS BIGINT) AS err_start,
             CAST(epoch_us(ts) // 1000000 + 1800 AS BIGINT) AS err_end
      FROM events WHERE event_type = 'error'
    )
    SELECT s.user_id, s.day, s.span_start, s.span_end,
           e.error_id, e.err_start, e.err_end
    FROM spans s JOIN errs e
      ON s.user_id = e.user_id
     AND s.span_start <= e.err_end AND e.err_start <= s.span_end
    """,
)
def interval_overlap_sessions_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval x interval overlap join (operators/joins.py
    interval_overlap_join): each user's daily activity span [first event,
    last event] joined to the same user's 30-minute error windows it
    overlaps. The operator explodes both interval sets into fixed-width
    epoch buckets and equi-joins on (user_id, bucket) — a HASH join whose
    candidate cost is intervals-per-bucket, never the per-user nested loop
    a raw theta join plans (the oracle states the theta form; DuckDB can
    afford it at gate scale). Completes the temporal-join taxonomy next to
    as-of (point to latest point) and range (point into interval)."""
    from app_insights_generator_spark.operators.joins import interval_overlap_join

    ev = _events(spark, sf_dir)
    epoch = F.unix_timestamp(F.col("ts").cast("timestamp")).cast("long")
    day = F.floor(F.unix_timestamp(F.col("ts").cast("timestamp")) / 86_400).cast("long")
    spans = (
        ev.select("user_id", day.alias("day"), epoch.alias("_e"))
        .groupBy("user_id", "day")
        .agg(
            F.min("_e").cast("long").alias("span_start"),
            F.max("_e").cast("long").alias("span_end"),
        )
    )
    errs = ev.filter(F.col("event_type") == "error").select(
        "user_id",
        F.col("event_id").alias("error_id"),
        epoch.alias("err_start"),
        (epoch + 1800).cast("long").alias("err_end"),
    )
    return interval_overlap_join(
        spans,
        errs,
        "span_start",
        "span_end",
        "err_start",
        "err_end",
        keys=["user_id"],
        bucket_width=21600,
    ).select(
        "user_id", "day", "span_start", "span_end", "error_id", "err_start", "err_end"
    )


@register(
    "sessionize_dynamic_gap_events",
    """
    WITH base AS (
      SELECT user_id, event_id, epoch_us(ts) AS ts_us,
             CASE WHEN event_type = 'error' THEN 300000000
                  ELSE 1800000000 END AS gap_us
      FROM events
    ),
    ordered AS (
      SELECT user_id, event_id, ts_us, gap_us,
             MAX(ts_us + gap_us) OVER (
               PARTITION BY user_id ORDER BY ts_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS prev_max_end
      FROM base
    ),
    flagged AS (
      SELECT user_id, event_id, ts_us, gap_us,
             CASE WHEN prev_max_end IS NULL OR ts_us > prev_max_end
                  THEN 1 ELSE 0 END AS is_new
      FROM ordered
    ),
    numbered AS (
      SELECT user_id, ts_us, gap_us,
             SUM(is_new) OVER (
               PARTITION BY user_id ORDER BY ts_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS session_idx
      FROM flagged
    )
    SELECT user_id,
           CAST(session_idx AS BIGINT) AS session_idx,
           CAST(MIN(ts_us) // 1000000 AS BIGINT) AS session_start_epoch,
           CAST(MAX(ts_us + gap_us) // 1000000 AS BIGINT) AS session_end_epoch,
           COUNT(*) AS n_events
    FROM numbered
    GROUP BY user_id, session_idx
    """,
)
def sessionize_dynamic_gap_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC-GAP sessionization: each event extends its session by its
    own timeout (errors close after 5 minutes, normal activity after 30)
    — Spark's session_window(ts, gapExpr) semantics, expressed in batch
    as merged intervals: an event opens a new session exactly when its
    timestamp exceeds the running MAX of all preceding (ts + gap) for
    the user (sessions are 1-D interval-union components, so the running
    max is the live session's end). Same single-shuffle shape as the
    fixed-gap sessionizer — two windows + one aggregate over one hash
    partitioning; all-integer epoch arithmetic keeps the gate
    drift-proof. pytest pins equality against the native dynamic
    session_window API on the same gap expression."""
    ev = _events(spark, sf_dir)
    base = ev.select(
        "user_id",
        "event_id",
        _us(F.col("ts")).alias("ts_us"),
        F.when(F.col("event_type") == "error", F.lit(300_000_000))
        .otherwise(F.lit(1_800_000_000))
        .cast("long")
        .alias("gap_us"),
    )
    order = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    prev = order.rowsBetween(Window.unboundedPreceding, -1)
    run = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev_max_end = F.max(F.col("ts_us") + F.col("gap_us")).over(prev)
    flagged = base.withColumn(
        "is_new",
        F.when(
            prev_max_end.isNull() | (F.col("ts_us") > prev_max_end), 1
        ).otherwise(0),
    )
    numbered = flagged.withColumn(
        "session_idx", F.sum("is_new").over(run).cast("long")
    )
    return numbered.groupBy("user_id", "session_idx").agg(
        F.expr("CAST(MIN(ts_us) DIV 1000000 AS BIGINT)").alias(
            "session_start_epoch"
        ),
        F.expr("CAST(MAX(ts_us + gap_us) DIV 1000000 AS BIGINT)").alias(
            "session_end_epoch"
        ),
        F.count(F.lit(1)).alias("n_events"),
    )


# --- Multi-resolution rollup cascade (mergeable-state tree) ------------------


#: shared measure spec for the rollup cascade: every measure is a mergeable
#: semigroup state (operators/incremental.py), so coarser resolutions are
#: derived from finer STATES, never from raw events.
def _rollup_measures():
    cents = F.round(F.col("value") * 100).cast("long")
    return {
        "n_events": ("count", None),
        "sum_cents": ("sum", cents),
        "min_cents": ("min", cents),
        "max_cents": ("max", cents),
    }


@register(
    "rollup_cascade_events",
    """
    SELECT event_type,
           CAST(epoch_us(ts) // 3600000000 * 3600 AS BIGINT) AS hour_epoch,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
           CAST(MIN(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS min_cents,
           CAST(MAX(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS max_cents
    FROM events
    GROUP BY 1, 2
    """,
)
def rollup_cascade_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bucket rollup CASCADE (minute -> hour) over mergeable partial
    states — the hypertable/continuous-aggregate pattern: the hour level
    is merged from the MINUTE state table (operators/incremental.py
    agg_state/merge_states), never recomputed from raw events, while the
    oracle aggregates hours directly from raw rows. Their equality IS the
    gate: it proves count/sum/min/max states merge losslessly across the
    resolution tree (the same algebra extends hour -> day -> month; the
    day level is equivalence-pinned in tests/test_incremental.py).

    Scale: at 100 TB the raw->minute pass is the only full-data scan;
    every coarser resolution aggregates the previous level's state table
    (~|buckets| rows), so a month-level refresh touches gigabytes, not
    terabytes. AVG is intentionally absent from the state: a stored
    average is not mergeable — derive it at read time as sum/count.
    Money rides integer cents (round(value*100)), engine-exact.

    Rotated into the round-6 gate window (pre-sweep addition).

    Reference parity: none (main.py recomputes every run); §2.4/§2.6
    engine-extension surface alongside incremental_agg_orders."""
    from app_insights_generator_spark.operators import incremental as I

    measures = _rollup_measures()
    base = _events(spark, sf_dir).select(
        "event_type",
        "value",
        (F.floor(_us(F.col("ts")) / 60_000_000) * 60).cast("long").alias(
            "minute_epoch"
        ),
    )
    minute = I.agg_state(base, ["event_type", "minute_epoch"], measures)
    rekeyed = minute.withColumn(
        "hour_epoch", F.expr("CAST(minute_epoch DIV 3600 * 3600 AS BIGINT)")
    ).drop("minute_epoch")
    return I.merge_states([rekeyed], ["event_type", "hour_epoch"], measures)


# --- Windowed mean-shift change detection ------------------------------------


@register(
    "mean_shift_events",
    """
    WITH b AS (
      SELECT event_type, event_id,
             CAST(epoch_us(ts) // 1000000 AS BIGINT) AS ts_epoch,
             epoch_us(ts) AS tsu,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    ), s AS (
      SELECT event_type, event_id, ts_epoch,
             COUNT(cents) OVER w_b AS nb,
             CAST(SUM(cents) OVER w_b AS BIGINT) AS sum_b,
             COUNT(cents) OVER w_a AS na,
             CAST(SUM(cents) OVER w_a AS BIGINT) AS sum_a
      FROM b
      WINDOW
        w_b AS (PARTITION BY event_type ORDER BY tsu, event_id
                ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING),
        w_a AS (PARTITION BY event_type ORDER BY tsu, event_id
                ROWS BETWEEN 1 FOLLOWING AND 20 FOLLOWING)
    )
    SELECT event_type, event_id, ts_epoch,
           sum_a - sum_b AS shift_cents
    FROM s
    WHERE nb = 20 AND na = 20 AND abs(sum_a - sum_b) >= 70000
    """,
)
def mean_shift_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-point candidates by windowed mean shift: per event type,
    ordered by time, compare the 20 values BEFORE each point against the
    20 AFTER (two ROWS frames on one window spec) and flag points where
    the level shifts by >= 35 cents/value on average. The statistic is
    the raw integer sum difference (threshold 20*3500 cents) — dividing
    by the fixed window width adds nothing and integer division of
    NEGATIVE diffs is where Spark DIV (truncate) and DuckDB // (floor)
    disagree, so the division is deliberately absent. Classic CUSUM is a
    per-row recursion (s_i = max(0, s_{i-1} + dev)) no window frame can
    express; the two-sided scan statistic is its standard scan-friendly
    relaxation (e-divisive / moving-window segmentation family).

    Scale: one shuffle on event_type (the window partition key), two
    frames over one sort — Spark evaluates both from a single Window
    physical node. Partial windows at series edges are excluded (nb/na
    counts pinned to exactly 20), so results are membership-stable
    under append-only growth except at the moving tail.

    Rotated into the round-6 gate window (pre-sweep addition).

    Reference parity: none; §2.6 analytics extension (the batch twin of
    streaming anomaly detection — anomaly_zscore_events flags points
    against a GLOBAL profile, this flags LOCAL level shifts)."""
    base = _events(spark, sf_dir).select(
        "event_type",
        "event_id",
        F.floor(_us(F.col("ts")) / 1_000_000).cast("long").alias("ts_epoch"),
        _us(F.col("ts")).alias("tsu"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    order = Window.partitionBy("event_type").orderBy("tsu", "event_id")
    before = order.rowsBetween(-20, -1)
    after = order.rowsBetween(1, 20)
    scored = base.select(
        "event_type",
        "event_id",
        "ts_epoch",
        F.count("cents").over(before).alias("nb"),
        F.sum("cents").over(before).cast("long").alias("sum_b"),
        F.count("cents").over(after).alias("na"),
        F.sum("cents").over(after).cast("long").alias("sum_a"),
    )
    return (
        scored.filter((F.col("nb") == 20) & (F.col("na") == 20))
        .withColumn("shift_cents", F.col("sum_a") - F.col("sum_b"))
        .filter(F.abs(F.col("shift_cents")) >= 70000)
        .select("event_type", "event_id", "ts_epoch", "shift_cents")
    )


# --- Marketing attribution (first-/last-touch) -------------------------------


@register(
    "attribution_first_last_events",
    """
    WITH b AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS tsu,
             CASE WHEN event_type IN ('click', 'view', 'signup')
                  THEN event_type END AS touch
      FROM events
    ), w AS (
      SELECT user_id, event_id, event_type,
             first_value(touch IGNORE NULLS) OVER prior AS first_touch,
             last_value(touch IGNORE NULLS) OVER prior AS last_touch
      FROM b
      WINDOW prior AS (PARTITION BY user_id ORDER BY tsu, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    SELECT COALESCE(first_touch, 'none') AS first_touch,
           COALESCE(last_touch, 'none') AS last_touch,
           COUNT(*) AS n_purchases,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM w
    WHERE event_type = 'purchase'
    GROUP BY 1, 2
    """,
)
def attribution_first_last_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-/last-touch conversion attribution: for every purchase, the
    EARLIEST and the MOST RECENT touch event (click/view/signup) the same
    user produced strictly before it, then conversion counts by the
    (first_touch, last_touch) channel pair. Purchases with no prior touch
    report 'none' (never NULL: nullable finals depend on the driver's
    fetch path). The running first/last over an UNBOUNDED PRECEDING..1
    PRECEDING frame with IGNORE NULLS is the single-pass form — no
    self-join per purchase, no correlated subquery.

    Scale: one shuffle on user_id (window partition key), then one
    aggregation over the tiny (touch x touch) matrix. The frame carries
    two running scalars per row regardless of history length.

    Rotated into the round-6 gate window (pre-sweep addition).

    Reference parity: none; §2.6 product-analytics extension alongside
    funnel_conversion_events (the funnel fixes a step ORDER, attribution
    reports the observed channel MIX)."""
    base = _events(spark, sf_dir).select(
        "user_id",
        "event_id",
        "event_type",
        _us(F.col("ts")).alias("tsu"),
        F.when(
            F.col("event_type").isin("click", "view", "signup"),
            F.col("event_type"),
        ).alias("touch"),
    )
    prior = (
        Window.partitionBy("user_id")
        .orderBy("tsu", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    attributed = base.select(
        "user_id",
        "event_type",
        F.first("touch", ignorenulls=True).over(prior).alias("first_touch"),
        F.last("touch", ignorenulls=True).over(prior).alias("last_touch"),
    )
    return (
        attributed.filter(F.col("event_type") == "purchase")
        .select(
            F.coalesce("first_touch", F.lit("none")).alias("first_touch"),
            F.coalesce("last_touch", F.lit("none")).alias("last_touch"),
            "user_id",
        )
        .groupBy("first_touch", "last_touch")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
        )
    )


# --- Seasonal (day-of-week) profile with exact top-outlier -------------------


@register(
    "seasonal_dow_profile_events",
    """
    WITH b AS (
      SELECT event_type, event_id,
             CAST((epoch_us(ts) // 86400000000) % 7 AS BIGINT) AS dow7,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    ), w AS (
      SELECT event_type, dow7, event_id, cents,
             COUNT(*) OVER g AS n_events,
             CAST(SUM(cents) OVER g AS BIGINT) AS sum_cents
      FROM b
      WINDOW g AS (PARTITION BY event_type, dow7)
    ), r AS (
      SELECT event_type, dow7, n_events, sum_cents, event_id,
             cents * n_events - sum_cents AS resid_scaled,
             ROW_NUMBER() OVER (PARTITION BY event_type, dow7
                                ORDER BY abs(cents * n_events - sum_cents) DESC,
                                         event_id ASC) AS rn
      FROM w
    )
    SELECT event_type, dow7, n_events, sum_cents,
           event_id AS out_event_id,
           CAST(resid_scaled AS BIGINT) AS out_resid_scaled
    FROM r WHERE rn = 1
    """,
)
def seasonal_dow_profile_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal day-of-week profile with the exact top outlier per cell:
    for every (event_type, day-of-week) cell, the event count, integer
    cents mass, and the single most anomalous event vs the cell mean —
    deviation kept exact by cross-multiplication (cents*n - sum instead
    of cents - sum/n, the same no-float-division rule as the KS
    statistic), argmax made deterministic by the (|resid| DESC,
    event_id ASC) tie-break. Day-of-week is epoch-day modulo 7 —
    timezone- and engine-convention-proof where DAYOFWEEK() is not
    (Spark counts Sunday=1, DuckDB Sunday=0). The weekday-seasonality
    baseline is the standard first decomposition step before any
    anomaly model; its residual argmax is the 'worst offender' drill-
    down every ops dashboard needs.

    Scale: one shuffle on (event_type, dow7) — the unbounded-frame
    stats and the ranking share the same partition key, so Spark plans
    one Exchange feeding two Window nodes over one sort order.

    Rotated into the round-6 gate window (pre-sweep addition)."""
    base = _events(spark, sf_dir).select(
        "event_type",
        "event_id",
        (F.floor(_us(F.col("ts")) / 86_400_000_000) % 7)
        .cast("long")
        .alias("dow7"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    g = Window.partitionBy("event_type", "dow7")
    w = base.select(
        "event_type",
        "dow7",
        "event_id",
        "cents",
        F.count(F.lit(1)).over(g).alias("n_events"),
        F.sum("cents").over(g).cast("long").alias("sum_cents"),
    )
    resid = (F.col("cents") * F.col("n_events") - F.col("sum_cents")).alias(
        "resid_scaled"
    )
    r = w.select(
        "event_type",
        "dow7",
        "n_events",
        "sum_cents",
        "event_id",
        resid,
        F.row_number()
        .over(
            Window.partitionBy("event_type", "dow7").orderBy(
                F.abs(F.col("cents") * F.col("n_events") - F.col("sum_cents")).desc(),
                F.col("event_id").asc(),
            )
        )
        .alias("rn"),
    )
    return r.filter(F.col("rn") == 1).select(
        "event_type",
        "dow7",
        "n_events",
        "sum_cents",
        F.col("event_id").alias("out_event_id"),
        F.col("resid_scaled").cast("long").alias("out_resid_scaled"),
    )


# --- Watermark lateness profile (how late is late data, exactly) -------------


@register(
    "lateness_profile_events",
    """
    WITH b AS (
      SELECT event_type, event_id, epoch_us(ts) AS tsu
      FROM events
    ), r AS (
      SELECT event_type,
             GREATEST(CAST(0 AS BIGINT),
                      CAST(MAX(tsu) OVER (PARTITION BY event_type
                                          ORDER BY event_id
                                          ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND 1 PRECEDING) - tsu AS BIGINT))
               AS late_us
      FROM b
    ), s AS (
      SELECT event_type, late_us,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY late_us) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM r
    )
    SELECT event_type,
           CAST(MAX(n) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_late,
           CAST(MAX(CASE WHEN rn = (n * 95 + 99) // 100 THEN late_us END)
                AS BIGINT) AS p95_late_us,
           CAST(MAX(late_us) AS BIGINT) AS max_late_us
    FROM s GROUP BY event_type
    """,
)
def lateness_profile_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-sizing profile: per event type, how far events arrive
    BEHIND the running event-time high-water mark, using arrival order
    (event_id — the ingestion sequence) as the processing-order proxy:
    late_us = max(0, running_max(ts) - ts). Emits late-event count, the
    exact discrete p95 (ceil-rank selection, the PERCENTILE_DISC
    convention used across the engine), and the max — exactly the
    numbers that size ``withWatermark``: a '10 minutes' delay is a
    claim about THIS distribution, and every streaming query in the
    repo states one. Too-small watermark = dropped events
    (test_late_data_dropped_after_watermark pins the mechanism); this
    measures the right value instead of guessing it.

    Scale: one shuffle on event_type; running max and rank share the
    sort. The profile is a bounded per-type row — it runs as a daily
    job over trillions of events with no driver state.

    Rotated into the round-6 gate window (pre-sweep addition)."""
    base = _events(spark, sf_dir).select(
        "event_type", "event_id", _us(F.col("ts")).alias("tsu")
    )
    arrival = (
        Window.partitionBy("event_type")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    r = base.select(
        "event_type",
        F.greatest(
            F.lit(0).cast("long"),
            (F.max("tsu").over(arrival) - F.col("tsu")).cast("long"),
        ).alias("late_us"),
    )
    rank = Window.partitionBy("event_type").orderBy("late_us")
    grp = Window.partitionBy("event_type")
    s = r.select(
        "event_type",
        "late_us",
        F.row_number().over(rank).alias("rn"),
        F.count(F.lit(1)).over(grp).alias("n"),
    )
    return s.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n_events"),
        F.count_if(F.col("late_us") > 0).alias("n_late"),
        F.max(
            F.when(
                F.col("rn") == F.expr("(n * 95 + 99) DIV 100"), F.col("late_us")
            )
        )
        .cast("long")
        .alias("p95_late_us"),
        F.max("late_us").cast("long").alias("max_late_us"),
    )


# --- Cumulative distinct users (first-seen flag trick) -----------------------


@register(
    "cumulative_distinct_users_events",
    """
    WITH b AS (
      SELECT event_type, user_id,
             CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day_idx,
             ROW_NUMBER() OVER (PARTITION BY event_type, user_id
                                ORDER BY epoch_us(ts), event_id) AS rn
      FROM events
    ), firsts AS (
      SELECT event_type, day_idx, COUNT(*) AS n_new
      FROM b WHERE rn = 1 GROUP BY event_type, day_idx
    )
    SELECT event_type, day_idx, CAST(n_new AS BIGINT) AS n_new_users,
           CAST(SUM(n_new) OVER (PARTITION BY event_type ORDER BY day_idx
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS cum_distinct_users
    FROM firsts
    """,
)
def cumulative_distinct_users_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily NEW vs CUMULATIVE distinct users per event type — the
    growth-curve query. A windowed COUNT(DISTINCT) is unsupported and
    would hold per-frame state proportional to history anyway; the
    standard exact rewrite is the FIRST-SEEN trick: rank each (type,
    user) appearance, keep rank 1 (each user contributes exactly once,
    on their first day), aggregate firsts per day, running-sum the
    days. Exact at any scale with state proportional to users, not
    user-days.

    Scale: one shuffle on (type, user) for the ranking, one tiny
    aggregation on (type, day), one running sum over the per-type day
    series (bounded rows). This exact pattern is also the batch twin of
    streaming 'new user' detection via keyed state.

    Rotated into the round-6 gate window (pre-sweep addition)."""
    b = _events(spark, sf_dir).select(
        "event_type",
        "user_id",
        F.floor(_us(F.col("ts")) / 86_400_000_000).cast("long").alias("day_idx"),
        F.row_number()
        .over(
            Window.partitionBy("event_type", "user_id").orderBy(
                _us(F.col("ts")), F.col("event_id")
            )
        )
        .alias("rn"),
    )
    firsts = (
        b.filter(F.col("rn") == 1)
        .groupBy("event_type", "day_idx")
        .agg(F.count(F.lit(1)).cast("long").alias("n_new_users"))
    )
    run = (
        Window.partitionBy("event_type")
        .orderBy("day_idx")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return firsts.select(
        "event_type",
        "day_idx",
        "n_new_users",
        F.sum("n_new_users").over(run).cast("long").alias("cum_distinct_users"),
    )


# --- Cogrouped applyInPandas (two-stream per-key as-of merge) -----------------


@register(
    "cogroup_purchase_error_asof_events",
    """
    SELECT p.user_id AS user_id,
           p.event_id AS event_id,
           (SELECT CAST((epoch_us(p.ts) - epoch_us(e.ts)) // 1000000 AS BIGINT)
              FROM events e
             WHERE e.event_type = 'error' AND e.user_id = p.user_id
               AND e.ts <= p.ts
             ORDER BY e.ts DESC LIMIT 1) AS gap_s,
           (SELECT COUNT(*)
              FROM events e
             WHERE e.event_type = 'error' AND e.user_id = p.user_id
               AND e.ts <= p.ts AND e.ts >= p.ts - INTERVAL 3600 SECOND) AS errors_1h
    FROM events p
    WHERE p.event_type = 'purchase'
    """,
)
def cogroup_purchase_error_asof_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped two-stream per-key as-of merge via cogroup().applyInArrow
    (SPARK-40307): per-user sorted-merge of the purchase stream against
    the error stream — for every purchase, the as-of gap (seconds since
    the user's most recent error, NULL if none) and the error count in
    the inclusive trailing hour. The two sides are pre-filtered to single
    event types BEFORE the cogroup (stream splitting), so each Python
    group is one user's slice of one type, and the merge is numpy
    searchsorted, not a row loop — see operators/cogroup.py for the
    100 TB skew notes. Timestamps cross the Arrow boundary as unix_micros
    BIGINTs, never datetime objects.

    The arrow form is the gated/production path: BENCH_r06 measured the
    applyInPandas twin at 3.8x the wall-clock (4.49s vs 0.92s at sf0.1)
    for bit-identical output — pure per-group pandas Block construction
    overhead. The pandas form (asof_error_context) stays as the
    API-coverage twin: equality-pinned in tests/test_cogroup.py and
    timed by bench.py per round.

    The oracle expresses the same semantics as correlated scalar
    subqueries (DuckDB decorrelates both); the Spark side is the
    engine-surface point — this is the one batch API where both sides of
    a key meet in one Python function.

    Registered for the round-7 gate window (post-sweep addition)."""
    from app_insights_generator_spark.operators.cogroup import (
        asof_error_context_arrow,
        purchase_error_streams,
    )

    purchases, errors = purchase_error_streams(spark, sf_dir)
    return asof_error_context_arrow(purchases, errors)


# --- Markov transition matrix over per-user event sequences -------------------


@register(
    "markov_transitions_events",
    """
    WITH seq AS (
      SELECT event_type AS from_type,
             LEAD(event_type) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts), event_id
             ) AS to_type
      FROM events
    ),
    t AS (
      SELECT from_type, to_type, COUNT(*) AS n
      FROM seq WHERE to_type IS NOT NULL
      GROUP BY from_type, to_type
    )
    SELECT from_type, to_type, n,
           n * 10000 // CAST(SUM(n) OVER (PARTITION BY from_type) AS BIGINT)
             AS prob_bp
    FROM t
    """,
)
def markov_transitions_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of per-user event sequences:
    count of each type->next-type step plus the row-stochastic transition
    probability in basis points (exact integer DIV — drift-proof). The
    step order is (event time, event_id): event_id breaks timestamp ties
    deterministically in both engines.

    Plan: one shuffle for the per-user lead() window (same exchange a
    sessionize needs), one groupBy to at most |types|^2 rows with
    map-side combine, and a window over that tiny matrix for the row
    totals. Nothing after the first aggregation sees data volume, and
    the window sum is cast to BIGINT before the divide so the oracle
    never emits a HUGEINT final (the r05 red class).

    Registered for the round-7 gate window (post-sweep addition)."""
    ev = _events(spark, sf_dir).select(
        "user_id", "event_id", "event_type", _us(F.col("ts")).alias("ts_us")
    )
    step = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    seq = (
        ev.withColumn("to_type", F.lead("event_type").over(step))
        .filter(F.col("to_type").isNotNull())
        .select(F.col("event_type").alias("from_type"), "to_type")
    )
    t = seq.groupBy("from_type", "to_type").agg(F.count(F.lit(1)).alias("n"))
    row_total = F.sum("n").over(Window.partitionBy("from_type"))
    return t.select(
        "from_type",
        "to_type",
        "n",
        F.expr("n * 10000").cast("long").alias("_num"),
        row_total.alias("_den"),
    ).select(
        "from_type",
        "to_type",
        "n",
        F.expr("_num DIV _den").alias("prob_bp"),
    )


# --- Journey pattern matching (MATCH_RECOGNIZE-style regex over sequences) ----


@register(
    "journey_patterns_events",
    """
    WITH j AS (
      SELECT user_id,
             COUNT(*) AS n_events,
             string_agg(substr(event_type, 1, 1), ''
                        ORDER BY epoch_us(ts), event_id) AS journey
      FROM events GROUP BY user_id
    )
    SELECT user_id, n_events,
           CASE WHEN regexp_matches(journey, 's.*p') THEN 1 ELSE 0 END
             AS signup_to_purchase,
           CAST(len(regexp_extract_all(journey, 'ep')) AS BIGINT)
             AS n_error_then_purchase,
           CAST(COALESCE(list_max(list_transform(
                  regexp_extract_all(journey, 'v+'), x -> len(x))), 0) AS BIGINT)
             AS max_view_run
    FROM j
    """,
)
def journey_patterns_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-pattern matching over per-user event journeys — the
    MATCH_RECOGNIZE workload (Spark has no MATCH_RECOGNIZE clause; the
    standard engine-native encoding is exactly this): compress each
    user's time-ordered events to a symbol string, then run regexes —
    eventual conversion (s.*p), an adjacency pattern (error immediately
    before purchase), and the longest view streak (v+). Event types map
    to distinct initials, so symbols are one char.

    The journey build is the determinism-sensitive step: collect_list
    order is undefined, so Spark sorts an array of (ts_us, event_id,
    sym) structs JVM-side before joining chars (array_sort on structs is
    lexicographic by field), matching the oracle's string_agg ORDER BY.
    Per-user strings are bounded by per-user event counts — the same
    hot-key bound every sessionize carries; one shuffle total, regexes
    run on the aggregated (small) per-user table.

    Registered for the round-7 gate window (post-sweep addition)."""
    ev = _events(spark, sf_dir).select(
        "user_id",
        _us(F.col("ts")).alias("ts_us"),
        "event_id",
        F.substring("event_type", 1, 1).alias("sym"),
    )
    j = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("ts_us", "event_id", "sym"))),
                lambda s: s["sym"],
            ),
            "",
        ).alias("journey"),
    )
    return j.select(
        "user_id",
        "n_events",
        F.expr("CASE WHEN journey RLIKE 's.*p' THEN 1 ELSE 0 END").alias(
            "signup_to_purchase"
        ),
        F.expr("CAST(regexp_count(journey, 'ep') AS BIGINT)").alias(
            "n_error_then_purchase"
        ),
        F.expr(
            "CAST(COALESCE(array_max(transform("
            "regexp_extract_all(journey, 'v+', 0), x -> length(x))), 0) AS BIGINT)"
        ).alias("max_view_run"),
    )


# --- Point-in-time (feature-store) multi-feature as-of join --------------------


@register(
    "pit_features_purchases",
    """
    SELECT p.event_id,
           p.user_id,
           CAST(epoch_us(p.ts) // 1000000 AS BIGINT) AS purchase_epoch,
           CAST(ROUND(c.value * 100) AS BIGINT) AS last_click_cents,
           CAST(ROUND(v.value * 100) AS BIGINT) AS last_view_cents
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON p.user_id = v.user_id AND p.ts >= v.ts
    """,
)
def pit_features_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POINT-IN-TIME correctness — the feature-store join: a label spine
    (purchases) enriched from TWO feature streams (latest click value,
    latest view value per user at-or-before the label timestamp), each
    via a backward as-of join. Using the event time of the label row —
    never 'latest overall' — is what makes training features
    leakage-free; this is the composition every feature platform
    (point-in-time join) reduces to, and the oracle is DuckDB's native
    chained ASOF LEFT JOIN.

    Each feature attach is one union+window pass (operators/joins.py
    asof_join — one shuffle per feature stream, no range explosion);
    feature values cross as integer cents.

    Registered for the round-7 gate window (post-sweep addition)."""
    ev = _events(spark, sf_dir)
    spine = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.expr("CAST(ROUND(value * 100) AS BIGINT)").alias("last_click_cents"),
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id",
        "ts",
        F.expr("CAST(ROUND(value * 100) AS BIGINT)").alias("last_view_cents"),
    )
    step1 = asof_join(
        spine, clicks, on=["user_id"], left_ts="ts", right_ts="ts",
        value_cols=["last_click_cents"],
    )
    step2 = asof_join(
        step1.select("event_id", "user_id", "ts", "last_click_cents_asof"),
        views, on=["user_id"], left_ts="ts", right_ts="ts",
        value_cols=["last_view_cents"],
    )
    return step2.select(
        "event_id",
        "user_id",
        F.unix_timestamp("ts").alias("purchase_epoch"),
        F.col("last_click_cents_asof").alias("last_click_cents"),
        F.col("last_view_cents_asof").alias("last_view_cents"),
    )


# --- Time-series bars: OHLC + time-weighted average ----------------------------


@register(
    "ohlc_hourly_events",
    """
    WITH base AS (
      SELECT event_type,
             CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS hour_idx,
             CAST(ROUND(value * 100) AS BIGINT) AS cents,
             epoch_us(ts) AS us, event_id,
             ROW_NUMBER() OVER (PARTITION BY event_type, epoch_us(ts) // 3600000000
                                ORDER BY epoch_us(ts), event_id) AS rn_open,
             ROW_NUMBER() OVER (PARTITION BY event_type, epoch_us(ts) // 3600000000
                                ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn_close
      FROM events
    )
    SELECT event_type, hour_idx,
           MAX(CASE WHEN rn_open = 1 THEN cents END) AS open_cents,
           MAX(cents) AS high_cents,
           MIN(cents) AS low_cents,
           MAX(CASE WHEN rn_close = 1 THEN cents END) AS close_cents,
           COUNT(*) AS n_events
    FROM base GROUP BY event_type, hour_idx
    """,
)
def ohlc_hourly_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC candlestick bars per (event type, hour) — the time-series
    downsampling shape every monitoring/market pipeline emits: open and
    close picked by deterministic (ts, event_id) endpoint ranking (first/
    last alone are partition-order dependent in Spark — the same trap as
    collect_list), high/low/volume as plain aggregates, values in exact
    integer cents. One window shuffle on (type, hour) feeding the
    groupBy on the same key — AQE reuses the partitioning, so the bars
    cost one exchange.

    Registered for the round-7 gate window (post-sweep addition)."""
    ev = _events(spark, sf_dir).select(
        "event_type",
        "event_id",
        _us(F.col("ts")).alias("us"),
        F.expr("CAST(ROUND(value * 100) AS BIGINT)").alias("cents"),
    ).withColumn("hour_idx", F.expr("us DIV 3600000000"))
    by_hour = Window.partitionBy("event_type", "hour_idx")
    base = ev.select(
        "event_type",
        "hour_idx",
        "cents",
        F.row_number().over(by_hour.orderBy("us", "event_id")).alias("rn_open"),
        F.row_number()
        .over(by_hour.orderBy(F.desc("us"), F.desc("event_id")))
        .alias("rn_close"),
    )
    return base.groupBy("event_type", "hour_idx").agg(
        F.max(F.when(F.col("rn_open") == 1, F.col("cents"))).alias("open_cents"),
        F.max("cents").alias("high_cents"),
        F.min("cents").alias("low_cents"),
        F.max(F.when(F.col("rn_close") == 1, F.col("cents"))).alias("close_cents"),
        F.count(F.lit(1)).alias("n_events"),
    )


@register(
    "twap_daily_user_events",
    """
    WITH base AS (
      SELECT user_id,
             CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day_idx,
             epoch_us(ts) AS us,
             CAST(ROUND(value * 100) AS BIGINT) AS cents,
             event_id
      FROM events
    ),
    seg AS (
      SELECT user_id, day_idx, cents,
             COALESCE(LEAD(us) OVER (PARTITION BY user_id, day_idx
                                     ORDER BY us, event_id),
                      (day_idx + 1) * 86400000000) - us AS w_us
      FROM base
    )
    SELECT user_id, day_idx,
           CAST(SUM(w_us) AS BIGINT) AS held_us,
           CAST(SUM(w_us * cents) AS BIGINT) AS weighted_cents_us,
           CAST(SUM(w_us * cents) AS DOUBLE) / CAST(SUM(w_us) AS BIGINT)
             AS twap_cents
    FROM seg GROUP BY user_id, day_idx
    """,
)
def twap_daily_user_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-WEIGHTED average value per user-day over an irregular event
    stream — each observation holds until the next one (step
    interpolation, closing at the day boundary), so a value that stood
    for 6 hours outweighs a flurry of 1-second ticks: the correct
    average for irregularly-sampled state (plain AVG is sampling-rate
    biased). Weights are exact integer microseconds from one LEAD
    window; the numerator/denominator sums stay BIGINT (max day-span ×
    cents ≈ 8.6e15 per user-day) and the emitted ratio is a single IEEE
    division of the two exact sums.

    Registered for the round-7 gate window (post-sweep addition)."""
    base = _events(spark, sf_dir).select(
        "user_id",
        "event_id",
        _us(F.col("ts")).alias("us"),
        F.expr("CAST(ROUND(value * 100) AS BIGINT)").alias("cents"),
    ).withColumn("day_idx", F.expr("us DIV 86400000000"))
    nxt = Window.partitionBy("user_id", "day_idx").orderBy("us", "event_id")
    seg = base.select(
        "user_id",
        "day_idx",
        "cents",
        (
            F.coalesce(
                F.lead("us").over(nxt), (F.col("day_idx") + 1) * 86_400_000_000
            )
            - F.col("us")
        ).alias("w_us"),
    )
    return seg.groupBy("user_id", "day_idx").agg(
        F.sum("w_us").cast("long").alias("held_us"),
        F.expr("CAST(SUM(w_us * cents) AS BIGINT)").alias("weighted_cents_us"),
        F.expr(
            "CAST(SUM(w_us * cents) AS DOUBLE) / CAST(SUM(w_us) AS BIGINT)"
        ).alias("twap_cents"),
    )


# --- Discrete-time survival: signup -> purchase hazard table --------------------


@register(
    "discrete_hazard_events",
    """
    WITH s AS (
      SELECT user_id, epoch_us(MIN(ts)) AS sus
      FROM events WHERE event_type = 'signup' GROUP BY user_id
    ),
    p AS (
      SELECT e.user_id, MIN(epoch_us(e.ts)) AS pus
      FROM events e JOIN s ON e.user_id = s.user_id
      WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= s.sus
      GROUP BY e.user_id
    ),
    h AS (SELECT MAX(epoch_us(ts)) AS hus FROM events),
    t AS (
      SELECT s.user_id,
             CASE WHEN p.pus IS NOT NULL THEN (p.pus - s.sus) // 86400000000
                  ELSE (h.hus - s.sus) // 86400000000 END AS day,
             CASE WHEN p.pus IS NOT NULL THEN 1 ELSE 0 END AS ev
      FROM s LEFT JOIN p ON s.user_id = p.user_id, h
    ),
    g AS (
      SELECT day, CAST(SUM(ev) AS BIGINT) AS n_events,
             CAST(SUM(1 - ev) AS BIGINT) AS n_censored
      FROM t GROUP BY day
    )
    SELECT CAST(day AS BIGINT) AS day,
           CAST(SUM(n_events + n_censored) OVER (ORDER BY day DESC
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_risk,
           n_events, n_censored,
           CAST(n_events * 10000
                // SUM(n_events + n_censored) OVER (ORDER BY day DESC
                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS hazard_bp
    FROM g
    """,
)
def discrete_hazard_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete-time survival table (the Kaplan-Meier life table) for
    signup -> first purchase: per whole-day interval, users at risk,
    conversion events, right-censored users (no purchase before the
    corpus horizon), and the hazard d_i/n_i in basis points. This is the
    time-to-event form of funnel analysis — funnel_conversion counts WHO
    converts, the hazard table says WHEN, with censoring handled
    correctly instead of dropped (the mistake naive 'average days to
    purchase' makes). The survival curve is the running product of
    (1 - hazard); the gate emits the exact integer table, never the
    order-dependent float product.

    Exactness: whole-day buckets by integer epoch-microsecond floor
    division; at-risk counts are a RIGHT-cumulative window (ORDER BY day
    DESC) over the per-day aggregate — all int64, no drift classes.

    Scale: two per-user aggregates (signup min, conditional purchase
    min), one 1-row horizon broadcast, then the window runs on the
    per-DAY table, bounded by the observation span at any corpus size —
    the cusum_changepoint discipline.

    Reference parity: no counterpart; §2.3 events-analytics extension.

    Registered as a round-8 rotation candidate (post-sweep addition)."""
    ev = _events(spark, sf_dir)
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(_us(F.col("ts"))).alias("sus"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s, "user_id")
        .filter(_us(F.col("ts")) >= F.col("sus"))
        .groupBy("user_id")
        .agg(F.min(_us(F.col("ts"))).alias("pus"))
    )
    h = ev.agg(F.max(_us(F.col("ts"))).alias("hus"))
    t = (
        s.join(p, "user_id", "left")
        .crossJoin(F.broadcast(h))
        .select(
            F.expr(
                "CASE WHEN pus IS NOT NULL THEN (pus - sus) DIV 86400000000"
                " ELSE (hus - sus) DIV 86400000000 END"
            ).alias("day"),
            F.expr("CASE WHEN pus IS NOT NULL THEN 1 ELSE 0 END").alias("ev"),
        )
    )
    g = t.groupBy("day").agg(
        F.sum("ev").cast("long").alias("n_events"),
        F.sum(F.expr("1 - ev")).cast("long").alias("n_censored"),
    )
    wr = Window.orderBy(F.desc("day")).rowsBetween(Window.unboundedPreceding, 0)
    risk = F.sum(F.col("n_events") + F.col("n_censored")).over(wr).cast("long")
    return g.select(
        F.col("day").cast("long").alias("day"),
        risk.alias("n_risk"),
        "n_events",
        "n_censored",
    ).withColumn(
        "hazard_bp", F.expr("CAST(n_events * 10000 DIV n_risk AS LONG)")
    )


# --- Markov next-event prediction accuracy (train/test eval) -------------------


@register(
    "markov_next_event_accuracy_events",
    """
    WITH seq AS (
      SELECT user_id, event_type AS from_type,
             LEAD(event_type) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts), event_id
             ) AS to_type,
             epoch_us(ts) AS ts_us, event_id
      FROM events
    ),
    step AS (
      SELECT from_type, to_type,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY ts_us, event_id) AS BIGINT) AS rn,
             CAST(COUNT(*) OVER (PARTITION BY user_id) AS BIGINT) AS m
      FROM seq WHERE to_type IS NOT NULL
    ),
    train AS (
      SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
      FROM step WHERE rn * 10 <= m * 8
      GROUP BY from_type, to_type
    ),
    pred AS (
      SELECT from_type, to_type AS pred_type
      FROM (SELECT from_type, to_type,
                   ROW_NUMBER() OVER (PARTITION BY from_type
                                      ORDER BY n DESC, to_type) AS pr
            FROM train) p
      WHERE pr = 1
    ),
    ntr AS (
      SELECT from_type, CAST(SUM(n) AS BIGINT) AS n_train
      FROM train GROUP BY from_type
    ),
    test AS (SELECT from_type, to_type FROM step WHERE rn * 10 > m * 8)
    SELECT t.from_type,
           COALESCE(ntr.n_train, 0) AS n_train,
           CAST(COUNT(*) AS BIGINT) AS n_test,
           CAST(SUM(CASE WHEN t.to_type = p.pred_type THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           CAST(SUM(CASE WHEN t.to_type = p.pred_type THEN 1 ELSE 0 END)
                * 10000 // COUNT(*) AS BIGINT) AS acc_bp
    FROM test t
    LEFT JOIN pred p ON p.from_type = t.from_type
    LEFT JOIN ntr ON ntr.from_type = t.from_type
    GROUP BY t.from_type, ntr.n_train
    """,
)
def markov_next_event_accuracy_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Next-event prediction accuracy of the first-order Markov model —
    the EVALUATED companion of markov_transitions_events: train the
    transition matrix on each user's first 80% of steps (integer split
    rn*10 <= m*8, no float thresholds), predict the next event type as
    the argmax transition (ties broken lexicographically), and score
    top-1 accuracy on the held-out last 20%. This is the
    model-eval-inside-the-engine pattern (the knn_label_accuracy /
    roc_auc discipline): the engine both fits and scores the baseline
    sequence model a product team would sanity-check journeys against.

    Exactness: the split, argmax (ROW_NUMBER over (n DESC, to_type)),
    match counts, and acc_bp = correct * 10000 DIV n_test are all
    integer; test steps whose from_type never appears in train get a
    NULL prediction and score as misses (COALESCE(n_train, 0) keeps the
    row). Step order is (event time, event_id) — the markov_transitions
    tie-break.

    Plan: the same single per-user window shuffle as the transition
    matrix (ROW_NUMBER/COUNT reuse its exchange), then all modeling
    happens on the |types|^2 matrix; the test-side join is keyed on
    from_type against a broadcast-size prediction table. Nothing after
    the first aggregation scales with event volume.

    Reference parity: no counterpart; §2.6 events extension.
    Registered on ROTATION_NEXT (round-10 window; post-sweep addition)."""
    ev = _events(spark, sf_dir).select(
        "user_id", "event_id", "event_type", _us(F.col("ts")).alias("ts_us")
    )
    w_step = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    seq = (
        ev.withColumn("to_type", F.lead("event_type").over(w_step))
        .filter(F.col("to_type").isNotNull())
        .select(
            "user_id",
            F.col("event_type").alias("from_type"),
            "to_type",
            "ts_us",
            "event_id",
        )
    )
    step = seq.select(
        "from_type",
        "to_type",
        F.row_number().over(w_step).cast("long").alias("rn"),
        F.count(F.lit(1))
        .over(Window.partitionBy("user_id"))
        .cast("long")
        .alias("m"),
    ).transform(pin)  # fan-out: train matrix + test steps
    train = (
        step.filter(F.expr("rn * 10 <= m * 8"))
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    w_arg = Window.partitionBy("from_type").orderBy(
        F.col("n").desc(), F.col("to_type")
    )
    pred = (
        train.withColumn("pr", F.row_number().over(w_arg))
        .filter(F.col("pr") == 1)
        .select("from_type", F.col("to_type").alias("pred_type"))
    )
    ntr = train.groupBy("from_type").agg(
        F.sum("n").cast("long").alias("n_train")
    )
    test = step.filter(F.expr("rn * 10 > m * 8")).select("from_type", "to_type")
    return (
        test.join(F.broadcast(pred), "from_type", "left")
        .join(F.broadcast(ntr), "from_type", "left")
        .groupBy("from_type", F.coalesce("n_train", F.lit(0)).alias("n_train"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_test"),
            F.sum(
                F.expr("CASE WHEN to_type = pred_type THEN 1 ELSE 0 END")
            )
            .cast("long")
            .alias("n_correct"),
        )
        .withColumn(
            "acc_bp", F.expr("CAST(n_correct * 10000 DIV n_test AS LONG)")
        )
    )


# --- Fano factor (burstiness) of daily event counts per type --------------------


@register(
    "fano_burstiness_event_types",
    """
    WITH daily AS (
      SELECT event_type,
             CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day_idx,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    grid AS (SELECT CAST(COUNT(DISTINCT day_idx) AS BIGINT) AS n_days
             FROM daily),
    m AS (
      SELECT event_type,
             CAST(SUM(c) AS BIGINT) AS sum_c,
             CAST(SUM(c * c) AS BIGINT) AS sum_c2
      FROM daily GROUP BY event_type
    )
    SELECT event_type, n_days, sum_c, sum_c2,
           CAST(n_days * sum_c2 - sum_c * sum_c AS DOUBLE)
             / (CAST(n_days AS DOUBLE) * sum_c) AS fano
    FROM m, grid
    """,
)
def fano_burstiness_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fano factor (index of dispersion, variance/mean) of the per-type
    daily event counts — the point-process burstiness diagnostic: ~1
    means Poisson-like arrivals, >1 means bursty (incident storms,
    batch imports), <1 means under-dispersed (rate-limited or scheduled
    traffic). The complement of seasonal_dow (when) and lateness (how
    delayed): Fano says whether volume CLUMPS at all. Days a type never
    fired are true zeros: the day grid is the corpus's observed
    distinct-day set, so zeros enter the variance through n_days while
    contributing nothing to the sums.

    Exactness: counts and both moments are exact int64; the Fano ratio
    (n*sum_c2 - sum_c^2) / (n*sum_c) is ONE final float division of
    exact integers (acf discipline). int64 headroom: sum_c^2 at sf0.1
    is ~4e8; calendar-bounded n_days keeps every term far under the
    cap at any corpus size with a per-year strata fallback.

    Plan: one map-side-combined aggregate to the (type, day) grain, a
    1-row day-grid count broadcast onto the |types|-row moment table.

    Reference parity: no counterpart; §2.6 events extension.
    Registered on ROTATION_NEXT (round-10 window; post-sweep addition)."""
    ev = _events(spark, sf_dir).select(
        "event_type", _us(F.col("ts")).alias("ts_us")
    )
    daily = ev.groupBy(
        "event_type", F.expr("ts_us DIV 86400000000").alias("day_idx")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    daily = pin(daily)  # fan-out: grid + moments
    grid = daily.agg(
        F.countDistinct("day_idx").cast("long").alias("n_days")
    )
    m = daily.groupBy("event_type").agg(
        F.sum("c").cast("long").alias("sum_c"),
        F.sum(F.expr("c * c")).cast("long").alias("sum_c2"),
    )
    return m.crossJoin(F.broadcast(grid)).select(
        "event_type",
        "n_days",
        "sum_c",
        "sum_c2",
        F.expr(
            "CAST(n_days * sum_c2 - sum_c * sum_c AS DOUBLE)"
            " / (CAST(n_days AS DOUBLE) * sum_c)"
        ).alias("fano"),
    )


# --- A/B sample-ratio-mismatch (SRM) audit over a deterministic split -----------


@register(
    "ab_srm_audit_events",
    f"""
    WITH arm AS (
      SELECT DISTINCT user_id,
             {{HEX4}} % 2 AS b
      FROM events
    ),
    per_type AS (
      SELECT e.event_type,
             CAST(SUM(a.b) AS BIGINT) AS n_b,
             CAST(SUM(1 - a.b) AS BIGINT) AS n_a
      FROM events e JOIN arm a ON a.user_id = e.user_id
      GROUP BY e.event_type
    ),
    users AS (
      SELECT '__users__' AS event_type,
             CAST(SUM(b) AS BIGINT) AS n_b,
             CAST(SUM(1 - b) AS BIGINT) AS n_a
      FROM arm
    )
    SELECT event_type, n_a, n_b,
           (n_a - n_b) * (n_a - n_b) AS diff_sq,
           CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE) / (n_a + n_b) AS srm_chi2
    FROM (SELECT * FROM users UNION ALL SELECT * FROM per_type) u
    """,
)
def ab_srm_audit_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch audit of a deterministic 50/50 A/B split —
    the first check every experimentation platform runs before reading
    a metric: bucket users by md5(user_id) % 2 (the repo's
    cross-engine-stable assignment — never engine hash builtins), then
    test arm balance with the 1-df chi-square chi2 = (n_a - n_b)^2 /
    (n_a + n_b), on the USER grain ('__users__' row — the actual SRM
    test) and per event type (the guardrail-metric exposure counts,
    where imbalance means the split correlates with behavior — a
    randomization bug even when user counts balance).

    Exactness: assignment, counts, and diff_sq are int64; chi2 is one
    final float division of exact integers (acf discipline).

    Plan: one distinct to the user grain, one broadcast-ably small arm
    table joined back to events keyed on user_id (at 100 TB this is a
    shuffled hash join on the natural key — no skew beyond the user
    distribution itself), two facet-bounded aggregates.

    Reference parity: no counterpart; §2.6 events extension.
    Registered on ROTATION_NEXT (round-10 window; post-sweep addition)."""
    ev = _events(spark, sf_dir)
    arm = (
        ev.select("user_id")
        .distinct()
        .select(
            "user_id",
            (
                F.conv(
                    F.substring(F.md5(F.col("user_id").cast("string")), 1, 4),
                    16,
                    10,
                ).cast("long")
                % 2
            ).alias("b"),
        )
        .transform(pin)  # fan-out: user row + per-type join
    )
    users = arm.agg(
        F.sum("b").cast("long").alias("n_b"),
        F.sum(F.expr("1 - b")).cast("long").alias("n_a"),
    ).select(F.lit("__users__").alias("event_type"), "n_b", "n_a")
    per_type = (
        ev.select("user_id", "event_type")
        .join(arm, "user_id")
        .groupBy("event_type")
        .agg(
            F.sum("b").cast("long").alias("n_b"),
            F.sum(F.expr("1 - b")).cast("long").alias("n_a"),
        )
    )
    return users.unionByName(per_type).select(
        "event_type",
        "n_a",
        "n_b",
        F.expr("(n_a - n_b) * (n_a - n_b)").alias("diff_sq"),
        F.expr(
            "CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE) / (n_a + n_b)"
        ).alias("srm_chi2"),
    )


from app_insights_generator_spark.queries import ORACLES as _ORACLES  # noqa: E402
from app_insights_generator_spark.queries._exact import (  # noqa: E402
    sql_hex_to_int as _hex,
)

_ORACLES["ab_srm_audit_events"] = _ORACLES["ab_srm_audit_events"].replace(
    "{HEX4}", _hex("substring(md5(CAST(user_id AS VARCHAR)), 1, 4)", 4)
)


# --- A/B conversion readout: two-proportion chi-square between arms ---------------


@register(
    "ab_conversion_chi2_events",
    f"""
    WITH arm AS (
      SELECT DISTINCT user_id,
             {{HEX4}} % 2 AS b
      FROM events
    ),
    conv AS (
      SELECT a.user_id, a.b,
             MAX(CASE WHEN e.event_type = 'purchase' THEN 1 ELSE 0 END) AS cv
      FROM arm a JOIN events e ON e.user_id = a.user_id
      GROUP BY a.user_id, a.b
    ),
    c AS (
      SELECT CAST(SUM(CASE WHEN b = 0 AND cv = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a1,
             CAST(SUM(CASE WHEN b = 0 AND cv = 0 THEN 1 ELSE 0 END) AS BIGINT) AS a0,
             CAST(SUM(CASE WHEN b = 1 AND cv = 1 THEN 1 ELSE 0 END) AS BIGINT) AS b1,
             CAST(SUM(CASE WHEN b = 1 AND cv = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b0
      FROM conv
    )
    SELECT a1, a0, b1, b0,
           a1 * 10000 // (a1 + a0) AS conv_a_bp,
           b1 * 10000 // (b1 + b0) AS conv_b_bp,
           CASE WHEN (a1+a0) * (b1+b0) * (a1+b1) * (a0+b0) = 0 THEN 0.0
                ELSE CAST((a1+a0+b1+b0) AS DOUBLE)
                     * (a1*b0 - a0*b1) * (a1*b0 - a0*b1)
                     / (CAST((a1+a0) AS DOUBLE) * (b1+b0) * (a1+b1) * (a0+b0))
           END AS chi2
    FROM c
    """,
)
def ab_conversion_chi2_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The A/B READOUT on top of the SRM split: purchase conversion per
    arm (user converted = fired at least one purchase event) and the
    2x2 Pearson chi-square for the two-proportion test — the number an
    experimentation dashboard prints next to every metric. Shares the
    md5(user_id) % 2 assignment with ab_srm_audit_events, so the audit
    and the readout can never disagree on who is in which arm.

    Exactness: the contingency table and conversion rates (integer bp)
    are int64; chi2 = N*(ad-bc)^2 / (r1*r0*c1*c0) is computed with the
    int64 cross term (|ad-bc| <= N^2/4, squared in DOUBLE after one
    exact integer multiply — (a1*b0 - a0*b1) stays integer, its square
    enters the float expression) and ONE final IEEE chain identical in
    both engines; degenerate margins return 0 via the CASE guard.

    Plan: distinct-to-user arm table, one user-keyed join + per-user
    max, then a 1-row aggregate. Same exchange family as sessionize.

    Reference parity: no counterpart; §2.6 events extension.
    Registered on ROTATION_NEXT (round-10 window; post-sweep addition)."""
    ev = _events(spark, sf_dir)
    arm = (
        ev.select("user_id")
        .distinct()
        .select(
            "user_id",
            (
                F.conv(
                    F.substring(F.md5(F.col("user_id").cast("string")), 1, 4),
                    16,
                    10,
                ).cast("long")
                % 2
            ).alias("b"),
        )
    )
    conv = (
        arm.join(ev.select("user_id", "event_type"), "user_id")
        .groupBy("user_id", "b")
        .agg(
            F.max(
                F.expr("CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END")
            ).alias("cv")
        )
    )
    c = conv.agg(
        F.sum(F.expr("CASE WHEN b = 0 AND cv = 1 THEN 1 ELSE 0 END"))
        .cast("long")
        .alias("a1"),
        F.sum(F.expr("CASE WHEN b = 0 AND cv = 0 THEN 1 ELSE 0 END"))
        .cast("long")
        .alias("a0"),
        F.sum(F.expr("CASE WHEN b = 1 AND cv = 1 THEN 1 ELSE 0 END"))
        .cast("long")
        .alias("b1"),
        F.sum(F.expr("CASE WHEN b = 1 AND cv = 0 THEN 1 ELSE 0 END"))
        .cast("long")
        .alias("b0"),
    )
    return c.select(
        "a1",
        "a0",
        "b1",
        "b0",
        F.expr("a1 * 10000 DIV (a1 + a0)").alias("conv_a_bp"),
        F.expr("b1 * 10000 DIV (b1 + b0)").alias("conv_b_bp"),
        F.expr(
            "CASE WHEN (a1+a0) * (b1+b0) * (a1+b1) * (a0+b0) = 0 THEN 0.0"
            " ELSE CAST((a1+a0+b1+b0) AS DOUBLE)"
            " * (a1*b0 - a0*b1) * (a1*b0 - a0*b1)"
            " / (CAST((a1+a0) AS DOUBLE) * (b1+b0) * (a1+b1) * (a0+b0))"
            " END"
        ).alias("chi2"),
    )


_ORACLES["ab_conversion_chi2_events"] = _ORACLES[
    "ab_conversion_chi2_events"
].replace("{HEX4}", _hex("substring(md5(CAST(user_id AS VARCHAR)), 1, 4)", 4))


# --- CUPED variance reduction for the A/B metric --------------------------------


@register(
    "cuped_adjusted_metric_events",
    """
    WITH days AS (
      SELECT user_id,
             CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
             CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    cutv AS (SELECT (MIN(day) + MAX(day) + 1) // 2 AS c FROM days),
    per_user AS (
      SELECT user_id,
             COALESCE(CAST(SUM(CASE WHEN day < c THEN cents END) AS BIGINT), 0)
               // 100 AS x,
             COALESCE(CAST(SUM(CASE WHEN day >= c THEN cents END) AS BIGINT), 0)
               // 100 AS y
      FROM days, cutv GROUP BY user_id
    ),
    u AS (SELECT user_id, {HEX4} % 2 AS b, x, y FROM per_user),
    ctr AS (SELECT CAST(SUM(x) AS BIGINT) // COUNT(*) AS cx,
                   CAST(SUM(y) AS BIGINT) // COUNT(*) AS cy FROM u),
    mom AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(x - cx) AS BIGINT) AS sx,
             CAST(SUM(y - cy) AS BIGINT) AS sy,
             CAST(SUM((x - cx) * (y - cy)) AS BIGINT) AS sxy,
             CAST(SUM((x - cx) * (x - cx)) AS BIGINT) AS sxx,
             CAST(SUM((y - cy) * (y - cy)) AS BIGINT) AS syy
      FROM u, ctr
    ),
    tot AS (SELECT CAST(SUM(x) AS BIGINT) AS tx, COUNT(*) AS tn FROM u),
    arms AS (
      SELECT b AS arm, COUNT(*) AS n_users,
             CAST(SUM(x) AS BIGINT) AS sum_x,
             CAST(SUM(y) AS BIGINT) AS sum_y
      FROM u GROUP BY b
    )
    SELECT CAST(arm AS INT) AS arm,
           CAST(n_users AS BIGINT) AS n_users, sum_x, sum_y,
           CAST(sum_y AS DOUBLE) / n_users AS mean_y,
           CAST(sum_y AS DOUBLE) / n_users
             - (CAST(n * sxy - sx * sy AS DOUBLE)
                / CAST(n * sxx - sx * sx AS DOUBLE))
               * (CAST(sum_x AS DOUBLE) / n_users
                  - CAST(tx AS DOUBLE) / tn) AS mean_y_cuped,
           CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE) AS theta,
           (CAST(n * sxy - sx * sy AS DOUBLE)
            * CAST(n * sxy - sx * sy AS DOUBLE))
             / (CAST(n * sxx - sx * sx AS DOUBLE)
                * CAST(n * syy - sy * sy AS DOUBLE)) AS rho2
    FROM arms, mom, tot
    WHERE n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
    """,
)
def cuped_adjusted_metric_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED (Controlled-experiment Using Pre-Experiment Data, Deng et
    al. 2013) — the variance-reduction step every experimentation
    platform applies before reading an A/B metric: each user's
    post-period metric Y is adjusted by their PRE-period metric X,
    Y_adj = Y − θ·(X − mean(X)), θ = cov(X,Y)/var(X) fitted pooled, so
    the metric noise explained by pre-existing user behavior (rho² of
    it) is removed without biasing the arm difference. Completes the
    experimentation family next to ab_srm_audit (randomization check)
    and ab_conversion_chi2 (binary metric test).

    Periods are data-relative (day < / >= the midpoint of the observed
    day range); per-user period metrics are exact 2-decimal cent sums
    truncated to DOLLAR units for moment headroom (the acf int64
    discipline — values stay nonneg so DuckDB `//` and Spark DIV
    agree); arms reuse the repo's md5-hex user bucketing. θ and rho²
    come from exact centered integer moments; mean_y_cuped applies the
    arm adjustment on exact arm-level sums — every float is a final
    expression with byte-identical text in both engines. The constant
    mean(X) shift cancels between arms, so reading
    mean_y_cuped(1) − mean_y_cuped(0) gives the CUPED-adjusted lift.

    Plan: one shuffle to the per-user (x, y) grain (map-side combine);
    everything after runs on the users table — two 1-row broadcasts,
    a 2-row arm aggregate. At 100 TB the user grain is the only wide
    stage, keyed on the natural user_id.

    Reference parity: no counterpart; §2.6 events extension.
    Registered on ROTATION_NEXT (round-11 window; post-sweep addition)."""
    ev = _events(spark, sf_dir)
    days = ev.select(
        "user_id",
        F.expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 86400000000").alias(
            "day"
        ),
        F.expr("CAST(ROUND(value * 100) AS BIGINT)").alias("cents"),
    )
    cutv = days.agg(F.expr("(MIN(day) + MAX(day) + 1) DIV 2").alias("c"))
    per_user = (
        days.crossJoin(F.broadcast(cutv))
        .groupBy("user_id")
        .agg(
            F.expr(
                "COALESCE(CAST(SUM(CASE WHEN day < c THEN cents END) AS BIGINT), 0)"
                " DIV 100"
            ).alias("x"),
            F.expr(
                "COALESCE(CAST(SUM(CASE WHEN day >= c THEN cents END) AS BIGINT), 0)"
                " DIV 100"
            ).alias("y"),
        )
    )
    b = (
        F.conv(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 4), 16, 10
        ).cast("long")
        % 2
    )
    # fan-out: centering, moments, totals, and arms all read it
    u = pin(per_user.select("user_id", b.alias("b"), "x", "y"))
    ctr = u.agg(
        F.expr("CAST(SUM(x) AS BIGINT) DIV COUNT(*)").alias("cx"),
        F.expr("CAST(SUM(y) AS BIGINT) DIV COUNT(*)").alias("cy"),
    )
    mom = (
        u.crossJoin(F.broadcast(ctr))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.expr("x - cx")).cast("long").alias("sx"),
            F.sum(F.expr("y - cy")).cast("long").alias("sy"),
            F.sum(F.expr("(x - cx) * (y - cy)")).cast("long").alias("sxy"),
            F.sum(F.expr("(x - cx) * (x - cx)")).cast("long").alias("sxx"),
            F.sum(F.expr("(y - cy) * (y - cy)")).cast("long").alias("syy"),
        )
    )
    tot = u.agg(
        F.sum("x").cast("long").alias("tx"), F.count(F.lit(1)).alias("tn")
    )
    arms = u.groupBy(F.col("b").alias("arm")).agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("x").cast("long").alias("sum_x"),
        F.sum("y").cast("long").alias("sum_y"),
    )
    return (
        arms.crossJoin(F.broadcast(mom))
        .crossJoin(F.broadcast(tot))
        .filter(F.expr("n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0"))
        .select(
            F.col("arm").cast("int").alias("arm"),
            F.col("n_users").cast("long").alias("n_users"),
            "sum_x",
            "sum_y",
            F.expr("CAST(sum_y AS DOUBLE) / n_users").alias("mean_y"),
            F.expr(
                "CAST(sum_y AS DOUBLE) / n_users"
                " - (CAST(n * sxy - sx * sy AS DOUBLE)"
                " / CAST(n * sxx - sx * sx AS DOUBLE))"
                " * (CAST(sum_x AS DOUBLE) / n_users"
                " - CAST(tx AS DOUBLE) / tn)"
            ).alias("mean_y_cuped"),
            F.expr(
                "CAST(n * sxy - sx * sy AS DOUBLE)"
                " / CAST(n * sxx - sx * sx AS DOUBLE)"
            ).alias("theta"),
            F.expr(
                "(CAST(n * sxy - sx * sy AS DOUBLE)"
                " * CAST(n * sxy - sx * sy AS DOUBLE))"
                " / (CAST(n * sxx - sx * sx AS DOUBLE)"
                " * CAST(n * syy - sy * sy AS DOUBLE))"
            ).alias("rho2"),
        )
    )


_ORACLES["cuped_adjusted_metric_events"] = _ORACLES[
    "cuped_adjusted_metric_events"
].replace("{HEX4}", _hex("substring(md5(CAST(user_id AS VARCHAR)), 1, 4)", 4))


# --- Trimmed & winsorized metric means ------------------------------------------


@register(
    "trimmed_winsorized_value_events",
    """
    WITH c AS (
      SELECT event_type, event_id,
             CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    r AS (
      SELECT event_type, cents,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY cents, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM c
    ),
    k AS (SELECT *, n // 100 AS k FROM r),
    bounds AS (
      SELECT event_type,
             MAX(CASE WHEN rn = k + 1 THEN cents END) AS lo,
             MAX(CASE WHEN rn = n - k THEN cents END) AS hi
      FROM k GROUP BY event_type
    ),
    w AS (
      SELECT kk.event_type, kk.cents, kk.rn, kk.n, kk.k,
             CASE WHEN kk.rn <= kk.k THEN b.lo
                  WHEN kk.rn > kk.n - kk.k THEN b.hi
                  ELSE kk.cents END AS wcents
      FROM k kk JOIN bounds b USING (event_type)
    )
    SELECT event_type,
           CAST(MAX(n) AS BIGINT) AS n_events,
           CAST(MAX(k) AS BIGINT) AS k_trim,
           CAST(SUM(CASE WHEN rn > k AND rn <= n - k THEN cents END)
                AS BIGINT) AS trimmed_sum_cents,
           CAST(SUM(wcents) AS BIGINT) AS winsor_sum_cents,
           CAST(SUM(CASE WHEN rn > k AND rn <= n - k THEN cents END)
                AS DOUBLE) / (MAX(n) - 2 * MAX(k)) AS trimmed_mean_cents,
           CAST(SUM(wcents) AS DOUBLE) / MAX(n) AS winsor_mean_cents
    FROM w GROUP BY event_type
    """,
)
def trimmed_winsorized_value_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """1%-trimmed and 1%-winsorized means of the event value per event
    type — the heavy-tail guards every experimentation/metrics platform
    applies before trusting a mean (trimming DROPS each tail's k=n DIV
    100 observations; winsorizing CLAMPS them to the surviving tail
    values, keeping n constant for power). Ranks are total-ordered by
    (cents, event_id) so tail membership is deterministic; the clamp
    bounds are the cents at exact rank positions k+1 / n−k (well-defined
    regardless of tie order — equal cents are interchangeable); sums
    are exact int64 cents with the means as final float divisions (acf
    discipline). n < 100 degrades gracefully to the plain mean (k=0).

    Plan: one per-type window sort (shuffle keyed on event_type), a
    |types|-row bounds aggregate broadcast back, one final rollup. At
    100 TB per-type sorts parallelize across types; a single monster
    type switches to the pre-aggregated histogram rank arithmetic the
    equidepth family demonstrates.

    Reference parity: no counterpart; §2.6 events extension.
    Registered on ROTATION_NEXT (round-11 window; post-sweep addition)."""
    ev = _events(spark, sf_dir)
    c = ev.select(
        "event_type",
        "event_id",
        F.expr("CAST(ROUND(value * 100) AS BIGINT)").alias("cents"),
    )
    wt = Window.partitionBy("event_type")
    r = c.select(
        "event_type",
        "cents",
        F.row_number()
        .over(wt.orderBy("cents", "event_id"))
        .alias("rn"),
        F.count(F.lit(1)).over(wt).alias("n"),
    ).withColumn("k", F.expr("n DIV 100"))
    bounds = r.groupBy("event_type").agg(
        F.max(F.expr("CASE WHEN rn = k + 1 THEN cents END")).alias("lo"),
        F.max(F.expr("CASE WHEN rn = n - k THEN cents END")).alias("hi"),
    )
    w = r.join(F.broadcast(bounds), "event_type").select(
        "event_type",
        "cents",
        "rn",
        "n",
        "k",
        F.expr(
            "CASE WHEN rn <= k THEN lo"
            " WHEN rn > n - k THEN hi"
            " ELSE cents END"
        ).alias("wcents"),
    )
    return w.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n_events"),
        F.max("k").cast("long").alias("k_trim"),
        F.sum(F.expr("CASE WHEN rn > k AND rn <= n - k THEN cents END"))
        .cast("long")
        .alias("trimmed_sum_cents"),
        F.sum("wcents").cast("long").alias("winsor_sum_cents"),
        F.expr(
            "CAST(SUM(CASE WHEN rn > k AND rn <= n - k THEN cents END)"
            " AS DOUBLE) / (MAX(n) - 2 * MAX(k))"
        ).alias("trimmed_mean_cents"),
        F.expr("CAST(SUM(wcents) AS DOUBLE) / MAX(n)").alias(
            "winsor_mean_cents"
        ),
    )


# --- Delete-one-bucket jackknife for the ratio metric -----------------------------


@register(
    "jackknife_ratio_stderr_events",
    """
    WITH per_user AS (
      SELECT user_id,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS num,
             CAST(COUNT(*) AS BIGINT) AS den
      FROM events GROUP BY user_id
    ),
    bucketed AS (
      SELECT {HEX4} % 20 AS bucket, num, den FROM per_user
    ),
    per_bucket AS (
      SELECT bucket,
             CAST(SUM(num) AS BIGINT) AS bnum,
             CAST(SUM(den) AS BIGINT) AS bden,
             CAST(COUNT(*) AS BIGINT) AS busers
      FROM bucketed GROUP BY bucket
    ),
    tot AS (SELECT CAST(SUM(bnum) AS BIGINT) AS tnum,
                   CAST(SUM(bden) AS BIGINT) AS tden,
                   CAST(COUNT(*) AS BIGINT) AS nb FROM per_bucket),
    pseudo AS (
      -- centered by the plug-in ratio: the variance is shift-invariant and
      -- raw theta_ppm ~ 1e10 would overflow int64 when squared
      SELECT bucket, busers,
             (tnum - bnum) * 1000000 // (tden - bden)
               - tnum * 1000000 // tden AS dev_ppm
      FROM per_bucket, tot
      -- nb=1 degenerate case (all users hash into one bucket): the
      -- leave-one-out denominator is 0; emit no pseudo-values instead
      -- of dividing by zero (ADVICE r10 item 5, matching the variance>0
      -- guards of the OLS/CUPED siblings)
      WHERE tden - bden > 0
    ),
    mom AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS b,
             CAST(SUM(dev_ppm) AS BIGINT) AS st,
             CAST(SUM(dev_ppm * dev_ppm) AS BIGINT) AS stt
      FROM pseudo
    )
    SELECT CAST(tot.tnum AS BIGINT) AS total_num_cents,
           CAST(tot.tden AS BIGINT) AS total_den_events,
           CAST(tot.tnum * 1000000 // tot.tden AS BIGINT) AS ratio_ppm,
           mom.b AS n_buckets,
           CAST(mom.st AS BIGINT) AS sum_dev_ppm,
           CASE WHEN mom.b >= 2 THEN
             SQRT((CAST(mom.b AS DOUBLE) - 1.0) / CAST(mom.b AS DOUBLE)
                  * (CAST(mom.stt AS DOUBLE)
                     - CAST(mom.st AS DOUBLE) * CAST(mom.st AS DOUBLE)
                       / CAST(mom.b AS DOUBLE)))
           ELSE CAST(NULL AS DOUBLE) END AS stderr_ppm
    FROM tot, mom
    """,
)
def jackknife_ratio_stderr_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Delete-one-bucket jackknife standard error of the RATIO metric
    (mean value per event = Σcents / Σevents) — how every large
    experimentation platform puts a confidence interval on a ratio
    whose numerator and denominator are both random (the delta-method
    alternative; bucketed jackknife is the standard production form
    because users, not events, are the i.i.d. unit): users are hashed
    into 20 buckets (md5-hex, the repo's engine-stable bucketing), each
    pseudo-value is the leave-one-bucket-out ratio in integer ppm
    ((T_num − b_num)·1e6 DIV (T_den − b_den) — values nonneg, DIV/`//`
    agree), and the jackknife variance is assembled from exact integer
    moments of those 20 pseudo-values; stderr is the single final
    float sqrt (acf discipline).

    Output: exact totals + the ppm ratio, the pseudo-value count and
    integer sum (hash-pinning every pseudo-value through the sum), and
    stderr_ppm.

    Plan: one shuffle to the user grain, a 20-row bucket aggregate,
    then 1-row arithmetic — the user grain is the only wide stage at
    any scale.

    Reference parity: no counterpart; §2.6 events extension.
    Registered on ROTATION_NEXT (round-11 window; post-sweep addition)."""
    ev = _events(spark, sf_dir)
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.expr("CAST(ROUND(value * 100) AS BIGINT)"))
        .cast("long")
        .alias("num"),
        F.count(F.lit(1)).cast("long").alias("den"),
    )
    bucket = (
        F.conv(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 4), 16, 10
        ).cast("long")
        % 20
    )
    per_bucket = (
        per_user.select(bucket.alias("bucket"), "num", "den")
        .groupBy("bucket")
        .agg(
            F.sum("num").cast("long").alias("bnum"),
            F.sum("den").cast("long").alias("bden"),
            F.count(F.lit(1)).cast("long").alias("busers"),
        )
        .transform(pin)  # fan-out: totals + pseudo-values
    )
    tot = per_bucket.agg(
        F.sum("bnum").cast("long").alias("tnum"),
        F.sum("bden").cast("long").alias("tden"),
        F.count(F.lit(1)).cast("long").alias("nb"),
    )
    pseudo = (
        per_bucket.crossJoin(F.broadcast(tot))
        # nb=1 degenerate case: leave-one-out denominator is 0 — emit no
        # pseudo-values instead of a division error (ADVICE r10 item 5).
        .filter(F.expr("tden - bden > 0"))
        .select(
            F.expr(
                "(tnum - bnum) * 1000000 DIV (tden - bden)"
                " - tnum * 1000000 DIV tden"
            ).alias("dev_ppm")
        )
    )
    mom = pseudo.agg(
        F.count(F.lit(1)).cast("long").alias("b"),
        F.sum("dev_ppm").cast("long").alias("st"),
        F.sum(F.expr("dev_ppm * dev_ppm")).cast("long").alias("stt"),
    )
    return tot.crossJoin(F.broadcast(mom)).select(
        F.col("tnum").alias("total_num_cents"),
        F.col("tden").alias("total_den_events"),
        F.expr("tnum * 1000000 DIV tden").cast("long").alias("ratio_ppm"),
        F.col("b").alias("n_buckets"),
        F.col("st").alias("sum_dev_ppm"),
        F.expr(
            "CASE WHEN b >= 2 THEN"
            " SQRT((CAST(b AS DOUBLE) - 1.0) / CAST(b AS DOUBLE)"
            " * (CAST(stt AS DOUBLE)"
            " - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)"
            " / CAST(b AS DOUBLE)))"
            " ELSE CAST(NULL AS DOUBLE) END"
        ).alias("stderr_ppm"),
    )


_ORACLES["jackknife_ratio_stderr_events"] = _ORACLES[
    "jackknife_ratio_stderr_events"
].replace("{HEX4}", _hex("substring(md5(CAST(user_id AS VARCHAR)), 1, 4)", 4))


# --- Difference-in-differences on the arm x period grid ---------------------------


@register(
    "diff_in_diff_events",
    """
    WITH days AS (
      SELECT user_id,
             CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
             CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    cutv AS (SELECT (MIN(day) + MAX(day) + 1) // 2 AS c FROM days),
    cells AS (
      SELECT {HEX4} % 2 AS arm,
             CASE WHEN day >= c THEN 1 ELSE 0 END AS post,
             CAST(SUM(cents) AS BIGINT) AS sum_cents,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM days, cutv GROUP BY 1, 2
    ),
    wide AS (
      SELECT
        MAX(CASE WHEN arm = 0 AND post = 0 THEN sum_cents END) AS s00,
        MAX(CASE WHEN arm = 0 AND post = 0 THEN n_events END) AS n00,
        MAX(CASE WHEN arm = 0 AND post = 1 THEN sum_cents END) AS s01,
        MAX(CASE WHEN arm = 0 AND post = 1 THEN n_events END) AS n01,
        MAX(CASE WHEN arm = 1 AND post = 0 THEN sum_cents END) AS s10,
        MAX(CASE WHEN arm = 1 AND post = 0 THEN n_events END) AS n10,
        MAX(CASE WHEN arm = 1 AND post = 1 THEN sum_cents END) AS s11,
        MAX(CASE WHEN arm = 1 AND post = 1 THEN n_events END) AS n11
      FROM cells
    )
    SELECT CAST(s00 AS BIGINT) AS s00, CAST(n00 AS BIGINT) AS n00,
           CAST(s01 AS BIGINT) AS s01, CAST(n01 AS BIGINT) AS n01,
           CAST(s10 AS BIGINT) AS s10, CAST(n10 AS BIGINT) AS n10,
           CAST(s11 AS BIGINT) AS s11, CAST(n11 AS BIGINT) AS n11,
           (CAST(s11 AS DOUBLE) / n11 - CAST(s10 AS DOUBLE) / n10)
             - (CAST(s01 AS DOUBLE) / n01 - CAST(s00 AS DOUBLE) / n00)
             AS did_cents
    FROM wide
    """,
)
def diff_in_diff_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences on the arm × period grid — the
    quasi-experimental workhorse when randomization is absent or
    contaminated (parallel-trends assumption in place of exchange-
    ability): DiD = (treated post − treated pre) − (control post −
    control pre), each cell mean the exact-cents-per-event ratio.
    Completes the causal/experimentation set next to CUPED (variance
    reduction), SRM (randomization audit), chi² (binary test), and the
    jackknife (CI machinery). Arms reuse the md5-hex user bucketing;
    periods the CUPED data-relative midpoint cut; the four cell sums
    and counts are exact int64 (hash-pinning every event's cell
    assignment), and did_cents is the single final float expression
    with identical text in both engines.

    Plan: ONE aggregation pass over events to the 4-cell grid (the
    grouping key is two derived bits — map-side combine makes this a
    near-free scan), then 1-row arithmetic. At 100 TB there is no
    second wide stage at all.

    Reference parity: no counterpart; §2.6 events extension.
    Registered on ROTATION_NEXT (round-11 window; post-sweep addition)."""
    ev = _events(spark, sf_dir)
    days = ev.select(
        "user_id",
        F.expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 86400000000").alias(
            "day"
        ),
        F.expr("CAST(ROUND(value * 100) AS BIGINT)").alias("cents"),
    )
    cutv = days.agg(F.expr("(MIN(day) + MAX(day) + 1) DIV 2").alias("c"))
    arm = (
        F.conv(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 4), 16, 10
        ).cast("long")
        % 2
    )
    cells = (
        days.crossJoin(F.broadcast(cutv))
        .groupBy(
            arm.alias("arm"),
            F.expr("CASE WHEN day >= c THEN 1 ELSE 0 END").alias("post"),
        )
        .agg(
            F.sum("cents").cast("long").alias("sum_cents"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
        )
    )
    wide = cells.agg(
        *[
            F.max(
                F.expr(
                    f"CASE WHEN arm = {a} AND post = {p} THEN {col} END"
                )
            ).alias(f"{col[0]}{a}{p}")
            for a in (0, 1)
            for p in (0, 1)
            for col in ("sum_cents", "n_events")
        ]
    )
    return wide.select(
        F.col("s00").cast("long").alias("s00"),
        F.col("n00").cast("long").alias("n00"),
        F.col("s01").cast("long").alias("s01"),
        F.col("n01").cast("long").alias("n01"),
        F.col("s10").cast("long").alias("s10"),
        F.col("n10").cast("long").alias("n10"),
        F.col("s11").cast("long").alias("s11"),
        F.col("n11").cast("long").alias("n11"),
        F.expr(
            "(CAST(s11 AS DOUBLE) / n11 - CAST(s10 AS DOUBLE) / n10)"
            " - (CAST(s01 AS DOUBLE) / n01 - CAST(s00 AS DOUBLE) / n00)"
        ).alias("did_cents"),
    )


_ORACLES["diff_in_diff_events"] = _ORACLES["diff_in_diff_events"].replace(
    "{HEX4}", _hex("substring(md5(CAST(user_id AS VARCHAR)), 1, 4)", 4)
)


# --- New-vs-returning weekly active users ------------------------------------------


@register(
    "new_vs_returning_weekly_events",
    """
    WITH d AS (
      SELECT user_id,
             CAST(epoch_us(ts) // 604800000000 AS BIGINT) AS week
      FROM events GROUP BY 1, 2
    ),
    firsts AS (SELECT user_id, MIN(week) AS first_week FROM d GROUP BY user_id)
    SELECT d.week,
           CAST(COUNT(*) AS BIGINT) AS active_users,
           CAST(SUM(CASE WHEN d.week = f.first_week THEN 1 ELSE 0 END)
                AS BIGINT) AS new_users,
           CAST(SUM(CASE WHEN d.week > f.first_week THEN 1 ELSE 0 END)
                AS BIGINT) AS returning_users,
           CAST(SUM(CASE WHEN d.week > f.first_week THEN 1 ELSE 0 END)
                * 10000 // COUNT(*) AS BIGINT) AS returning_bp
    FROM d JOIN firsts f ON f.user_id = d.user_id
    GROUP BY d.week
    """,
)
def new_vs_returning_weekly_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Weekly active users decomposed into NEW (first-ever active week)
    vs RETURNING — the growth-accounting identity every product
    dashboard leads with (WAU = new + returning; the returning share in
    integer basis points is the stickiness signal). Weeks are epoch
    DIV 604800e6 — calendar-library-free, the friedman discipline. The
    user-week grain is deduplicated first so a chatty user counts once
    per week; first-week comes from one aggregate over that grain.
    All counts and the bp share are exact int64 (trunc-DIV).

    Plan: one shuffle to the (user, week) grain (map-side combine),
    one user-grain aggregate for first weeks joined back on user_id
    (natural-key shuffled hash join at scale), one weekly rollup.

    Reference parity: no counterpart; §2.6 events extension.
    Registered on ROTATION_NEXT (round-11 window; post-sweep addition)."""
    ev = _events(spark, sf_dir)
    d = (
        ev.select(
            "user_id",
            F.expr(
                "unix_micros(CAST(ts AS TIMESTAMP)) DIV 604800000000"
            ).alias("week"),
        )
        .distinct()
        .transform(pin)  # fan-out: firsts + the weekly rollup
    )
    firsts = d.groupBy("user_id").agg(F.min("week").alias("first_week"))
    return (
        d.join(firsts, "user_id")
        .groupBy("week")
        .agg(
            F.count(F.lit(1)).cast("long").alias("active_users"),
            F.sum(F.expr("CASE WHEN week = first_week THEN 1 ELSE 0 END"))
            .cast("long")
            .alias("new_users"),
            F.sum(F.expr("CASE WHEN week > first_week THEN 1 ELSE 0 END"))
            .cast("long")
            .alias("returning_users"),
            F.expr(
                "SUM(CASE WHEN week > first_week THEN 1 ELSE 0 END)"
                " * 10000 DIV COUNT(*)"
            )
            .cast("long")
            .alias("returning_bp"),
        )
    )
