"""Source/sink and end-to-end pipeline queries (SURVEY.md §2 O1/O2/O17/O20).

These exercise the CSV reader/writer and the full extract_data pipeline
under the driver's oracle gate: each query materializes real files under a
scratch directory, reads them back, and returns the re-read DataFrame, so
the round-trip itself is what gets hash-compared.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from app_insights_generator_spark.pipeline import extract_data
from app_insights_generator_spark.queries import _exact as _x
from app_insights_generator_spark.queries import register
from app_insights_generator_spark.queries.insights_queries import (
    ORDERS_CFG,
    _SWEEP_ORACLE,
)
from app_insights_generator_spark.sources import load_table
from app_insights_generator_spark.sources.readers import read_csv, read_json
from app_insights_generator_spark.sources.writers import (
    write_csv,
    write_json,
    write_zorder,
)


def _scratch(tag: str) -> str:
    return tempfile.mkdtemp(prefix=f"aig_{tag}_")


@register(
    "csv_roundtrip_nation",
    "SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def csv_roundtrip_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink + source round-trip (reference write_to_csv main.py:241-256
    and read_csv_file main.py:221-238): write `nation` as headered CSV,
    read it back with the original schema (explicit schema, not
    inferSchema — schema inference is a second full scan at 100 TB)."""
    nation = load_table(spark, sf_dir, "nation")
    out = os.path.join(_scratch("csv_nation"), "nation_csv")
    write_csv(nation, out, header=True, mode="overwrite")
    return read_csv(spark, out, header=True, schema=nation.schema)


@register(
    "json_roundtrip_part",
    "SELECT p_partkey, p_name, p_brand, p_type, p_size, p_retailprice FROM part",
)
def json_roundtrip_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink + source round-trip: write `part` as JSON, read it
    back with the original schema (explicit schema — JSON schema inference
    is a full extra scan at 100 TB, same stance as the CSV path)."""
    part = load_table(spark, sf_dir, "part")
    out = os.path.join(_scratch("json_part"), "part_json")
    write_json(part, out, mode="overwrite")
    return read_json(spark, out, schema=part.schema)


@register(
    "binaryfile_source_media",
    """
    SELECT 'doc_' || lpad(CAST(doc_id AS VARCHAR), 5, '0') || '.bin' AS file_name,
           CAST(octet_length(encode(text)) AS BIGINT) AS length,
           sha256(text) AS content_sha
    FROM documents WHERE doc_id < 50
    """,
)
def binaryfile_source_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`binaryFile` source (SURVEY.md §2.2 "sources beyond CSV"): the
    multimodal ingestion path — opaque media files land as (path, length,
    content) rows. Writes the first 50 documents as .bin files, reads them
    back via the binaryFile reader, and verifies content integrity by
    sha. At 100 TB this source partitions by file, so metadata predicates
    (pathGlobFilter, modifiedAfter) prune without reading payloads.

    Oracled exactly: DuckDB recomputes each file's name, UTF-8 byte
    length, and sha256 digest straight from the documents table — the
    whole write-files/read-binaryFile round trip must reproduce them
    byte-for-byte."""
    import hashlib

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50).collect()
    scratch = _scratch("binfiles")
    for r in docs:
        with open(os.path.join(scratch, f"doc_{r.doc_id:05d}.bin"), "wb") as f:
            f.write(r.text.encode("utf-8"))
    expected = {
        f"doc_{r.doc_id:05d}.bin": hashlib.sha256(r.text.encode("utf-8")).hexdigest()
        for r in docs
    }
    bf = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(scratch)
        .select(
            F.element_at(F.split("path", "/"), -1).alias("file_name"),
            F.col("length"),
            F.sha2("content", 256).alias("content_sha"),
        )
    )
    rows = {r.file_name: r.content_sha for r in bf.collect()}
    assert rows == expected, "binaryFile round-trip mismatch"
    return bf.orderBy("file_name")


@register(
    "orc_roundtrip_customer",
    "SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer",
)
def orc_roundtrip_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source/sink round-trip (SURVEY.md §2.2 "sources beyond CSV"):
    columnar like parquet, native vectorized reader, same pushdown/pruning
    machinery. The oracle is the original table — lossless round-trip is
    the property under test."""
    out = os.path.join(_scratch("orc_customer"), "customer_orc")
    load_table(spark, sf_dir, "customer").write.mode("overwrite").orc(out)
    return spark.read.orc(out)


@register(
    "stratified_sample_orders",
    """
    SELECT o_orderstatus, COUNT(*) AS n_total, CAST(0 AS INT) AS n_violations
    FROM orders GROUP BY o_orderstatus
    """,
)
def stratified_sample_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sampling (``sampleBy``): per-stratum Bernoulli fractions
    — the downsample/rebalance primitive for training-data class mixes.
    Seeded, so the result is reproducible. Sampling is a pure filter
    — no shuffle, fully pushdown-compatible.

    Gated via per-stratum bound checks (VERDICT r02 item 5): the sampled
    rows themselves are seed-dependent and not SQL-reproducible, so the
    oracle anchors the exact stratum sizes and asserts zero rate
    violations — each stratum with >= 200 rows must realize within ±50%
    relative of its target fraction (loose: Bernoulli variance at small
    strata; deterministic on fixed data + seed). Fully distributed — no
    driver-side collect."""
    fractions = {"F": 0.2, "O": 0.1, "P": 0.5}
    o = load_table(spark, sf_dir, "orders")
    sampled = o.sampleBy("o_orderstatus", fractions, seed=42)
    base = o.groupBy("o_orderstatus").agg(F.count(F.lit(1)).alias("n_total"))
    got = sampled.groupBy("o_orderstatus").agg(F.count(F.lit(1)).alias("n_sampled"))
    frac = F.create_map(
        [F.lit(x) for kv in fractions.items() for x in kv]
    )[F.col("o_orderstatus")]
    rate = F.col("n_sampled") / F.col("n_total")
    viol = (F.col("n_total") >= 200) & (
        (rate < 0.5 * frac) | (rate > 1.5 * frac)
    )
    return (
        base.join(got, "o_orderstatus", "left")
        .na.fill({"n_sampled": 0})
        .select(
            "o_orderstatus",
            "n_total",
            F.when(viol, 1).otherwise(0).cast("int").alias("n_violations"),
        )
    )


@register(
    "partitioned_parquet_orders",
    """
    SELECT o_orderpriority, COUNT(*) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(14,2))), 2) AS DOUBLE)
             AS total_price
    FROM orders WHERE o_orderstatus = 'F'
    GROUP BY o_orderpriority
    """,
)
def partitioned_parquet_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned parquet sink + partition-pruned scan: orders
    written partitionBy(o_orderstatus), read back with a partition
    predicate. The plan must prove pruning (PartitionFilters, 1 of 3
    directories read) — at 100 TB partition pruning is the difference
    between scanning one status and scanning everything. Asserted here,
    not just hoped."""
    out = os.path.join(_scratch("part_orders"), "orders_by_status")
    load_table(spark, sf_dir, "orders").write.partitionBy("o_orderstatus").mode(
        "overwrite"
    ).parquet(out)
    scan = spark.read.parquet(out).filter(F.col("o_orderstatus") == "F")
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "o_orderstatus" in plan.split(
        "PartitionFilters"
    )[1].split("]")[0], "partition predicate did not prune"
    return scan.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        _x.money_sum(_x.money("o_totalprice")).alias("total_price"),
    )


@register(
    "sorted_sink_rowgroup_skip_lineitem",
    """
    SELECT l_returnflag, COUNT(*) AS n_items,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(14,2))), 2) AS DOUBLE)
             AS sum_price
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-01-01'
      AND l_shipdate <  TIMESTAMP '1995-04-01'
    GROUP BY l_returnflag
    """,
)
def sorted_sink_rowgroup_skip_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sort-clustered parquet sink + min/max row-group skipping: lineitem
    is range-partitioned and sorted on ``l_shipdate`` before writing (small
    row groups at test scale so each file holds several), which gives every
    row group a NARROW shipdate min/max band. A selective date-range scan
    then skips most row groups on footer statistics alone — at 100 TB,
    sort-clustering the fact table on its hottest filter column is the
    poor-man's z-order and routinely cuts IO by 10-100x.

    Both halves are asserted, not hoped: (a) the written footers must show
    that under half the row groups overlap the query range (the skippable
    layout), and (b) the scan plan must show the shipdate predicate in
    PushedFilters (so the parquet reader actually consults those stats)."""
    import pyarrow.parquet as pq

    out = os.path.join(_scratch("sorted_sink"), "lineitem_by_shipdate")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_shipdate", "l_returnflag", "l_extendedprice"
    )
    (
        li.repartitionByRange(4, "l_shipdate")
        .sortWithinPartitions("l_shipdate")
        .write.option("parquet.block.size", 256 * 1024)
        .mode("overwrite")
        .parquet(out)
    )

    from datetime import datetime

    lo, hi = datetime(1995, 1, 1), datetime(1995, 4, 1)
    bands = []
    for f in os.listdir(out):
        if not f.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(out, f)).metadata
        for i in range(md.num_row_groups):
            rg = md.row_group(i)
            for j in range(rg.num_columns):
                col = rg.column(j)
                if col.path_in_schema == "l_shipdate" and col.statistics is not None:
                    bands.append((col.statistics.min, col.statistics.max))
    assert len(bands) >= 4, f"expected multiple row groups, footers show {len(bands)}"
    overlapping = sum(1 for mn, mx in bands if mx >= lo and mn < hi)
    assert overlapping * 2 < len(bands), (
        f"sorted sink is not skippable: {overlapping}/{len(bands)} row groups "
        f"overlap a 3-month range"
    )

    scan = spark.read.parquet(out).filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1995-04-01").cast("timestamp"))
    )
    plan = scan._jdf.queryExecution().executedPlan().toString()
    pushed = plan.split("PushedFilters: [", 1)
    assert len(pushed) == 2 and "l_shipdate" in pushed[1].split("]")[0], (
        "shipdate predicate was not pushed to the parquet scan"
    )
    return scan.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_items"),
        _x.money_sum(_x.money("l_extendedprice")).alias("sum_price"),
    )


@register(
    "bucketed_join_orders_lineitem",
    """
    SELECT o_orderpriority,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(14,2))
                          * (CAST(1 AS DECIMAL(3,2))
                             - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE)
             AS revenue,
           COUNT(*) AS n_items
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderpriority
    """,
)
def bucketed_join_orders_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed (co-located) join: both tables saved bucketBy(8, orderkey),
    so the join needs NO shuffle on either side — the asserted absence of
    Exchange under the join is the point. At 100 TB pre-bucketing the fact
    tables on the join key amortizes one shuffle across every downstream
    join; this is Spark's answer to the co-located join the reference
    never had."""
    scratch = _scratch("bucketed")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    for df, name, key in ((o, "aig_b_orders", "o_orderkey"), (li, "aig_b_lineitem", "l_orderkey")):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (
            df.write.bucketBy(8, key)
            .sortBy(key)
            .option("path", os.path.join(scratch, name))
            .mode("overwrite")
            .saveAsTable(name)
        )
    bo, bl = spark.table("aig_b_orders"), spark.table("aig_b_lineitem")
    # merge hint: at test scale Spark would broadcast the small side, which
    # would hide the property under test — that a sort-merge join over
    # co-bucketed tables needs no Exchange on EITHER side. At 100 TB both
    # sides are too big to broadcast and SMJ is what the planner picks.
    joined = bo.hint("merge").join(bl.hint("merge"), bo.o_orderkey == bl.l_orderkey)
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, f"bucketed join still shuffles:\n{plan}"
    assert "SortMergeJoin" in plan and "Bucketed: true" in plan
    return joined.groupBy("o_orderpriority").agg(
        _x.money_sum(_x.disc_price()).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


@register("pipeline_extract_orders", _SWEEP_ORACLE)
def pipeline_extract_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full extract_data pipeline (reference main.py:363-404): orders
    exported to CSV, then CSV scan -> bucket -> native grouping-sets sweep
    -> CSV write -> re-read. Oracled by the same sweep SQL as the in-memory
    sweep queries, proving file-boundary fidelity end to end."""
    scratch = _scratch("pipeline")
    csv_in = os.path.join(scratch, "orders_csv")
    csv_out = os.path.join(scratch, "insights_csv")
    base = (
        load_table(spark, sf_dir, "orders")
        .withColumn("o_orderyear", F.year("o_orderdate"))
        .select("o_orderstatus", "o_orderpriority", "o_totalprice", "o_orderyear")
    )
    write_csv(base, csv_in, header=True, mode="overwrite")
    extract_data(spark, csv_in, csv_out, ORDERS_CFG, mode="native")
    return spark.read.option("header", True).csv(csv_out)


@register("pipeline_extract_orders_loop", _SWEEP_ORACLE)
def pipeline_extract_orders_loop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Faithful-loop pipeline variant: batched append writes into
    `<out>_partitioned` plus the reference's two-phase compaction merge
    (main.py:391-393), oracled by the same sweep SQL."""
    scratch = _scratch("pipeline_loop")
    csv_in = os.path.join(scratch, "orders_csv")
    csv_out = os.path.join(scratch, "insights_csv")
    base = (
        load_table(spark, sf_dir, "orders")
        .withColumn("o_orderyear", F.year("o_orderdate"))
        .select("o_orderstatus", "o_orderpriority", "o_totalprice", "o_orderyear")
    )
    write_csv(base, csv_in, header=True, mode="overwrite")
    return extract_data(spark, csv_in, csv_out, ORDERS_CFG, mode="loop", batch_size=8)


@register("text_roundtrip_documents", "SELECT doc_id, text FROM documents")
def text_roundtrip_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plain-text source/sink round-trip (SURVEY.md §2.2 sources beyond
    CSV): the `text` format writes one line per row from a single string
    column and reads back a `value` column — the natural interchange for
    raw-corpus ingestion. Records are framed as `doc_id|text` and parsed
    back with substring_index (docs are single-line and pipe-free). Text
    files split on line boundaries, so a 100 TB corpus parallelizes per
    line like any other splittable source."""
    docs = load_table(spark, sf_dir, "documents")
    out = os.path.join(_scratch("text_docs"), "documents_txt")
    docs.select(
        F.concat_ws("|", F.col("doc_id").cast("string"), F.col("text")).alias("value")
    ).write.mode("overwrite").text(out)
    raw = spark.read.text(out)
    return raw.select(
        F.substring_index("value", "|", 1).cast("bigint").alias("doc_id"),
        F.expr("substring(value, instr(value, '|') + 1)").alias("text"),
    )


@register(
    "xml_roundtrip_supplier",
    "SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier",
)
def xml_roundtrip_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML source/sink round-trip on Spark 4's NATIVE xml format (SURVEY.md
    §2.2 "sources beyond CSV"; no spark-xml package needed since 4.0).
    Explicit schema on read — XML schema inference is a full extra scan,
    same 100 TB stance as the CSV/JSON paths. XML files are NOT splittable
    within a file (a row element can span boundaries), so parallelism comes
    from many files — the writer keeps one file per partition, never
    coalesce(1)."""
    sup = load_table(spark, sf_dir, "supplier")
    out = os.path.join(_scratch("xml_supplier"), "supplier_xml")
    sup.write.format("xml").option("rowTag", "supplier").mode("overwrite").save(out)
    return (
        spark.read.format("xml")
        .option("rowTag", "supplier")
        .schema(sup.schema)
        .load(out)
    )


@register(
    "zorder_sink_lineitem",
    """
    WITH bounds AS (
      SELECT 0.1 * MAX(l_partkey) AS pk_cut FROM lineitem
    )
    SELECT l_returnflag, COUNT(*) AS n_items,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(14,2))), 2) AS DOUBLE)
             AS sum_price
    FROM lineitem, bounds
    WHERE l_partkey <= pk_cut AND l_extendedprice < 11000
    GROUP BY l_returnflag
    """,
)
def zorder_sink_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustered parquet sink + two-dimensional row-group skipping:
    lineitem is written sorted by the Morton interleave of
    (l_partkey, l_extendedprice) — see sources/writers.write_zorder — so
    row groups carry narrow min/max bands on BOTH columns at once. A plain
    sort-clustered layout (sorted_sink_rowgroup_skip_lineitem) only skips
    on its leading column; z-order is the layout for fact tables with two
    or three independently-hot filter columns at 100 TB.

    Asserted, not hoped: for a ~10 percent slab on EACH dimension
    separately, under 70 percent of row groups may overlap (a random or
    single-sorted layout leaves the non-leading dimension at ~100 percent).
    The returned aggregate re-reads the z-ordered files through the 2-D box
    filter, so the oracle hash also verifies the layout preserved the data.
    """
    import pyarrow.parquet as pq

    out = os.path.join(_scratch("zorder"), "lineitem_z")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_extendedprice", "l_returnflag"
    )
    write_zorder(
        li, out, ["l_partkey", "l_extendedprice"], num_files=4, block_size=128 * 1024
    )

    pk_cut = li.agg(F.max("l_partkey")).first()[0] * 0.1
    price_cut = 11000.0  # ~10% of the fixed 900-105000 extendedprice range

    stats: dict[str, list[tuple[float, float]]] = {"l_partkey": [], "l_extendedprice": []}
    for f in os.listdir(out):
        if not f.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(out, f)).metadata
        for i in range(md.num_row_groups):
            rg = md.row_group(i)
            for j in range(rg.num_columns):
                col = rg.column(j)
                if col.path_in_schema in stats and col.statistics is not None:
                    stats[col.path_in_schema].append(
                        (col.statistics.min, col.statistics.max)
                    )
    n_groups = len(stats["l_partkey"])
    assert n_groups >= 4, f"expected multiple row groups, footers show {n_groups}"
    for cname, cut in (("l_partkey", pk_cut), ("l_extendedprice", price_cut)):
        overlap = sum(1 for mn, mx in stats[cname] if mn <= cut)
        assert overlap * 10 < n_groups * 7, (
            f"z-order not skippable on {cname}: {overlap}/{n_groups} row groups "
            f"overlap a ~10% slab"
        )

    scan = spark.read.parquet(out).filter(
        (F.col("l_partkey") <= F.lit(pk_cut))
        & (F.col("l_extendedprice") < F.lit(price_cut))
    )
    return scan.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_items"),
        _x.money_sum(_x.money("l_extendedprice")).alias("sum_price"),
    )


@register(
    "foreach_batch_sink_events",
    """
    SELECT event_type, COUNT(*) AS n_events,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(14,2))), 2) AS DOUBLE) AS sum_value
    FROM events GROUP BY event_type
    """,
)
def foreach_batch_sink_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch idempotent streaming sink, end to end: events are split
    into 4 files, streamed back one file per micro-batch
    (maxFilesPerTrigger=1, trigger availableNow), and drained through
    streaming/sinks.run_foreach_batch_to_parquet — each micro-batch
    overwrites its own ``ingest_batch=N`` directory, so a replayed batch id
    lands on the same path and cannot double-write (exactly-once on top of
    foreachBatch's at-least-once callback contract). The read-back union of
    all batch directories must reproduce the source table exactly; the
    aggregate's oracle hash checks precisely that.
    """
    from app_insights_generator_spark.streaming.sinks import (
        read_foreach_batch_output,
        run_foreach_batch_to_parquet,
    )

    scratch = _scratch("febatch")
    src = os.path.join(scratch, "events_src")
    sink = os.path.join(scratch, "events_sink")
    ckpt = os.path.join(scratch, "ckpt")

    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    ev.repartition(4).write.mode("overwrite").parquet(src)

    sdf = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    run_foreach_batch_to_parquet(sdf, sink, ckpt)

    n_batches = len(
        [d for d in os.listdir(sink) if d.startswith("ingest_batch=")]
    )
    assert n_batches >= 2, f"expected multiple micro-batches, saw {n_batches}"

    back = read_foreach_batch_output(spark, sink, schema=ev.schema)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        _x.money_sum(_x.money("value")).alias("sum_value"),
    )


@register(
    "compact_small_files_events",
    """
    SELECT event_type, COUNT(*) AS n_events,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(14,2))), 2) AS DOUBLE) AS sum_value
    FROM events GROUP BY event_type
    """,
)
def compact_small_files_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction (the raw-directory OPTIMIZE): events are
    deliberately fragmented into 16 tiny files — the layout a per-batch
    streaming sink leaves behind — then compacted by
    sources/writers.compact_parquet_dir, which sizes the output count from
    actual on-disk bytes (a listing, never a data pass) and rewrites with
    a shuffle-free coalesce. Asserts the file count really dropped; the
    oracle hash proves compaction is a pure re-layout (no row lost,
    duplicated, or mutated)."""
    from app_insights_generator_spark.sources.writers import compact_parquet_dir

    out = os.path.join(_scratch("compact"), "events_small")
    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    ev.repartition(16).write.mode("overwrite").parquet(out)
    before = sum(1 for f in os.listdir(out) if f.endswith(".parquet"))
    after = compact_parquet_dir(spark, out, target_bytes=64 * 1024 * 1024)
    assert before == 16 and after < before, (
        f"compaction did not reduce file count: {before} -> {after}"
    )
    back = spark.read.parquet(out)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        _x.money_sum(_x.money("value")).alias("sum_value"),
    )


@register(
    "malformed_csv_handling",
    """
    SELECT kind, n FROM (
      SELECT 1 AS ord, 'good' AS kind,
             (SELECT COUNT(*) FROM nation) AS n
      UNION ALL
      SELECT 2, 'corrupt', 4
      UNION ALL
      SELECT 3, 'permissive_rows', (SELECT COUNT(*) FROM nation) + 4
    ) ORDER BY ord
    """,
)
def malformed_csv_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-record handling on ingest — the production CSV reality the
    clean round-trips skip: broken lines (unparseable ints, over-arity,
    integer overflow, broken quoting) are appended to a valid nation CSV,
    then read in PERMISSIVE mode, which keeps every line and routes
    breakage into the ``_corrupt_record`` column — at 100 TB the only mode
    that both survives dirty data AND leaves an audit trail. FAILFAST is
    verified to raise on the same input. Counts are closed-form: exactly
    the appended lines must land in the corrupt column, no more, no less.
    (DROPMALFORMED's row accounting interacts with parser column pruning
    and proved session-order-sensitive, so it is pinned by
    tests/test_sinks.py on an isolated fixture instead of this gate.)
    """
    from pyspark.sql.types import IntegerType, LongType, StringType, StructField, StructType

    nation = load_table(spark, sf_dir, "nation")
    scratch = _scratch("malformed")
    csv_dir = os.path.join(scratch, "nation_dirty")
    write_csv(nation.select("n_nationkey", "n_name", "n_regionkey"), csv_dir,
              header=False, mode="overwrite")
    bad_lines = [
        "not_an_int,BROKEN,xx",
        "1,TOO,MANY,FIELDS,HERE",
        "999999999999999999999999999,overflow,1",
        '"unterminated,quote,2',
    ]
    with open(os.path.join(csv_dir, "zz_bad.csv"), "w") as f:
        f.write("\n".join(bad_lines) + "\n")

    schema = StructType(
        [
            StructField("n_nationkey", LongType()),
            StructField("n_name", StringType()),
            StructField("n_regionkey", IntegerType()),
            StructField("_corrupt_record", StringType()),
        ]
    )
    permissive = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(csv_dir)
        .cache()
    )
    n_perm = permissive.count()
    n_corrupt = permissive.filter(F.col("_corrupt_record").isNotNull()).count()
    try:
        spark.read.schema(schema).option("mode", "FAILFAST").csv(csv_dir).collect()
        raise AssertionError("FAILFAST did not raise on malformed rows")
    except AssertionError:
        raise
    except Exception as e:  # noqa: BLE001
        assert "Malformed" in str(e) or "FAILFAST" in str(e), e
    permissive.unpersist()
    rows = [
        ("good", n_perm - n_corrupt),
        ("corrupt", n_corrupt),
        ("permissive_rows", n_perm),
    ]
    return spark.createDataFrame(rows, "kind string, n long")


@register(
    "zstd_sink_roundtrip_lineitem",
    """
    SELECT l_returnflag, COUNT(*) AS n_items,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(14,2))), 2) AS DOUBLE)
             AS sum_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def zstd_sink_roundtrip_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression-codec control on the parquet sink: lineitem written with
    zstd (better ratio than the snappy default — at 100 TB the codec
    choice IS the storage bill and often the scan bill too), verified by
    the written file names carrying the codec suffix, then read back and
    aggregated so the oracle hash proves the round-trip lossless."""
    out = os.path.join(_scratch("zstd"), "lineitem_zstd")
    li = load_table(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice")
    li.write.option("compression", "zstd").mode("overwrite").parquet(out)
    files = [f for f in os.listdir(out) if f.endswith(".parquet")]
    assert files and all(".zstd." in f for f in files), files
    return (
        spark.read.parquet(out)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            _x.money_sum(_x.money("l_extendedprice")).alias("sum_price"),
        )
    )


@register(
    "schema_evolution_mergeschema",
    """
    SELECT era, COUNT(*) AS n_orders,
           CAST(SUM(CASE WHEN o_orderyear IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_missing_year
    FROM (
      SELECT 'v1' AS era, o_orderkey, NULL AS o_orderyear
      FROM orders WHERE o_orderkey % 2 = 0
      UNION ALL
      SELECT 'v2', o_orderkey, EXTRACT(year FROM o_orderdate)
      FROM orders WHERE o_orderkey % 2 = 1
    ) GROUP BY era
    """,
)
def schema_evolution_mergeschema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on a raw parquet directory: generation v1 files
    lack the ``o_orderyear`` column that generation v2 adds — the normal
    life of any long-lived table. ``mergeSchema=true`` reconciles the
    footers into the union schema and back-fills v1 rows with NULLs; the
    gate pins exactly which era carries the NULLs and that no rows are
    lost. (mergeSchema costs a footer read per file — at 100 TB, set the
    merged schema explicitly once evolution stabilizes, or move to a
    table format that tracks it transactionally.)"""
    o = load_table(spark, sf_dir, "orders")
    out = os.path.join(_scratch("evolve"), "orders_evolving")
    v1 = o.filter(F.col("o_orderkey") % 2 == 0).select(
        F.lit("v1").alias("era"), "o_orderkey"
    )
    v2 = o.filter(F.col("o_orderkey") % 2 == 1).select(
        F.lit("v2").alias("era"),
        "o_orderkey",
        F.year("o_orderdate").alias("o_orderyear"),
    )
    v1.write.mode("overwrite").parquet(os.path.join(out, "gen=1"))
    v2.write.mode("overwrite").parquet(os.path.join(out, "gen=2"))
    # Single-root read: standard partition discovery over the parent dir
    # (gen becomes a discovered partition column) is the robust path —
    # multi-root-path reads are a younger, less exercised surface.
    merged = (
        spark.read.option("mergeSchema", "true")
        .option("basePath", out)
        .parquet(out)
        .drop("gen")
    )
    assert "o_orderyear" in merged.columns, merged.columns
    result = merged.groupBy("era").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.when(F.col("o_orderyear").isNull(), 1).otherwise(0)).alias(
            "n_missing_year"
        ),
    )
    # Self-check invariants: a wrong engine result must RAISE here, never
    # reach the gate hash. v1 rows (no o_orderyear column on disk) are all
    # back-filled NULL; v2 rows all carry a real year; nothing is lost.
    rows = {r["era"]: r for r in result.collect()}
    n_orders = o.count()
    got_total = sum(r["n_orders"] for r in rows.values())
    if set(rows) != {"v1", "v2"} or got_total != n_orders:
        raise AssertionError(
            f"schema_evolution_mergeschema lost rows: eras={sorted(rows)} "
            f"total={got_total} expected={n_orders}"
        )
    if rows["v1"]["n_missing_year"] != rows["v1"]["n_orders"]:
        raise AssertionError(
            "v1 era must be entirely NULL-backfilled: "
            f"{rows['v1']['n_missing_year']} of {rows['v1']['n_orders']}"
        )
    if rows["v2"]["n_missing_year"] != 0:
        raise AssertionError(
            f"v2 era must have no missing years: {rows['v2']['n_missing_year']}"
        )
    return result


@register(
    "cbo_stats_orders",
    """
    SELECT o_orderstatus, COUNT(*) AS n_orders,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE)
                 / COUNT(o_totalprice), 2) AS avg_price
    FROM orders GROUP BY o_orderstatus
    """,
)
def cbo_stats_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cost-based-optimizer statistics: ANALYZE TABLE COMPUTE STATISTICS
    (table-level + FOR COLUMNS) over a managed table, then PROVE the
    optimizer actually reads them — the optimized plan's row-count
    estimate must equal the analyzed exact count (without ANALYZE, Spark
    only has a bytes-based guess). Column histograms/NDVs are what CBO
    join reordering and broadcast decisions run on at 100 TB, where
    "which side is smaller AFTER the filter" cannot be known from file
    sizes. The returned aggregate is oracled as usual."""
    scratch = _scratch("cbo")
    name = "aig_cbo_orders"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .write.option("path", os.path.join(scratch, name))
        .mode("overwrite")
        .saveAsTable(name)
    )
    spark.sql(f"ANALYZE TABLE {name} COMPUTE STATISTICS")
    spark.sql(
        f"ANALYZE TABLE {name} COMPUTE STATISTICS FOR COLUMNS o_orderstatus, o_totalprice"
    )
    # rowCount propagates into plan stats only under the cost-based
    # optimizer; size-only estimation ignores it.
    prev_cbo = spark.conf.get("spark.sql.cbo.enabled", "false")
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try:
        t = spark.table(name)
        exact = t.count()
        est = t._jdf.queryExecution().optimizedPlan().stats().rowCount()
        assert est.isDefined(), "ANALYZE did not surface a row-count statistic"
        assert est.get() == exact, f"optimizer row estimate {est.get()} != {exact}"
    finally:
        spark.conf.set("spark.sql.cbo.enabled", prev_cbo)
    return t.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(
            F.sum(_x.money("o_totalprice")).cast("double") / F.count("o_totalprice"),
            2,
        ).alias("avg_price"),
    )


@register(
    "python_datasource_events",
    """
    WITH feed AS (
      SELECT i.i AS event_id, i.i % 97 AS user_id,
             CASE i.i % 5 WHEN 0 THEN 'view' WHEN 1 THEN 'click'
                          WHEN 2 THEN 'purchase' WHEN 3 THEN 'refund'
                          ELSE 'error' END AS event_type,
             (i.i * 37) % 10000 AS amount_cents
      FROM (SELECT unnest(range(0, 20000)) AS i) i
    )
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(amount_cents) AS BIGINT) AS amount_sum,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM feed GROUP BY event_type
    """,
)
def python_datasource_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSTOM SOURCE surface (Spark 4 Python DataSource API,
    sources/pysource.py): a registered `synthetic_events` format with
    source-declared schema, SPLIT PLANNING via `partitions()` (one task
    per split — asserted below: a custom reader without splits is a
    single-task 100 TB bottleneck), and executor-side `read()`
    generators. The feed is a closed-form function of the row id, so the
    oracle replays it exactly with `range()`. This is the template a
    reference user follows to plug any unsupported system (REST feed,
    proprietary log) into the engine."""
    from app_insights_generator_spark.sources.pysource import (
        register_synthetic_events,
    )

    register_synthetic_events(spark)
    feed = (
        spark.read.format("synthetic_events")
        .option("n_rows", 20_000)
        .option("n_partitions", 8)
        .load()
    )
    n_parts = feed.rdd.getNumPartitions()
    if n_parts != 8:
        raise AssertionError(
            f"custom source split planning broken: {n_parts} partitions, want 8"
        )
    return feed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("amount_cents").cast("long").alias("amount_sum"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )


@register(
    "observe_metrics_orders",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS total_cents,
           CAST(COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS BIGINT)
             AS n_finished,
           CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
           CAST(MAX(o_orderkey) AS BIGINT) AS max_key
    FROM orders
    """,
)
def observe_metrics_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime metrics via df.observe()/Observation — production DQ
    counters collected ON THE HOT PATH of an existing action (here a
    noop-sink write), costing zero extra scans: at 100 TB a separate
    validation pass doubles the read bill; observe() rides the one you
    already pay for. The observed values (exact integer metrics: row
    count, cents total, status count, key bounds) are returned as a
    1-row frame and hash-checked against the oracle recomputing them in
    SQL — so a metric that silently drifted from the data would fail the
    gate."""
    from pyspark.sql import Observation

    orders = load_table(spark, sf_dir, "orders")
    obs = Observation("orders_dq")
    observed = orders.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)")).alias(
            "total_cents"
        ),
        F.count(F.when(F.col("o_orderstatus") == "F", 1)).alias("n_finished"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
    )
    observed.write.format("noop").mode("overwrite").save()
    m = obs.get
    return spark.createDataFrame(
        [
            (
                int(m["n_rows"]),
                int(m["total_cents"]),
                int(m["n_finished"]),
                int(m["min_key"]),
                int(m["max_key"]),
            )
        ],
        "n_rows long, total_cents long, n_finished long, min_key long, max_key long",
    )


@register(
    "pysink_jsonl_roundtrip_nation",
    "SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def pysink_jsonl_roundtrip_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip through the custom Python DataSource WRITER
    (sources/pysource.py JsonLinesDataSource): nation is written via the
    two-phase-commit jsonl_dir sink (per-task temp files, commit-rename,
    _SUCCESS manifest) and read back with spark.read.json; the gate
    hashes the recovered rows against the source table, and the manifest
    row count is asserted in-query. Completes the connector surface:
    custom batch reader + streaming reader + transactional writer."""
    import json
    import os
    import tempfile

    from app_insights_generator_spark.sources.pysource import register_jsonl_dir

    register_jsonl_dir(spark)
    out = os.path.join(tempfile.mkdtemp(prefix="aig_pysink_"), "nation")
    src = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    src.write.format("jsonl_dir").mode("overwrite").save(out)
    with open(os.path.join(out, "_SUCCESS")) as f:
        manifest_rows = json.load(f)["n_rows"]
    n_src = src.count()
    if manifest_rows != n_src:
        raise AssertionError(
            f"jsonl_dir manifest says {manifest_rows} rows, source has {n_src}"
        )
    return (
        spark.read.json(out)
        .select(
            F.col("n_nationkey").cast("long"),
            "n_name",
            F.col("n_regionkey").cast("long"),
        )
    )


# --- Data-quality expectation report -----------------------------------------


@register(
    "dq_expectations_orders",
    f"""
    WITH ck AS (SELECT DISTINCT c_custkey FROM customer)
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN o.o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_null_custkey,
           CAST(SUM(CASE WHEN o.o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_null_date,
           CAST(COUNT(*) - COUNT(DISTINCT o.o_orderkey) AS BIGINT)
             AS n_dup_orderkey,
           CAST(SUM(CASE WHEN ck.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_orphan_custkey,
           CAST(SUM(CASE WHEN {_x.sql_cents('o.o_totalprice')} <= 0
                           OR {_x.sql_cents('o.o_totalprice')} > 100000000
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_price_out_of_range,
           CAST(SUM(CASE WHEN o.o_orderstatus NOT IN ('F', 'O', 'P')
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_status,
           CAST(SUM(CASE WHEN o.o_orderdate > TIMESTAMP '1998-12-31 00:00:00'
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_future_dates
    FROM orders o LEFT JOIN ck ON o.o_custkey = ck.c_custkey
    """,
)
def dq_expectations_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality expectation suite as ONE report row — the
    dbt-test/Great-Expectations checklist an ingestion pipeline runs
    before promoting a batch: null checks, primary-key uniqueness
    (count minus distinct), referential integrity (orders whose
    customer is missing — counted via a LEFT join against the broadcast
    distinct key set, not an anti-join second pass), value-range and
    accepted-set checks, and a freshness bound. Every expectation is an
    integer count, so the report hash-gates exactly; 'all zeros except
    n_rows' is the promotion predicate.

    Scale: one scan of orders + one broadcast of distinct customer keys
    folded into a single aggregate — adding expectations widens the
    projection, never adds passes. The key-set broadcast is the only
    piece that grows with the dimension; at 100 TB swap it for a bloom
    filter (n_orphan becomes an upper bound) or a shuffled left join.

    Rotated into the round-6 gate window (pre-sweep addition)."""
    o = load_table(spark, sf_dir, "orders")
    ck = F.broadcast(
        load_table(spark, sf_dir, "customer").select("c_custkey").distinct()
    )
    joined = o.join(ck, o.o_custkey == ck.c_custkey, "left")
    cents = _x.cents("o_totalprice")
    return joined.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_if(F.col("o_custkey").isNull()).alias("n_null_custkey"),
        F.count_if(F.col("o_orderdate").isNull()).alias("n_null_date"),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey"))
        .cast("long")
        .alias("n_dup_orderkey"),
        F.count_if(F.col("c_custkey").isNull()).alias("n_orphan_custkey"),
        F.count_if((cents <= 0) | (cents > 100_000_000)).alias(
            "n_price_out_of_range"
        ),
        F.count_if(~F.col("o_orderstatus").isin("F", "O", "P")).alias(
            "n_bad_status"
        ),
        F.count_if(
            F.col("o_orderdate")
            > F.lit("1998-12-31 00:00:00").cast("timestamp")
        ).alias("n_future_dates"),
    )


# --- Row-level table diff between versions -----------------------------------


@register(
    "table_diff_customer_versions",
    """
    WITH v1 AS (
      SELECT c_custkey, c_name, c_nationkey, c_mktsegment
      FROM customer WHERE c_custkey % 10 != 3
    ),
    v2 AS (
      SELECT c_custkey, c_name,
             CASE WHEN c_custkey % 10 = 7
                  THEN (c_nationkey + 1) % 25 ELSE c_nationkey END AS c_nationkey,
             c_mktsegment
      FROM customer WHERE c_custkey % 10 != 6
    ),
    j AS (
      SELECT COALESCE(v1.c_custkey, v2.c_custkey) AS k,
             CASE WHEN v2.c_custkey IS NULL THEN 'removed'
                  WHEN v1.c_custkey IS NULL THEN 'added'
                  WHEN v1.c_nationkey != v2.c_nationkey
                    OR v1.c_name != v2.c_name
                    OR v1.c_mktsegment != v2.c_mktsegment THEN 'changed'
                  ELSE 'unchanged' END AS verdict,
             CASE WHEN v1.c_custkey IS NOT NULL AND v2.c_custkey IS NOT NULL
                   AND v1.c_nationkey != v2.c_nationkey THEN 1 ELSE 0 END
               AS ch_nationkey
      FROM v1 FULL OUTER JOIN v2 ON v1.c_custkey = v2.c_custkey
    )
    SELECT verdict, COUNT(*) AS n_rows,
           CAST(SUM(k) AS BIGINT) AS key_sum,
           CAST(SUM(ch_nationkey) AS BIGINT) AS n_nationkey_changes
    FROM j GROUP BY verdict
    """,
)
def table_diff_customer_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level diff between two dataset versions — the third member of
    the drift family (schema_drift = column profiles, chi2/KS =
    distributions, THIS = exact row accounting): a keyed FULL OUTER join
    classifies every key as added / removed / changed / unchanged, with
    per-column change counts for the changed set. Versions are derived
    deterministically from the base table (v1 drops keys ≡3 mod 10, v2
    drops ≡6 and bumps nationkey on ≡7), so the oracle pins exact
    counts, key-sums, and the per-column change attribution.

    Scale: ONE full outer join on the key — both sides shuffle once on
    the same key (bucketed versions co-locate and skip even that);
    verdict classification and change attribution are projections. This
    is the validation query run after every backfill/migration, and the
    row-level receipt behind the CDC apply operator (cdc_apply applies
    a changelog; this PRODUCES one from two snapshots).

    Rotated into the round-6 gate window (pre-sweep addition)."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_mktsegment"
    )
    v1 = c.filter(F.col("c_custkey") % 10 != 3)
    v2 = c.filter(F.col("c_custkey") % 10 != 6).withColumn(
        "c_nationkey",
        F.when(
            F.col("c_custkey") % 10 == 7, (F.col("c_nationkey") + 1) % 25
        ).otherwise(F.col("c_nationkey")),
    )
    a, b = v1.alias("a"), v2.alias("b")
    j = a.join(b, F.col("a.c_custkey") == F.col("b.c_custkey"), "full_outer")
    changed = (
        (F.col("a.c_nationkey") != F.col("b.c_nationkey"))
        | (F.col("a.c_name") != F.col("b.c_name"))
        | (F.col("a.c_mktsegment") != F.col("b.c_mktsegment"))
    )
    verdict = (
        F.when(F.col("b.c_custkey").isNull(), "removed")
        .when(F.col("a.c_custkey").isNull(), "added")
        .when(changed, "changed")
        .otherwise("unchanged")
    )
    ch_nat = F.when(
        F.col("a.c_custkey").isNotNull()
        & F.col("b.c_custkey").isNotNull()
        & (F.col("a.c_nationkey") != F.col("b.c_nationkey")),
        1,
    ).otherwise(0)
    return (
        j.select(
            F.coalesce(F.col("a.c_custkey"), F.col("b.c_custkey")).alias("k"),
            verdict.alias("verdict"),
            ch_nat.alias("ch_nationkey"),
        )
        .groupBy("verdict")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("k").cast("long").alias("key_sum"),
            F.sum("ch_nationkey").cast("long").alias("n_nationkey_changes"),
        )
    )


@register(
    "pysource_pushdown_events",
    """
    WITH feed AS (
      SELECT i.i AS event_id, i.i % 97 AS user_id,
             CASE i.i % 5 WHEN 0 THEN 'view' WHEN 1 THEN 'click'
                          WHEN 2 THEN 'purchase' WHEN 3 THEN 'refund'
                          ELSE 'error' END AS event_type,
             (i.i * 37) % 10000 AS amount_cents
      FROM (SELECT unnest(range(90000, 90500)) AS i) i
    )
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(amount_cents) AS BIGINT) AS amount_sum
    FROM feed
    WHERE user_id % 2 = 0
    GROUP BY event_type
    """,
)
def pysource_pushdown_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTER PUSHDOWN through the Python DataSource API (Spark 4.1,
    `pushFilters` — sources/pysource.py): the event_id range predicates
    are consumed source-side, tightening the generation bounds BEFORE
    split planning, so of the 10^6-row feed only the 500-row slice is
    ever produced (the Python-source analogue of parquet row-group
    pruning — verified: the executed plan's residual filter no longer
    contains the range, pinned in tests/test_pysource.py). The
    non-pushable predicate (user_id % 2 = 0) stays Spark-side, showing
    the split contract: sources take what they can, return the rest.

    Registered for the round-7 gate window (post-sweep addition)."""
    from app_insights_generator_spark.sources.pysource import (
        register_synthetic_events,
    )

    # Deliberately NOT restored in a finally: the returned DataFrame is
    # lazy and Spark hard-errors if a pushFilters-defining reader executes
    # with this conf off, so restoring here would break the caller's
    # collect. The conf only affects Python sources that opt into
    # pushdown via .option("pushdown", "true"), so leaving it on is inert
    # for every other query in the session.
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    register_synthetic_events(spark)
    feed = (
        spark.read.format("synthetic_events")
        .option("n_rows", 1_000_000)
        .option("n_partitions", 8)
        .option("pushdown", "true")
        .load()
        .filter("event_id >= 90000 AND event_id < 90500")
        .filter("user_id % 2 = 0")
    )
    return feed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("amount_cents").cast("long").alias("amount_sum"),
    )


@register(
    "dpp_join_orders_years",
    f"""
    SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year,
           COUNT(*) AS n_orders,
           CAST(SUM({_x.sql_cents('o_totalprice')}) AS BIGINT) AS sum_cents
    FROM orders
    WHERE EXTRACT(year FROM o_orderdate) IN (1995, 1996)
    GROUP BY 1
    """,
)
def dpp_join_orders_years(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC partition pruning: the fact table is year-partitioned and
    joined to a dimension whose filter (tag = 'keep') is only known at
    runtime — static pruning can't help, so Spark injects a
    dynamicpruningexpression subquery that evaluates the dim filter
    FIRST and scans only the surviving fact partitions. At 100 TB this
    is the star-schema workhorse: a selective dim predicate prunes the
    fact scan without the query author naming partitions. Asserted, not
    hoped: the executed plan must carry dynamicpruningexpression in the
    fact scan's PartitionFilters. The oracle states the post-pruning
    semantics directly (years 1995-1996).

    Complements partitioned_parquet_orders (STATIC pruning: literal
    predicate on the partition column)."""
    out = os.path.join(_scratch("dpp_orders"), "orders_by_year")
    load_table(spark, sf_dir, "orders").withColumn(
        "o_year", F.year("o_orderdate")
    ).write.partitionBy("o_year").mode("overwrite").parquet(out)
    fact = spark.read.parquet(out)
    dim = spark.createDataFrame(
        [(y, "keep" if y in (1995, 1996) else "drop") for y in range(1995, 2002)],
        "d_year int, tag string",
    )
    joined = fact.join(
        F.broadcast(dim), fact.o_year == dim.d_year
    ).filter(F.col("tag") == "keep")
    agg = joined.groupBy("o_year").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.expr(f"CAST(SUM({_x.sql_cents('o_totalprice')}) AS BIGINT)").alias(
            "sum_cents"
        ),
    )
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruningexpression" in plan.lower(), (
        "dynamic partition pruning did not engage on the fact scan"
    )
    return agg.select("o_year", "n_orders", "sum_cents")


@register(
    "dynamic_partition_overwrite_orders",
    f"""
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           CAST(SUM(CASE WHEN o_orderstatus = 'P'
                         THEN {_x.sql_cents('o_totalprice')} * 2
                         ELSE {_x.sql_cents('o_totalprice')} END) AS BIGINT)
             AS sum_cents
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def dynamic_partition_overwrite_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC partition overwrite (partitionOverwriteMode=dynamic): the
    partition-restatement pattern — a correction job rewrites ONLY the
    partitions it produces rows for ('P' gets doubled prices) while
    every other partition's files stay untouched; static overwrite mode
    would have wiped the whole table root. This is how 100 TB
    Hive-layout tables take late corrections without a full rewrite
    (and without a table format). The read-back aggregate gates the
    merged state: F/O untouched, P restated — so both the overwrite
    selectivity and the non-destruction of sibling partitions hash.

    Registered for the round-7 gate window (post-sweep addition)."""
    out = os.path.join(_scratch("dynpart_orders"), "orders_by_status")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", _x.cents("o_totalprice").alias("cents")
    )
    o.write.partitionBy("o_orderstatus").mode("overwrite").parquet(out)
    restated = o.filter(F.col("o_orderstatus") == "P").withColumn(
        "cents", F.col("cents") * 2
    )
    (
        restated.write.option("partitionOverwriteMode", "dynamic")
        .partitionBy("o_orderstatus")
        .mode("overwrite")
        .parquet(out)
    )
    back = spark.read.parquet(out)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("cents").cast("long").alias("sum_cents"),
    )
