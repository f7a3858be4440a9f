"""Training-data preparation operators beyond dedup/similarity (SURVEY.md
§2.2 extension mandate): benchmark decontamination, context-window
packing, privacy-preserving pseudonymization, and tf-idf keyword
extraction.

The reference (/root/reference/main.py) has no text operators at all;
these extend the engine's LLM-data-pipeline surface alongside
llm_queries.py. All four are pure built-in Spark SQL expressions — no
Python UDFs — so they stay inside whole-stage codegen and scale to the
100 TB tier:

- decontamination: n-gram explode -> equi-join on the gram. At scale the
  join key would be xxhash64(ngram) (8 bytes vs ~40-byte strings) and
  the benchmark side (always tiny: eval sets are MBs, not TBs) is
  broadcast, so the training corpus never shuffles.
- packing: per-source sequential first-offset binning via a running-sum
  window — windows partition on `source`, so shards pack in parallel;
  no global ordering bottleneck.
- k-anonymity: one aggregate over the quasi-identifier + a broadcast
  join back; suppression happens before data leaves the cluster.
- tf-idf: two map-side-combining aggregates (term-frequency, document-
  frequency) + a broadcast of the tiny per-term idf table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from app_insights_generator_spark.operators.checkpointing import pin
from app_insights_generator_spark.queries import register
from app_insights_generator_spark.queries._exact import sql_hex_to_int
from app_insights_generator_spark.sources import load_table

# 4-grams: real pipelines use 13-grams, but the synthetic corpus has a
# ~40-word vocabulary and ~50-token documents, so 4 is the size at which
# overlap is non-trivial (~10% of train docs) without being universal.
_NGRAM = 4
_BENCH_SOURCE = "src0"
_PACK_BUDGET = 512
_KANON_K = 50


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _ngrams_df(docs: DataFrame) -> DataFrame:
    """doc_id, source, ng — one row per position-distinct n-gram."""
    toks = F.split(F.trim(F.col("text")), " ")
    grams = F.when(
        F.size(toks) >= _NGRAM,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (_NGRAM - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, _NGRAM)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return docs.select("doc_id", "source", F.explode(grams).alias("ng"))


@register(
    "decontaminate_ngram_documents",
    f"""
    WITH tok AS (SELECT doc_id, source, string_split(trim(text), ' ') AS t
                 FROM documents),
    ngr AS (
      SELECT doc_id, source, array_to_string(t[i:i+{_NGRAM - 1}], ' ') AS ng
      FROM tok, LATERAL (SELECT unnest(range(1, len(t) - {_NGRAM - 2})) AS i) s
    ),
    bench AS (SELECT DISTINCT doc_id AS bench_doc, ng FROM ngr
              WHERE source = '{_BENCH_SOURCE}'),
    train AS (SELECT DISTINCT doc_id, ng FROM ngr
              WHERE source <> '{_BENCH_SOURCE}')
    SELECT t.doc_id,
           COUNT(DISTINCT t.ng) AS n_shared_ngrams,
           COUNT(DISTINCT b.bench_doc) AS n_bench_docs
    FROM train t JOIN bench b ON t.ng = b.ng
    GROUP BY t.doc_id
    """,
)
def decontaminate_ngram_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    {n}-gram with the held-out benchmark set (source = src0 stands in
    for an eval suite). Built entirely from split/sequence/transform/
    slice/explode — no UDF — and the benchmark gram set is broadcast
    (eval sets are tiny relative to a training corpus), so the corpus
    side is one scan + one map-side join + one aggregate."""
    docs = _t(spark, sf_dir, "documents")
    grams = _ngrams_df(docs)
    bench = (
        grams.filter(F.col("source") == _BENCH_SOURCE)
        .select(F.col("doc_id").alias("bench_doc"), "ng")
        .distinct()
    )
    train = (
        grams.filter(F.col("source") != _BENCH_SOURCE)
        .select("doc_id", "ng")
        .distinct()
    )
    return (
        train.join(F.broadcast(bench), "ng")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("ng").alias("n_shared_ngrams"),
            F.countDistinct("bench_doc").alias("n_bench_docs"),
        )
    )


@register(
    "pack_documents_token_budget",
    f"""
    WITH t AS (SELECT doc_id, source,
                      len(string_split(trim(text), ' ')) AS n_tokens
               FROM documents),
    b AS (SELECT source, doc_id, n_tokens,
                 CAST((SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                           ROWS UNBOUNDED PRECEDING)
                  - n_tokens) // {_PACK_BUDGET} AS BIGINT) AS bin_id
          FROM t)
    SELECT source, bin_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens,
           CAST(SUM(n_tokens) * 10000 // {_PACK_BUDGET} AS BIGINT) AS fill_bp
    FROM b
    GROUP BY source, bin_id
    """,
)
def pack_documents_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window packing: assign documents to fixed-token-budget
    training bins by running token count, then report per-bin fill.
    The bin id is the document's *starting offset* divided by the
    budget — pure integer arithmetic, so Spark and the oracle agree
    exactly. The running-sum window partitions on `source`: each shard
    packs independently and in parallel (a single global ORDER BY would
    serialize the window at 100 TB)."""
    docs = _t(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        "source",
        F.size(F.split(F.trim(F.col("text")), " ")).cast("bigint").alias("n_tokens"),
    )
    w = Window.partitionBy("source").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    b = (
        t.withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .withColumn("bin_id", F.expr(f"(cum_tokens - n_tokens) DIV {_PACK_BUDGET}"))
    )
    # Bin fill is reported in integer basis points (tokens*10000 DIV budget):
    # no float ever reaches the gate, so no engine/platform rounding rule can
    # flip the last digit (the round-3 driver divergence on this query).
    return b.groupBy("source", "bin_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("bin_tokens"),
        F.expr(f"sum(n_tokens) * 10000 DIV {_PACK_BUDGET}")
        .cast("bigint")
        .alias("fill_bp"),
    )


@register(
    "pseudonymize_events_kanon",
    f"""
    WITH g AS (SELECT event_type, CAST(hour(ts) AS INTEGER) AS hr, COUNT(*) AS n
               FROM events GROUP BY 1, 2)
    SELECT sha256(CAST(e.user_id AS VARCHAR)) AS pseudo_id,
           CASE WHEN g.n >= {_KANON_K} THEN e.event_type END AS event_type_k,
           CASE WHEN g.n >= {_KANON_K} THEN g.hr END AS hour_k,
           ROUND(e.value, 2) AS value
    FROM events e
    JOIN g ON g.event_type = e.event_type AND g.hr = CAST(hour(e.ts) AS INTEGER)
    """,
)
def pseudonymize_events_kanon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy prep for event logs entering a training corpus: user ids
    are pseudonymized (SHA-256 — deterministic, join-preserving) and the
    quasi-identifier (event_type, hour-of-day) is suppressed to NULL for
    any combination occurring fewer than k={_KANON_K} times, the
    k-anonymity rule. The group-size table is one aggregate over the
    quasi-identifier and is broadcast back onto the fact scan."""
    ev = _t(spark, sf_dir, "events")
    hr = F.hour("ts").alias("hr")
    g = ev.groupBy(F.col("event_type").alias("g_type"), hr).agg(
        F.count(F.lit(1)).alias("n")
    )
    joined = ev.join(
        F.broadcast(g),
        (F.col("event_type") == F.col("g_type")) & (F.hour("ts") == F.col("hr")),
    )
    keep = F.col("n") >= _KANON_K
    return joined.select(
        F.sha2(F.col("user_id").cast("string"), 256).alias("pseudo_id"),
        F.when(keep, F.col("event_type")).alias("event_type_k"),
        F.when(keep, F.col("hr")).alias("hour_k"),
        F.round("value", 2).alias("value"),
    )


@register(
    "tfidf_top_terms_documents",
    """
    WITH tok AS (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS term
                 FROM documents),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok
           WHERE term <> '' GROUP BY doc_id, term),
    df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT doc_id, term,
           ROUND(tf * ln((n_docs + 1.0) / (df + 1.0)) + 1e-9, 6) AS tfidf
    FROM (
      SELECT tf.doc_id, tf.term,
             ROW_NUMBER() OVER (
               PARTITION BY tf.doc_id
               ORDER BY ROUND(tf.tf * ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1e-9, 6) DESC,
                        tf.term) AS rn,
             tf.tf, df.df, n.n_docs
      FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
    ) ranked
    WHERE rn <= 3
    """,
)
def tfidf_top_terms_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 keywords per document by tf-idf (smoothed idf =
    ln((N+1)/(df+1))). Term frequency and document frequency are both
    map-side-combining aggregates; the per-term idf table is vocabulary-
    sized (tiny) and broadcast. Scores are rounded to 6 decimals BEFORE
    the ranking window in both engines so libm ulp differences in ln()
    can't reorder near-ties; exact ties break on the term string."""
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split(F.trim(F.col("text")), " ")).alias("term")
    ).filter(F.col("term") != "")
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.count()
    scored = tf.join(F.broadcast(df), "term").withColumn(
        "tfidf",
        F.round(
            F.col("tf") * F.log((F.lit(n_docs) + 1.0) / (F.col("df") + 1.0)) + 1e-9, 6
        ),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "term", "tfidf")
    )


# --- PII detection / redaction ----------------------------------------------

def _pii_oracle_sql() -> str:
    from app_insights_generator_spark.operators.text import PII_PATTERNS

    email_re, _ = PII_PATTERNS["email"]
    phone_re, _ = PII_PATTERNS["phone"]
    ipv4_re, _ = PII_PATTERNS["ipv4"]
    redacted = "text"
    for pattern, token in PII_PATTERNS.values():
        redacted = f"regexp_replace({redacted}, '{pattern}', '{token}', 'g')"
    return f"""
    WITH aug AS (
      SELECT doc_id,
             CASE WHEN doc_id % 5 = 0
                  THEN text || ' Contact user' || CAST(doc_id AS VARCHAR)
                       || '@example.com or 555-123-4567 at 10.0.'
                       || CAST(doc_id % 256 AS VARCHAR) || '.7 now.'
                  ELSE text END AS text
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{email_re}')) AS INT) AS n_emails,
           CAST(len(regexp_extract_all(text, '{phone_re}')) AS INT) AS n_phones,
           CAST(len(regexp_extract_all(text, '{ipv4_re}')) AS INT) AS n_ipv4,
           sha256({redacted}) AS redacted_sha
    FROM aug
    """


@register("pii_redact_documents", _pii_oracle_sql())
def pii_redact_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction (operators/text.py PII_PATTERNS): count
    emails/phones/IPv4s per document and scrub them to class tokens — the
    standard privacy pass before text enters a training corpus. The
    synthetic corpus carries no real PII, so every 5th document is
    augmented with a deterministic contact line (same expression in the
    oracle) to make the detectors fire on ~20% of rows.

    Oracled exactly: DuckDB recomputes every count AND the sha256 of the
    fully redacted text, so a single character of replacement drift fails
    the gate. Pure regexp built-ins — shuffle-free scan at 100 TB.
    """
    from app_insights_generator_spark.operators import text as T

    docs = load_table(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.col("text"),
                F.lit(" Contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com or 555-123-4567 at 10.0."),
                (F.col("doc_id") % 256).cast("string"),
                F.lit(".7 now."),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return aug.select(
        "doc_id",
        T.pii_count(F.col("text"), "email").cast("int").alias("n_emails"),
        T.pii_count(F.col("text"), "phone").cast("int").alias("n_phones"),
        T.pii_count(F.col("text"), "ipv4").cast("int").alias("n_ipv4"),
        F.sha2(T.redact_pii(F.col("text")), 256).alias("redacted_sha"),
    )


@register(
    "exact_k_sample_documents",
    """
    SELECT source, doc_id
    FROM (
      SELECT source, doc_id,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY sha256(CAST(doc_id AS VARCHAR)), doc_id
             ) AS rk
      FROM documents
    ) WHERE rk <= 10
    """,
)
def exact_k_sample_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic EXACT-k per-stratum sample: keep exactly k=10
    documents per source, chosen by ranking on the sha256 of the stable
    id. Complements fraction-based sampleBy (stratified_sample_orders):
    training mixes are usually specified as exact per-domain budgets, and
    Bernoulli sampling only hits them in expectation. Hash-ordering makes
    the choice uniform-ish, engine-independent, and reproducible across
    retries/re-runs — the same property domain_mix_sample_documents
    exploits, extended to exact counts.

    Scale shape: one shuffle (window partitioned by source). At 100 TB
    with a huge k, swap row_number for the 2-phase per-partition top-k
    (partial TakeOrdered per partition, then merge) — same ordering key.
    """
    docs = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.sha2(F.col("doc_id").cast("string"), 256), F.col("doc_id")
    )
    return (
        docs.select("source", "doc_id", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= 10)
        .select("source", "doc_id")
    )


@register(
    "train_val_test_split_documents",
    """
    WITH h AS (
      SELECT doc_id,
             substring(sha256(CAST(doc_id AS VARCHAR)), 1, 4) AS hx
      FROM documents
    ),
    b AS (
      -- explicit base-16 digit expansion (strpos over the hex alphabet):
      -- both engines document these string functions, unlike the
      -- DuckDB-only '0x'||…::INT literal cast this replaces.
      SELECT doc_id,
             ((strpos('0123456789abcdef', substring(hx, 1, 1)) - 1) * 4096
            + (strpos('0123456789abcdef', substring(hx, 2, 1)) - 1) * 256
            + (strpos('0123456789abcdef', substring(hx, 3, 1)) - 1) * 16
            + (strpos('0123456789abcdef', substring(hx, 4, 1)) - 1)) % 100
               AS bucket
      FROM h
    )
    SELECT CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val'
                ELSE 'test' END AS split,
           COUNT(*) AS n_docs,
           CAST(SUM(doc_id) AS BIGINT) AS id_sum
    FROM b GROUP BY 1
    """,
)
def train_val_test_split_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split by content-independent
    key hash — the reproducibility primitive for dataset versioning: the
    assignment depends only on doc_id (sha256, portable across engines
    and runs), never on row order, partitioning, or a seed, so re-running
    the pipeline on a grown corpus keeps every existing document in its
    original split (no train/test leakage across dataset versions).

    The split is a pure projection (no shuffle); the per-split counts +
    id-sum here are the gate's witness that both engines assign every
    document identically. Scale: the same expression tags 100 TB in one
    map pass, and writing `partitionBy(split)` gives the three datasets
    as partition directories."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.sha2(F.col("doc_id").cast("string"), 256), 1, 4), 16, 10)
        .cast("int")
        % 100
    )
    tagged = docs.select(
        "doc_id",
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test").alias(
            "split"
        ),
    )
    return tagged.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("doc_id").alias("id_sum")
    )


@register(
    "decontaminate_semantic_embeddings",
    """
    WITH bench AS (
      SELECT vec_id AS bench_id, embedding::DOUBLE[] AS bv,
             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS bn
      FROM embeddings WHERE vec_id < 50
    ),
    corpus AS (
      SELECT vec_id, embedding::DOUBLE[] AS cv,
             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS cn
      FROM embeddings WHERE vec_id >= 50
    ),
    sims AS (
      SELECT c.vec_id,
             CASE WHEN c.cn * b.bn > 0
                  THEN list_dot_product(c.cv, b.bv) / (c.cn * b.bn)
                  ELSE 0.0 END AS sim
      FROM corpus c CROSS JOIN bench b
    )
    SELECT vec_id,
           CAST(COUNT(*) FILTER (WHERE sim + 1e-9 >= 0.25) AS BIGINT)
             AS n_bench_hits,
           ROUND(MAX(sim) + 1e-9, 6) AS max_bench_sim,
           CASE WHEN COUNT(*) FILTER (WHERE sim + 1e-9 >= 0.25) > 0
                THEN 'drop' ELSE 'keep' END AS decision
    FROM sims GROUP BY vec_id
    """,
)
def decontaminate_semantic_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic decontamination — the embedding-space twin of
    decontaminate_ngram_documents: a training example is dropped when its
    embedding is cosine-similar (>= 0.25, +1e-9 boundary bias) to ANY
    benchmark vector (vec_ids < 50 stand in for the eval set). The
    benchmark side is small by nature, so the plan is a BROADCAST
    nested-loop over a constant-size set — a single linear scan of the
    corpus at any scale, no shuffle (at very large bench sets, swap in the
    banded-LSH similarity join). Cosine is the left-to-right fold dot
    product, byte-identical to DuckDB's list_dot_product evaluation
    order, so every similarity is the same double in both engines."""
    from app_insights_generator_spark.operators.similarity import cosine

    embs = load_table(spark, sf_dir, "embeddings")
    bench = F.broadcast(
        embs.filter(F.col("vec_id") < 50).select(
            F.col("vec_id").alias("bench_id"), F.col("embedding").alias("bv")
        )
    )
    corpus = embs.filter(F.col("vec_id") >= 50).select("vec_id", "embedding")
    sims = corpus.crossJoin(bench).select(
        "vec_id", cosine(F.col("embedding"), F.col("bv")).alias("sim")
    )
    hit = F.col("sim") + F.lit(1e-9) >= 0.25
    return sims.groupBy("vec_id").agg(
        F.count_if(hit).cast("bigint").alias("n_bench_hits"),
        F.round(F.max("sim") + 1e-9, 6).alias("max_bench_sim"),
        F.when(F.count_if(hit) > 0, F.lit("drop"))
        .otherwise(F.lit("keep"))
        .alias("decision"),
    )


@register(
    "shard_shuffle_documents",
    f"""
    WITH h AS (
      SELECT doc_id,
             {sql_hex_to_int(
                 "substring(sha256(CAST(doc_id AS VARCHAR)), 1, 12)", 12
             )} AS hh
      FROM documents
    )
    SELECT doc_id,
           CAST(hh % 8 AS INT) AS shard,
           CAST(ROW_NUMBER() OVER (PARTITION BY hh % 8 ORDER BY hh, doc_id)
                AS INT) AS pos
    FROM h
    """,
)
def shard_shuffle_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus shuffle-shard (operators/shard.py): every
    document gets a (shard, pos) coordinate from a sha256 hash
    permutation — shard = h % 8, pos = rank of h within the shard. The
    gate's witness is the FULL assignment table: both engines must place
    every document at the identical permuted coordinate, which pins the
    hash, the modulo, and the rank tie-break in one check. One narrow
    exchange on shard + per-shard sort is the whole cost at any scale;
    write_sharded turns the same frame into shard=K parquet directories.
    """
    from app_insights_generator_spark.operators.shard import shard_shuffle

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return shard_shuffle(docs, "doc_id", 8)


# --- Stratified sampling & mixture weights (dataset-mixing primitives) -------

#: Per-language target keep rates in basis points. A broadcast dim table on
#: the Spark side; the oracle inlines the same map as a CASE.
_STRATA_RATES_BP = {"en": 8000, "de": 5000, "fr": 5000, "es": 2500, "zh": 1000}


def _sha_bucket_sql(expr: str, mod: int) -> str:
    """DuckDB: first 4 hex chars of sha256(expr) as an int in [0, mod) via
    explicit base-16 digit expansion (portable, no hex-literal casts —
    shared sql_hex_to_int, queries/_exact.py)."""
    h = f"substring(sha256(CAST({expr} AS VARCHAR)), 1, 4)"
    return f"({sql_hex_to_int(h, 4)} % {mod})"


@register(
    "stratified_sample_documents",
    f"""
    WITH tagged AS (
      SELECT lang, doc_id,
             CASE lang {' '.join(f"WHEN '{k}' THEN {v}" for k, v in _STRATA_RATES_BP.items())}
                  ELSE 0 END AS rate_bp,
             {_sha_bucket_sql('doc_id', 10000)} AS bucket
      FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(SUM(CASE WHEN bucket < rate_bp THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           CAST(SUM(CASE WHEN bucket < rate_bp THEN doc_id ELSE 0 END)
                AS BIGINT) AS kept_id_sum
    FROM tagged GROUP BY lang
    """,
)
def stratified_sample_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling at per-stratum rates — the
    dataset-mixing primitive (sample high-quality sources at 80%, noisy
    ones at 10%): acceptance = content-independent sha-bucket of doc_id
    < the stratum's rate. Like train_val_test_split, assignment depends
    only on the key — never row order, partitioning, or a seed — so a
    re-run on a grown corpus keeps every prior decision (and the kept
    set is the union across versions, no resample churn).

    The per-stratum rate table arrives as a BROADCAST dim join (the
    production shape: rates live in a config table, not a CASE); the
    gate witnesses per-stratum kept counts + kept-id sums.

    Scale: pure map-side tagging + one aggregate — no corpus shuffle at
    all (the broadcast eliminates the join exchange).

    Reference parity: no counterpart (main.py:125-421 has no sampling
    surface); §2.5 curation extension."""
    rates = spark.createDataFrame(
        [(k, v) for k, v in _STRATA_RATES_BP.items()], "lang string, rate_bp int"
    )
    docs = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.sha2(F.col("doc_id").cast("string"), 256), 1, 4), 16, 10)
        .cast("int")
        % 10000
    )
    tagged = docs.join(F.broadcast(rates), "lang", "left").select(
        "lang",
        "doc_id",
        F.coalesce(F.col("rate_bp"), F.lit(0)).alias("rate_bp"),
        bucket.alias("bucket"),
    )
    kept = F.col("bucket") < F.col("rate_bp")
    return tagged.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_total"),
        F.sum(kept.cast("long")).cast("long").alias("n_kept"),
        F.sum(F.when(kept, F.col("doc_id")).otherwise(0)).cast("long").alias(
            "kept_id_sum"
        ),
    )


@register(
    "mixture_weights_documents",
    """
    WITH s AS (
      SELECT source,
             CAST(SUM(len(list_filter(string_split_regex(trim(text), '\\s+'),
                                      x -> x != ''))) AS BIGINT) AS src_tokens
      FROM documents GROUP BY source
    ),
    tot AS (SELECT CAST(SUM(src_tokens) AS BIGINT) AS total_tokens,
                   CAST(COUNT(*) AS BIGINT) AS n_sources
            FROM s)
    SELECT s.source, s.src_tokens,
           CAST(10000 * s.src_tokens // tot.total_tokens AS BIGINT)
             AS share_bp,
           CAST((1000000 * tot.total_tokens)
                // (tot.n_sources * s.src_tokens) AS BIGINT)
             AS multiplier_ppm
    FROM s, tot
    """,
)
def mixture_weights_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture weights: per-source token share (basis points)
    and the sampling multiplier (ppm) that would rebalance the corpus to
    a UNIFORM source mixture — multiplier_ppm = target_share /
    actual_share = total_tokens / (n_sources * src_tokens), the number
    every data-mixing recipe (epochs-per-source) starts from. Integer
    floor arithmetic at two points, identical in both engines.

    Scale: one token-count aggregate keyed source (map-side combine on
    ~dozens of groups), then a broadcast of the 1-row corpus total onto
    the per-source table — no second pass over text. int64 headroom:
    1e6 * total_tokens needs total < 9.2e12 tokens; a 100 TB corpus
    (~2e13 tokens) would lift the ppm scale to DECIMAL or drop it to
    basis points (9.2e14).

    Reference parity: no counterpart; §2.5 curation extension."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.size(
        F.filter(F.split(F.trim(F.col("text")), r"\s+"), lambda t: t != F.lit(""))
    )
    s = docs.groupBy("source").agg(F.sum(toks.cast("long")).alias("src_tokens"))
    tot = s.agg(
        F.sum("src_tokens").alias("total_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_sources"),
    )
    return s.crossJoin(F.broadcast(tot)).select(
        "source",
        "src_tokens",
        F.expr("CAST(10000 * src_tokens DIV total_tokens AS LONG)").alias(
            "share_bp"
        ),
        F.expr(
            "CAST((1000000 * total_tokens) DIV (n_sources * src_tokens) AS LONG)"
        ).alias("multiplier_ppm"),
    )


# --- OOV n-gram rate across the train/val/test split ---------------------------


@register(
    "oov_ngram_rate_by_split_documents",
    """
    WITH h AS (
      SELECT doc_id, text,
             substring(sha256(CAST(doc_id AS VARCHAR)), 1, 4) AS hx
      FROM documents
    ),
    sp AS (
      SELECT doc_id, text,
             CASE WHEN ((strpos('0123456789abcdef', substring(hx, 1, 1)) - 1) * 4096
                      + (strpos('0123456789abcdef', substring(hx, 2, 1)) - 1) * 256
                      + (strpos('0123456789abcdef', substring(hx, 3, 1)) - 1) * 16
                      + (strpos('0123456789abcdef', substring(hx, 4, 1)) - 1)) % 100 < 80
                  THEN 'train'
                  WHEN ((strpos('0123456789abcdef', substring(hx, 1, 1)) - 1) * 4096
                      + (strpos('0123456789abcdef', substring(hx, 2, 1)) - 1) * 256
                      + (strpos('0123456789abcdef', substring(hx, 3, 1)) - 1) * 16
                      + (strpos('0123456789abcdef', substring(hx, 4, 1)) - 1)) % 100 < 90
                  THEN 'val' ELSE 'test' END AS split
      FROM h
    ),
    tok AS (SELECT split, string_split(trim(text), ' ') AS t FROM sp),
    ngr AS (
      SELECT split, array_to_string(t[i:i+2], ' ') AS ng
      FROM tok, LATERAL (SELECT unnest(range(1, len(t) - 1)) AS i) s
    ),
    vocab AS (SELECT DISTINCT ng FROM ngr WHERE split = 'train'),
    ev AS (
      SELECT e.split, e.ng, (v.ng IS NULL) AS oov
      FROM ngr e LEFT JOIN vocab v ON v.ng = e.ng
      WHERE e.split <> 'train'
    )
    SELECT split,
           CAST(COUNT(*) AS BIGINT) AS n_ngrams,
           CAST(SUM(CASE WHEN oov THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
           CAST(SUM(CASE WHEN oov THEN 1 ELSE 0 END) * 10000 // COUNT(*)
             AS BIGINT) AS oov_bp,
           CAST(COUNT(DISTINCT ng) AS BIGINT) AS n_types,
           CAST(COUNT(DISTINCT CASE WHEN oov THEN ng END) AS BIGINT)
             AS n_oov_types
    FROM ev GROUP BY split
    """,
)
def oov_ngram_rate_by_split_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary TRIGRAM rate of the val/test splits against the
    train split's trigram vocabulary — the coverage statistic that says
    whether the held-out splits actually exercise unseen context (an
    eval set whose n-grams are all in-train measures memorization, not
    generalization) and, symmetrically, whether a tokenizer/LM trained
    on the train split will face unseen contexts at eval time. Emitted
    per non-train split: occurrence and type counts, OOV counts, and the
    occurrence-level OOV rate in basis points. (Unigram OOV is pinned 0
    by this corpus's 30-word vocabulary — trigram types are where the
    coverage question is non-trivial; the same lattice Heaps growth
    measures.)

    Split assignment is the portable sha256-bucket convention
    (train_val_test_split_documents: buckets 0-79/80-89/90-99), so the
    gate composes with every other split-keyed audit. Pure integer
    counts end to end.

    Scale: trigram explosion is one Generate per corpus scan; the vocab
    anti-membership is a broadcast-or-shuffled left join keyed on the
    gram (Zipf-skewed keys are AQE territory); the rollup is 2 groups.
    No O(n^2) anywhere.

    Reference parity: no counterpart; §2.6 trainprep extension.
    Registered on ROTATION_NEXT (round-10 window; post-sweep addition)."""
    docs = _t(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.sha2(F.col("doc_id").cast("string"), 256), 1, 4), 16, 10)
        .cast("int")
        % 100
    )
    sp = docs.select(
        F.when(bucket < 80, "train")
        .when(bucket < 90, "val")
        .otherwise("test")
        .alias("split"),
        F.split(F.trim(F.col("text")), " ").alias("t"),
    )
    ngr = sp.select(
        "split",
        F.explode(
            F.expr("transform(sequence(1, size(t) - 2), i -> concat_ws(' ', slice(t, i, 3)))")
        ).alias("ng"),
    )
    vocab = ngr.filter(F.col("split") == "train").select("ng").distinct()
    ev = (
        ngr.filter(F.col("split") != "train")
        .join(vocab.select(F.col("ng").alias("vng")), F.col("ng") == F.col("vng"), "left")
        .select("split", "ng", F.col("vng").isNull().alias("oov"))
    )
    return ev.groupBy("split").agg(
        F.count(F.lit(1)).cast("long").alias("n_ngrams"),
        F.sum(F.expr("CASE WHEN oov THEN 1 ELSE 0 END")).cast("long").alias("n_oov"),
        F.expr(
            "CAST(SUM(CASE WHEN oov THEN 1 ELSE 0 END) * 10000 DIV COUNT(1) AS LONG)"
        ).alias("oov_bp"),
        F.count_distinct("ng").cast("long").alias("n_types"),
        F.count_distinct(F.expr("CASE WHEN oov THEN ng END"))
        .cast("long")
        .alias("n_oov_types"),
    )


# --- Water-filling token-budget allocation ------------------------------------


@register(
    "token_budget_waterfill_documents",
    """
    WITH s AS (
      SELECT source,
             CAST(SUM(len(list_filter(string_split_regex(trim(text), '\\s+'),
                                      x -> x != ''))) AS BIGINT) AS t
      FROM documents GROUP BY source
    ),
    r AS (
      SELECT source, t,
             CAST(ROW_NUMBER() OVER (ORDER BY t, source) AS BIGINT) AS rn,
             CAST(SUM(t) OVER (ORDER BY t, source
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS p,
             CAST(COUNT(*) OVER () AS BIGINT) AS n,
             CAST(SUM(t) OVER () AS BIGINT) AS total
      FROM s
    ),
    b AS (SELECT MIN(total) * 6 // 10 AS budget, MIN(n) AS n_src,
                 MIN(total) AS total, MAX(t) AS tmax
          FROM r),
    k AS (SELECT COALESCE(MAX(rn), 0) AS kstar
          FROM r, b WHERE p + (r.n - rn) * t <= budget),
    cap AS (
      SELECT CASE
               WHEN k.kstar = b.n_src THEN b.tmax
               WHEN k.kstar = 0 THEN b.budget // b.n_src
               ELSE (b.budget - (SELECT p FROM r WHERE rn = k.kstar))
                    // (b.n_src - k.kstar)
             END AS cap_tokens
      FROM k, b)
    SELECT source, t AS n_tokens,
           LEAST(t, cap_tokens) AS alloc_tokens,
           (t > cap_tokens) AS capped,
           cap_tokens
    FROM r, cap
    """,
)
def token_budget_waterfill_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WATER-FILLING allocation of a global token budget across sources
    — the mixture primitive that answers "we can only train on 60% of
    the corpus's tokens; how many do we take from each feed so small
    sources are never starved and big ones absorb the cut?": allocate
    a_i = min(T_i, cap) with cap the LARGEST integer water level whose
    total allocation fits the budget. Small sources are fully funded,
    every capped source gets exactly cap tokens — the max-min-fair
    allocation (classic water-filling / progressive filling), the same
    shape DoReMi-style mixture tuning starts from.

    Exactness: one sort of the source-grain table by (tokens, source),
    prefix sums, and k* = the largest rank where fully-funding ranks
    <= k* and capping the rest AT T_k* still fits — then cap =
    (budget - prefix(k*)) DIV (n - k*). Pure int64 throughout (budget =
    total * 6 DIV 10); the k* = 0 (cap below the smallest source) and
    k* = n (budget covers everything) edges take their closed forms.
    Feasibility cap >= T_k* follows from k*'s defining inequality, so
    min(T_i, cap) = T_i for every fully-funded rank — the allocation is
    well-defined without iteration, which is what makes the driver-loop-
    free SQL twin possible.

    Scale: the window runs on the SOURCE-GRAIN aggregate (facet
    cardinality rows, ~20 here — never the corpus), so the single-
    partition sort is bounded by the number of ingest feeds; the corpus
    is touched once by the token-count aggregate with map-side combine.

    Reference parity: no counterpart; §2.6 trainprep extension next to
    mixture_weights (uniform target) and mixture_temperature (alpha
    scaling) — this is the budget-constrained third member.
    Registered on ROTATION_NEXT (round-10 window; post-sweep addition)."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.size(
        F.filter(F.split(F.trim(F.col("text")), r"\s+"), lambda t: t != F.lit(""))
    )
    s = docs.groupBy("source").agg(F.sum(toks.cast("long")).alias("t"))
    w_rank = Window.orderBy("t", "source")
    r = s.select(
        "source",
        "t",
        F.row_number().over(w_rank).cast("long").alias("rn"),
        F.sum("t").over(w_rank.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long")
        .alias("p"),
        F.count(F.lit(1))
        .over(Window.partitionBy())
        .cast("long")
        .alias("n"),
        F.sum("t").over(Window.partitionBy()).cast("long").alias("total"),
    ).transform(pin)  # fan-out: b/k/kstar-row lookups below
    b = r.agg(
        F.expr("MIN(total) * 6 DIV 10").alias("budget"),
        F.min("n").alias("n_src"),
        F.max("t").alias("tmax"),
    )
    k = (
        r.crossJoin(F.broadcast(b))
        .filter(F.expr("p + (n - rn) * t <= budget"))
        .agg(F.coalesce(F.max("rn"), F.lit(0)).cast("long").alias("kstar"))
    )
    pk = (
        r.select(F.col("rn").alias("krn"), F.col("p").alias("pk"))
        .join(F.broadcast(k), F.col("krn") == F.col("kstar"), "right")
        .select("kstar", F.coalesce("pk", F.lit(0)).cast("long").alias("pk"))
    )
    cap = (
        pk.crossJoin(F.broadcast(b))
        .select(
            F.expr(
                "CASE WHEN kstar = n_src THEN tmax "
                "WHEN kstar = 0 THEN budget DIV n_src "
                "ELSE (budget - pk) DIV (n_src - kstar) END"
            )
            .cast("long")
            .alias("cap_tokens")
        )
    )
    return r.crossJoin(F.broadcast(cap)).select(
        "source",
        F.col("t").alias("n_tokens"),
        F.least(F.col("t"), F.col("cap_tokens")).alias("alloc_tokens"),
        (F.col("t") > F.col("cap_tokens")).alias("capped"),
        "cap_tokens",
    )


# --- Largest-remainder (Hamilton) quota apportionment --------------------------


@register(
    "apportion_largest_remainder_documents",
    """
    WITH s AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY source
    ),
    t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS total FROM s),
    q AS (
      SELECT source, n_docs,
             1000 * n_docs // total AS floor_quota,
             1000 * n_docs - (1000 * n_docs // total) * total AS remainder
      FROM s, t
    ),
    l AS (SELECT 1000 - CAST(SUM(floor_quota) AS BIGINT) AS leftover FROM q),
    r AS (
      SELECT source, n_docs, floor_quota, remainder,
             CAST(ROW_NUMBER() OVER (ORDER BY remainder DESC, source)
                  AS BIGINT) AS rn
      FROM q
    )
    SELECT source, n_docs, floor_quota, remainder,
           floor_quota + CASE WHEN rn <= leftover THEN 1 ELSE 0 END AS alloc
    FROM r, l
    """,
)
def apportion_largest_remainder_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Largest-remainder (Hamilton) apportionment of a fixed 1,000-doc
    sample budget across sources: quota_i = floor(K * c_i / N), then the
    K - sum(floor) leftover seats go to the largest fractional
    remainders (ties broken by source name). The EXACT-TOTAL counterpart
    of the proportional allocators already registered: stratified/
    systematic sampling hit each stratum's share only in expectation,
    water-filling caps by a level — Hamilton is what a curation job uses
    when the downstream contract is "exactly K documents, shares as
    proportional as integer counts allow" (the classic apportionment /
    quota method; Hamilton 1792, the same scheme behind seat allocation
    and stratified-quota sampling).

    Exactness: remainder_i = K*c_i - floor_quota_i*N is the exact
    fractional part scaled by N — pure int64 (K*c_i <= 1e3 * corpus
    count; at 100 TB with 1e12 docs that is 1e15, inside int64), so the
    seat ranking is integer-deterministic in both engines; no float
    appears anywhere in the query.

    Scale: one map-side-combined count aggregate over the corpus to the
    source grain (~20 rows); the ranking window runs on that bounded
    facet table, never the corpus.

    Reference parity: no counterpart; §2.6 trainprep extension — the
    fourth member of the mixture/allocation family (uniform target,
    temperature, water-filling, exact-quota).
    Registered on ROTATION_NEXT (round-10 window; post-sweep addition)."""
    docs = _t(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    t = s.agg(F.sum("n_docs").cast("long").alias("total"))
    q = s.crossJoin(F.broadcast(t)).select(
        "source",
        "n_docs",
        F.expr("1000 * n_docs DIV total").alias("floor_quota"),
        F.expr(
            "1000 * n_docs - (1000 * n_docs DIV total) * total"
        ).alias("remainder"),
    ).transform(pin)  # fan-out: leftover sum + seat ranking
    l = q.agg(
        F.expr("1000 - CAST(SUM(floor_quota) AS BIGINT)").alias("leftover")
    )
    w_seat = Window.orderBy(F.col("remainder").desc(), F.col("source"))
    r = q.select(
        "source",
        "n_docs",
        "floor_quota",
        "remainder",
        F.row_number().over(w_seat).cast("long").alias("rn"),
    )
    return r.crossJoin(F.broadcast(l)).select(
        "source",
        "n_docs",
        "floor_quota",
        "remainder",
        F.expr(
            "floor_quota + CASE WHEN rn <= leftover THEN 1 ELSE 0 END"
        ).alias("alloc"),
    )


# --- Deterministic systematic weighted sampling ------------------------------


@register(
    "systematic_weighted_sample_documents",
    """
    WITH w AS (
      SELECT doc_id, source, CAST(n_chars AS BIGINT) AS wt,
             CAST(SUM(n_chars) OVER (ORDER BY doc_id
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
             CAST(SUM(n_chars) OVER () AS BIGINT) AS total
      FROM documents
    )
    SELECT doc_id, source, wt,
           CAST((cum - wt) * 50 // total AS BIGINT) AS before_slot,
           CAST(cum * 50 // total AS BIGINT) AS after_slot
    FROM w
    WHERE (cum - wt) * 50 // total < cum * 50 // total
    """,
)
def systematic_weighted_sample_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT randomness: systematic
    (PPS) selection — lay documents on a line in stable doc_id order,
    each occupying its weight (n_chars) in length, and keep every
    document whose span crosses one of 50 equally spaced slot
    boundaries. Selection probability is proportional to weight, the
    sample is identical on every engine/rerun/retry (no rand(), no
    hash tuning), and heavy documents can span multiple slots (they
    are emitted once with their slot interval). The cross-boundary
    predicate floor(cum_before*K/total) < floor(cum_after*K/total) is
    pure int64 arithmetic.

    Scale: one cumulative-sum window. The global ORDER BY doc_id
    window is the textbook single-partition bottleneck at 100 TB — the
    production form partitions by shard and samples per shard (the
    per-source variant of pack_documents_token_budget), or computes
    per-partition offsets two-pass. At gate scale the single window is
    exact and cheap; the per-source twin is what you deploy.

    Rotated into the round-6 gate window (pre-sweep addition)."""
    docs = load_table(spark, sf_dir, "documents")
    wcum = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    w = docs.select(
        "doc_id",
        "source",
        F.col("n_chars").cast("long").alias("wt"),
        F.sum("n_chars").over(wcum).cast("long").alias("cum"),
        F.sum("n_chars").over(wall).cast("long").alias("total"),
    )
    before = F.expr("(cum - wt) * 50 DIV total")
    after = F.expr("cum * 50 DIV total")
    return (
        w.withColumn("before_slot", before.cast("long"))
        .withColumn("after_slot", after.cast("long"))
        .filter(F.col("before_slot") < F.col("after_slot"))
        .select("doc_id", "source", "wt", "before_slot", "after_slot")
    )


# --- Feature hashing (the hashing trick) ---------------------------------------


@register(
    "feature_hashing_documents",
    f"""
    WITH tok AS (
      SELECT doc_id, unnest(list_filter(string_split_regex(
               trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), '\\s+'),
               x -> x != '')) AS term
      FROM documents
    ),
    h AS (
      SELECT doc_id,
             {sql_hex_to_int("substring(md5(term), 1, 4)", 4)} % 64 AS bucket,
             1 - 2 * ({sql_hex_to_int("substring(md5(term), 5, 1)", 1)} % 2)
               AS sign
      FROM tok
    ),
    v AS (
      SELECT doc_id, bucket, CAST(SUM(sign) AS BIGINT) AS weight
      FROM h GROUP BY doc_id, bucket
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(weight) AS BIGINT) AS net_weight,
           CAST(SUM(ABS(weight)) AS BIGINT) AS l1_weight
    FROM v GROUP BY bucket
    """,
)
def feature_hashing_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature hashing (the hashing trick, Weinberger et al. 2009): every
    token maps to one of 64 buckets by md5, with a +/-1 sign from an
    independent hash digit so collisions cancel in expectation — the
    fixed-width, vocabulary-free featurization that needs NO dictionary
    build, no vocab broadcast, and no second pass, which is exactly why
    it scales to 100 TB text where a learned vocabulary is itself a big-
    data problem. Per-(doc, bucket) signed weights are the sparse
    feature vectors; the gate pins the corpus-level per-bucket profile
    (docs touching the bucket, net signed weight, L1 mass) so every
    per-doc weight participates in the hash via the sums.

    Tokenization is byte-identical to inverted_index_documents
    (lower + whitespace collapse + split); bucket and sign replay on
    DuckDB through the same md5 digits.

    Plan: explode -> two keyed integer aggregations, UDF-free; the
    (doc, bucket) grouping is the same shuffle key family as the
    inverted index, map-side combined.

    Reference parity: no counterpart; §2.3 training-feature extension.

    Registered for the round-7 gate window (mid-round addition)."""
    from app_insights_generator_spark.operators import text as T

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.explode(
            F.filter(
                F.split(T.normalized_text(F.col("text")), r"\s+"),
                lambda t: t != F.lit(""),
            )
        ).alias("term"),
    )
    md5 = F.md5("term")
    h = tok.select(
        "doc_id",
        (F.conv(F.substring(md5, 1, 4), 16, 10).cast("long") % 64).alias(
            "bucket"
        ),
        (
            F.lit(1)
            - 2 * (F.conv(F.substring(md5, 5, 1), 16, 10).cast("long") % 2)
        ).alias("sign"),
    )
    v = h.groupBy("doc_id", "bucket").agg(
        F.sum("sign").cast("long").alias("weight")
    )
    return v.groupBy(F.col("bucket").cast("long").alias("bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("weight").cast("long").alias("net_weight"),
        F.sum(F.abs("weight")).cast("long").alias("l1_weight"),
    )


# --- Leave-one-out target encoding (ML feature prep) --------------------------


@register(
    "target_encoding_orders",
    """
    WITH x AS (
      SELECT o_orderkey, o_orderpriority,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c
      FROM orders
    ),
    g AS (
      SELECT o_orderpriority,
             CAST(SUM(c) AS BIGINT) AS sum_c,
             COUNT(*) AS n
      FROM x GROUP BY o_orderpriority
    )
    SELECT x.o_orderkey, x.o_orderpriority,
           CAST(g.sum_c - x.c AS BIGINT) AS loo_num_cents,
           CAST(g.n - 1 AS BIGINT) AS loo_den,
           CAST(g.sum_c - x.c AS DOUBLE) / (g.n - 1) AS loo_mean_cents
    FROM x JOIN g USING (o_orderpriority)
    WHERE g.n > 1
    """,
)
def target_encoding_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding — the standard high-cardinality
    categorical feature for tabular training data: each order's priority
    is encoded as the mean order value of every OTHER order with that
    priority, (sum - x) / (n - 1), which removes the row's own target
    from its feature (the leakage the naive group-mean encoding has).

    Exactness: numerator and denominator are exact integers (cents sum
    minus the row's own cents; count minus one) and the mean is their
    single IEEE division — the two-exact-ints-divided discipline of
    queries/_exact.py, drift-proof across engines.

    Plan: aggregate-then-BROADCAST-join, deliberately NOT a window over
    the raw rows — a window partitioned by a 5-value category would
    funnel 100 TB through 5 reducer tasks, while the group-stats table
    is 5 rows broadcast back over an embarrassingly parallel map join
    (plan-guarded: BroadcastHashJoin, zero window exchanges on the fact
    side).

    Reference parity: no counterpart; §2.3 training-feature extension
    alongside pit_features_purchases.

    Registered for the round-7 gate window (mid-round addition)."""
    orders = load_table(spark, sf_dir, "orders")
    x = orders.select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("c"),
    )
    g = x.groupBy("o_orderpriority").agg(
        F.sum("c").cast("long").alias("sum_c"),
        F.count(F.lit(1)).alias("n"),
    )
    return (
        x.join(F.broadcast(g), "o_orderpriority")
        .filter(F.col("n") > 1)
        .select(
            "o_orderkey",
            "o_orderpriority",
            (F.col("sum_c") - F.col("c")).cast("long").alias("loo_num_cents"),
            (F.col("n") - 1).cast("long").alias("loo_den"),
            (
                (F.col("sum_c") - F.col("c")).cast("double")
                / (F.col("n") - 1)
            ).alias("loo_mean_cents"),
        )
    )


# --- Weighted reservoir sampling (Efraimidis-Spirakis A-ES) -------------------


@register(
    "weighted_reservoir_sample_documents",
    f"""
    WITH h AS (
      SELECT doc_id, CAST(n_chars AS BIGINT) AS weight,
             {sql_hex_to_int("substring(sha256(CAST(doc_id AS VARCHAR)), 1, 12)", 12)}
               AS h48
      FROM documents WHERE n_chars > 0
    ),
    k AS (
      SELECT doc_id, weight,
             ln((h48 + 1.0) / 281474976710656.0) / weight AS lnkey
      FROM h
    )
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY lnkey DESC, doc_id) AS BIGINT)
             AS rank,
           doc_id, weight
    FROM k
    ORDER BY lnkey DESC, doc_id
    LIMIT 20
    """,
)
def weighted_reservoir_sample_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Weighted reservoir sampling, the one-pass top-k formulation
    (Efraimidis & Spirakis 2006, A-ES): each document draws a key
    u^(1/w) — equivalently ln(u)/w, compared in log space to avoid
    underflow — and the sample is the k largest keys. Heavier documents
    get stochastically larger keys, so inclusion probability is the
    weighted one, yet selection needs NO coordination: any worker can
    score its rows independently and only k candidates per partition
    survive to the driver.

    Determinism: u is not rand() but the 48-bit sha256 prefix of doc_id
    mapped to (0,1] — the same reproducibility discipline as
    train_val_test_split / shard_shuffle, so the sample is identical
    across engines, reruns, and cluster sizes, and the oracle replays it
    exactly. The float lnkey exists only for ORDERING (never emitted);
    with corpus-scale key gaps a last-ulp libm divergence between
    engines cannot reorder ranks.

    Scale: ORDER BY lnkey LIMIT k compiles to TakeOrderedAndProject —
    per-partition top-k then a k*n_partitions driver merge, NO global
    sort, no shuffle of the corpus (plan-guarded in tests/test_plans.py).
    This is the complement of systematic_weighted_sample_documents: PPS
    picks a size-proportional panel with a cumulative window; A-ES
    answers 'give me k weighted-random docs' in one embarrassingly
    parallel pass.

    Reference parity: no counterpart (main.py has no sampling surface);
    SURVEY §2.3 sampling-family extension.

    Registered for the round-7 gate window (mid-round addition)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    h48 = F.conv(
        F.substring(F.sha2(F.col("doc_id").cast("string"), 256), 1, 12), 16, 10
    ).cast("double")
    keyed = docs.select(
        "doc_id",
        F.col("n_chars").cast("long").alias("weight"),
        (F.log((h48 + F.lit(1.0)) / F.lit(281474976710656.0)) / F.col("n_chars"))
        .alias("lnkey"),
    )
    top = keyed.orderBy(F.desc("lnkey"), "doc_id").limit(20)
    w = Window.orderBy(F.desc("lnkey"), "doc_id")
    return top.select(
        F.row_number().over(w).cast("long").alias("rank"), "doc_id", "weight"
    )


# --- LM pretraining chunker: global token stream -> fixed blocks ---------------

_CHUNK_BLOCK = 128


@register(
    "chunk_spans_documents",
    f"""
    WITH t AS (SELECT doc_id, source,
                      len(string_split(trim(text), ' ')) AS n_tokens
               FROM documents),
    o AS (SELECT source, doc_id, n_tokens,
                 CAST(SUM(n_tokens + 1) OVER (PARTITION BY source ORDER BY doc_id
                                              ROWS UNBOUNDED PRECEDING)
                  - (n_tokens + 1) AS BIGINT) AS off
          FROM t WHERE n_tokens >= 1)
    SELECT source,
           CAST(b.b AS BIGINT) AS block_id,
           doc_id,
           GREATEST(off, b.b * {_CHUNK_BLOCK}) - b.b * {_CHUNK_BLOCK} AS lo,
           LEAST(off + n_tokens, (b.b + 1) * {_CHUNK_BLOCK})
             - b.b * {_CHUNK_BLOCK} AS hi
    FROM o, UNNEST(generate_series(off // {_CHUNK_BLOCK},
                                   (off + n_tokens - 1) // {_CHUNK_BLOCK})) AS b(b)
    """,
)
def chunk_spans_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LM-pretraining data loader shape: concatenate each shard's
    documents (doc_id order, one EOS token between docs) into a token
    stream and cut it into fixed {_CHUNK_BLOCK}-token training blocks,
    emitting the (block, doc) span map — [lo, hi) token positions of
    each document inside each block it touches — i.e. exactly the
    attention-boundary metadata a doc-masked pretraining run needs.

    The global-concatenation problem is a PREFIX SUM, not a collect:
    each document's stream offset comes from one running-sum window
    (partitioned by source, so shards chunk independently and in
    parallel — the same serialization argument as
    pack_documents_token_budget), after which every (doc, block)
    overlap row is pure integer arithmetic exploded JVM-side
    (sequence() over the block range). No driver state, no Python, one
    shuffle for the window; block boundaries fall mid-document and the
    span map says exactly where.

    Registered for the round-7 gate window (post-sweep addition)."""
    docs = _t(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        "source",
        F.size(F.split(F.trim(F.col("text")), " ")).cast("bigint").alias("n_tokens"),
    ).filter(F.col("n_tokens") >= 1)
    run = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    o = t.withColumn(
        "off",
        (F.sum(F.col("n_tokens") + 1).over(run) - (F.col("n_tokens") + 1)).cast(
            "bigint"
        ),
    )
    B = _CHUNK_BLOCK
    return o.select(
        "source",
        F.explode(
            F.sequence(
                F.expr(f"off DIV {B}"), F.expr(f"(off + n_tokens - 1) DIV {B}")
            )
        ).alias("block_id"),
        "doc_id",
        "off",
        "n_tokens",
    ).select(
        "source",
        "block_id",
        "doc_id",
        F.expr(f"GREATEST(off, block_id * {B}) - block_id * {B}").alias("lo"),
        F.expr(f"LEAST(off + n_tokens, (block_id + 1) * {B}) - block_id * {B}").alias(
            "hi"
        ),
    )


# --- Leakage-safe split: duplicate groups never straddle splits ----------------


@register(
    "leakage_safe_split_documents",
    f"""
    WITH f AS (
      SELECT doc_id,
             sha256(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
      FROM documents
    ),
    g AS (
      SELECT doc_id, fp,
             COUNT(*) OVER (PARTITION BY fp) AS group_n
      FROM f
    )
    SELECT doc_id,
           CAST(group_n AS BIGINT) AS group_n,
           CASE WHEN {_sha_bucket_sql('fp', 100)} < 80 THEN 'train'
                WHEN {_sha_bucket_sql('fp', 100)} < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM g
    """,
)
def leakage_safe_split_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP-AWARE train/val/test split: the split key is the sha256
    content fingerprint of the NORMALIZED text, not the doc_id — so
    exact duplicates (and, swapping the fingerprint for a near-dup
    component id from dedup_components, near-duplicates) land in the
    SAME split by construction. This closes the evaluation-leakage hole
    the plain id-hash split (train_val_test_split_documents) leaves
    open: two copies of one document split across train and test score
    as memorization, not generalization. Assignment is still
    content-deterministic — no seed, row order, or partitioning
    dependence — so dataset-version reruns keep every decision.

    The gate's witness is the FULL per-document assignment plus each
    document's duplicate-group size: both engines must agree on every
    fingerprint, group count, and bucket. Scale: one fingerprint
    projection (map-side), one window keyed on the 64-hex fingerprint
    (fine-grained keys, the exact-dedup shuffle class), zero joins.

    Reference parity: no counterpart; §2.3 sampling/split extension
    alongside train_val_test_split_documents (the id-hash form).

    Registered as a round-8 rotation candidate (post-sweep addition)."""
    from app_insights_generator_spark.operators import text as T

    docs = load_table(spark, sf_dir, "documents")
    f = docs.select(
        "doc_id", F.sha2(T.normalized_text(F.col("text")), 256).alias("fp")
    )
    g = f.select(
        "doc_id",
        "fp",
        F.count(F.lit(1))
        .over(Window.partitionBy("fp"))
        .cast("long")
        .alias("group_n"),
    )
    bucket = (
        F.conv(F.substring(F.sha2(F.col("fp"), 256), 1, 4), 16, 10).cast("int")
        % 100
    )
    return g.select(
        "doc_id",
        "group_n",
        F.when(bucket < 80, "train")
        .when(bucket < 90, "val")
        .otherwise("test")
        .alias("split"),
    )


# --- Exact next-fit context-window packing (stateful twin of the relational
# start-offset packer above) ------------------------------------------------


@register(
    "pack_next_fit_documents",
    f"""
    WITH RECURSIVE base AS (
      SELECT doc_id, doc_id // 500 AS shard,
             len(string_split(trim(text), ' ')) AS n,
             ROW_NUMBER() OVER (PARTITION BY doc_id // 500
                                ORDER BY doc_id) AS rn
      FROM documents
    ),
    pack AS (
      SELECT shard, rn, n, CAST(0 AS BIGINT) AS win, n AS fill
      FROM base WHERE rn = 1
      UNION ALL
      SELECT d.shard, d.rn, d.n,
             CASE WHEN p.fill + d.n <= {_PACK_BUDGET} THEN p.win
                  ELSE p.win + 1 END,
             CASE WHEN p.fill + d.n <= {_PACK_BUDGET} THEN p.fill + d.n
                  ELSE d.n END
      FROM pack p JOIN base d ON d.shard = p.shard AND d.rn = p.rn + 1
    )
    SELECT shard, win,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n) AS BIGINT) AS fill_tokens,
           CAST(GREATEST({_PACK_BUDGET} - SUM(n), 0) AS BIGINT) AS waste_tokens
    FROM pack GROUP BY shard, win
    """,
)
def pack_next_fit_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT next-fit context-window packing — the stateful twin of
    pack_documents_token_budget. The relational packer assigns a document
    to the window its START offset falls in, so windows can overflow the
    budget; next-fit never overflows (a document that does not fit in the
    current window's remainder OPENS a new window; only a single
    over-budget document can exceed it, alone). That carry-dependent
    reset makes next-fit a true sequential recurrence — not expressible
    as a window function — so it runs as an Arrow-batched grouped-map
    (applyInPandas) over 500-document shards, each packed independently:
    the distributed shape is one shuffle on shard, a tiny O(shard-size)
    Python loop per group (the recurrence is data-dependent, so no numpy
    prefix trick applies), and millions of shards pack in parallel at
    100 TB. The oracle reproduces the recurrence with a RECURSIVE CTE
    (one row per shard per step — the first recursive-CTE oracle in the
    registry), pinning Spark's stateful loop against a second engine's.

    Output per (shard, window): docs packed, fill, and waste tokens —
    the padding-efficiency numbers a pretraining batch builder reports.

    Reference parity: no counterpart; §2.2 LLM-prep extension.
    Registered on ROTATION_NEXT (round-9 window; post-sweep addition)."""
    import pandas as pd

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr("doc_id DIV 500").alias("shard"),
        F.size(F.split(F.trim(F.col("text")), " ")).cast("bigint").alias("n"),
    )

    budget = _PACK_BUDGET

    def _next_fit(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id")
        shard = int(pdf["shard"].iloc[0])
        wins: list[list[int]] = []  # [n_docs, fill]
        for n in pdf["n"].astype("int64"):
            if wins and wins[-1][1] + n <= budget:
                wins[-1][0] += 1
                wins[-1][1] += int(n)
            else:
                wins.append([1, int(n)])
        return pd.DataFrame(
            {
                "shard": shard,
                "win": range(len(wins)),
                "n_docs": [w[0] for w in wins],
                "fill_tokens": [w[1] for w in wins],
                "waste_tokens": [max(budget - w[1], 0) for w in wins],
            }
        )

    return docs.groupBy("shard").applyInPandas(
        _next_fit,
        "shard long, win long, n_docs long, fill_tokens long, waste_tokens long",
    )


@register(
    "pack_next_fit_sql_documents",
    f"""
    WITH RECURSIVE base AS (
      SELECT doc_id, doc_id // 25 AS shard,
             len(string_split(trim(text), ' ')) AS n,
             ROW_NUMBER() OVER (PARTITION BY doc_id // 25
                                ORDER BY doc_id) AS rn
      FROM documents
    ),
    pack AS (
      SELECT shard, rn, n, CAST(0 AS BIGINT) AS win, n AS fill
      FROM base WHERE rn = 1
      UNION ALL
      SELECT d.shard, d.rn, d.n,
             CASE WHEN p.fill + d.n <= {_PACK_BUDGET} THEN p.win
                  ELSE p.win + 1 END,
             CASE WHEN p.fill + d.n <= {_PACK_BUDGET} THEN p.fill + d.n
                  ELSE d.n END
      FROM pack p JOIN base d ON d.shard = p.shard AND d.rn = p.rn + 1
    )
    SELECT shard, win,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n) AS BIGINT) AS fill_tokens,
           CAST(GREATEST({_PACK_BUDGET} - SUM(n), 0) AS BIGINT) AS waste_tokens
    FROM pack GROUP BY shard, win
    """,
)
def pack_next_fit_sql_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PURE-SQL twin of pack_next_fit_documents: the same next-fit
    recurrence expressed with Spark 4's WITH RECURSIVE (SPARK-24497)
    instead of a grouped-map — each recursion step advances every shard
    one document (one hash join per level), so this pins Spark's
    recursive-CTE engine against DuckDB's on a STATEFUL carry, not just
    the tree walk recursive_cte_part_hierarchy covers. Shards are 25
    documents here (vs the grouped-map twin's 500) because recursion
    DEPTH is the wall-clock driver (~0.6s per level: each level is a
    planned join stage; measured 66s at depth 100 vs ~18s at depth 25
    for identical semantics); the session recursion-level limit
    (spark.sql.cteRecursionLevelLimit, default 100) is raised for
    headroom.

    Scale judgment, honestly: at 100 TB the grouped-map form WINS — one
    shuffle + a per-shard loop beats depth-many join stages; this twin
    exists for SQL-surface parity (users porting recursive packing SQL)
    and as a second independent engine check on the same recurrence
    (both twins' oracles share the recursion, so a Spark grouped-map
    bug and a Spark recursion bug cannot cancel).

    Registered on ROTATION_NEXT (round-9 window; post-sweep addition)."""
    # Raise the recursion-depth limit for THIS plan only, then restore the
    # session default (ADVICE r08: spark.conf.set as a plan-build side
    # effect leaked the raised limit to every later query in the session).
    # The limit is consulted at planning time, so set-around-spark.sql()
    # scopes it correctly; restoration is try/finally'd against plan errors.
    prior = spark.conf.get("spark.sql.cteRecursionLevelLimit", None)
    spark.conf.set("spark.sql.cteRecursionLevelLimit", 200)
    # Materialize the tokenized+ranked base ONCE: as a plain CTE it would
    # be re-evaluated (tokenization + window) at every recursion level.
    docs = _t(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        F.expr("doc_id DIV 25").alias("shard"),
        F.expr("CAST(size(split(trim(text), ' ')) AS BIGINT)").alias("n"),
        F.row_number()
        .over(Window.partitionBy(F.expr("doc_id DIV 25")).orderBy("doc_id"))
        .alias("rn"),
    ).transform(pin)
    base.createOrReplaceTempView("_nf_base")
    try:
        return spark.sql(
            f"""
            WITH RECURSIVE base AS (SELECT * FROM _nf_base),
            pack(shard, rn, n, win, fill) AS (
              SELECT shard, rn, n, CAST(0 AS BIGINT), n FROM base WHERE rn = 1
              UNION ALL
              SELECT d.shard, d.rn, d.n,
                     CASE WHEN p.fill + d.n <= {_PACK_BUDGET} THEN p.win
                          ELSE p.win + 1 END,
                     CASE WHEN p.fill + d.n <= {_PACK_BUDGET} THEN p.fill + d.n
                          ELSE d.n END
              FROM pack p JOIN base d ON d.shard = p.shard AND d.rn = p.rn + 1
            )
            SELECT shard, win,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(n) AS BIGINT) AS fill_tokens,
                   CAST(GREATEST({_PACK_BUDGET} - SUM(n), 0) AS BIGINT)
                     AS waste_tokens
            FROM pack GROUP BY shard, win
            """
        )
    finally:
        # Depth here is 25 (one level per document in a 25-doc shard), so
        # the restored session default of 100 still covers execution even
        # though the recursion runs lazily after this returns.
        if prior is None:
            spark.conf.unset("spark.sql.cteRecursionLevelLimit")
        else:
            spark.conf.set("spark.sql.cteRecursionLevelLimit", prior)


# --- Quantile normalization of doc lengths across sources ------------------------


@register(
    "quantile_normalize_doclen_sources",
    """
    WITH total AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
    pooled AS (
      SELECT CAST(n_chars AS BIGINT) AS v,
             CAST(ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS BIGINT) AS pos
      FROM documents
    ),
    within AS (
      SELECT doc_id, source, CAST(n_chars AS BIGINT) AS v,
             CAST(ROW_NUMBER() OVER (PARTITION BY source
                                     ORDER BY n_chars, doc_id) AS BIGINT) AS rn,
             CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS ns
      FROM documents
    ),
    targeted AS (
      SELECT w.doc_id, w.source, w.v,
             CASE WHEN w.ns >= 2
                  THEN 1 + (w.rn - 1) * (t.n - 1) // (w.ns - 1)
                  ELSE 1 + (t.n - 1) // 2 END AS target_pos
      FROM within w CROSS JOIN total t
    ),
    mapped AS (
      SELECT g.doc_id, g.source, g.v,
             p.v AS v_norm
      FROM targeted g
      JOIN pooled p ON p.pos = g.target_pos
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(v) AS BIGINT) AS sum_before,
           CAST(SUM(v_norm) AS BIGINT) AS sum_after,
           CAST(MAX(ABS(v_norm - v)) AS BIGINT) AS max_abs_shift
    FROM mapped GROUP BY source
    """,
)
def quantile_normalize_doclen_sources(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Quantile normalization of the document-length distribution across
    sources — each source's lengths are remapped onto the POOLED
    distribution at the same within-source quantile (the genomics
    batch-effect correction, used in data prep to align per-shard score
    or length distributions before a global threshold is applied, so no
    source is over-filtered just because its crawler truncates
    differently). Mapping: within-source rank rn of n_s maps to pooled
    position 1 + (rn-1)(N-1) DIV (n_s-1) (exact lower interpolation);
    singleton sources take the pooled median position. The gate pins
    per-source (n, sum-before, sum-after, max shift) so every mapped
    value participates via exact integer sums.

    Exactness: ranks, the position arithmetic, and all aggregates are
    int64; ties are totally ordered by (value, doc_id) in both engines.

    Plan: one global window over the pooled order (single-partition but
    CARRIES only (v, pos) — at 100 TB this becomes the standard
    two-pass distributed ranking: per-partition counts then offset
    join, or an approx-quantile grid; documented, the equidepth
    discipline) + one per-source window; the 1-row corpus count is
    broadcast-cross-joined onto the within side so target_pos is
    computable there alone, and the map back to pooled is a true
    EQUI-join on pos == target_pos (shuffled hash/sort-merge join, one
    shuffle). ADVICE r09 item 1: the previous form referenced pooled's
    n inside the CASE, which Catalyst could only plan as a
    BroadcastNestedLoopJoin broadcasting the corpus-sized pooled table
    — O(|within|x|pooled|). Plan-guarded in tests/test_plans.py.

    Reference parity: no counterpart; §2.6 trainprep extension — the
    distribution-ALIGNMENT member next to the samplers and mixers.
    Registered on ROTATION_NEXT (round-10 window; post-sweep addition)."""
    docs = _t(spark, sf_dir, "documents")
    total = docs.agg(F.count(F.lit(1)).cast("long").alias("n"))
    pooled = docs.select(
        F.col("n_chars").cast("long").alias("pv"),
        F.row_number()
        .over(Window.orderBy("n_chars", "doc_id"))
        .cast("long")
        .alias("pos"),
    )
    within = docs.select(
        "doc_id",
        "source",
        F.col("n_chars").cast("long").alias("v"),
        F.row_number()
        .over(Window.partitionBy("source").orderBy("n_chars", "doc_id"))
        .cast("long")
        .alias("rn"),
        F.count(F.lit(1))
        .over(Window.partitionBy("source"))
        .cast("long")
        .alias("ns"),
    )
    targeted = within.crossJoin(F.broadcast(total)).select(
        "doc_id",
        "source",
        "v",
        F.expr(
            "CASE WHEN ns >= 2"
            " THEN 1 + (rn - 1) * (n - 1) DIV (ns - 1)"
            " ELSE 1 + (n - 1) DIV 2 END"
        ).alias("target_pos"),
    )
    mapped = targeted.join(pooled, targeted.target_pos == pooled.pos)
    return mapped.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("v").cast("long").alias("sum_before"),
        F.sum("pv").cast("long").alias("sum_after"),
        F.max(F.abs(F.expr("pv - v"))).cast("long").alias("max_abs_shift"),
    )
