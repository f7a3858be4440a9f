"""Combination sweep: all 2^n - 1 grouping sets over the insight columns.

Two modes with identical output semantics:

- ``sweep_loop`` — faithful port of the reference's Python combination loop
  (get_insights_from_df_with_possible_combinations_parallely,
  main.py:328-361): ``itertools.combinations`` per size, batches of <=128
  aggregation subtrees unioned into one job. Kept as the golden-fidelity
  mode; O(2^n) passes over the input.

- ``sweep_grouping_sets`` — the Spark-native rewrite (SURVEY.md §4.3): ONE
  aggregation using ``cube``/``groupingSets``. Only wanted sets reach the
  post-filter: the chunked path enumerates exactly the sets of size
  1..max_combo_size, and the cube path drops the grand total (the reference
  sweeps k>=1) with one ``grouping_id`` comparison. The post-filter
  (``_keep``) is the threshold plus per-set NULL rejection (== the
  reference's pre-agg isNotNull, main.py:288). It does no arithmetic over
  the grouping flags: ``PruneFilters`` infers constraints from it through
  the Expand, and a sum of 14 ``CASE WHEN`` flag terms cost 4-9 s of
  planning per 105-set sweep (tests/test_playstore_fidelity.py guards it).
  Scale design: before the cube, the input is PRE-AGGREGATED to one row per
  distinct key tuple (bucketing collapses cardinality enormously at 100 TB),
  so the Expand operator's 2^n fan-out applies to the distinct-tuple table,
  not the raw rows. count = sum of pre-counts, min(display) = min of
  pre-mins. ``expand_batch_size`` additionally splits the grouping sets into
  chunks so each job's Expand factor is bounded.

Both native sweeps pin their (tiny, thresholded) result so the caches
feeding it can be released. The pin is ``checkpointing.pin``: a local
checkpoint by default, whose blocks are lost with their executor; a
reliable one when the session sets ``spark.checkpoint.dir``, which is
what a cluster with dynamic allocation or spot instances (the reference's
own EMR config, main.py:134) should do.
"""

from __future__ import annotations

import contextlib
import itertools
import time
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from app_insights_generator_spark.config import InsightsConfig
from app_insights_generator_spark.operators import checkpointing
from app_insights_generator_spark.operators.insights import (
    INSIGHT_DELIM,
    format_value,
    insight_query,
    qcol,
    threshold_count,
)


#: Expand-output volume (tuples x grouping sets) below which interpreted
#: expression evaluation beats whole-stage codegen for grouping-set jobs:
#: a many-set Expand emits one generated projection per set, so Janino
#: COMPILATION dominates small-volume jobs (round 12 thread dumps; synthetic
#: 1,024-set cube over 2,550 rows: 6.0s codegen -> 1.5s interpreted).
#: Shared by the sweep_apriori bailout (round 12) and the chunked exhaustive
#: path (round 13 — order-balanced warm A/B on the sf0.01 1,023-set
#: exhaustive cube: 28.6/25.5/28.2s -> 25.5/25.6/26.5s, cold ~1.35x). Both
#: run >40-set chunks, past the Expand codegen cliff; the <=40-set Apriori
#: level chunks measured FASTER compiled and deliberately stay on codegen.
_INTERPRETED_VOLUME_CAP = 20_000_000


@contextlib.contextmanager
def _interpreted_eval(spark):
    """Run the enclosed EAGER evaluation with interpreted expression eval
    (``codegen.factoryMode=NO_CODEGEN`` + ``wholeStage=false``), restoring
    the previous values on exit.

    NOTE (ADVICE r12): these are SESSION-level SQL confs — any query
    executing concurrently on the same SparkSession during the window also
    runs interpreted, and overlapping toggles on one session can restore
    each other's values out of order. The engine's entry points (driver
    gate, bench, sweeps) run queries strictly sequentially per session, so
    this is safe here; a concurrent-scheduler deployment should either run
    sweeps on ``spark.newSession()`` (SQL confs are per-session) or take a
    lock around the toggle."""
    prev_factory = spark.conf.get("spark.sql.codegen.factoryMode", "FALLBACK")
    prev_wscg = spark.conf.get("spark.sql.codegen.wholeStage", "true")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.codegen.factoryMode", prev_factory)
        spark.conf.set("spark.sql.codegen.wholeStage", prev_wscg)


def all_combinations(cfg: InsightsConfig, cols: Sequence[str] | None = None):
    cols = list(cols or cfg.agg_cols)
    for size in cfg.combo_sizes():
        if size > len(cols):
            break
        yield from itertools.combinations(cols, size)


def union_all(dfs: Sequence[DataFrame]) -> DataFrame:
    """Linear union tree; Catalyst CombineUnions flattens it
    (reference union_all_dfs, main.py:318-325)."""
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionAll(d)
    return out


def sweep_loop(
    df: DataFrame,
    cfg: InsightsConfig,
    cols: Sequence[str] | None = None,
    total_count: int | None = None,
    batch_size: int = 128,
) -> list[DataFrame]:
    """Faithful mode: one lazy DataFrame per batch of <=``batch_size``
    combinations (reference main.py:345-358, default_parallelism=128).

    Returns the batch DataFrames; callers either write each (reference
    behavior) or union them all for a single result.
    """
    if total_count is None:
        total_count = df.count()
    combos = list(all_combinations(cfg, cols))
    batches = []
    for i in range(0, len(combos), batch_size):
        chunk = combos[i : i + batch_size]
        batches.append(union_all([insight_query(df, c, cfg, total_count) for c in chunk]))
    return batches


def sweep_loop_df(
    df: DataFrame,
    cfg: InsightsConfig,
    cols: Sequence[str] | None = None,
    total_count: int | None = None,
) -> DataFrame:
    """Faithful mode as a single unioned DataFrame (for oracle checks)."""
    return union_all(sweep_loop(df, cfg, cols, total_count, batch_size=1 << 20))


def _preaggregate(df: DataFrame, cols: Sequence[str], display: Sequence[str]) -> DataFrame:
    """Collapse the input to one row per distinct key tuple.

    At 100 TB this is THE load-bearing step: the cube's Expand fan-out then
    multiplies the distinct-tuple count (bounded by the product of bucket
    cardinalities), not the raw row count. Shuffles once on all key columns.
    """
    aggs = [F.min(qcol(v)).alias(v) for v in display]
    aggs.append(F.count(F.lit(1)).alias("_pre_count"))
    return df.groupBy(*[qcol(c) for c in cols]).agg(*aggs)


def _adaptive_chunk_size(expand_rows: int) -> int:
    """Grouping sets per aggregation job, chosen by the volume the Expand
    actually multiplies — the PRE-AGGREGATED distinct-tuple table's row
    count, NOT the raw input count (round-4 fix: the 1,023-set sweep over
    a compressible distribution pre-aggregates 600k raw rows to ~2.5k
    tuples; keying the decision on the raw count picked 40-set chunks and
    spent the whole sweep on ~26 jobs' fixed overhead per level — 38s vs
    7s at sf0.1 after the fix).

    Two regimes, both measured on the 1,023-set wide sweep in fresh
    sessions: at 600k Expand-input rows 40-set chunks win (16.4s vs 24.0s
    with 256 — a wide Expand leaves the whole-stage-codegen fast path and
    the per-row penalty dominates); at 60k rows 256-set chunks win (15.7s
    vs 25.5s — each chunk's ~1s Janino compile dominates tiny data, so
    fewer jobs beat faster rows). Crossover sits around 1-2e5 rows; at
    100 TB a HIGH-cardinality pre-agg is in the 40-set regime, while a
    compressible one stays in the few-big-chunks regime no matter how
    large the raw input — the tuple table is what Expand sees.
    """
    return 40 if expand_rows > 150_000 else 256


def _keep(cols: Sequence[str], t: int) -> Column:
    """Per-set output predicate over a grouping-sets aggregate: the group
    reaches the threshold ``t`` and none of its grouped columns is NULL
    (``_g{i} == 1`` means column i is not in the row's set). One comparison
    per column and nothing summed over the flags, so Catalyst's constraint
    inference stays cheap (see the module docstring)."""
    keep = F.col("count") >= F.lit(t)
    for i, c in enumerate(cols):
        keep = keep & ((F.col(f"_g{i}") == 1) | qcol(c).isNotNull())
    return keep


def _render(g: DataFrame, cols: Sequence[str], cfg: InsightsConfig) -> DataFrame:
    """One Insights string per row, fields in the reference's order
    (main.py:292-312): non-ID grouping cols, the ID cols' display cols, the
    bare count. Columns outside the row's set render NULL; concat_ws skips
    them."""
    active = {c: F.col(f"_g{i}") == 0 for i, c in enumerate(cols)}
    fields = [F.when(active[c], format_value(c, cfg)) for c in cols if c not in cfg.id_cols]
    fields += [
        F.when(active[c], format_value(v, cfg))
        for c in cols
        if c in cfg.id_cols
        for v in cfg.id_to_value[c]
    ]
    fields.append(F.col("count"))
    return g.select(F.concat_ws(INSIGHT_DELIM, *fields).alias("Insights"))


def sweep_grouping_sets(
    df: DataFrame,
    cfg: InsightsConfig,
    cols: Sequence[str] | None = None,
    total_count: int | None = None,
    preaggregate: bool = True,
    expand_batch_size: int | str | None = None,
    _base: DataFrame | None = None,
) -> DataFrame:
    """Native mode -> DataFrame[Insights], semantics identical to sweep_loop.

    ``expand_batch_size``: max grouping sets per aggregation job; None means
    a single ``cube`` (fan-out 2^n) when no combo-size cap applies, and
    ``"auto"`` picks the volume-adaptive chunk size (_adaptive_chunk_size).
    With pre-aggregation on bucketed data the cube is usually fine for
    n<=14; batching bounds worst-case memory.

    ``_base``: an ALREADY-persisted pre-aggregated tuple table (the
    _preaggregate shape, `_pre_count` included) — sweep_apriori hands its
    own pre-agg over when it bails out to exhaustive mode, so the input is
    never scanned twice. Implies ``preaggregate`` semantics.
    """
    cols = list(cols or cfg.agg_cols)

    display = [v for c in cols if c in cfg.id_cols for v in cfg.id_to_value[c]]

    if _base is not None:
        preaggregate = True
        base = _base
    else:
        base = _preaggregate(df, cols, display) if preaggregate else df
    count_expr = F.sum("_pre_count") if preaggregate else F.count(F.lit(1))

    # Threshold denominator: when no count is supplied, derive it from the
    # persisted pre-aggregation (sum of per-tuple counts == raw row count)
    # instead of a separate df.count() — that second action was a SECOND
    # full pass over the raw input, the thing pre-aggregation exists to
    # avoid. At 100 TB this halves the scan volume of the whole sweep.
    counted_from_base = False
    if total_count is None:
        if preaggregate:
            base = base.persist()
            counted_from_base = True
            total_count = (
                base.agg(F.sum("_pre_count").alias("n")).collect()[0]["n"] or 0
            )
        else:
            total_count = df.count()
    t = threshold_count(cfg, total_count)

    aggs = [F.min(qcol(v)).alias(v) for v in display]
    aggs.append(count_expr.cast("long").alias("count"))
    aggs.extend(F.grouping(qcol(c)).alias(f"_g{i}") for i, c in enumerate(cols))

    max_size = cfg.max_combo_size or len(cols)
    key_cols = [qcol(c) for c in cols]

    # A caller-provided _base arrives persisted: pin the result and release
    # the cache on the way out exactly as for a locally-persisted base.
    persisted_base = counted_from_base or _base is not None
    interp_small = False
    if expand_batch_size is None and max_size >= len(cols):
        # The grand total (every column grouped out) has grouping_id 2^n - 1.
        grouped = [
            base.cube(*key_cols)
            .agg(*aggs, F.grouping_id().alias("_gid"))
            .filter(F.col("_gid") != 2 ** len(cols) - 1)
        ]
    else:
        # With a combo-size cap, enumerate ONLY the wanted sets, so no set
        # needs filtering out: a full cube would Expand 2^n sets (2^14 =
        # 16,384 for the capped-at-2 Play-Store config wanting 105 — a ~150x
        # wasted fan-out). Chunk to stay on the Expand codegen fast path.
        sets = [list(c) for c in all_combinations(cfg, cols)]
        if expand_batch_size in (None, "auto"):
            # Chunk by what Expand multiplies: the pre-aggregated tuple
            # table (persist it first — the count below and every chunk
            # job reuse it), falling back to the raw count when the
            # caller disabled pre-aggregation.
            if preaggregate and not persisted_base:
                base = base.persist()
                persisted_base = True
            expand_rows = base.count() if preaggregate else total_count
            chunk_size = _adaptive_chunk_size(expand_rows)
        else:
            chunk_size = expand_batch_size
        if len(sets) > chunk_size and not persisted_base:
            # Several jobs will scan the pre-aggregated table; pay it once.
            base = base.persist()
            persisted_base = True
        # Evaluate interpreted when the total Expand volume is under the
        # bailout's cap AND chunks are past the ~40-set Expand codegen
        # cliff, where generated per-row code is slower and each chunk
        # compiles a fresh many-projection class (sf0.01 1,023-set cube,
        # 256-set chunks, order-balanced: 28.6/25.5/28.2s codegen ->
        # 25.5/25.6/26.5s interpreted). <=40-set chunks (the Apriori
        # levels) measured faster compiled. Only decidable when the tuple
        # count is known (auto mode).
        interp_small = (
            preaggregate
            and expand_batch_size in (None, "auto")
            and chunk_size > 40
            and expand_rows * len(sets) <= _INTERPRETED_VOLUME_CAP
        )
        grouped = [
            base.groupingSets([[qcol(c) for c in s] for s in chunk], *key_cols).agg(*aggs)
            for chunk in (
                sets[i : i + chunk_size] for i in range(0, len(sets), chunk_size)
            )
        ]

    result = union_all([_render(g.filter(_keep(cols, t)), cols, cfg) for g in grouped])
    if persisted_base:
        # Materialize once (the thresholded output is tiny next to the
        # input), then release the cached pre-aggregation — otherwise every
        # chunked sweep in a long-lived session leaks its cache.
        if interp_small:
            with _interpreted_eval(df.sparkSession):
                result = checkpointing.pin(result)
        else:
            result = checkpointing.pin(result)
        base.unpersist()
    return result


def sweep_apriori(
    df: DataFrame,
    cfg: InsightsConfig,
    cols: Sequence[str] | None = None,
    total_count: int | None = None,
    max_sets_per_job: int | None = None,
    level_stats: list[dict] | None = None,
) -> DataFrame:
    """Level-wise sweep with frequent-pattern (Apriori) pruning — output
    IDENTICAL to sweep_loop / sweep_grouping_sets.

    ``level_stats``: pass a list to receive one dict per executed level
    ({level, sets_evaluated, sets_survived, wall_sec}) — the pruning
    telemetry a 16,383-set production run is tuned from. Note the stats
    make the sweep EAGER per level (they already are: the survival bitmap
    is collected each level regardless).

    The support threshold is anti-monotone: every group of column set
    S ∪ {c} is a subset of some group of S restricted to rows non-null in
    c, so max group count can only shrink as columns are added. Hence if a
    set S has NO group reaching the threshold, no superset of S can emit
    any output row, and the classic Apriori candidate generation applies:
    level k+1 evaluates only sets whose every k-subset produced at least
    one qualifying group.

    Scale story (the reference's 16,383-set workload at 100 TB): a 2%
    support threshold kills most multi-column sets after 2–3 levels, so the
    2^n sweep collapses to a handful of level jobs, each a groupingSets
    aggregation over the pre-aggregated distinct-tuple table. Driver-side
    data is only the per-set survival bitmap (<= sets-per-level rows).
    Each level chunk is persisted — consumed twice (survival flags, final
    union), and recomputation, not memory, is the expensive resource at
    scale; every cache is released before returning, the final output
    pinned by one eager pin of the (tiny, thresholded) result.
    The survival flags of ALL chunks in a level are collected by a single
    unioned action, so Spark runs the chunk aggregations concurrently —
    level latency is the slowest chunk, not the chunk sum.

    ``max_sets_per_job`` caps the grouping sets per aggregation job; None
    picks the volume-adaptive size (_adaptive_chunk_size — 40 keeps big
    inputs on the Expand codegen fast path, 256 amortizes per-chunk
    compile cost on small ones). Measured (sf0.1, 363k distinct tuples): a
    105-set Expand runs ~3x slower per row than a 40-set one — past
    roughly 40 projection lists the generated Expand/aggregate code leaves
    the JIT-compiled fast path.
    """
    cols = list(cols or cfg.agg_cols)
    max_size = cfg.max_combo_size or len(cols)

    display = [v for c in cols if c in cfg.id_cols for v in cfg.id_to_value[c]]

    base = _preaggregate(df, cols, display).persist()
    # Threshold denominator from the persisted pre-aggregation, not a
    # separate df.count() — the count action was a second full pass over
    # the raw input (see sweep_grouping_sets). The denominator and the
    # tuple count come from ONE action (round 12: the follow-up count()
    # was a cached-scan job of its own — cheap, but pure per-job fixed
    # cost at any scale).
    stats_row = base.agg(
        F.sum("_pre_count").alias("n"), F.count(F.lit(1)).alias("m")
    ).collect()[0]
    n_tuples = stats_row["m"]
    if total_count is None:
        total_count = stats_row["n"] or 0

    # Exhaustive bailout for COMPRESSIBLE distributions: when the full
    # lattice's Expand volume over the tuple table is trivial, level-wise
    # iteration is pure overhead — ~n levels of (Janino compile + job +
    # survival collect) to prune work that was already cheap. One
    # exhaustive job computes the identical result (pruned sets emit no
    # qualifying rows by anti-monotonicity, the threshold filter drops
    # them). Caps: volume so the Expand output stays tiny, and set count
    # so a 2^14 lattice can never generate a 16k-projection plan.
    # Measured (sf0.1, 1,023 sets, 2.5k tuples): 20.6s level-wise ->
    # ~12s exhaustive cube.
    #
    # The bailout job runs with INTERPRETED expression evaluation
    # (round 12): thread dumps of the 1,024-set cube showed every worker
    # inside org.codehaus.janino.UnitCompiler — a 2^n-list Expand
    # generates one projection class per grouping set, blowing past the
    # 100-entry codegen cache, so Janino COMPILATION, not execution,
    # dominated the job (guide §7.3). Below the same 20M-row volume cap
    # that already defines "trivial Expand output", interpreted eval is
    # strictly cheaper than compiling (synthetic 1,024-set cube over
    # 2,550 rows: 6.0s codegen -> 1.5s interpreted per run; the real
    # lowcard sweep: 8.2s -> ~5s). Big-volume sweeps never enter this
    # branch and keep whole-stage codegen, where per-row speed wins.
    n_sets_full = sum(1 for _ in all_combinations(cfg, cols))
    if n_tuples * n_sets_full <= _INTERPRETED_VOLUME_CAP and n_sets_full <= 1100:
        with _interpreted_eval(df.sparkSession):
            return sweep_grouping_sets(
                df,
                cfg,
                cols,
                total_count=total_count,
                expand_batch_size=None,
                _base=base,
            )

    if max_sets_per_job is None:
        # Chunk by the pre-agg tuple count (what Expand multiplies), not
        # the raw total: base is already persisted and materialized by the
        # denominator action, so this count is a cached-scan no-op.
        max_sets_per_job = _adaptive_chunk_size(n_tuples)
    t = threshold_count(cfg, total_count)
    key_cols = [qcol(c) for c in cols]
    aggs = [F.min(qcol(v)).alias(v) for v in display]
    aggs.append(F.sum("_pre_count").cast("long").alias("count"))
    aggs.extend(F.grouping(qcol(c)).alias(f"_g{i}") for i, c in enumerate(cols))

    def level_dfs(sets: list[tuple[str, ...]]) -> list[DataFrame]:
        out = []
        for i in range(0, len(sets), max_sets_per_job):
            chunk = sets[i : i + max_sets_per_job]
            g = base.groupingSets(
                [[qcol(c) for c in s] for s in chunk], *key_cols
            ).agg(*aggs)
            out.append(g.filter(_keep(cols, t)).persist())
        return out

    out: list[DataFrame] = []
    persisted: list[DataFrame] = []
    current: list[tuple[str, ...]] = [(c,) for c in cols]
    k = 1
    while current and k <= max_size:
        level_t0 = time.time()
        chunks = level_dfs(current)
        persisted.extend(chunks)
        # Survival bitmap: which of this level's sets emitted >= 1 group.
        # ONE action for the whole level: unioning the per-chunk flag
        # projections makes Spark schedule every chunk's aggregation stage
        # concurrently inside a single job (they share the persisted base),
        # instead of running the <=40-set chunks back-to-back from the
        # driver — the level's wall-clock becomes the slowest chunk, not
        # the sum of chunks.
        #
        # Levels deliberately stay on CODEGEN (round 13, measured): the
        # level chunks are <= ~40 grouping sets (the _adaptive_chunk_size
        # high-card regime), which is on the Expand codegen fast path —
        # order-balanced interleaved A/Bs of per-level interpreted eval
        # read 1-2s SLOWER warm at sf0.1 (15.6/17.0/15.3 vs
        # 15.0/14.4/13.6 even with only the tiny levels interpreted) for
        # a first-run-only Janino saving. Interpreted eval pays only past
        # the >40-set cliff — the exhaustive bailout and the chunked
        # exhaustive path in sweep_grouping_sets, where it is applied.
        flag_rows = union_all(
            [
                g.select(*[F.col(f"_g{i}") for i in range(len(cols))]).distinct()
                for g in chunks
            ]
        ).distinct().collect()
        survivors = {
            frozenset(c for i, c in enumerate(cols) if row[f"_g{i}"] == 0)
            for row in flag_rows
        }
        out.extend(_render(g, cols, cfg) for g in chunks)
        prev = {frozenset(s) for s in current if frozenset(s) in survivors}
        if level_stats is not None:
            level_stats.append(
                {
                    "level": k,
                    "sets_evaluated": len(current),
                    "sets_survived": len(prev),
                    "wall_sec": round(time.time() - level_t0, 3),
                }
            )
        cand = {
            s | {c}
            for s in prev
            for c in cols
            if c not in s
        }
        current = sorted(
            (
                tuple(c for c in cols if c in s)
                for s in cand
                if all(s - {c} in prev for c in s)
            ),
        )
        k += 1
    if not out:
        base.unpersist()
        return df.sparkSession.createDataFrame([], "Insights string")
    # Materialize the final union from the still-cached level chunks, then
    # release every cache: the thresholded output is tiny next to the
    # input, and without this a long-lived session (the 100+-query oracle
    # gate, a notebook) accumulates one cached chunk per sweep.
    result = checkpointing.pin(union_all(out))
    base.unpersist()
    for g in persisted:
        g.unpersist()
    return result
