"""Combination sweep: all 2^n - 1 grouping sets over the insight columns.

Three modes with identical output semantics:

- ``sweep_loop`` — faithful port of the reference's Python combination loop
  (get_insights_from_df_with_possible_combinations_parallely,
  main.py:328-361): ``itertools.combinations`` per size, batches of <=128
  aggregation subtrees unioned into one job. Kept as the golden-fidelity
  mode; O(2^n) passes over the input.

- ``sweep_grouping_sets`` — the Spark-native rewrite (SURVEY.md §4.3): the
  input is PRE-AGGREGATED to one row per distinct key tuple (the tuple
  table; bucketing collapses cardinality enormously at 100 TB), and every
  wanted set is aggregated from it with ``cube``/``groupingSets``. The
  Expand's fan-out then multiplies the tuple count, not the raw row count:
  count = sum of pre-counts, min(display) = min of pre-mins.

- ``sweep_apriori`` — level-wise with support pruning over the same tuple
  table; when the whole lattice is small it runs the exhaustive plan below
  instead.

The exhaustive plan (``_exhaustive``) is picked from two facts only: the
number of wanted sets and the tuple count. A sweep is *small* when
tuples x sets <= 20M and sets <= 1,100.

- More than 64 sets and small: ONE job with interpreted expression
  evaluation. A many-set Expand emits one generated projection per set,
  so Janino compilation, not execution, dominates small volumes: a
  1,024-set cube over 2,550 tuples took 6.0 s compiled and 1.5 s
  interpreted; the sf0.01 1,023-set wide cube (14.7k tuples) took
  25.2-25.4 s as four compiled 256-set chunks and 17.7-19.2 s as one
  interpreted job. At 63 sets compiled still wins (sf0.1 lineitem cube,
  interpreting only the pin: 1.06-2.22 s compiled, 1.20-2.60 s
  interpreted), hence the 64.
- Otherwise compiled, in chunks of ``_adaptive_chunk_size(tuples)`` sets,
  so no uncapped 16,383-set sweep becomes one 16k-projection plan.
- A one-job sweep over all 2^n - 1 sets is spelled as a ``cube`` minus the
  grand total (``grouping_id() == 2^n - 1``); any other job enumerates
  exactly its sets with ``groupingSets``, so no set needs filtering out.

The post-filter (``_keep``) is the threshold plus per-set NULL rejection
(== the reference's pre-agg isNotNull, main.py:288). It does no arithmetic
over the grouping flags: ``PruneFilters`` infers constraints from it
through the Expand, and a sum of 14 ``CASE WHEN`` flag terms cost 4-9 s of
planning per 105-set sweep (tests/test_playstore_fidelity.py guards it).

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


#: Expand-output volume (tuples x grouping sets) and set count up to which a
#: sweep is small (see the module docstring).
_INTERPRETED_VOLUME_CAP = 20_000_000
_SMALL_MAX_SETS = 1_100
#: Set count above which a small sweep runs as one interpreted job.
_INTERPRETED_MIN_SETS = 64


def _small(tuples: int, sets: int) -> bool:
    return tuples * sets <= _INTERPRETED_VOLUME_CAP and sets <= _SMALL_MAX_SETS


@contextlib.contextmanager
def _interpreted_eval(spark):
    """Run the enclosed EAGER evaluation with interpreted expression eval
    (``codegen.factoryMode=NO_CODEGEN`` + ``wholeStage=false``), restoring
    the previous values on exit.

    These are session-level SQL confs: a query running concurrently on the
    same SparkSession during the window also runs interpreted, and
    overlapping toggles can restore each other's values out of order. The
    engine's entry points run queries one at a time per session."""
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


def _display(cfg: InsightsConfig, cols: Sequence[str]) -> list[str]:
    """Display columns of the ID columns among ``cols``, in sweep order."""
    return [v for c in cols if c in cfg.id_cols for v in cfg.id_to_value[c]]


def _tuple_table(
    df: DataFrame, cols: Sequence[str], display: Sequence[str]
) -> tuple[DataFrame, int, int]:
    """Collapse the input to one persisted row per distinct key tuple;
    returns ``(table, rows, tuples)``: the table, the input's row count
    (the sum of the per-tuple counts) and the tuple count, both from ONE
    action. The input is scanned once, shuffling on all key columns, and
    the threshold denominator needs no second pass over it."""
    aggs = [F.min(qcol(v)).alias(v) for v in display]
    aggs.append(F.count(F.lit(1)).alias("_pre_count"))
    table = df.groupBy(*[qcol(c) for c in cols]).agg(*aggs).persist()
    stats = table.agg(
        F.sum("_pre_count").alias("rows"), F.count(F.lit(1)).alias("tuples")
    ).collect()[0]
    return table, stats["rows"] or 0, stats["tuples"]


def _set_aggs(cols: Sequence[str], display: Sequence[str]) -> list[Column]:
    """Per-set aggregates over the tuple table, plus one ``_g{i}`` grouping
    flag per column."""
    aggs = [F.min(qcol(v)).alias(v) for v in display]
    aggs.append(F.sum("_pre_count").cast("long").alias("count"))
    aggs.extend(F.grouping(qcol(c)).alias(f"_g{i}") for i, c in enumerate(cols))
    return aggs


def _adaptive_chunk_size(tuples: int) -> int:
    """Grouping sets per compiled aggregation job, keyed on the tuple count
    (what the Expand multiplies), not the raw row count.

    Two regimes, both measured on the 1,023-set wide sweep in fresh
    sessions: at 600k Expand-input rows 40-set chunks win (16.4s vs 24.0s
    with 256 — a wide Expand leaves the whole-stage-codegen fast path and
    the per-row penalty dominates); at 60k rows 256-set chunks win (15.7s
    vs 25.5s — each chunk's ~1s Janino compile dominates tiny data, so
    fewer jobs beat faster rows). The crossover sits around 1-2e5 rows.
    """
    return 40 if tuples > 150_000 else 256


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


def _exhaustive(
    table: DataFrame, tuples: int, cols: Sequence[str], cfg: InsightsConfig, t: int
) -> DataFrame:
    """Every wanted set, aggregated from the persisted tuple table in the
    plan the module docstring's rule picks; returns the pinned result and
    releases the table."""
    sets = [list(c) for c in all_combinations(cfg, cols)]
    interpreted = len(sets) > _INTERPRETED_MIN_SETS and _small(tuples, len(sets))
    size = len(sets) if interpreted else _adaptive_chunk_size(tuples)
    key_cols = [qcol(c) for c in cols]
    aggs = _set_aggs(cols, _display(cfg, cols))
    if size >= len(sets) and len(sets) == 2 ** len(cols) - 1:
        # The grand total (every column grouped out) has grouping_id 2^n - 1.
        grouped = [
            table.cube(*key_cols)
            .agg(*aggs, F.grouping_id().alias("_gid"))
            .filter(F.col("_gid") != 2 ** len(cols) - 1)
        ]
    else:
        grouped = [
            table.groupingSets([[qcol(c) for c in s] for s in sets[i : i + size]], *key_cols)
            .agg(*aggs)
            for i in range(0, len(sets), size)
        ]
    result = union_all([_render(g.filter(_keep(cols, t)), cols, cfg) for g in grouped])
    try:
        # Materialize once (the thresholded output is tiny next to the
        # input), then release the table: otherwise every sweep in a
        # long-lived session leaks its cache.
        with _interpreted_eval(table.sparkSession) if interpreted else contextlib.nullcontext():
            return checkpointing.pin(result)
    finally:
        table.unpersist()


def sweep_grouping_sets(
    df: DataFrame,
    cfg: InsightsConfig,
    cols: Sequence[str] | None = None,
    total_count: int | None = None,
) -> DataFrame:
    """Native mode -> DataFrame[Insights], semantics identical to sweep_loop.

    ``total_count`` is the threshold denominator; by default it is the
    input's row count, read off the tuple table."""
    cols = list(cols or cfg.agg_cols)
    table, rows, tuples = _tuple_table(df, cols, _display(cfg, cols))
    t = threshold_count(cfg, rows if total_count is None else total_count)
    return _exhaustive(table, tuples, cols, cfg, t)


def sweep_apriori(
    df: DataFrame,
    cfg: InsightsConfig,
    cols: Sequence[str] | None = None,
    total_count: int | None = None,
) -> DataFrame:
    """Level-wise sweep with frequent-pattern (Apriori) pruning — output
    IDENTICAL to sweep_loop / sweep_grouping_sets.

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
    aggregation over the tuple table in chunks of ``_adaptive_chunk_size``
    sets. Driver-side data is only the per-set survival bitmap (<=
    sets-per-level rows). Each level chunk is persisted — consumed twice
    (survival flags, final union), and recomputation, not memory, is the
    expensive resource at scale; every cache is released before returning,
    the final output pinned by one eager pin of the (tiny, thresholded)
    result.

    When the whole lattice is small (module docstring), level-wise
    iteration is pure overhead — ~n levels of (compile + job + survival
    collect) to prune work that was already cheap — so the sweep runs the
    exhaustive plan over the same tuple table instead. Pruned sets emit no
    qualifying rows by anti-monotonicity, so the result is identical.
    Measured (sf0.1, 1,023 sets, 2.5k tuples): 20.6s level-wise -> ~12s
    exhaustive.
    """
    cols = list(cols or cfg.agg_cols)
    max_size = cfg.max_combo_size or len(cols)
    display = _display(cfg, cols)
    table, rows, tuples = _tuple_table(df, cols, display)
    t = threshold_count(cfg, rows if total_count is None else total_count)
    if _small(tuples, sum(1 for _ in all_combinations(cfg, cols))):
        return _exhaustive(table, tuples, cols, cfg, t)

    chunk_size = _adaptive_chunk_size(tuples)
    key_cols = [qcol(c) for c in cols]
    aggs = _set_aggs(cols, display)

    def level_dfs(sets: list[tuple[str, ...]]) -> list[DataFrame]:
        out = []
        for i in range(0, len(sets), chunk_size):
            chunk = sets[i : i + chunk_size]
            g = table.groupingSets(
                [[qcol(c) for c in s] for s in chunk], *key_cols
            ).agg(*aggs)
            out.append(g.filter(_keep(cols, t)).persist())
        return out

    out: list[DataFrame] = []
    persisted: list[DataFrame] = []
    current: list[tuple[str, ...]] = [(c,) for c in cols]
    k = 1
    while current and k <= max_size:
        chunks = level_dfs(current)
        persisted.extend(chunks)
        # Survival bitmap: which of this level's sets emitted >= 1 group.
        # ONE action for the whole level: unioning the per-chunk flag
        # projections makes Spark schedule every chunk's aggregation stage
        # concurrently inside a single job (they share the persisted table),
        # so the level's wall-clock is the slowest chunk, not the sum.
        #
        # Levels run compiled: order-balanced A/Bs of interpreted levels
        # at sf0.1 (40-set chunks) read 1-2s slower warm, for a saving on
        # the first run's Janino compiles only.
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
        table.unpersist()
        return df.sparkSession.createDataFrame([], "Insights string")
    # Materialize the final union from the still-cached level chunks, then
    # release every cache: the thresholded output is tiny next to the
    # input, and without this a long-lived session (the 100+-query oracle
    # gate, a notebook) accumulates one cached chunk per sweep.
    result = checkpointing.pin(union_all(out))
    table.unpersist()
    for g in persisted:
        g.unpersist()
    return result
