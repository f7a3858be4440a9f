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
  wanted set is aggregated from it, so the fan-out multiplies the tuple
  count, not the raw row count: count = sum of pre-counts, min of the
  per-tuple display values.

- ``sweep_apriori`` — level-wise with support pruning over the same tuple
  table; when the whole lattice is small it runs the exhaustive plan
  instead.

Every native job is one set-mask aggregation over the tuple table
(``_sets_agg``): each tuple row is exploded once per set of the job and
tagged with the set's bitmask ``_mask`` (bit i = ``cols[i]``); rows with a
NULL in a grouped column are dropped (the reference's pre-agg isNotNull,
main.py:288); the group key is ``_mask`` plus every column masked to NULL
where its bit is off; groups under the threshold are dropped. The sets are
one literal array, so the generated code has one term per column however
many sets a job carries; Spark's ``cube``/``groupingSets`` plan an Expand
with one generated projection per set instead (SCALE.md § "The insight
sweep" has the measurements).

Every aggregation that reads the input or an exploded row is a hash
aggregation. Spark hash-aggregates only when every buffer field is mutable
in an ``UnsafeRow``; a string is not, so a ``min`` over a string display
column plans a sort-based aggregate, which sorts every row it reads on
all its keys. Hence each display ``min`` is taken in two steps, the first
a hash aggregation with ``count``/``sum`` only and the display columns as
keys, the second the ``min`` over the first one's groups:

- the tuple table groups the input by the key AND display columns, then
  those groups by the keys with ``min(display)``: one row per key tuple,
  however many display values an ID has;
- a job groups the exploded rows by ``_mask``, the masked keys and the
  display columns (each NULL where its ID column's bit is off), then by
  ``_mask`` and the keys with ``min(display)``.

``min`` over per-display groups equals ``min`` over rows, NULLs ignored
alike, whether or not each ID fixes its display values. A config without
an ID column has no display column, and each step is its first half.

One volume rule sizes the jobs: at most ``_SMALL_VOLUME_CAP`` exploded rows
each, i.e. ``_SMALL_VOLUME_CAP // tuples`` sets (``_sets_per_job``). The
cap bounds one job's shuffle.

The filters do no arithmetic over the set bits: one NULL test per column
and the threshold, from which Catalyst's ``PruneFilters`` infers
constraints cheaply (tests/test_playstore_fidelity.py guards it).

Every expression list is SQL text (operators/cleaning.py): the set array,
the NULL tests, the masked keys and the Insights string each cross to the
JVM as one string, so a 105-set plan is built in about 100 py4j round
trips instead of one or more per Column node. Literals are spelled with
the types ``F.lit`` gives them (ints INT, floats DOUBLE), so the analyzed
plans are the ones a Column tree builds.

Both native sweeps pin their (tiny, thresholded) result so the caches
feeding it can be released. The pin is ``checkpointing.pin``: a local
checkpoint by default, whose blocks are lost with their executor; a
reliable one when the session sets ``spark.checkpoint.dir``, which is
what a cluster with dynamic allocation or spot instances (the reference's
own EMR config, main.py:134) should do.
"""

from __future__ import annotations

import itertools
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from app_insights_generator_spark.config import InsightsConfig
from app_insights_generator_spark.operators import checkpointing
from app_insights_generator_spark.operators.cleaning import quote_ident, sql_and
from app_insights_generator_spark.operators.insights import (
    insight_query,
    insight_text,
    min_aggs,
    threshold_count,
)


#: Exploded rows (tuples x sets) per aggregation job, and the set count up
#: to which ``sweep_apriori`` skips level-wise pruning when the whole
#: lattice fits in one job.
_SMALL_VOLUME_CAP = 20_000_000
_SMALL_MAX_SETS = 1_100


def _small(tuples: int, sets: int) -> bool:
    return tuples * sets <= _SMALL_VOLUME_CAP and sets <= _SMALL_MAX_SETS


def _sets_per_job(tuples: int) -> int:
    """Sets per aggregation job: the volume cap over the tuple count."""
    return max(1, _SMALL_VOLUME_CAP // max(tuples, 1))


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
    """Collapse the input to one persisted row per distinct key tuple,
    each display column its ``min``; returns ``(table, rows, tuples)``:
    the table, the input's row count (the sum of the per-tuple counts) and
    the tuple count, both from ONE action. The input is scanned once and
    the threshold denominator needs no second pass over it. The scan
    groups by the key AND display columns with ``count(1)`` only, so it
    hashes; the ``min`` then reads those groups (module docstring)."""
    table = df.groupBy(*[F.expr(quote_ident(c)) for c in [*cols, *display]]).agg(
        F.expr("count(1) AS _pre_count")
    )
    if display:
        table = table.groupBy(*map(quote_ident, cols)).agg(
            *min_aggs(display), F.expr("sum(_pre_count) AS _pre_count")
        )
    table = table.persist()
    stats = table.selectExpr("sum(_pre_count) AS rows", "count(1) AS tuples").collect()[0]
    return table, stats["rows"] or 0, stats["tuples"]


def _in_set(cols: Sequence[str]) -> dict[str, str]:
    """Per column, the SQL test that it is in the row's set (bit i of ``_mask``)."""
    return {c: f"((_mask & {1 << i}) != 0)" for i, c in enumerate(cols)}


def _sets_agg(
    table: DataFrame, cols: Sequence[str], cfg: InsightsConfig, sets: Sequence[int], t: int
) -> DataFrame:
    """Groups reaching the threshold ``t`` for every set bitmask in
    ``sets``, as ONE explode of the tuple table and hash aggregations over
    it (module docstring): columns ``_mask``, ``cols`` (NULL where out of
    the set), the display columns (NULL where their ID column is out of
    the set) and ``count``."""
    bit = _in_set(cols)
    keep = sql_and(f"(NOT {bit[c]} OR ({quote_ident(c)} IS NOT NULL))" for c in cols)

    def masked(c: str, name: str) -> str:
        """Column ``name``, NULL where ``c`` is out of the set."""
        q = quote_ident(name)
        return f"CASE WHEN {bit[c]} THEN {q} END AS {q}"

    def sql(*parts: str) -> str:
        """SQL text for ``spark.sql``'s ``str.format``: braces escaped."""
        return ", ".join(parts).replace("{", "{{").replace("}", "}}")

    count = "CAST(sum(_pre_count) AS BIGINT) AS `count`"
    shown = [masked(c, v) for c in cols if c in cfg.id_cols for v in cfg.id_to_value[c]]
    pre = "sum(_pre_count) AS _pre_count" if shown else count
    # rows with a NULL in a grouped column dropped; keyed by _mask, the
    # masked keys and the masked display columns
    text = (
        f"SELECT _mask, {sql(*(masked(c, c) for c in cols), *shown, pre)} "
        f"FROM {{rows}} WHERE {sql(keep)} GROUP BY ALL"
    )
    if shown:
        mins = [f"min({q}) AS {q}" for q in map(quote_ident, _display(cfg, cols))]
        outer = sql(*map(quote_ident, cols), *mins, count)
        text = f"SELECT _mask, {outer} FROM ({text}) GROUP BY ALL"
    rows = table.selectExpr("*", f"explode(array({', '.join(map(str, sets))})) AS _mask")
    # spark.sql serves the explode as a temporary view that it drops after
    # analysis. Dropping a view uncaches its plan, so the view is the
    # explode, never the cached tuple table itself.
    return table.sparkSession.sql(f"{text} HAVING (`count` >= {t})", rows=rows)


def _render(g: DataFrame, cols: Sequence[str], cfg: InsightsConfig) -> DataFrame:
    """One Insights string per row, each field guarded by its column's
    bit of ``_mask``."""
    return g.selectExpr(insight_text(cols, cfg, _in_set(cols)))


def _exhaustive(
    table: DataFrame, tuples: int, cols: Sequence[str], cfg: InsightsConfig, t: int
) -> DataFrame:
    """Every wanted set, aggregated from the persisted tuple table in jobs
    of ``_sets_per_job(tuples)`` sets; returns the pinned result and
    releases the table."""
    sets = [sum(1 << cols.index(c) for c in s) for s in all_combinations(cfg, cols)]
    size = _sets_per_job(tuples)
    result = union_all(
        [
            _render(_sets_agg(table, cols, cfg, sets[i : i + size], t), cols, cfg)
            for i in range(0, len(sets), size)
        ]
    )
    try:
        # Materialize once (the thresholded output is tiny next to the
        # input), then release the table: otherwise every sweep in a
        # long-lived session leaks its cache.
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
    2^n sweep collapses to a handful of levels, each the same
    ``_sets_agg`` jobs as the exhaustive plan over the tuple table.
    Driver-side data is only the surviving set bitmasks (<= sets-per-level
    rows). Each job is persisted — consumed twice (survivors, final
    union), and recomputation, not memory, is the expensive resource at
    scale; every cache is released before returning, the final output
    pinned by one eager pin of the (tiny, thresholded) result.

    When the whole lattice is small (one job's volume, at most
    ``_SMALL_MAX_SETS`` sets), level-wise iteration is pure overhead — ~n
    levels of (job + survivor collect) to prune work that was already
    cheap — so the sweep runs the exhaustive plan over the same tuple
    table instead. Pruned sets emit no qualifying rows by
    anti-monotonicity, so the result is identical.
    """
    cols = list(cols or cfg.agg_cols)
    max_size = cfg.max_combo_size or len(cols)
    table, rows, tuples = _tuple_table(df, cols, _display(cfg, cols))
    t = threshold_count(cfg, rows if total_count is None else total_count)
    if _small(tuples, sum(1 for _ in all_combinations(cfg, cols))):
        return _exhaustive(table, tuples, cols, cfg, t)

    size = _sets_per_job(tuples)
    persisted: list[DataFrame] = []
    bits = range(len(cols))
    current = [1 << i for i in bits]
    k = 1
    while current and k <= max_size:
        jobs = [
            _sets_agg(table, cols, cfg, current[i : i + size], t).persist()
            for i in range(0, len(current), size)
        ]
        persisted.extend(jobs)
        # The level's surviving sets: ONE action, so Spark schedules every
        # job's aggregation stage (they share the persisted table) inside a
        # single job, and the level's wall-clock is the slowest job.
        survivors = {
            row["_mask"]
            for row in union_all([g.select("_mask").distinct() for g in jobs])
            .distinct()
            .collect()
        }
        cand = {m | 1 << i for m in survivors for i in bits if not m >> i & 1}
        current = sorted(
            m for m in cand if all(m & ~(1 << i) in survivors for i in bits if m >> i & 1)
        )
        k += 1
    if not persisted:
        table.unpersist()
        return df.sparkSession.createDataFrame([], "Insights string")
    # Materialize the final union from the still-cached level jobs, then
    # release every cache: the thresholded output is tiny next to the
    # input, and without this a long-lived session (the 100+-query oracle
    # gate, a notebook) accumulates one cached job per sweep.
    result = checkpointing.pin(union_all([_render(g, cols, cfg) for g in persisted]))
    table.unpersist()
    for g in persisted:
        g.unpersist()
    return result
