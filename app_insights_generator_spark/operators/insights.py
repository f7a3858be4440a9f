"""Insight query: group/count/threshold/format for ONE column combination.

Reference parity: get_insights_from_df (main.py:259-315). Semantics kept
exactly:

- pre-agg not-null filter on every grouping column (main.py:288)
- group + count(*) + per-ID display value pick (main.py:289-290) — the
  reference's order-nondeterministic ``F.first`` (main.py:285) is replaced
  by ``F.min`` so results are stable (SURVEY.md §7 risk 2)
- HAVING count >= int(threshold_percent/100 * N) with N the WHOLE filtered
  table's row count, shared across all combinations (main.py:280, 344)
- ID columns dropped after their display values are picked (main.py:292)
- numeric cols rendered ``[lo-(lo+size)]`` (main.py:301-305), every field
  ``name=value`` (main.py:307), all joined by ';' with the bare count last
  (main.py:309-314); NULL display values vanish (concat_ws skips NULLs)
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from app_insights_generator_spark.config import InsightsConfig
from app_insights_generator_spark.operators.bucketing import bucketize
from app_insights_generator_spark.operators.cleaning import (
    cast_to_int,
    quote_ident,
    range_filter,
    sql_and,
    sql_literal,
)

INSIGHT_DELIM = ";"


def prepare(df: DataFrame, cfg: InsightsConfig) -> DataFrame:
    """cast -> range-filter -> bucketize (reference main.py:385-388)."""
    df = cast_to_int(df, cfg.int_cast_cols)
    df = range_filter(df, cfg.range_filters)
    return bucketize(df, cfg.bucket_sizes)


def threshold_count(cfg: InsightsConfig, total_count: int) -> int:
    """int() floors — T=0 on tiny inputs, making the HAVING a no-op
    (reference main.py:280; SURVEY.md §7 risk 3)."""
    return int((cfg.threshold_percent / 100.0) * total_count)


def min_aggs(cols: Sequence[str]) -> list[Column]:
    """``min(col) AS col`` per column: the display-value pick."""
    return [F.expr(f"min({q}) AS {q}") for q in map(quote_ident, cols)]


def format_value(col: str, cfg: InsightsConfig) -> str:
    """SQL text rendering one field: ``col=[lo-hi]`` for bucketed numerics
    else ``col=value`` (main.py:295-307). NULL value -> NULL field."""
    c = quote_ident(col)
    if col in cfg.bucket_sizes:
        size = int(cfg.bucket_sizes[col])
        c = f"concat('[', {c}, '-', CAST(({c} + {size}) AS BIGINT), ']')"
    return f"concat({sql_literal(col)}, '=', {c})"


def insight_text(
    cols: Sequence[str], cfg: InsightsConfig, guards: Mapping[str, str] | None = None
) -> str:
    """The ``Insights`` string as SQL text: ``concat_ws`` over the fields in
    the reference's post-drop order (main.py:292-312) — grouping cols minus
    IDs, the ID cols' display cols, the bare count. With ``guards`` (per
    column, a SQL test), a column's fields render only where its guard
    holds; elsewhere they are NULL, which concat_ws skips."""

    def field(c: str, v: str) -> str:
        text = format_value(v, cfg)
        return text if guards is None else f"CASE WHEN {guards[c]} THEN {text} END"

    fields = [field(c, c) for c in cols if c not in cfg.id_cols]
    fields += [field(c, v) for c in cols if c in cfg.id_cols for v in cfg.id_to_value[c]]
    fields.append("`count`")
    return f"concat_ws({sql_literal(INSIGHT_DELIM)}, {', '.join(fields)}) AS Insights"


def insight_query(
    df: DataFrame,
    combo: Sequence[str],
    cfg: InsightsConfig,
    total_count: int | None = None,
) -> DataFrame:
    """Insights for one combination of grouping columns -> DataFrame[Insights]."""
    if total_count is None:
        total_count = df.count()
    t = threshold_count(cfg, total_count)
    display = [v for c in combo if c in cfg.id_cols for v in cfg.id_to_value[c]]
    aggs = min_aggs(display) + [F.expr("count(1) AS `count`")]
    grouped = (
        df.filter(sql_and(f"({quote_ident(c)} IS NOT NULL)" for c in combo))
        .groupBy(*[F.expr(quote_ident(c)) for c in combo])
        .agg(*aggs)
        .filter(f"(`count` >= {t})")
    )
    return grouped.selectExpr(insight_text(combo, cfg))
