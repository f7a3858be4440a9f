"""Cleaning operators: type casting and range filters, and the SQL-text
spelling of names and literals.

Reference parity: do_column_type_casting (main.py:151-160) and
filter_playstore_df (main.py:206-218), each ONE ``select`` / ``filter``
so Catalyst sees a single Project / Filter node.

Wide expression lists are SQL text, one string per expression
(``selectExpr``, ``F.expr``, ``filter(str)``), where a Column tree costs a
py4j round trip per node and name lookup. Catalyst parses the text to the
tree the Column calls build, provided each literal has the type ``F.lit``
gives it: ``sql_literal`` spells an int as INT (BIGINT past 32 bits) and a
float as DOUBLE (``0.5D``; a bare ``0.5`` parses as DECIMAL).
"""

from __future__ import annotations

import math
from collections.abc import Iterable
from functools import reduce

from pyspark.sql import DataFrame


def quote_ident(name: str) -> str:
    """``name`` as a backtick-quoted SQL identifier (a backtick inside the
    name is doubled), so spaces, dots and quotes in column names survive."""
    return "`" + name.replace("`", "``") + "`"


def sql_literal(value: int | float | str) -> str:
    """``value`` as a SQL literal of the type ``F.lit(value)`` gives it."""
    if isinstance(value, float):
        return f"{value!r}D" if math.isfinite(value) else f"CAST('{value!r}' AS DOUBLE)"
    if isinstance(value, int):
        return str(value)
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


def sql_and(terms: Iterable[str]) -> str:
    """Conjunction of SQL predicates, nested as ``reduce(&, ...)`` nests Columns."""
    return reduce(lambda a, b: f"({a} AND {b})", terms)


def cast_to_int(df: DataFrame, cols: Iterable[str]) -> DataFrame:
    """Cast ``cols`` to IntegerType in place; other columns untouched.

    ``try_cast``, not ``cast``: the reference ran with legacy cast
    semantics where malformed strings become NULL (main.py:209 relies on
    it for its dirty CSV), but Spark 4 defaults to ANSI mode where ``cast``
    THROWS on the first bad value. try_cast restores cast-failure -> NULL,
    which the range filters and per-set not-null filters then drop.
    """
    cols = set(cols)
    names = [(c, quote_ident(c)) for c in df.columns]
    return df.selectExpr(*[f"TRY_CAST({q} AS INT) AS {q}" if c in cols else q for c, q in names])


def range_filter(df: DataFrame, ranges: dict[str, tuple[float, float]]) -> DataFrame:
    """Inclusive range predicates, conjunctive, null-rejecting.

    One Filter node; Catalyst pushes it into the scan (check
    ``.explain`` PushedFilters when reading parquet).
    """
    if not ranges:
        return df
    return df.filter(
        sql_and(
            f"(({quote_ident(c)} >= {sql_literal(lo)}) AND ({quote_ident(c)} <= {sql_literal(hi)}))"
            for c, (lo, hi) in ranges.items()
        )
    )
