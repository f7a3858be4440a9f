"""Bucketing: floor each numeric column to its bucket's lower bound.

Reference parity: do_bucketing (main.py:163-203), including the worked
example in its docstring (encoded as a unit test in
tests/test_bucketing.py). ``floor(col/size)*size`` keeps exact reference
semantics; the result type is LONG (Spark's floor). Backticks preserve
support for non-identifier column names like ``len screenshots``
(main.py:201).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from app_insights_generator_spark.operators.cleaning import quote_ident, sql_literal


def bucket_expr(col: str, size: int | float) -> str:
    """Lower bucket bound of ``col`` for width ``size``, as SQL text named
    ``col`` (operators/cleaning.py: literals typed as ``F.lit`` types them)."""
    q = quote_ident(col)
    return f"floor({q} / {sql_literal(size)}) * {int(size)} AS {q}"


def bucketize(df: DataFrame, bucket_sizes: dict[str, int]) -> DataFrame:
    """Replace each numeric column with its bucket lower bound, in place.

    Single Project node — all bucket expressions in one ``select``.
    """
    if not bucket_sizes:
        return df
    return df.selectExpr(
        *[
            bucket_expr(c, bucket_sizes[c]) if c in bucket_sizes else quote_ident(c)
            for c in df.columns
        ]
    )
