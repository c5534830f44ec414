"""As-of join (J6's positional/nearest semantics, SURVEY §2.3).

:func:`asof_join_window` is pure JVM: union the two streams tagged by
side, order by (ts, side) per key, carry the last right-side value with
last(..., ignoreNulls) over an unbounded-preceding window, keep left
rows. No Python, one shuffle, whole-stage codegen.

Tie rule: a right row at exactly ts == left ts matches (backward
inclusive, DuckDB ASOF >=) — the union sorts right rows before left rows
at equal ts to reproduce it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def asof_join_window(
    left: DataFrame, right: DataFrame, key: str, ts: str,
    left_cols: list[str], right_col: str,
) -> DataFrame:
    """Union + window carry-forward: one shuffle, zero Python."""
    l_tagged = left.select(
        key, ts, *left_cols, F.lit(None).cast("long").alias(right_col),
        F.lit(1).alias("_side"),
    )
    r_tagged = right.select(
        key, ts,
        *[F.lit(None).cast("long").alias(c) for c in left_cols],
        F.col(right_col), F.lit(0).alias("_side"),
    )
    u = l_tagged.unionByName(r_tagged)
    w = (
        Window.partitionBy(key)
        .orderBy(F.col(ts), F.col("_side"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        u.withColumn("_carried", F.last(right_col, ignorenulls=True).over(w))
        .where(F.col("_side") == 1)
        .select(*left_cols, F.col("_carried").alias(right_col))
    )
