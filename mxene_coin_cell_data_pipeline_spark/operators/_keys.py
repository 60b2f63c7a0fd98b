"""Grouping-key helpers shared by the per-cycle feature operators.

Every operator groups by ``(cell_id, cycle_index)`` when the frame is
multi-cell and by ``cycle_index`` alone otherwise, so reference
single-cell semantics generalize to partitioned data with no code
change (SURVEY.md §7 design stance).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def cycle_keys(df: DataFrame) -> list[str]:
    return (["cell_id"] if "cell_id" in df.columns else []) + ["cycle_index"]


def cell_keys(df: DataFrame) -> list[str]:
    return ["cell_id"] if "cell_id" in df.columns else []


#: NULL-safe substring discharge predicate (pipeline.py:171 etc.), as SQL
IS_DIS = "coalesce(contains(`step_type`, 'DIS'), false)"


def drop_null_cycles(df: DataFrame) -> DataFrame:
    """pandas ``groupby`` DROPS NaN keys (reference pipeline.py:159
    etc.), Spark groupBy keeps a NULL group — filter to match the
    reference exactly. The filter is pushed into the scan."""
    return df.filter("`cycle_index` IS NOT NULL")


def is_dis() -> F.Column:
    """``IS_DIS`` as a Column."""
    return F.expr(IS_DIS)
