"""Per-cycle internal resistance at C/2 (SURVEY.md A6-A7).

Reference semantics (/root/reference/pipeline.py:184-203): within each
cycle's DIS rows, find the row whose |abs(I) − 0.5·rated_ah| is minimal
(first occurrence on ties — pandas ``idxmin``). The pre/post windows
are *positional in the original globally-sorted frame* but *selected
from the DIS subset by label*: with window radius w, pre = DIS rows at
original positions [idx−w, idx−1], post = [idx, idx+w]. IR =
|median(V_post) − median(V_pre)| / |ΔI_median|; NULL when either window
is empty or ΔI is 0/NULL.

Spark formulation, inside the shared per-cycle plan
(operators/features.py):
1. a row-position column (row_number over timestamp within cell,
   before NULL cycles are dropped) stands in for the pandas index label;
2. ``min_by(pos, struct(absdiff, pos))`` over the cycle's DIS rows, as
   a window = first-occurrence argmin on every row;
3. conditional medians over the DIS rows inside [idx−w, idx+w] in the
   per-cycle aggregate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, WindowSpec, functions as F


def ir_position(cells: list[str]) -> Column:
    return F.row_number().over(Window.partitionBy(*cells).orderBy("timestamp"))


def ir_argmin(dis: Column, by_cycle: WindowSpec, rated_ah: float) -> Column:
    """Position of the cycle's first DIS row closest to C/2 (pandas
    idxmin skips NaN: NULL distances never win)."""
    absdiff = F.abs(F.abs(F.col("current_a")) - F.lit(0.5 * float(rated_ah)))
    rank = F.when(dis & absdiff.isNotNull(), F.struct(absdiff, F.col("_pos")))
    return F.min_by("_pos", rank).over(by_cycle)


def ir_aggs(dis: Column, window: int) -> list[Column]:
    pos, idx = F.col("_pos"), F.col("_idx")
    band = dis & pos.between(idx - window, idx + window)
    pre, post = band & (pos < idx), band & (pos >= idx)
    return [
        F.median(F.when(pre, F.col("voltage_v"))).alias("_pre_v"),
        F.median(F.when(post, F.col("voltage_v"))).alias("_post_v"),
        F.median(F.when(pre, F.col("current_a"))).alias("_pre_i"),
        F.median(F.when(post, F.col("current_a"))).alias("_post_i"),
        F.sum(F.when(pre, 1).otherwise(0)).alias("_n_pre"),
        F.sum(F.when(post, 1).otherwise(0)).alias("_n_post"),
    ]


def ir_ohm() -> Column:
    d_v = F.col("_post_v") - F.col("_pre_v")
    d_i = F.col("_post_i") - F.col("_pre_i")
    return F.when(
        (F.col("_n_pre") == 0) | (F.col("_n_post") == 0) | d_i.isNull() | (d_i == 0),
        F.lit(None).cast("double"),
    ).otherwise(F.abs(d_v / d_i))


def ir_c2_per_cycle(df: DataFrame, rated_ah: float, window: int = 1) -> DataFrame:
    from .features import per_cycle_features

    return per_cycle_features(
        df, rated_ah=rated_ah, ir_window=window, features=("ir",)
    )
