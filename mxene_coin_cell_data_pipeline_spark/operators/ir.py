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

from pyspark.sql import DataFrame

from ._sql import double, over


def ir_position(cells: list[str]) -> str:
    return f"row_number() {over(cells, ['timestamp'])}"


def ir_argmin(dis: str, by_cycle: str, rated_ah: float) -> str:
    """Position of the cycle's first DIS row closest to C/2 (pandas
    idxmin skips NaN: NULL distances never win)."""
    absdiff = f"abs(abs(`current_a`) - {double(0.5 * float(rated_ah))})"
    rank = f"CASE WHEN {dis} AND {absdiff} IS NOT NULL THEN struct({absdiff}, `_pos`) END"
    return f"min_by(`_pos`, {rank}) {by_cycle}"


def ir_aggs(dis: str, window: int) -> list[str]:
    w = int(window)
    band = f"{dis} AND `_pos` >= `_idx` - {w} AND `_pos` <= `_idx` + {w}"
    pre, post = f"{band} AND `_pos` < `_idx`", f"{band} AND `_pos` >= `_idx`"
    return [
        f"median(CASE WHEN {pre} THEN `voltage_v` END) AS `_pre_v`",
        f"median(CASE WHEN {post} THEN `voltage_v` END) AS `_post_v`",
        f"median(CASE WHEN {pre} THEN `current_a` END) AS `_pre_i`",
        f"median(CASE WHEN {post} THEN `current_a` END) AS `_post_i`",
        f"sum(CASE WHEN {pre} THEN 1 ELSE 0 END) AS `_n_pre`",
        f"sum(CASE WHEN {post} THEN 1 ELSE 0 END) AS `_n_post`",
    ]


def ir_ohm() -> str:
    d_v, d_i = "(`_post_v` - `_pre_v`)", "(`_post_i` - `_pre_i`)"
    return (
        f"CASE WHEN `_n_pre` = 0 OR `_n_post` = 0 OR {d_i} IS NULL OR {d_i} = 0 "
        f"THEN CAST(NULL AS DOUBLE) ELSE abs({d_v} / {d_i}) END"
    )


def ir_c2_per_cycle(df: DataFrame, rated_ah: float, window: int = 1) -> DataFrame:
    from .features import per_cycle_features

    return per_cycle_features(
        df, rated_ah=rated_ah, ir_window=window, features=("ir",)
    )
