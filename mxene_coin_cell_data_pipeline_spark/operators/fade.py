"""Capacity-fade fit + remaining-useful-life (SURVEY.md A11-A12).

Reference semantics (/root/reference/pipeline.py:231-242,302-307):
least-squares line q_norm ~ cycle_index; ``fade_slope_pct_per_cycle`` =
100·slope; ``cycles_to_80pct`` = (0.8 − intercept)/slope (NULL when the
slope is 0); NULL results with fewer than 2 points. ``np.polyfit``
propagates NaN, so any NULL q_norm nulls the whole fit — reproduced
with an explicit null-count guard (SQL ``regr_*`` would silently skip
null pairs).

Spark-first: the fit is the built-in OLS aggregates ``regr_slope`` /
``regr_intercept`` — single hash aggregate with map-side partial
aggregation, no window, no UDF. ``Q0_Ah`` = capacity at the minimum
cycle (``min_by``). The aggregate and its finishing projection are
SQL text (operators/_sql.py), so building them is a few dozen py4j
calls.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ._keys import cell_keys
from ._sql import double, ident


def fade_and_rul(features: DataFrame, eol: float = 0.80) -> DataFrame:
    """Per-cell summary: cell_id?, Q0_Ah, fade_slope_pct_per_cycle,
    cycles_to_80pct."""
    keys = cell_keys(features)
    x, y = "CAST(`cycle_index` AS DOUBLE)", "`q_norm`"
    aggs = [
        "count(1) AS `_n`",
        f"sum(CASE WHEN {y} IS NULL OR {x} IS NULL THEN 1 ELSE 0 END) AS `_nbad`",
        f"regr_slope({y}, {x}) AS `_m`",
        f"regr_intercept({y}, {x}) AS `_b`",
        "min_by(`Q_dis_Ah`, `cycle_index`) AS `Q0_Ah`",
    ]
    agg = features.groupBy(*keys).agg(*map(F.expr, aggs))
    ok = "`_n` >= 2 AND `_nbad` = 0"
    return agg.selectExpr(
        *map(ident, keys),
        "`Q0_Ah`",
        f"CASE WHEN {ok} THEN `_m` * {double(100.0)} END AS `fade_slope_pct_per_cycle`",
        f"CASE WHEN {ok} AND `_m` != 0 THEN ({double(eol)} - `_b`) / `_m` END"
        " AS `cycles_to_80pct`",
    )
