"""Per-cycle capacity + coulombic efficiency (SURVEY.md §2.6 A1-A4).

Reference semantics (/root/reference/pipeline.py:157-166):
- ``Q_dis_Ah`` / ``Q_chg_Ah`` = *last non-null* cumulative capacity in
  timestamp order within the cycle. The reference free-rides on a prior
  global sort + ``iloc[-1]``; Spark groupBy is unordered, so the order
  is made explicit with ``max_by(value, ts-when-value-non-null)`` —
  the #1 correctness trap called out in SURVEY.md §4.
- ``CE`` = Q_dis/Q_chg, NULL when Q_chg is NULL or 0 (guarded division,
  lazy per-row so it is ANSI-safe).
- ``q_norm`` = Q_dis / Q_dis(first cycle), an unbounded first_value
  window per cell. ``try_divide`` so a zero first-cycle capacity yields
  NULL instead of raising under ANSI sessions (Spark 4 default) —
  matching both the reference's NaN propagation (pipeline.py:165) and
  DuckDB's NULL-on-zero-divide oracle semantics.

The aggregates and the window run inside the shared per-cycle plan
(operators/features.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def _last_non_null(value: str, order: str = "timestamp") -> str:
    return f"max_by(`{value}`, CASE WHEN `{value}` IS NOT NULL THEN `{order}` END)"


def capacity_aggs() -> list[str]:
    return [
        f"{_last_non_null('discharge_ah')} AS `Q_dis_Ah`",
        f"{_last_non_null('charge_ah')} AS `Q_chg_Ah`",
    ]


def coulombic_efficiency() -> str:
    return (
        "CASE WHEN `Q_chg_Ah` IS NULL OR `Q_chg_Ah` = 0 THEN CAST(NULL AS DOUBLE) "
        "ELSE `Q_dis_Ah` / `Q_chg_Ah` END"
    )


def q_norm(by_cell: str) -> str:
    return f"try_divide(`Q_dis_Ah`, first(`Q_dis_Ah`) {by_cell})"


def capacity_ce_per_cycle(df: DataFrame) -> DataFrame:
    from .features import per_cycle_features

    return per_cycle_features(df, features=("capacity",))
