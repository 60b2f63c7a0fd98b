"""Per-cycle discharge energy via trapezoidal ∫V·I dt (SURVEY.md A5).

Reference semantics (/root/reference/pipeline.py:169-181):
``E_dis_Wh = |trapz(V·I, t)| / 3600`` over the cycle's DIS rows in
timestamp order; NULL when fewer than 2 DIS rows. ``np.trapz`` with any
NaN power/time yields NaN, so a null anywhere in V, I or t nulls the
cycle — reproduced with an explicit null-count guard (Spark ``sum``
would otherwise skip nulls).

The trapezoid is expressed with a lag window over the cycle's rows,
DIS rows last and each segment kept only when both its ends are DIS
rows — algebraically identical to np.trapz's pairwise form
``Σ 0.5·(p_i + p_{i-1})·(t_i − t_{i-1})`` — then conditional sums in
the shared per-cycle aggregate (operators/features.py); a cycle with no
DIS rows counts 0 rows and so yields NULL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ._sql import double

_T = "CAST(`timestamp` AS DOUBLE)"  # fractional epoch seconds (C8)
_P = "(`voltage_v` * `current_a`)"


def energy_segment(dis: str, by_time: str) -> str:
    """Fixed-point trapezoid segment ending at each DIS row but the
    first; ``by_time`` orders one cycle's rows by (is-DIS, timestamp)."""
    seg = (
        f"{double(0.5)} * ({_P} + lag({_P}) {by_time}) "
        f"* ({_T} - lag({_T}) {by_time})"
    )
    # segments quantized to integer NANO watt-seconds with
    # floor(x*1e9+0.5): multiply/add/floor are IEEE-deterministic, the
    # int64 sum is exact and associative, so the per-cycle energy is
    # identical under any partition layout or engine (plain double sums
    # drift in the last ulp once cycles get large). Quantization error
    # ≤ 0.5e-9 per segment (~1e-11 Wh per cycle) — far inside the 1e-9
    # golden-test pins. Magnitude bound: |seg| ≤ p_max·dt_cycle ≈ 3e6
    # → 3e15 nano-units < 2^53, and cycle sums stay ≪ int64 range.
    # NaN power (a CSV literal 'NaN' survives lenient casts) must not
    # reach floor()::long — ANSI errors, non-ANSI silently yields 0.
    # Null it out; the bad-row counter (which also counts NaN) then
    # nulls the whole cycle, the NULL-normalized equivalent of the
    # reference's NaN-propagating np.trapz. Non-DIS rows never reach
    # the cast either, nor does the first DIS row, whose lag is a
    # non-DIS row (or none).
    seg_safe = (
        f"CASE WHEN {dis} AND lag({dis}) {by_time} "
        f"THEN nanvl({seg}, CAST(NULL AS DOUBLE)) END"
    )
    return f"CAST(floor({seg_safe} * {double(1e9)} + {double(0.5)}) AS BIGINT)"


def energy_aggs(dis: str) -> list[str]:
    bad = f"{_P} IS NULL OR {_T} IS NULL OR isnan({_P})"
    return [
        f"sum(CASE WHEN {dis} THEN 1 ELSE 0 END) AS `_e_n`",
        f"sum(CASE WHEN {dis} AND ({bad}) THEN 1 ELSE 0 END) AS `_e_nbad`",
        "sum(`_seg_u`) AS `_e_ns`",
    ]


def energy_wh() -> str:
    return (
        "CASE WHEN `_e_n` >= 2 AND `_e_nbad` = 0 "
        f"THEN abs(CAST(`_e_ns` AS DOUBLE) / {double(1e9)}) / {double(3600.0)} END"
    )


def energy_wh_per_cycle(df: DataFrame) -> DataFrame:
    from .features import per_cycle_features

    return per_cycle_features(df, features=("energy",))
