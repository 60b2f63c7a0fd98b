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

from pyspark.sql import Column, DataFrame, WindowSpec, functions as F


def _t() -> Column:
    return F.col("timestamp").cast("double")  # fractional epoch seconds (C8)


def _p() -> Column:
    return F.col("voltage_v") * F.col("current_a")


def energy_segment(dis: Column, by_time: WindowSpec) -> Column:
    """Fixed-point trapezoid segment ending at each DIS row but the
    first; ``by_time`` orders one cycle's rows by (is-DIS, timestamp)."""
    t, p = _t(), _p()
    seg = 0.5 * (p + F.lag(p).over(by_time)) * (t - F.lag(t).over(by_time))
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
    seg_safe = F.when(
        dis & F.lag(dis).over(by_time), F.nanvl(seg, F.lit(None).cast("double"))
    )
    return F.floor(seg_safe * F.lit(1e9) + F.lit(0.5)).cast("long")


def energy_aggs(dis: Column) -> list[Column]:
    bad = _p().isNull() | _t().isNull() | F.isnan(_p())
    return [
        F.sum(F.when(dis, 1).otherwise(0)).alias("_e_n"),
        F.sum(F.when(dis & bad, 1).otherwise(0)).alias("_e_nbad"),
        F.sum("_seg_u").alias("_e_ns"),
    ]


def energy_wh() -> Column:
    return F.when(
        (F.col("_e_n") >= 2) & (F.col("_e_nbad") == 0),
        F.abs(F.col("_e_ns").cast("double") / F.lit(1e9)) / F.lit(3600.0),
    )


def energy_wh_per_cycle(df: DataFrame) -> DataFrame:
    from .features import per_cycle_features

    return per_cycle_features(df, features=("energy",))
