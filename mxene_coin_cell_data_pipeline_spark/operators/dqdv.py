"""Per-cycle dQ/dV peak voltage + shift (SURVEY.md A8-A10).

Reference (pipeline.py:206-228): per cycle, interpolate
Q(V) onto a uniform voltage grid, take the finite-difference gradient,
and report the grid voltage at the gradient argmax. ``_peak_voltage``
is that numpy kernel, kept as the reference; ``peak_voltage`` is the
same kernel written with Spark's built-in array functions, so the
feature plan (operators/features.py) runs it inside the per-cycle
aggregate with no Python hop. The two agree bit for bit
(tests/test_properties.py).

Kernel semantics, mirrored operation by operation:
- DIS rows only; NULL peak when fewer than 3 rows (pipeline.py:209);
- Q = discharge_ah − nanmin(discharge_ah) within the cycle's DIS rows;
- stable sort by voltage (rows in timestamp order); NULL when the
  voltage span is not ≥ dV (pipeline.py:214), which includes a NaN span;
- grid = np.arange(V_min, V_max, dV): ceil(span/dV) points, filled as
  v[0]=V_min, v[1]=V_min+dV, v[k]=V_min+k·((V_min+dV)−V_min); NULL for
  fewer than 2 points;
- np.interp: the bracket is the last sample ≤ x and the next one, so
  duplicate voltages resolve as numpy's do. All grid points are placed
  in one merge (samples and grid sorted together), not one search per
  point; then slope-first rounding and its NaN fallbacks;
- np.gradient: one-sided edges, central interior over 2·dV;
- np.argmax: the first maximal grid point, a NaN counting as maximal.

Spark compares doubles unlike IEEE: NaN = NaN is true and NaN sorts
above everything. NULL inputs therefore become NaN first (numpy's view
of a missing value), and every comparison numpy makes on a possibly-NaN
value goes through ``isnan``.

The *shift* part (A10) is window algebra over the per-cycle rows:
``v_ref`` = running first non-null peak in cycle order;
``shift_mV = (v_pk − v_ref)·1000`` when the peak is valid.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, functions as F

DEFAULT_DV = 0.05  # pipeline.py:206 (docs recommend 0.005 for real data)


def _peak_voltage(voltage: np.ndarray, dis_ah: np.ndarray, dv: float) -> float:
    """numpy kernel for one cycle's DIS rows; NaN when underdetermined."""
    if voltage.shape[0] < 3:
        return float("nan")
    q = dis_ah - np.nanmin(dis_ah)
    order = np.argsort(voltage, kind="stable")
    v_sorted, q_sorted = voltage[order], q[order]
    span = v_sorted[-1] - v_sorted[0]
    if not span >= dv:  # also rejects NaN spans
        return float("nan")
    vgrid = np.arange(v_sorted[0], v_sorted[-1], dv)
    if vgrid.shape[0] < 2:
        return float("nan")
    qgrid = np.interp(vgrid, v_sorted, q_sorted)
    dqdv = np.gradient(qgrid, dv)
    return float(vgrid[int(np.argmax(dqdv))])


def _let(value: Column, body) -> Column:
    """``body(value)`` with ``value`` evaluated once. A lambda that reads
    an array column directly would rebuild it for every element
    (Catalyst inlines projected columns into lambdas); a lambda
    parameter is bound once."""
    return F.element_at(F.transform(F.array(value), body), 1)


def dqdv_points(dis: Column) -> Column:
    """Aggregate: the cycle's DIS rows as ``array<struct<v, t_null, t,
    q>>`` in kernel order — by voltage, ties in timestamp order (a NULL
    timestamp last, as pandas sorts NaT), then by capacity. NULL voltage
    and capacity become NaN."""
    nan = F.lit(float("nan"))
    row = F.struct(
        F.coalesce(F.col("voltage_v"), nan).alias("v"),
        F.col("timestamp").isNull().alias("t_null"),
        F.col("timestamp").alias("t"),
        F.coalesce(F.col("discharge_ah"), nan).alias("q"),
    )
    return F.sort_array(F.collect_list(F.when(dis, row)))


def _brackets(v: Column, grid: Column, n: Column, ng: Column) -> Column:
    """Index of the last sample ≤ each grid point (numpy's
    binary_search_with_guess) for the whole grid in one merge: sort the
    samples and the grid points together, a sample ahead of an equal
    grid point; grid point k at merged position p has p − 1 − k samples
    ahead of it. O((rows + grid)·log) in one native sort and one pass,
    where a search per grid point costs a lambda call per step."""

    def tagged(xs, size, kind):
        return F.arrays_zip(xs.alias("x"), F.array_repeat(F.lit(kind), size).alias("kind"))

    merged = F.sort_array(F.concat(tagged(v, n, 0), tagged(grid, ng, 1)))
    pos = _let(
        merged,
        lambda m: F.filter(
            F.sequence(F.lit(1), n + ng), lambda i: F.element_at(m, i)["kind"] == 1
        ),
    )
    return F.transform(pos, lambda p, k: p - k - 2)


def _interp(x: Column, j: Column, v: Column, q: Column, n: Column) -> Column:
    """np.interp(x, v, q) for one grid point x ≥ v[0] whose bracket
    starts at sample j."""
    v_lo, q_lo = F.element_at(v, j + 1), F.element_at(q, j + 1)
    v_hi, q_hi = F.element_at(v, j + 2), F.element_at(q, j + 2)
    slope = (q_hi - q_lo) / (v_hi - v_lo)
    fwd = slope * (x - v_lo) + q_lo
    back = slope * (x - v_hi) + q_hi
    return (
        F.when(j >= n - 1, F.element_at(q, n))
        .when(v_lo == x, q_lo)
        .when(~F.isnan(fwd), fwd)
        .when(F.isnan(back) & (q_lo == q_hi), q_lo)
        .otherwise(back)
    )


def _grid_argmax(s: Column, dv: float) -> Column:
    """Grid voltage at the first maximal np.gradient(interp(grid), dv)."""
    last = s["ng"] - 1

    def peak(qg):
        def grad(f, k):
            return (
                F.when(k == 0, (F.element_at(qg, 2) - f) / F.lit(dv))
                .when(k == last, (f - F.element_at(qg, k)) / F.lit(dv))
                .otherwise(
                    (F.element_at(qg, k + 2) - F.element_at(qg, k)) / F.lit(2.0 * dv)
                )
            )

        return _let(
            F.transform(qg, grad),
            lambda g: F.element_at(
                s["grid"], F.array_position(g, F.array_max(g)).cast("int")
            ),
        )

    lo = _brackets(s["v"], s["grid"], s["n"], s["ng"])
    qgrid = F.zip_with(s["grid"], lo, lambda x, j: _interp(x, j, s["v"], s["q"], s["n"]))
    return _let(qgrid, peak)


def peak_voltage(points: Column, dv: float) -> Column:
    """``_peak_voltage`` over a ``dqdv_points`` array; NULL where the
    numpy kernel returns NaN."""
    if not dv > 0:
        raise ValueError(f"dQ/dV grid step must be positive, got {dv!r}")

    def kernel(p):
        v0 = F.element_at(p, 1)["v"]
        span = F.element_at(p, -1)["v"] - v0
        ng = F.ceil(span / F.lit(dv))
        # CASE branches run in order: no element is read from a short array
        valid = F.when(F.size(p) < 3, False).otherwise(
            ~F.isnan(span) & (span >= dv) & (ng >= 2)
        )
        step = (v0 + F.lit(dv)) - v0
        grid = F.transform(
            F.sequence(F.lit(0), ng.cast("int") - 1),
            lambda k: F.when(k == 0, v0)
            .when(k == 1, v0 + F.lit(dv))
            .otherwise(v0 + k * step),
        )
        q = _let(F.array_min(p["q"]), lambda q_min: F.transform(p["q"], lambda x: x - q_min))
        state = F.struct(
            F.size(p).alias("n"),
            ng.cast("int").alias("ng"),
            p["v"].alias("v"),
            q.alias("q"),
            grid.alias("grid"),
        )
        return F.when(valid, _let(state, lambda s: _grid_argmax(s, dv)))

    return _let(points, kernel)


def dqdv_shift(ref_window) -> Column:
    """A10: mV shift of each cycle's peak from the first valid peak."""
    v_ref = F.first("dQdV_peak_V", ignorenulls=True).over(ref_window)
    return F.when(
        F.col("dQdV_peak_V").isNotNull(),
        (F.col("dQdV_peak_V") - v_ref) * F.lit(1000.0),
    )


def dqdv_peak_per_cycle(df: DataFrame, dv: float = DEFAULT_DV) -> DataFrame:
    from .features import per_cycle_features

    return per_cycle_features(df, dv=dv, features=("dqdv",))
