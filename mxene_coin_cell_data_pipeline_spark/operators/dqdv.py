"""Per-cycle dQ/dV peak voltage + shift (SURVEY.md A8-A10).

Reference (pipeline.py:206-228): per cycle, interpolate
Q(V) onto a uniform voltage grid, take the finite-difference gradient,
and report the grid voltage at the gradient argmax. ``_peak_voltage``
is that numpy kernel, kept as the reference; ``peak_voltage`` is the
same kernel as one SQL expression over Spark's built-in array
functions (``transform``, ``zip_with``, ``filter``, ``sort_array``),
so the feature plan (operators/features.py) runs it inside the
per-cycle aggregate with no Python hop. The two agree bit for bit
(tests/test_properties.py).

The expression is text the JVM parses once: built as Column objects it
cost some 1,500 py4j calls per feature plan. Every float in it is a
DOUBLE literal (``0.05D``, operators/_sql.py): a bare SQL ``0.05`` is a
DECIMAL and would change the grid arithmetic.

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
from pyspark.sql import DataFrame

from ._sql import double

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


def _let(value: str, var: str, body: str) -> str:
    """``body`` with the lambda variable ``var`` bound to ``value``,
    evaluated once. A lambda that reads an array column directly would
    rebuild it for every element (Catalyst inlines projected columns
    into lambdas); a lambda parameter is bound once. Lambda variables
    are named apart from each other and from every column the kernel
    reads, so no name is shadowed."""
    return f"element_at(transform(array({value}), {var} -> {body}), 1)"


def dqdv_points(dis: str) -> str:
    """Aggregate: the cycle's DIS rows as ``array<struct<v, t_null, t,
    q>>`` in kernel order — by voltage, ties in timestamp order (a NULL
    timestamp last, as pandas sorts NaT), then by capacity. NULL voltage
    and capacity become NaN."""
    nan = double(float("nan"))
    return (
        f"sort_array(collect_list(CASE WHEN {dis} THEN named_struct("
        f"'v', coalesce(`voltage_v`, {nan}), 't_null', `timestamp` IS NULL, "
        f"'t', `timestamp`, 'q', coalesce(`discharge_ah`, {nan})) END))"
    )


def _brackets() -> str:
    """Index of the last sample ≤ each grid point of the state ``s``
    (numpy's binary_search_with_guess) for the whole grid in one merge:
    sort the samples and the grid points together, a sample ahead of an
    equal grid point; grid point k at merged position p has p − 1 − k
    samples ahead of it. O((rows + grid)·log) in one native sort and
    one pass, where a search per grid point costs a lambda call per
    step."""
    merged = (
        "sort_array(concat("
        "transform(s.v, x -> named_struct('x', x, 'kind', 0)), "
        "transform(s.grid, x -> named_struct('x', x, 'kind', 1))))"
    )
    at = _let(merged, "m", "filter(sequence(1, s.n + s.ng), i -> element_at(m, i).kind = 1)")
    return f"transform({at}, (p_at, k) -> p_at - k - 2)"


def _interp() -> str:
    """np.interp(x, s.v, s.q) for one grid point x ≥ v[0] whose bracket
    starts at sample j."""
    v_lo, q_lo = "element_at(s.v, j + 1)", "element_at(s.q, j + 1)"
    v_hi, q_hi = "element_at(s.v, j + 2)", "element_at(s.q, j + 2)"
    slope = f"(({q_hi} - {q_lo}) / ({v_hi} - {v_lo}))"
    fwd = f"({slope} * (x - {v_lo}) + {q_lo})"
    back = f"({slope} * (x - {v_hi}) + {q_hi})"
    return (
        f"CASE WHEN j >= s.n - 1 THEN element_at(s.q, s.n) "
        f"WHEN {v_lo} = x THEN {q_lo} "
        f"WHEN NOT isnan({fwd}) THEN {fwd} "
        f"WHEN isnan({back}) AND {q_lo} = {q_hi} THEN {q_lo} "
        f"ELSE {back} END"
    )


def _grid_argmax(dv: float) -> str:
    """Grid voltage at the first maximal np.gradient(interp(grid), dv)."""
    d, d2 = double(dv), double(2.0 * dv)
    grad = (
        f"CASE WHEN k = 0 THEN (element_at(qg, 2) - f) / {d} "
        f"WHEN k = s.ng - 1 THEN (f - element_at(qg, k)) / {d} "
        f"ELSE (element_at(qg, k + 2) - element_at(qg, k)) / {d2} END"
    )
    peak = _let(
        f"transform(qg, (f, k) -> {grad})",
        "g",
        "element_at(s.grid, CAST(array_position(g, array_max(g)) AS INT))",
    )
    qgrid = f"zip_with(s.grid, {_brackets()}, (x, j) -> {_interp()})"
    return _let(qgrid, "qg", peak)


def peak_voltage(points: str, dv: float) -> str:
    """``_peak_voltage`` over a ``dqdv_points`` array; NULL where the
    numpy kernel returns NaN."""
    if not dv > 0:
        raise ValueError(f"dQ/dV grid step must be positive, got {dv!r}")
    d = double(dv)
    v0 = "element_at(p, 1).v"
    span = f"(element_at(p, -1).v - {v0})"
    ng = f"ceil({span} / {d})"
    # CASE branches run in order: no element is read from a short array
    valid = (
        f"CASE WHEN size(p) < 3 THEN false "
        f"ELSE NOT isnan({span}) AND {span} >= {d} AND {ng} >= 2 END"
    )
    step = f"(({v0} + {d}) - {v0})"
    grid = (
        f"transform(sequence(0, CAST({ng} AS INT) - 1), k -> CASE WHEN k = 0 THEN {v0} "
        f"WHEN k = 1 THEN {v0} + {d} ELSE {v0} + k * {step} END)"
    )
    q = _let("array_min(p.q)", "q_min", "transform(p.q, x -> x - q_min)")
    state = (
        f"named_struct('n', size(p), 'ng', CAST({ng} AS INT), 'v', p.v, "
        f"'q', {q}, 'grid', {grid})"
    )
    return _let(points, "p", f"CASE WHEN {valid} THEN {_let(state, 's', _grid_argmax(dv))} END")


def dqdv_shift(window: str) -> str:
    """A10: mV shift of each cycle's peak from the first valid peak;
    ``window`` is the per-cell ``OVER`` clause in cycle order."""
    peak = "`dQdV_peak_V`"
    return (
        f"CASE WHEN {peak} IS NOT NULL "
        f"THEN ({peak} - first({peak}, true) {window}) * {double(1000.0)} END"
    )


def dqdv_peak_per_cycle(df: DataFrame, dv: float = DEFAULT_DV) -> DataFrame:
    from .features import per_cycle_features

    return per_cycle_features(df, dv=dv, features=("dqdv",))
