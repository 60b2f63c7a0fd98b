"""Normalize vendor cycler data to the canonical timeseries schema.

Spark-first re-expression of the reference normalize stage
(/root/reference/pipeline.py:16-151, step2_normalize.py): soft vendor
renames, lenient casts, step-label canonicalization, unit rescale,
discharge-negative sign convention, canonical projection.

The per-row part is one ``select`` over the raw columns: the header
strip and the vendor renames are resolved in Python over the column
names, and each canonical column is one SQL expression reading its raw
column by its quoted name (operators/_sql.py), so building it is a
few dozen py4j calls for any layout. The sign-flip decision
(pipeline.py:131-135) is a per-cell fraction of discharge rows with
positive current, one expression shared by every path:

- batch with a ``cell_id`` column (or argument): a window over the one
  exchange by cell that also orders the rows — one exchange, one sort,
  no aggregate, no join, at any number of cells;
- batch without cells: one driver-side aggregate, then a negate;
- streaming: ``sign_flip_decisions`` over history, applied to each
  micro-batch by a broadcast join of the tiny per-cell decision table
  (``apply_sign_flip``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..schema import (
    ARBIN_MAP,
    CANONICAL_COLUMNS,
    CYCLE_CANDIDATES,
    NEWARE_MAP,
    STEP_CANDIDATES,
    STEP_TYPE_MAP,
)
from ._keys import IS_DIS
from ._sql import double, ident, string

#: base-unit column → its milli-unit source (C4, pipeline.py:118-125)
_MILLI = {
    "current_a": "current_mA",
    "voltage_v": "voltage_mV",
    "charge_ah": "charge_mAh",
    "discharge_ah": "discharge_mAh",
}


def _source_columns(columns: list[str]) -> dict[str, str | None]:
    """Name after the header strip (P1, pipeline.py:26) and the soft
    vendor renames (P2) → the raw column it reads; ``None`` when two raw
    columns strip to that name. A rename applies only when its source
    exists and its target does not; the first writer of a target wins
    (guards against duplicate canonical columns, which pandas would
    silently create; see pipeline.py:69-75)."""
    src: dict[str, str | None] = {}
    for raw in columns:
        name = raw.strip()
        src[name] = None if name in src else raw
    for mapping in (ARBIN_MAP, NEWARE_MAP):
        renames: dict[str, str] = {}
        for old, new in mapping.items():
            if old in src and new not in src and new not in renames.values():
                renames[old] = new
        src = {renames.get(name, name): raw for name, raw in src.items()}
    # cycle & step indices (P3/C3, pipeline.py:88-99)
    for target, candidates in (
        ("cycle_index", CYCLE_CANDIDATES),
        ("step_index", STEP_CANDIDATES),
    ):
        if target not in src:
            cand = next((c for c in candidates if c in src), None)
            if cand is not None:
                src[target] = src.pop(cand)
    return src


def _lenient_double(col: str) -> str:
    """pandas ``to_numeric(errors="coerce")`` equivalent; ANSI-safe."""
    return f"try_cast(CAST({col} AS STRING) AS DOUBLE)"


def _canonical_step_type(col: str) -> str:
    """Uppercase + exact-label replacement (pipeline.py:110-115).

    pandas ``astype(str)`` stringifies missing values to ``"nan"`` →
    upper ``"NAN"``; mirrored with the coalesce so downstream substring
    filters see the same tokens the reference sees.
    """
    upper = f"upper(coalesce(CAST({col} AS STRING), 'nan'))"
    mapping = ", ".join(string(x) for kv in STEP_TYPE_MAP.items() for x in kv)
    return f"coalesce(element_at(map({mapping}), {upper}), {upper})"


def normalize_cycler_stateless(df: DataFrame, cell_id: str | None = None) -> DataFrame:
    """The per-row (stateless) part of normalize: renames, casts, label
    canonicalization, unit rescale, canonical projection.

    One ``select`` over the raw columns, each output column one SQL
    expression: no aggregation, no sort, so it applies unchanged to a
    *streaming* DataFrame (streaming/ingest.py). The batch
    ``normalize_cycler`` adds the two stateful phases on top: the
    per-cell sign-flip decision (C10) and the canonical ordering (O1).
    """
    src = _source_columns(df.columns)

    def col(name: str) -> str:
        raw = src[name]
        if raw is None:
            raise ValueError(f"Duplicate column after trimming the header: {name!r}")
        return ident(raw)

    # --- timestamp (C1/C2, pipeline.py:79-85)
    if "timestamp" in src:
        out = {"timestamp": f"try_to_timestamp(CAST({col('timestamp')} AS STRING))"}
    elif "test_time_s" in src:
        out = {"timestamp": f"timestamp_seconds({_lenient_double(col('test_time_s'))})"}
    else:
        raise ValueError(
            "No timestamp-like column found (expected Date_Time/Record Time "
            "or Test Time (s))."
        )

    # --- cycle & step indices: to_numeric(...).astype("Int64") accepts
    # "3.0" → 3, so go through double, then truncate to long.
    for idx in ("cycle_index", "step_index"):
        num = _lenient_double(col(idx)) if idx in src else "CAST(NULL AS DOUBLE)"
        out[idx] = f"try_cast({num} AS BIGINT)"

    # --- step type (C5/C6, pipeline.py:102-115): inferred from the raw
    # current's sign when the export has no step column
    if "step_type" in src:
        step = col("step_type")
    elif "current_a" in src or "current_mA" in src:
        cur = _lenient_double(col("current_a" if "current_a" in src else "current_mA"))
        step = (
            f"CASE WHEN {cur} < 0 THEN 'CC_DIS' WHEN {cur} > 0 THEN 'CC_CHG' "
            "ELSE 'REST' END"
        )
    else:
        step = "'REST'"
    out["step_type"] = _canonical_step_type(step)

    # --- units → A/V/Ah (C4), every numeric column a true double
    # whatever the CSV's string types (the reference relies on pandas
    # inference here); temp_c is optional (P4/P8, pipeline.py:138-145)
    for c in ("current_a", "voltage_v", "charge_ah", "discharge_ah", "temp_c"):
        if c in src:
            out[c] = _lenient_double(col(c))
        elif _MILLI.get(c) in src:
            milli = _lenient_double(col(_MILLI[c]))
            out[c] = _lenient_double(f"{milli} / {double(1000.0)}")
        elif c == "temp_c":
            out[c] = "CAST(NULL AS DOUBLE)"
    missing = [c for c in CANONICAL_COLUMNS if c not in out]
    if missing:
        raise ValueError(
            f"Missing required column after normalization: {missing[0]}"
        )

    canonical = [F.expr(f"{out[c]} AS {ident(c)}") for c in CANONICAL_COLUMNS]
    if "cell_id" in src:
        return df.select(F.expr(f"{col('cell_id')} AS `cell_id`"), *canonical)
    if cell_id is not None:
        return df.select(F.lit(cell_id).alias("cell_id"), *canonical)
    return df.select(*canonical)


def _flip(window: str = "") -> str:
    """C10 (pipeline.py:131-135), the fraction both the batch and the
    streaming path read: TRUE when more than 80% of the discharge-step
    rows carry positive current, FALSE without any. ``window`` makes it
    a window aggregate."""
    frac = f"avg(CASE WHEN {IS_DIS} THEN IF(`current_a` > 0, 1.0D, 0.0D) END)"
    return f"coalesce({frac} {window} > {double(0.8)}, false)"


def sign_flip_decisions(df: DataFrame) -> DataFrame:
    """Per-cell sign-flip decision table ``(cell_id, _flip)``: one
    map-side-combined avg per cell, one row per cell.

    Streaming ingest computes it once over history and feeds it to
    ``streaming.normalize_cycler_stream``, which joins it to each
    micro-batch as a static broadcast side (``apply_sign_flip``).
    """
    return df.groupBy("cell_id").agg(F.expr(_flip()).alias("_flip"))


def apply_sign_flip(df: DataFrame, decisions: DataFrame) -> DataFrame:
    """Negate ``current_a`` for cells marked ``_flip`` (broadcast join)."""
    return (
        df.join(F.broadcast(decisions), "cell_id", "left")
        .withColumn(
            "current_a",
            F.expr("CASE WHEN coalesce(`_flip`, false) THEN -`current_a` ELSE `current_a` END"),
        )
        .drop("_flip")
    )


def normalize_cycler(df: DataFrame, cell_id: str | None = None) -> DataFrame:
    """Vendor CSV DataFrame (all-string ok) → canonical timeseries.

    Output schema: CANONICAL_COLUMNS (+ leading ``cell_id`` when given),
    sorted by timestamp within cell. Raises ValueError when no
    timestamp-like or required column can be derived
    (pipeline.py:85,145).
    """
    df = normalize_cycler_stateless(df, cell_id)
    if "cell_id" in df.columns:
        # one exchange by cell: the sort within it is the canonical
        # order (O1, pipeline.py:148) and the per-cell window over it
        # the sign decision (C10), with no aggregate or join
        flip = _flip("OVER (PARTITION BY `cell_id`)")
        return (
            df.repartition("cell_id")
            .sortWithinPartitions("cell_id", "timestamp")
            .withColumn(
                "current_a",
                F.expr(f"CASE WHEN {flip} THEN -`current_a` ELSE `current_a` END"),
            )
        )
    # one cell: one driver-side decision, then a global sort
    if df.select(F.expr(_flip())).first()[0]:
        df = df.withColumn("current_a", F.expr("-`current_a`"))
    return df.orderBy("timestamp")
