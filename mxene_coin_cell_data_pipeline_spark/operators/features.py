"""The per-cycle feature table as one partition-local plan.

Reference (pipeline.py:282-296, step7/step10): features
= capacity ⟕ energy ⟕ IR ⟕ dQdV on cycle_index. Every formula reads the
rows of one cycle, except the IR row position, which counts rows over
the whole cell. The plan reads the raw timeseries once and lets Spark
place the one exchange of raw rows that the first window or the
aggregate needs:

1. the IR row position per cell (operators/ir.py);
2. two windows over each cycle's rows: the energy lag by timestamp
   over the DIS rows (operators/energy.py), then the IR argmin;
3. one ``groupBy(cycle keys)`` holding every formula as a conditional
   aggregate — a cycle without DIS rows still gets its row, with NULL
   DIS features — and the dQ/dV kernel over the cycle's sorted points
   (operators/dqdv.py);
4. the per-cell ``q_norm`` and ``dQdV_shift_mV`` windows.

With the IR family (``full_feature_pipeline``), step 1 hashes the raw
rows by cell and every later step reuses that partitioning, so a cell
is one task: a single-cell table runs on one core (a frame without
``cell_id`` is one partition). Without IR the raw rows are hashed by
cycle keys, or, with no window at all (capacity or dQ/dV alone),
partially aggregated before the shuffle; only the per-cycle rows move
again for step 4.

``full_feature_pipeline`` materializes the table through
``checkpoint.durable_checkpoint``: the plan above runs as Spark jobs
inside the call, and every later read (the CSV, the fade summary, the
report, QC) scans the stored cycles instead of re-running the raw-row
scan, the exchange, the windows and the dQ/dV kernel. The checkpoint
job runs the same plan, so the one-task-per-cell limit is unchanged.

The single-feature operators (``capacity_ce_per_cycle``, ...) select
their family from this plan, so each formula has one implementation.
Each family module writes its formulas as SQL text (operators/_sql.py)
— the window columns, the aggregate list, the finishing projection —
so building the plan is a few dozen py4j calls whatever the formulas
hold, where Column trees cost one call per node (some 1,700).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..checkpoint import durable_checkpoint, release_checkpoint
from ._keys import IS_DIS, cell_keys, cycle_keys, drop_null_cycles
from ._sql import ident, over
from .capacity import capacity_aggs, coulombic_efficiency, q_norm
from .dqdv import DEFAULT_DV, dqdv_points, dqdv_shift, peak_voltage
from .energy import energy_aggs, energy_segment, energy_wh
from .ir import ir_aggs, ir_argmin, ir_ohm, ir_position

#: feature families in output order, with their output columns
FEATURES = {
    "capacity": ("Q_dis_Ah", "Q_chg_Ah", "CE", "q_norm"),
    "energy": ("E_dis_Wh",),
    "ir": ("IR_C2_ohm",),
    "dqdv": ("dQdV_peak_V", "dQdV_shift_mV"),
}


def per_cycle_features(
    ts: DataFrame,
    rated_ah: float = 3.0,
    dv: float = DEFAULT_DV,
    ir_window: int = 1,
    features: tuple[str, ...] = tuple(FEATURES),
) -> DataFrame:
    """Canonical timeseries → cycle keys + the output columns of the
    requested feature families (unordered rows). Only the input columns
    those families read need to exist."""
    unknown = set(features) - FEATURES.keys()
    if unknown:
        raise ValueError(f"unknown feature families {sorted(unknown)}")
    keys, cells = cycle_keys(ts), cell_keys(ts)
    want = [f for f in FEATURES if f in features]
    dis = ident("_dis")

    rows = ts
    if "ir" in want:
        rows = rows.withColumn("_pos", F.expr(ir_position(cells)))
    rows = drop_null_cycles(rows).withColumn("_dis", F.expr(IS_DIS))
    if "energy" in want:
        by_time = over(keys, ["_dis", "timestamp"])
        rows = rows.withColumn("_seg_u", F.expr(energy_segment(dis, by_time)))
    if "ir" in want:
        rows = rows.withColumn("_idx", F.expr(ir_argmin(dis, over(keys), rated_ah)))

    aggs, finals = [], []
    if "capacity" in want:
        aggs += capacity_aggs()
        finals += ["`Q_dis_Ah`", "`Q_chg_Ah`", f"{coulombic_efficiency()} AS `CE`"]
    if "energy" in want:
        aggs += energy_aggs(dis)
        finals.append(f"{energy_wh()} AS `E_dis_Wh`")
    if "ir" in want:
        aggs += ir_aggs(dis, ir_window)
        finals.append(f"{ir_ohm()} AS `IR_C2_ohm`")
    if "dqdv" in want:
        aggs.append(f"{dqdv_points(dis)} AS `_pts`")
        finals.append(f"{peak_voltage(ident('_pts'), dv)} AS `dQdV_peak_V`")
    key_cols = [ident(k) for k in keys]
    per_cycle = (
        rows.groupBy(*keys).agg(*map(F.expr, aggs)).selectExpr(*key_cols, *finals)
    )

    by_cell = over(
        cells, ["cycle_index"], "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
    )
    windowed = {"q_norm": q_norm(by_cell), "dQdV_shift_mV": dqdv_shift(by_cell)}
    return per_cycle.selectExpr(
        *key_cols,
        *(
            f"{windowed[c]} AS {ident(c)}" if c in windowed else ident(c)
            for f in want
            for c in FEATURES[f]
        ),
    )


def full_feature_pipeline(
    ts: DataFrame, rated_ah: float = 3.0, dv: float = DEFAULT_DV, cache: bool = False
) -> DataFrame:
    """Canonical timeseries → per-cycle feature table ordered by the
    cycle keys (pipeline.py:282-296), materialized once.

    The table is computed inside this call by one eager
    ``durable_checkpoint`` (a ``localCheckpoint``, or a reliable
    checkpoint when a checkpoint dir is configured), so later reads of
    the returned frame do not rescan ``ts``. Local checkpoint blocks are
    freed when the frame is garbage-collected. A cell is still one task
    (module docstring). ``cache`` is accepted and ignored: the table is already
    materialized, and ``persist`` would only pin blocks nothing frees.

    The checkpoint stores the rows sorted within the partitions of the
    per-cell window, whose sort by the cycle keys they already carry:
    two Spark jobs and no range sort (a global ``orderBy`` here cost a
    sampling job and a range exchange as well). A checkpoint reports
    ``UnknownPartitioning``. A one-partition table (a single cell, or a
    small one) holds its rows in order and is returned through
    ``coalesce(1)``, which moves no rows and reports
    ``SinglePartition``, so its consumers plan no exchange. The count
    is the checkpoint RDD's own, read without a Spark job. Any other
    table is stored once more under a global ``orderBy`` of the cycle
    keys, a range sort of the stored cycles: a lazy ``orderBy`` would
    leave its range exchange and Sort under the fade and QC aggregates,
    since their ``min_by``, ``regr_*`` and ``median`` are
    order-sensitive and ``EliminateSorts`` keeps the sort. The first
    copy is released once the ordered one is stored.
    """
    keys = cycle_keys(ts)
    feat = durable_checkpoint(
        per_cycle_features(ts, rated_ah, dv).sortWithinPartitions(*keys)
    )
    if feat._jdf.queryExecution().analyzed().rdd().getNumPartitions() == 1:
        return feat.coalesce(1)
    ordered = durable_checkpoint(feat.orderBy(*keys))
    release_checkpoint(feat)
    return ordered
