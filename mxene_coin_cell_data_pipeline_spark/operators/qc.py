"""QC threshold checks over the features table (SURVEY.md §2.9 Q1-Q7).

Reference (/root/reference/step12_qc.py:21-73): seven aggregate checks,
warnings printed, process exits 1 when any check fires. All seven
collapse into ONE Spark aggregation producing a single scalar row; the
assertions run driver-side on that row, preserving the
exit-1-on-warning automation contract.

Medians are exact (``median``) to match pandas, per SURVEY.md §7's
watch list — not ``percentile_approx``. The aggregate list is SQL text
(operators/_sql.py), so building it is a few dozen py4j calls.

SCALE BOUNDARY: this module targets the FEATURES layer — one row per
(cell, cycle), i.e. thousands of rows per cell, millions for a whole
fleet — never the raw sample-level timeseries. The exact ``median``
and ``count(DISTINCT ...)`` here are TypedImperativeAggregates whose final
merge buffers the column on a single node: perfectly fine at features
cardinality, not a 100 TB raw-data shape. For exact quantiles over
fact-scale data use the two-pass bucketed selection in
``functions.stats.exact_quantiles_2pass`` (query a17's plan — no
single-node buffer), or ``percentile_approx`` when a sketch bound is
acceptable (a25's plan). ``tests/test_qc.py::test_qc_targets_features_layer``
pins this contract.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Row, functions as F

from ._sql import ident


@dataclass
class QCResult:
    passed: bool
    messages: list[str]
    stats: dict

    @property
    def exit_code(self) -> int:
        return 0 if self.passed else 1


def _count_if(cond: str) -> str:
    return f"sum(CASE WHEN {cond} THEN 1 ELSE 0 END)"


def qc_aggregate(features: DataFrame) -> DataFrame:
    """The one-row aggregate feeding every check (single shuffle-free
    pass with map-side partial aggregation). A check whose column is
    absent reads a typed NULL."""
    cols = set(features.columns)

    def when_has(col: str, agg: str, null_type: str) -> str:
        return agg if col in cols else f"CAST(NULL AS {null_type})"

    aggs = {
        "n_rows": "count(1)",
        "n_cycles": "count(DISTINCT `cycle_index`)",
        "null_cycle": _count_if("`cycle_index` IS NULL"),
        "null_qdis": _count_if("`Q_dis_Ah` IS NULL"),
        "ce_min": "min(`CE`)",
        "ce_max": "max(`CE`)",
        "q_first": "min_by(`Q_dis_Ah`, `cycle_index`)",
        "q_last": "max_by(`Q_dis_Ah`, `cycle_index`)",
        "n_epos_bad": when_has("E_dis_Wh", _count_if("`E_dis_Wh` <= 0"), "BIGINT"),
        "n_ir_bad": when_has("IR_C2_ohm", _count_if("`IR_C2_ohm` <= 0"), "BIGINT"),
        "ir_median": when_has("IR_C2_ohm", "median(`IR_C2_ohm`)", "DOUBLE"),
        "shift_max_abs": when_has(
            "dQdV_shift_mV", "max(abs(`dQdV_shift_mV`))", "DOUBLE"
        ),
    }
    return features.agg(*(F.expr(f"{e} AS {ident(n)}") for n, e in aggs.items()))


def qc_messages(s: Row) -> list[str]:
    """Threshold assertions on the aggregate row (step12_qc.py:21-57)."""
    msgs: list[str] = []
    if s["null_cycle"]:
        msgs.append("cycle_index has NULLs.")
    if s["null_qdis"]:
        msgs.append("Q_dis_Ah has NULLs (capacity missing).")
    if s["ce_min"] is not None and (s["ce_min"] < 0.95 or s["ce_max"] > 1.05):
        msgs.append(
            f"CE outside [0.95,1.05]: min={s['ce_min']:.3f}, max={s['ce_max']:.3f}"
        )
    if (
        s["n_rows"] >= 2
        and s["q_first"] is not None
        and s["q_last"] is not None
        and (s["q_last"] - s["q_first"]) > 0.02 * s["q_first"]
    ):
        msgs.append("Capacity increased >2% from first to last cycle (unexpected).")
    if s["n_epos_bad"]:
        msgs.append("Some discharge energies <= 0 Wh.")
    if s["n_ir_bad"]:
        msgs.append("IR_C2 has non-positive values.")
    if s["ir_median"] is not None and s["ir_median"] > 0.2:
        msgs.append(f"Median IR_C2 seems high: {s['ir_median']:.3f} Ω")
    if s["shift_max_abs"] is not None and s["shift_max_abs"] > 200:
        msgs.append(
            f"dQ/dV peak shift > 200 mV detected (max {s['shift_max_abs']:.1f} mV)"
        )
    return msgs


def qc_checks(features: DataFrame) -> QCResult:
    (s,) = qc_aggregate(features).collect()  # a global aggregate: one row
    msgs = qc_messages(s)
    return QCResult(passed=not msgs, messages=msgs, stats=s.asDict())


def qc_report(features: DataFrame, cell: str = "") -> str:
    """Human-readable QC text mirroring step12_qc.py:60-73 output."""
    res = qc_checks(features)
    s = res.stats
    lines = [f"QC for {cell}", f"Rows: {s['n_rows']} | Cycles: {s['n_cycles']}"]
    if s["ce_min"] is not None:
        lines.append(f"CE range: {s['ce_min']:.3f} → {s['ce_max']:.3f}")
    if s["ir_median"] is not None:
        lines.append(f"IR_C2 median: {s['ir_median']:.4f} Ω")
    if res.messages:
        lines.append("WARNINGS:")
        lines += [f" - {m}" for m in res.messages]
    else:
        lines.append("QC PASS")
    return "\n".join(lines)
