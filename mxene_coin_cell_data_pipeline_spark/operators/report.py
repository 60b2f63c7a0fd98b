"""Markdown cycle-life report (SURVEY.md S7/O3/P5).

Reference (/root/reference/step14_report.py): summary scalars + a
rounded first-10-cycles table rendered into a Markdown template. The
table is a top-k by cycle_index (orderBy + limit — Spark plans a
TakeOrdered, no full sort at scale); rendering is driver-side on ≤10
rows. Over a multi-cell table the report reads only its own cell's
summary row and cycles (``_summary_row``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

REPORT_COLUMNS = [
    "cycle_index",
    "Q_dis_Ah",
    "CE",
    "E_dis_Wh",
    "IR_C2_ohm",
    "dQdV_peak_V",
    "dQdV_shift_mV",
]
_ROUND = {
    "Q_dis_Ah": 3,
    "CE": 4,
    "E_dis_Wh": 3,
    "IR_C2_ohm": 4,
    "dQdV_peak_V": 3,
    "dQdV_shift_mV": 1,
}

TEMPLATE = """# Cycle-Life Report — {cell}

**Q₀ (Ah):** {q0:.3f}
**Fade slope:** {slope:.4f}% / cycle
**Estimated cycles to 80%:** {rul:.0f}

## First 10 cycles (features)
{table}

*Generated by mxene_coin_cell_data_pipeline_spark*
"""


def _to_markdown(pdf) -> str:
    """Minimal GitHub-table renderer (pandas.to_markdown needs the
    optional tabulate dependency, absent in this environment)."""
    cols = [str(c) for c in pdf.columns]
    cells = [
        ["" if v is None or v != v else str(v) for v in row]
        for row in pdf.itertuples(index=False)
    ]
    widths = [
        max(len(cols[i]), *(len(r[i]) for r in cells)) if cells else len(cols[i])
        for i in range(len(cols))
    ]
    fmt = lambda row: "| " + " | ".join(v.ljust(w) for v, w in zip(row, widths)) + " |"  # noqa: E731
    sep = "|" + "|".join("-" * (w + 2) for w in widths) + "|"
    return "\n".join([fmt(cols), sep] + [fmt(r) for r in cells])


def report_table(features: DataFrame, n: int = 10) -> DataFrame:
    """First-n cycles, display columns, per-column rounding (P5/O3)."""
    cols = [
        F.round(F.col(c), _ROUND[c]).alias(c) if c in _ROUND else F.col(c)
        for c in REPORT_COLUMNS
    ]
    return features.orderBy("cycle_index").limit(n).select(*cols)


def _summary_row(summary: DataFrame, cell: str):
    """The summary row of ``cell``. A summary without ``cell_id`` is
    one row. When no row carries ``cell``, a summary of one cell is
    that cell's (the CLI's ``--cell`` names the report, and a raw
    CSV's own ``cell_id`` column may spell the cell otherwise); an
    empty one gives None, and one of several other cells is an error."""
    if "cell_id" not in summary.columns:
        rows = summary.collect()
        return rows[0] if rows else None
    rows = summary.filter(F.col("cell_id") == F.lit(cell)).collect()
    if rows:
        return rows[0]
    rows = summary.collect()
    if len(rows) > 1:
        found = sorted(str(r["cell_id"]) for r in rows)
        raise ValueError(f"no summary row for cell {cell!r}; cells found: {found}")
    return rows[0] if rows else None


def render_report(features: DataFrame, summary: DataFrame, cell: str) -> str:
    s = _summary_row(summary, cell)
    if "cell_id" in features.columns:
        own = s["cell_id"] if s is not None and "cell_id" in summary.columns else cell
        features = features.filter(F.col("cell_id").eqNullSafe(F.lit(own)))
    pdf = report_table(features).toPandas()
    nan = float("nan")
    return TEMPLATE.format(
        cell=cell,
        q0=s["Q0_Ah"] if s and s["Q0_Ah"] is not None else nan,
        slope=(
            s["fade_slope_pct_per_cycle"]
            if s and s["fade_slope_pct_per_cycle"] is not None
            else nan
        ),
        rul=s["cycles_to_80pct"] if s and s["cycles_to_80pct"] is not None else nan,
        table=_to_markdown(pdf),
    )
