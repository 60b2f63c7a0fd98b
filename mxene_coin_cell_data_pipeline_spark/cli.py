"""Command-line entry point — the reference pipeline's CLI, Spark-first.

Mirrors ``/root/reference/pipeline.py:263-314`` (``--in/--cell/
--rated_ah`` → normalize → per-cycle features → fade/RUL summary →
CSV/Parquet outputs → report, plots when matplotlib is present) and
``step12_qc.py``'s ``qc`` subcommand with its exit-1-on-warning
automation contract.

    python -m mxene_coin_cell_data_pipeline_spark run \
        --in raw.csv --cell CELL01 --rated_ah 3.0 --out out/
    python -m mxene_coin_cell_data_pipeline_spark qc \
        --features out/CELL01_features_full.csv

Outputs (matching the reference's file contract, single-file CSVs):
``<cell>_timeseries.parquet`` (canonical layer),
``<cell>_features_full.csv``, ``<cell>_summary.csv``,
``<cell>_report.md``, and ``plot_*.png`` when matplotlib is available.
"""

from __future__ import annotations

import argparse
import os
import sys


def _write_single_csv(df, path: str) -> None:
    """Single-file CSV with header — the reference's file contract.

    The feature/summary tables are per-cycle/per-cell (tiny), so a
    driver-side pandas write is the right tool; distributed outputs
    stay parquet.
    """
    df.toPandas().to_csv(path, index=False)


def cmd_run(args: argparse.Namespace) -> int:
    from . import get_spark
    from .operators import (
        fade_and_rul,
        full_feature_pipeline,
        normalize_cycler,
        qc_checks,
    )
    from .operators.plots import HAVE_MPL, quick_plots
    from .operators.report import render_report
    from .sources import read_cycler_csv

    os.makedirs(args.out, exist_ok=True)
    spark = get_spark(f"mxene-run-{args.cell}")
    try:
        ts = normalize_cycler(read_cycler_csv(spark, args.infile), cell_id=args.cell)
        ts_path = os.path.join(args.out, f"{args.cell}_timeseries.parquet")
        ts.write.mode("overwrite").parquet(ts_path)

        # features read the materialized layer; its schema is known, so
        # the read runs no schema-inference job
        ts = spark.read.schema(ts.schema).parquet(ts_path)
        feat = full_feature_pipeline(
            ts, rated_ah=args.rated_ah, dv=args.dv
        ).orderBy("cycle_index")
        _write_single_csv(
            feat, os.path.join(args.out, f"{args.cell}_features_full.csv")
        )

        summary = fade_and_rul(feat)
        _write_single_csv(summary, os.path.join(args.out, f"{args.cell}_summary.csv"))

        report = render_report(feat, summary, args.cell)
        with open(os.path.join(args.out, f"{args.cell}_report.md"), "w") as f:
            f.write(report)

        if HAVE_MPL:
            quick_plots(feat, args.out)

        qc = qc_checks(feat.drop("cell_id"))
        for m in qc.messages:
            print(f"[QC] {m}")
        print(f"Wrote {args.out}/{args.cell}_{{timeseries.parquet,features_full.csv,summary.csv,report.md}}")
        return 0
    finally:
        spark.stop()


def cmd_qc(args: argparse.Namespace) -> int:
    from . import get_spark
    from .operators import qc_checks

    spark = get_spark("mxene-qc")
    try:
        feat = spark.read.option("header", True).option("inferSchema", True).csv(
            args.features
        )
        qc = qc_checks(feat)
        for m in qc.messages:
            print(f"[QC] {m}")
        print("QC PASSED" if qc.passed else "QC FAILED")
        return qc.exit_code  # exit-1-on-warning (step12_qc.py:71)
    finally:
        spark.stop()


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="mxene_coin_cell_data_pipeline_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    run = sub.add_parser("run", help="full pipeline: raw CSV -> features/summary/report")
    run.add_argument("--in", dest="infile", required=True, help="raw cycler CSV")
    run.add_argument("--cell", required=True, help="cell id")
    run.add_argument("--rated_ah", type=float, default=3.0)
    run.add_argument("--dv", type=float, default=0.05, help="dQ/dV grid step")
    run.add_argument("--out", default="data/processed", help="output directory")
    run.set_defaults(fn=cmd_run)

    qc = sub.add_parser("qc", help="QC checks over a features CSV; exit 1 on warning")
    qc.add_argument("--features", required=True, help="features_full.csv path")
    qc.set_defaults(fn=cmd_qc)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
