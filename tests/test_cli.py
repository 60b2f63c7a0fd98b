"""The command line: ``run`` writes the reference's four outputs from a
raw cycler CSV, and ``qc`` keeps the exit-1-on-warning contract.

Each command runs in a subprocess, since ``cmd_run`` and ``cmd_qc``
stop their Spark session.
"""

from __future__ import annotations

import os
import subprocess
import sys

import pandas as pd
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _cli(*args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "-m", "mxene_coin_cell_data_pipeline_spark", *args],
        cwd=REPO, env=dict(os.environ, SPARK_GRAFT_CPUS="4"),
        capture_output=True, text=True, timeout=300,
    )


def test_cli_run_and_qc(spark, tmp_path):
    """``run`` exits 0 and writes the timeseries, features, summary and
    report; its features CSV equals the in-process feature table of the
    same CSV; ``qc`` exits 1 on the fixture (its IR is 0.75 Ω by
    design)."""
    from fixtures import RATED_AH, arbin_frame

    from mxene_coin_cell_data_pipeline_spark.cli import _write_single_csv
    from mxene_coin_cell_data_pipeline_spark.operators import (
        full_feature_pipeline,
        normalize_cycler,
    )
    from mxene_coin_cell_data_pipeline_spark.sources import read_cycler_csv

    raw = tmp_path / "CELL01_raw.csv"
    arbin_frame().to_csv(raw, index=False)
    out = tmp_path / "processed"
    r = _cli("run", "--in", str(raw), "--cell", "CELL01",
             "--rated_ah", str(RATED_AH), "--out", str(out))
    assert r.returncode == 0, r.stderr[-2000:]
    for f in ["CELL01_timeseries.parquet", "CELL01_features_full.csv",
              "CELL01_summary.csv", "CELL01_report.md"]:
        assert (out / f).exists(), f
    summary = pd.read_csv(out / "CELL01_summary.csv")
    assert summary["fade_slope_pct_per_cycle"][0] == pytest.approx(-0.2004008016032053)

    ts = normalize_cycler(read_cycler_csv(spark, str(raw)), cell_id="CELL01")
    want = tmp_path / "want_features.csv"
    _write_single_csv(
        full_feature_pipeline(ts, rated_ah=RATED_AH).orderBy("cycle_index"), str(want)
    )
    assert (out / "CELL01_features_full.csv").read_text() == want.read_text()

    r = _cli("qc", "--features", str(out / "CELL01_features_full.csv"))
    assert r.returncode == 1  # exit-1-on-warning contract
    assert "Median IR_C2" in r.stdout
