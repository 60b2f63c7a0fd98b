"""Driver-call budgets for building the cell chain's and the near-dup
pair chain's plans.

Normalize, the per-cycle feature plan, the fade fit, the QC aggregate
and the near-dup pair chain are written as SQL text the JVM parses
once, so building them costs a few dozen py4j calls however many
formulas they hold. Column trees cost one py4j call per node: the
feature plan took 1,741 calls that way, normalize 439–556, the fade fit
187–191 and the QC aggregate 178–193.

Each test counts py4j *call* commands (the ``c\\n`` prefix; garbage
collection detaches are left out) while one plan is built, and holds it
to the count measured when the text form landed plus 25%:

- ``per_cycle_features`` (all families) on the two-cell fixture: 62
  calls, budget 77;
- ``normalize_cycler(..., cell_id=...)`` on the Arbin, Neware and
  headless fixture CSVs: 52 calls each, budget 65;
- ``fade_and_rul`` over the two-cell feature table: 21 calls, budget
  27;
- ``qc_aggregate`` over the two-cell feature table: 27 calls, budget
  34;
- ``minhash_near_dup_pairs`` (the near-dup pair chain: the stored
  per-doc signature and shingle set, band buckets, capped candidate
  pairs, jaccard verify) on the test documents: 84 calls, budget 105
  (710 as Column trees; 83–87 before the state was stored);
- ``incremental_minhash_dedup`` (the stored state, both band sides,
  the corpus thinning, the probe join, verify and audit aggregate) on
  the test documents: 264 calls, budget 330.

A new formula written as text costs nothing here; one written as a
Column tree shows up at once.
"""

from __future__ import annotations

from contextlib import contextmanager

import pytest

from fixtures import RATED_AH, arbin_frame, headless_frame, neware_frame
from mxene_coin_cell_data_pipeline_spark.functions.dedup import (
    incremental_minhash_dedup,
    minhash_near_dup_pairs,
)
from mxene_coin_cell_data_pipeline_spark.operators import (
    fade_and_rul,
    full_feature_pipeline,
    normalize_cycler,
)
from mxene_coin_cell_data_pipeline_spark.operators.features import per_cycle_features
from mxene_coin_cell_data_pipeline_spark.operators.qc import qc_aggregate
from mxene_coin_cell_data_pipeline_spark.sources import read_cycler_csv
from mxene_coin_cell_data_pipeline_spark.sources.tables import load_table
from test_plan_shapes import _two_cell_timeseries

FEATURES_BUDGET = 77
NORMALIZE_BUDGET = 65
FADE_BUDGET = 27
QC_BUDGET = 34
PAIRS_BUDGET = 105
INCREMENTAL_BUDGET = 330


@contextmanager
def _py4j_calls(spark):
    """Count the py4j call commands sent while the block runs."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    calls = [0]

    def counting(command, *args, **kwargs):
        if command.startswith("c\n"):
            calls[0] += 1
        return send(command, *args, **kwargs)

    client.send_command = counting
    try:
        yield calls
    finally:
        client.send_command = send


def test_feature_plan_build_budget(spark, tmp_path):
    ts = spark.read.parquet(_two_cell_timeseries(spark, tmp_path))
    per_cycle_features(ts, rated_ah=RATED_AH)  # warm: first-use lookups
    with _py4j_calls(spark) as calls:
        per_cycle_features(ts, rated_ah=RATED_AH)
    assert calls[0] <= FEATURES_BUDGET, calls[0]


@pytest.mark.parametrize("frame", [arbin_frame, neware_frame, headless_frame])
def test_normalize_build_budget(spark, tmp_path, frame):
    path = tmp_path / "raw.csv"
    frame().to_csv(path, index=False)
    raw = read_cycler_csv(spark, str(path))
    normalize_cycler(raw, cell_id="CELL01")
    with _py4j_calls(spark) as calls:
        normalize_cycler(raw, cell_id="CELL01")
    assert calls[0] <= NORMALIZE_BUDGET, calls[0]


@pytest.mark.parametrize(
    "build, budget", [(fade_and_rul, FADE_BUDGET), (qc_aggregate, QC_BUDGET)]
)
def test_feature_consumer_build_budget(spark, tmp_path, build, budget):
    ts = spark.read.parquet(_two_cell_timeseries(spark, tmp_path))
    feat = full_feature_pipeline(ts, rated_ah=RATED_AH)
    build(feat)
    with _py4j_calls(spark) as calls:
        build(feat)
    assert calls[0] <= budget, calls[0]


def test_near_dup_pair_chain_build_budget(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    minhash_near_dup_pairs(docs)
    with _py4j_calls(spark) as calls:
        minhash_near_dup_pairs(docs)
    assert calls[0] <= PAIRS_BUDGET, calls[0]


def test_incremental_dedup_build_budget(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    incremental_minhash_dedup(docs)
    with _py4j_calls(spark) as calls:
        incremental_minhash_dedup(docs)
    assert calls[0] <= INCREMENTAL_BUDGET, calls[0]
