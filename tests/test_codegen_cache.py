"""Whole-stage codegen reuse across repeated work in one session.

Spark caches each generated class by its source text; a warm pass that
finds its classes in the cache skips Janino compilation on the driver
and in the first task of each stage. The cache must hold the engine's
working set: one cell chain over two vendor layouts generates about a
hundred distinct classes, more than Spark's default cache of 100, which
then evicts classes the chain reuses a few jobs later.
"""

from __future__ import annotations


def _compilations(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_repeated_cell_chain_compiles_nothing(spark, tmp_path):
    """The cell chain (raw CSV, normalize, timeseries write, features,
    fade, report, QC) over two layouts, run twice: the second run
    compiles no new class. With Spark's default 100-entry cache it
    recompiled 95-141 of them."""
    from fixtures import RATED_AH, arbin_frame, neware_frame

    from mxene_coin_cell_data_pipeline_spark.operators import (
        fade_and_rul,
        full_feature_pipeline,
        normalize_cycler,
        qc_checks,
    )
    from mxene_coin_cell_data_pipeline_spark.operators.report import render_report
    from mxene_coin_cell_data_pipeline_spark.sources import read_cycler_csv

    raw = {}
    for cid, frame in (("A01", arbin_frame), ("N01", neware_frame)):
        raw[cid] = str(tmp_path / f"{cid}_raw.csv")
        frame().to_csv(raw[cid], index=False)

    def chain(run: int) -> list:
        messages = []
        for cid, path in raw.items():
            ts = normalize_cycler(read_cycler_csv(spark, path), cell_id=cid)
            ts_path = str(tmp_path / f"{cid}_{run}_ts.parquet")
            ts.write.parquet(ts_path)
            feat = full_feature_pipeline(
                spark.read.parquet(ts_path), rated_ah=RATED_AH
            ).orderBy("cycle_index")
            feat.toPandas()
            summary = fade_and_rul(feat)
            summary.toPandas()
            render_report(feat, summary, cid)
            messages += qc_checks(feat.drop("cell_id")).messages
        return messages

    first = chain(0)
    before = _compilations(spark)
    assert chain(1) == first
    assert _compilations(spark) - before == 0
