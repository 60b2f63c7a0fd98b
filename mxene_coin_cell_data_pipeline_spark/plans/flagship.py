"""Flagship query: the full cycler feature pipeline, end to end.

The driver star schema has no cycler table, so the flagship maps the
``events`` stream onto the canonical timeseries schema
(user ≈ cell, ISO week ≈ cycle, purchase/view ≈ discharge samples) and
runs the complete per-cycle feature DAG — capacity/CE, trapezoid
energy, IR, dQ/dV, q_norm — exactly as it runs on real cycler data.
This exercises every feature operator in one lazy Catalyst plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..operators.features import full_feature_pipeline
from ..sources.tables import load_table

RATED_AH = 2.0  # C/2 target = 1.0, inside the mapped current range


def events_as_timeseries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic events → canonical timeseries mapping."""
    ev = load_table(spark, sf_dir, "events")
    # integer division end to end: float-division-then-cast would
    # diverge from SQL engines that round rather than truncate
    cycle = F.expr("(unix_micros(ts) div 86400000000) div 7")
    step_type = (
        F.when(F.col("event_type").isin("purchase", "view"), "CC_DIS")
        .when(F.col("event_type").isin("click", "signup"), "CC_CHG")
        .otherwise("REST")
    )
    base = ev.select(
        F.col("user_id").cast("string").alias("cell_id"),
        F.col("ts").alias("timestamp"),
        cycle.alias("cycle_index"),
        F.lit(1).cast("long").alias("step_index"),
        step_type.alias("step_type"),
        F.col("value").alias("_v"),
        F.col("event_id"),
    )
    w = (
        Window.partitionBy("cell_id", "cycle_index")
        .orderBy("timestamp", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dis = F.col("step_type") == "CC_DIS"
    chg = F.col("step_type") == "CC_CHG"
    # Cumulative capacity is accumulated as INTEGER centi-units and
    # divided once at the end: float running sums are order-sensitive
    # (Spark's sequential window sum vs DuckDB's segment-tree window
    # aggregation differ in the last ulp), while integer accumulation
    # is exact under any association — bit-stable across engines.
    # round(v*100) is exact for the 2-decimal source values; /1e5
    # yields the same Ah scale as the previous v/1000 increments.
    chg_inc = F.when(chg, F.round(F.col("_v") * 100).cast("long")).otherwise(F.lit(0))
    dis_inc = F.when(dis, F.round(F.col("_v") * 100).cast("long")).otherwise(F.lit(0))
    return base.select(
        "cell_id",
        "timestamp",
        "cycle_index",
        "step_index",
        "step_type",
        F.when(dis, -F.col("_v") / 100.0)
        .when(chg, F.col("_v") / 100.0)
        .otherwise(F.lit(0.0))
        .alias("current_a"),
        (3.0 + F.col("_v") % 1.5).alias("voltage_v"),
        F.lit(None).cast("double").alias("temp_c"),
        (F.sum(chg_inc).over(w) / 100000.0).alias("charge_ah"),
        (F.sum(dis_inc).over(w) / 100000.0).alias("discharge_ah"),
    )


def flagship_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    ts = events_as_timeseries(spark, sf_dir)
    return full_feature_pipeline(ts, rated_ah=RATED_AH)
