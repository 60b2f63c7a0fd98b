"""Bucketed (Hive-layout) co-located join: the shuffle-free big⋈big
join strategy at 100 TB.

The j-family docstrings (plans/joins.py) claim "both sides shuffle on
o_orderkey unless pre-bucketed" — this module proves the pre-bucketed
half of that claim on the engine's own session: writing both fact
tables with ``bucketBy(N, key)`` + ``sortBy(key)`` and joining the
read-back tables produces a plan with ZERO shuffle exchanges (the scan
partitioning satisfies the join's distribution requirement), and the
result is identical to the shuffled join of the raw tables.

This is layout evidence, not a registered query: bucketed tables need
a metastore (embedded derby in local mode), which the driver's plain
parquet views don't exercise.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mxene_coin_cell_data_pipeline_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def bucketed(spark, sf_dir, tmp_path_factory):
    """Write orders+lineitem as 8-bucket tables keyed on the join key."""
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    (
        orders.write.mode("overwrite")
        .bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey")
        .saveAsTable("b_orders")
    )
    (
        li.write.mode("overwrite")
        .bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey")
        .saveAsTable("b_lineitem")
    )
    yield spark.table("b_orders"), spark.table("b_lineitem")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")


def _joined(o, l):
    return (
        o.join(l, o["o_orderkey"] == l["l_orderkey"])
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("l_quantity").cast("long")).alias("qty"),
        )
    )


def test_bucketed_join_has_no_shuffle(spark, bucketed):
    """The bucket layout must satisfy the join's required distribution:
    no Exchange anywhere in the join plan. Broadcast is disabled for
    the assertion — at test scale the planner would broadcast the
    small side and skip bucketing entirely (at 100 TB neither side is
    broadcastable, which is the regime bucketing exists for)."""
    o, l = bucketed
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = o.join(l, o["o_orderkey"] == l["l_orderkey"]).select(
            "o_orderkey", "l_quantity", "o_orderpriority"
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        assert "Exchange" not in plan, f"bucketed join still shuffles:\n{plan}"
        assert "Bucketed: true" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_bucketed_join_matches_shuffled(spark, sf_dir, bucketed):
    o, l = bucketed
    bucketed_res = {
        r.o_orderpriority: (r.n, r.qty) for r in _joined(o, l).collect()
    }
    raw_res = {
        r.o_orderpriority: (r.n, r.qty)
        for r in _joined(
            load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "lineitem")
        ).collect()
    }
    assert bucketed_res == raw_res
