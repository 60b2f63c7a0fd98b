"""SparkSession factory with scale-oriented defaults.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]``; the same configs are
what we would ship on a real cluster (AQE on, adaptive skew-join on,
nanos-parquet compatibility). Nothing here is required for correctness
of the operators — they are written to run under any session, including
the driver's default ANSI-enabled one.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "mxene-spark", cpus: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    - AQE + skew-join handling: runtime re-planning at scale.
    - ``spark.sql.legacy.parquet.nanosAsLong``: the driver test data
      stores TIMESTAMP(NANOS) columns which Spark cannot read natively;
      sources/tables.py converts them back to timestamps.
    - ANSI off: the reference pipeline has lenient pandas
      ``errors="coerce"`` semantics; operators additionally use
      ``try_cast``/guarded division so they stay correct under ANSI too.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # one shuffle partition per core; AQE coalesces small ones
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let AQE rewrite sort-merge joins to shuffled-hash AT RUNTIME
        # when every post-shuffle partition of the build side fits
        # under the threshold (guide §3.1; default 0 = never). Unlike
        # the static preferSortMergeJoin=false (measured: d21 2x
        # SLOWER — no size safety), this is size-checked per partition
        # at runtime, so it is scale-adaptive by construction: big
        # partitions keep the spill-safe sort-merge. Measured at
        # sf0.1: the iterative join families (g01-g04 rounds, closure
        # label joins, p01's feature joins) drop ~30% wall clock —
        # the per-round sort of the large cached side disappears.
        # 128m bounds the per-task hash build well under a 1g-heap
        # task's execution memory at any cluster size.
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "128m")
        # Generated classes are cached by source text in an LRU of 100
        # by default. One pass of the cell chain generates some 105-110
        # distinct classes and one of the dedup families + snapshot
        # runners some 140 (perfbench, 4 cores), so at 100 the cache
        # thrashed: each warm pass recompiled 55-76 (cell) and 131-136
        # (dedup) classes through Janino, on the driver and in the first
        # task of each stage. At 1000 a warm pass compiles 0-8 (SCALING.md,
        # "Codegen class cache"). A static conf: it is read once per JVM.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
