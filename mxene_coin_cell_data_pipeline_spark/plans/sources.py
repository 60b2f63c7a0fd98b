"""Source and layout queries (``src*``): JSONL, CSV and ORC roundtrips, a
Python data source, hive partitioning, schema evolution and the
materialized IVF index.

Importing this module registers its queries; the driver-facing order is
``_registry.ORDER``.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession, functions as F

from ._registry import _ctx, _dsum6, _register
from .similarity import (
    _SRC07_K,
    _SRC07_KC,
    _SRC07_M,
    _SRC07_NPROBE,
    _SRC07_TOPK,
    ivfadc_oracle_sql,
)


@_register(
    "src01_jsonl_roundtrip",
    """
    SELECT event_type, count(*) AS n,
           CAST(sum(CAST(round(value, 6) AS DECIMAL(38,6)))
                AS DOUBLE) AS sum_value,
           min(epoch_us(ts)) AS min_ts_us, max(epoch_us(ts)) AS max_ts_us
    FROM events GROUP BY event_type
    """,
    survey="S-family extension: JSON-lines source — events written to "
    "JSONL (ISO-8601 timestamps) and re-read with an EXPLICIT schema "
    "(never schema inference: one sampling pass saved, and types are a "
    "declared contract, not a guess), aggregated identically to the "
    "parquet path; timestamps survive the text roundtrip to the "
    "microsecond",
)
def src01_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write events to JSONL, read back with explicit schema, rollup.
    The oracle reads the original parquet — equality proves the text
    roundtrip is lossless."""
    import tempfile

    (ev,) = _ctx(spark, sf_dir, "events")
    path = tempfile.mkdtemp(prefix="src01_") + "/events_jsonl"
    # default JSON timestampFormat truncates to milliseconds — declare
    # microsecond precision explicitly on BOTH sides of the roundtrip
    fmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"
    ev.write.mode("overwrite").option("timestampFormat", fmt).json(path)
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    back = spark.read.schema(schema).option("timestampFormat", fmt).json(path)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        _dsum6(F.col("value")).alias("sum_value"),
        F.min(F.unix_micros(F.col("ts"))).alias("min_ts_us"),
        F.max(F.unix_micros(F.col("ts"))).alias("max_ts_us"),
    )


@_register(
    "src02_csv_fallback",
    """
    SELECT event_type, count(*) AS n,
           CAST(sum(CAST(round(value, 6) AS DECIMAL(38,6)))
                AS DOUBLE) AS sum_value
    FROM events GROUP BY event_type
    """,
    survey="S1 registered in the driver set: semicolon-delimited CSV "
    "(EU-export convention) read through the delimiter-fallback sniffer "
    "(header-line sniff driver-side, ONE distributed scan with the right "
    "sep — never a failed full parse + retry) with all-string schema + "
    "explicit casts; equality against the parquet oracle proves the "
    "fallback path end to end",
)
def src02_csv_fallback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write events as ';'-separated CSV, re-read via read_cycler_csv's
    sniffer (which must choose ';'), cast, rollup."""
    import tempfile

    from ..sources.cycler_csv import read_cycler_csv

    (ev,) = _ctx(spark, sf_dir, "events")
    path = tempfile.mkdtemp(prefix="src02_") + "/events_semi.csv"
    ev.select("event_id", "event_type", "value").coalesce(1).write.mode(
        "overwrite"
    ).option("header", True).option("sep", ";").csv(path)
    back = read_cycler_csv(spark, path)  # sniffer must pick ';'
    assert len(back.columns) == 3, "delimiter sniff failed"
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        _dsum6(F.col("value").cast("double")).alias("sum_value"),
    )


@_register(
    "src03_python_datasource",
    """
    WITH g AS (
      SELECT p.p AS part, i.i AS i
      FROM (SELECT unnest(range(0, 4)) AS p) p,
           (SELECT unnest(range(0, 2500)) AS i) i)
    SELECT part, count(*) AS n, sum(reading) AS sum_reading,
           min(tick) AS min_tick, max(tick) AS max_tick
    FROM (SELECT part, part * 2500 + i AS tick,
                 sin(part * 2500 + i) * 100 AS reading
          FROM g)
    GROUP BY part
    """,
    survey="S-family extension: Spark 4 pure-Python DataSource API — a "
    "custom batch connector (DataSource/DataSourceReader with 4 "
    "partition splits, deterministic rows as a pure function of "
    "(partition, index)) registered and consumed via "
    "spark.read.format(); the surface any bespoke lab-equipment or "
    "vendor-API connector plugs into, each partition read "
    "independently by its executor",
)
def src03_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Register a synthetic telemetry DataSource and aggregate it; the
    oracle regenerates the same deterministic stream relationally."""
    from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

    class _SimReader(DataSourceReader):
        def __init__(self, n_parts: int = 4, rows_per_part: int = 2500):
            self.n_parts = n_parts
            self.rows = rows_per_part

        def partitions(self):
            return [InputPartition(i) for i in range(self.n_parts)]

        def read(self, partition):
            import math

            p = partition.value
            for i in range(self.rows):
                tick = p * self.rows + i
                yield (p, tick, math.sin(tick) * 100.0)

    class CyclerSimSource(DataSource):
        @classmethod
        def name(cls):
            return "cycler_sim"

        def schema(self):
            return "part int, tick long, reading double"

        def reader(self, schema):
            return _SimReader()

    spark.dataSource.register(CyclerSimSource)
    df = spark.read.format("cycler_sim").load()
    return df.groupBy("part").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("reading").alias("sum_reading"),
        F.min("tick").alias("min_tick"),
        F.max("tick").alias("max_tick"),
    )


@_register(
    "src04_orc_roundtrip",
    """
    SELECT event_type, count(*) AS n,
           CAST(sum(CAST(round(value, 6) AS DECIMAL(38,6)))
                AS DOUBLE) AS sum_value,
           min(epoch_us(ts)) AS min_ts_us, max(epoch_us(ts)) AS max_ts_us
    FROM events GROUP BY event_type
    """,
    survey="S-family extension: ORC source/sink — events written to ORC "
    "(Spark's second first-class columnar format; nanosecond-capable "
    "timestamps, so the µs instants roundtrip exactly) and re-read with "
    "an explicit schema, aggregated identically to the parquet path; "
    "equality against the parquet oracle proves the columnar roundtrip "
    "end to end. Predicate pushdown and column pruning apply to the ORC "
    "scan exactly as to parquet.",
)
def src04_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write events to ORC, read back with explicit schema, rollup.
    The oracle reads the original parquet — equality proves the ORC
    roundtrip is lossless (timestamps to the microsecond)."""
    import tempfile

    (ev,) = _ctx(spark, sf_dir, "events")
    path = tempfile.mkdtemp(prefix="src04_") + "/events_orc"
    ev.write.mode("overwrite").orc(path)
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    back = spark.read.schema(schema).orc(path)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        _dsum6(F.col("value")).alias("sum_value"),
        F.min(F.unix_micros(F.col("ts"))).alias("min_ts_us"),
        F.max(F.unix_micros(F.col("ts"))).alias("max_ts_us"),
    )


# ---------------------------------------------------------------------------
# src05: hive-partitioned sink/source roundtrip with partition pruning
# ---------------------------------------------------------------------------
@_register(
    "src05_hive_partitioned_roundtrip",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT))
                AS BIGINT) AS sum_value_micro,
           CAST(min(event_id) AS BIGINT) AS min_id,
           CAST(max(event_id) AS BIGINT) AS max_id
    FROM events
    WHERE event_type IN ('click', 'error')
    GROUP BY event_type
    """,
    survey="S-family completion: hive-partitioned parquet sink + "
    "pruned source — events are written partitionBy(event_type) into "
    "key=value directories and read back through a partition filter, "
    "so only the matching directories are LISTED, let alone scanned "
    "(the physical plan carries the predicate as PartitionFilters, "
    "asserted by test; contrast PushedFilters, which still reads the "
    "file and skips row groups). This is THE dominant access pattern "
    "at 100 TB — date/tenant-partitioned facts where queries touch a "
    "sliver — and the missing sibling of src01 JSONL / src02 CSV / "
    "src03 python-datasource / src04 ORC. Aggregate equality against "
    "the unpartitioned oracle proves the roundtrip preserves rows, "
    "values (micro-unit exact), and the partition column itself "
    "(partition values round-trip through directory names as "
    "strings).",
)
def src05_hive_partitioned_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write events hive-partitioned by event_type, read back pruned
    to two partitions, aggregate — equality vs the direct table."""
    import os
    import tempfile

    (events,) = _ctx(spark, sf_dir, "events")
    tmp = os.path.join(tempfile.mkdtemp(prefix="src05_"), "events_part")
    events.write.mode("overwrite").partitionBy("event_type").parquet(tmp)
    back = spark.read.parquet(tmp).filter(
        F.col("event_type").isin("click", "error")
    )
    return back.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.floor(F.col("value") * F.lit(1000000.0) + F.lit(0.5)).cast("long"))
        .cast("long")
        .alias("sum_value_micro"),
        F.min("event_id").cast("long").alias("min_id"),
        F.max("event_id").cast("long").alias("max_id"),
    )


# ---------------------------------------------------------------------------
# src06: parquet schema-evolution read (mergeSchema)
# ---------------------------------------------------------------------------
@_register(
    "src06_schema_evolution",
    """
    SELECT CASE WHEN event_id % 2 = 0 THEN 1 ELSE 2 END AS schema_gen,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(sum(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT))
                AS BIGINT) AS sum_value_micro,
           CAST(count(CASE WHEN event_id % 2 <> 0 THEN event_type END)
                AS BIGINT) AS n_typed
    FROM events
    GROUP BY 1
    """,
    survey="S-family completion: parquet SCHEMA EVOLUTION — the table "
    "is written as two generations (gen 1 without the event_type "
    "column, gen 2 with it — the add-a-column migration every "
    "long-lived 100 TB dataset accumulates) and read back through ONE "
    "mergeSchema scan that reconciles the footers: gen-1 rows surface "
    "the missing column as NULL, pinned by n_typed = count(event_type) "
    "being exactly the gen-2 row count. Aggregate equality against the "
    "unsplit oracle proves rows, values (micro-unit exact), and "
    "NULL-fill semantics all survive the evolution. At scale the "
    "mergeSchema footer reconciliation is a one-time planning cost; "
    "the scan itself stays pruned and parallel.",
    note="schema_gen derives from event_id parity — the same "
    "deterministic split the writer used, so the oracle needs no "
    "knowledge of the temp directories.",
)
def src06_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write two schema generations, read back via mergeSchema, prove
    NULL-fill and value preservation by aggregate equality."""
    import os
    import tempfile

    (events,) = _ctx(spark, sf_dir, "events")
    tmp = os.path.join(tempfile.mkdtemp(prefix="src06_"), "events_evo")
    gen1 = events.filter(F.col("event_id") % 2 == 0).select(
        "event_id", "user_id", "value"
    )
    gen2 = events.filter(F.col("event_id") % 2 != 0).select(
        "event_id", "user_id", "value", "event_type"
    )
    gen1.write.mode("overwrite").parquet(os.path.join(tmp, "gen=1"))
    gen2.write.mode("overwrite").parquet(os.path.join(tmp, "gen=2"))
    back = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(tmp, "gen=1"), os.path.join(tmp, "gen=2")
    )
    return back.groupBy(
        F.when(F.col("event_id") % 2 == 0, 1).otherwise(2).alias("schema_gen")
    ).agg(
        F.count("*").cast("long").alias("n"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
        F.sum(
            F.floor(F.col("value") * F.lit(1000000.0) + F.lit(0.5)).cast("long")
        )
        .cast("long")
        .alias("sum_value_micro"),
        F.count("event_type").cast("long").alias("n_typed"),
    )


@_register(
    "src07_ivf_index_layout",
    ivfadc_oracle_sql(
        kc=_SRC07_KC,
        m=_SRC07_M,
        k=_SRC07_K,
        nprobe=_SRC07_NPROBE,
        topk=_SRC07_TOPK,
    ),
    survey="S-family scale completion: the IVFADC index as a WRITTEN "
    "LAYOUT (VERDICT r10 item 1's closing claim, made physical) — s14 "
    "proved the algorithm with the probe as an expression filter; "
    "this variant BUILDS the index (all kc=8 lists PQ-encoded, "
    "written partitionBy(list_id) as hive-layout parquet — the build "
    "cost a real index pays once) and SEARCHES it by re-reading with "
    "the nprobe=3 probe filter, which resolves as PartitionFilters on "
    "the index scan: non-probed list directories are never listed, "
    "let alone read (plan-pinned). This is exactly how a 100 TB "
    "deployment runs compressed ANN: the codes table is the index, "
    "list routing is the partition key, and every query prunes to "
    "nprobe/kc of the files. Results are identical to the fused form "
    "by construction, so the oracle is the same parameterized IVFADC "
    "SQL (the layout is invisible to relational semantics) — what "
    "changes, and what the plan pin verifies, is the access path.",
    note="Same dual int-grid recall audit as s14 (exact-L2 and "
    "exact-cosine top-10 flags). Constants kc=8/nprobe=3 differ from "
    "s14's kc=4/nprobe=2 so the two queries exercise genuinely "
    "different routings (finer lists, wider probe) — not a re-labeled "
    "copy of the same answer.",
)
def src07_ivf_index_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build the PQ-codes index hive-partitioned by list_id, probe it
    through partition pruning, return the ADC top-10 with recall
    flags (see functions.similarity.ivfpq_residual_topk,
    materialize_dir path)."""
    from ..functions.similarity import ivfpq_residual_topk

    (emb,) = _ctx(spark, sf_dir, "embeddings")
    idx = os.path.join(tempfile.mkdtemp(prefix="src07_"), "ivf_index")
    return ivfpq_residual_topk(
        emb,
        query_vec_id=0,
        kc=_SRC07_KC,
        m=_SRC07_M,
        k=_SRC07_K,
        nprobe=_SRC07_NPROBE,
        topk=_SRC07_TOPK,
        materialize_dir=idx,
    )
