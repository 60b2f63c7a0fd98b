"""Session-timezone independence of the timestamp loaders.

The engine's contract (sources/tables.py): the stored parquet int64
microseconds ARE the instant, under ANY ``spark.sql.session.timeZone``.
The round-2 ``to_utc_timestamp`` normalization silently violated this
(Spark implicitly casts NTZ→LTZ through the SESSION zone first — the
ADVICE.md finding); the round-3 explicit-read-schema rewrite is
timezone-independent by construction. These tests pin that property so
a regression to any expression-based normalization fails immediately.
"""

import duckdb
import pytest

from pyspark.sql import functions as F


def _ts_micros(spark, sf_dir, table, col, key):
    from mxene_coin_cell_data_pipeline_spark.sources.tables import load_table

    rows = (
        load_table(spark, sf_dir, table)
        .select(key, F.unix_micros(F.col(col)).alias("us"))
        .orderBy(key)
        .limit(50)
        .collect()
    )
    return [(r[0], r[1]) for r in rows]


@pytest.mark.parametrize("tz", ["America/Los_Angeles", "Asia/Kolkata"])
def test_load_table_micros_invariant_under_session_tz(spark, sf_dir, tz):
    baseline = _ts_micros(spark, sf_dir, "events", "ts", "event_id")
    old = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", tz)
        shifted_session = _ts_micros(spark, sf_dir, "events", "ts", "event_id")
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)
    assert baseline == shifted_session


def test_load_table_micros_match_duckdb(spark, sf_dir):
    """The loader's instants equal DuckDB's naive reading of the same
    file — the exact identity the oracle comparison depends on."""
    got = dict(_ts_micros(spark, sf_dir, "events", "ts", "event_id"))
    want = dict(
        duckdb.sql(
            f"SELECT event_id, epoch_us(ts) FROM '{sf_dir}/events.parquet' "
            "ORDER BY event_id LIMIT 50"
        ).fetchall()
    )
    assert got == want


def test_stream_schema_has_no_ntz(spark, sf_dir):
    """Streaming reads share the NTZ→LTZ schema rewrite; a TIMESTAMP_NTZ
    leaking through kills every withWatermark/session_window consumer
    (the round-2 st01 crash)."""
    from mxene_coin_cell_data_pipeline_spark.streaming.ingest import (
        read_table_stream,
    )

    df = read_table_stream(spark, sf_dir, "events")
    assert all(
        f.dataType.typeName() != "timestamp_ntz" for f in df.schema.fields
    ), df.schema.simpleString()


@pytest.mark.parametrize("part", ["part-0.parquet", "000000_0"])
def test_load_table_nanos_in_any_part_file_name(spark, tmp_path, part):
    """Spark reads every non-hidden file of a table directory, with or
    without a ``.parquet`` suffix (Hive writes ``000000_0``). The
    nanosecond sniff must look at the same files, or a TIMESTAMP(NANOS)
    column loads as raw bigint nanoseconds — in the batch and in the
    streaming read of the table."""
    import re

    import pyarrow as pa
    import pyarrow.parquet as pq

    from mxene_coin_cell_data_pipeline_spark.sources.tables import load_table
    from mxene_coin_cell_data_pipeline_spark.streaming.ingest import (
        read_table_stream,
    )

    table_dir = tmp_path / "t.parquet"
    table_dir.mkdir()
    ns = [1_700_000_000_123_456_789, 1_700_000_001_000_000_999]
    pq.write_table(
        pa.table({"id": [1, 2], "ts": pa.array(ns, pa.timestamp("ns"))}),
        table_dir / part,
    )
    (table_dir / "_SUCCESS").write_bytes(b"")
    df = load_table(spark, str(tmp_path), "t")
    assert dict(df.dtypes)["ts"] == "timestamp"
    got = [r[0] for r in df.orderBy("id").select(F.unix_micros("ts")).collect()]
    assert got == [n // 1000 for n in ns]

    stream = read_table_stream(spark, str(tmp_path), "t")
    assert dict(stream.dtypes)["ts"] == "timestamp"
    sink = "nanos_stream_" + re.sub(r"\W", "_", part)
    query = (
        stream.writeStream.format("memory")
        .queryName(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    got = [r[0] for r in spark.table(sink).orderBy("id").select(F.unix_micros("ts")).collect()]
    assert got == [n // 1000 for n in ns]


def test_nano_sniff_raises_on_unreadable_footer(tmp_path):
    """A footer read that fails must not pass as 'no nanosecond
    columns': that answer loads TIMESTAMP(NANOS) as raw longs."""
    from mxene_coin_cell_data_pipeline_spark.sources.tables import (
        _nano_timestamp_columns,
    )

    bad = tmp_path / "bad.parquet"
    bad.write_bytes(b"not a parquet file")
    with pytest.raises(Exception):
        _nano_timestamp_columns(str(bad))
