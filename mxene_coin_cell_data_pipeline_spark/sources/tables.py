"""Parquet table loaders for the driver star-schema test data.

Timestamp normalization: the engine's canonical timestamp type is
TIMESTAMP (LTZ, an instant) under a UTC session, matching DuckDB's
naive-timestamp oracle values on the stored integer microseconds.
Driver parquet has shipped two physical encodings across rounds:

- TIMESTAMP(NANOS): Spark cannot decode natively (PARQUET_TYPE_ILLEGAL);
  read with ``spark.sql.legacy.parquet.nanosAsLong=true`` and convert
  the long nanoseconds back JVM-side (``timestamp_micros(ns div 1000)``
  — pure integer math, no UDF, exactly DuckDB's nanos->micros
  truncation).
- TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark 4 schema inference
  (``spark.sql.parquet.inferTimestampNTZ.enabled=true``) surfaces these
  as TIMESTAMP_NTZ, which integer-time functions (``unix_micros``) and
  streaming watermarks reject. Normalize by *reading with an explicit
  schema* whose NTZ fields are rewritten to TIMESTAMP (LTZ): the parquet
  reader then decodes the stored int64 micros directly as the instant —
  the identity on the underlying int64, genuinely independent of
  ``spark.sql.session.timeZone`` (verified: identical ``unix_micros``
  under UTC and America/Los_Angeles sessions). Post-read expression
  rewrites (``to_utc_timestamp``/CAST) are NOT equivalent: Spark first
  implicitly casts NTZ->LTZ using the *session* timezone, shifting the
  stored micros under any non-UTC session.

The nanos conversion is a projection fused into the scan (no shuffle);
the NTZ rewrite happens at decode time (no projection at all). Filter
pushdown / column pruning on all other columns is preserved. At 100 TB
the same loader applies unchanged.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    ArrayType,
    DataType,
    MapType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

#: Metadata caches (optimization round r11, guide §1.2 "per-task work"
#: applied to the DRIVER): schema inference (`spark.read.parquet(...)
#: .schema`) and the pyarrow footer sniff cost ~100-180 ms per call,
#: and every registered query pays them 1-3× per invocation — ~0.2-0.5s
#: of pure driver-side latency per query, ~15% of the whole bench.
#: These cache FILE METADATA ONLY (schemas, nano-column lists, scan
#: split counts), keyed by (path, mtime, size) so a rewritten file
#: invalidates its entry; query RESULTS are never cached — every
#: action still computes from the parquet inputs.
_META_CACHE: dict = {}

#: per-session memo of loaded-table PLAN handles (see load_table) —
#: weak keys so a stopped/garbage-collected session drops its entries
import weakref  # noqa: E402

_DF_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)


def _data_files(path: str) -> list[str]:
    """The files Spark reads for a parquet path: the path itself, or
    every file under a directory (partition subdirectories included)
    whose name and directories' names are not hidden. Spark's rule: a
    name starting with ``.``, or with ``_`` and holding no ``=``, is
    hidden — part files need no ``.parquet`` suffix (``000000_0``)."""
    if not os.path.isdir(path):
        return [path]

    def hidden(name: str) -> bool:
        return name.startswith(".") or (name.startswith("_") and "=" not in name)

    out = []
    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if not hidden(d))
        out.extend(os.path.join(root, f) for f in sorted(files) if not hidden(f))
    return out


def _file_sig(path: str):
    """Cache key for a parquet file or directory of part files.

    Signature is (mtime_ns, inode, size) per data file (r12, ADVICE
    fix): float-seconds mtime alone let a same-size rewrite inside the
    filesystem's timestamp granularity return a stale entry; nanosecond
    mtime plus the inode (rewrites via rename/replace allocate a new
    one) closes that window for every realistic rewrite path. A
    same-inode in-place rewrite within one mtime tick remains
    undetectable at this layer — documented limit."""
    try:
        if os.path.isdir(path):
            parts = tuple(
                (os.path.relpath(f, path), st.st_mtime_ns, st.st_ino, st.st_size)
                for f in _data_files(path)
                for st in (os.stat(f),)
            )
            return (path, parts)
        st = os.stat(path)
        return (path, st.st_mtime_ns, st.st_ino, st.st_size)
    except OSError:
        return None


#: tables available at every scale factor (TESTDATA.md)
TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def _nano_timestamp_columns(path: str) -> list[str]:
    """Columns whose parquet physical type is TIMESTAMP(NANOS).

    Uses a driver-side footer read (cheap: metadata only) so the loader
    works for any table without a hard-coded column list. Accepts both
    single-file tables and directory layouts (the first data file's
    footer — parts of one dataset share a schema).
    """
    sig = _file_sig(path)
    key = ("nanos", sig)
    if sig is not None and key in _META_CACHE:
        return _META_CACHE[key]
    files = _data_files(path)
    # a footer that cannot be read raises: swallowing it would load
    # nanosecond columns as raw longs
    schema = pq.read_schema(files[0]) if files else []
    out = [f.name for f in schema if str(f.type).startswith("timestamp[ns")]
    if sig is not None:
        _META_CACHE[key] = out
    return out


def _ntz_as_ltz(dt: DataType) -> DataType:
    """Rewrite TIMESTAMP_NTZ to TIMESTAMP (LTZ) anywhere in a type tree.

    Recurses into struct/array/map so nested NTZ fields are covered too
    (the driver tables are flat, but the loader shouldn't assume it).
    """
    if isinstance(dt, TimestampNTZType):
        return TimestampType()
    if isinstance(dt, StructType):
        return StructType(
            [
                StructField(f.name, _ntz_as_ltz(f.dataType), f.nullable, f.metadata)
                for f in dt.fields
            ]
        )
    if isinstance(dt, ArrayType):
        return ArrayType(_ntz_as_ltz(dt.elementType), dt.containsNull)
    if isinstance(dt, MapType):
        return MapType(
            _ntz_as_ltz(dt.keyType), _ntz_as_ltz(dt.valueType), dt.valueContainsNull
        )
    return dt


def ntz_free_schema(spark: SparkSession, path: str) -> StructType:
    """Inferred parquet schema with every NTZ field rewritten to LTZ.

    Supplying this as the *read* schema makes the parquet decoder emit
    the stored int64 micros as the instant — session-tz independent
    (see module docstring). Shared by the batch and streaming loaders.
    Schema inference is ~100ms of driver latency per call, so the
    result is memoized per (path, mtime, size) — metadata only.
    """
    sig = _file_sig(path)
    key = ("schema", sig)
    if sig is not None and key in _META_CACHE:
        return _META_CACHE[key]
    schema = _ntz_as_ltz(spark.read.parquet(path).schema)
    if sig is not None:
        _META_CACHE[key] = schema
    return schema


def nanos_as_micros(df: DataFrame, path: str) -> DataFrame:
    """Turn the TIMESTAMP(NANOS) columns of the parquet at ``path``, which
    ``nanosAsLong`` reads as raw longs, back into µs timestamps. Batch
    and streaming reads of a table share this projection.

    The footer sniff reports pyarrow's view; INT96 timestamps also
    surface there as timestamp[ns] but Spark decodes them as real
    TIMESTAMP already — only convert columns Spark actually surfaced as
    long (the genuine nanosAsLong case). Integer division keeps full µs
    precision (ns values overflow double mantissa); truncation matches
    DuckDB TIMESTAMP_NS→µs.
    """
    long_cols = {f.name for f in df.schema.fields if f.dataType.simpleString() == "bigint"}
    for col in _nano_timestamp_columns(path):
        if col in long_cols:
            df = df.withColumn(col, F.expr(f"timestamp_micros(`{col}` div 1000)"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one star-schema table, normalizing timestamps to LTZ."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Pin the session timezone at the loader, not just at session build:
    # the *storage* normalization above is tz-independent, but calendar
    # functions downstream (year/date_trunc/weekofyear on LTZ instants)
    # evaluate against the session zone. A driver that builds its own
    # non-UTC session would otherwise shift every day-bucket boundary
    # relative to the DuckDB oracle's naive-UTC calendar.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Memoize the PLAN HANDLE per (session, path, file signature):
    # DataFrames are immutable lazy plans, so handing the same handle
    # back is semantically the identity while skipping ~70ms of scan
    # re-construction per call. Keyed weakly by session (a stopped
    # session's entries die with it) and by file mtime/size (a
    # rewritten file invalidates). Results are never cached — every
    # action on the handle reads the parquet afresh.
    sig = _file_sig(path)
    per = _DF_CACHE.setdefault(spark, {})
    hit = per.get(path)
    if sig is not None and hit is not None and hit[0] == sig:
        return hit[1]
    df = nanos_as_micros(spark.read.schema(ntz_free_schema(spark, path)).parquet(path), path)
    if sig is not None:
        per[path] = (sig, df)
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all tables as temp views for spark.sql() queries."""
    for name in TABLE_NAMES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def scale_out(df: DataFrame, *cols: str) -> DataFrame:
    """Rebalance a DataFrame whose scan under-supplies the session's
    parallelism, ahead of compute-heavy NARROW work.

    Narrow (shuffle-free) operators — per-row hashing, array HOFs,
    map-side partial aggregation — inherit the scan's partitioning. A
    splittable layout (``sources/layout.py`` output; any multi-file /
    multi-row-group parquet) parallelizes naturally via
    ``spark.sql.files.maxPartitionBytes``, but a single-row-group file
    (the driver's test data) scans as ONE task no matter how many cores
    the session has, serializing everything until the first exchange.
    When incoming partitions < half ``spark.sql.shuffle.partitions``
    this helper repartitions (hash on ``cols`` if given, else
    round-robin) — shuffling the RAW input rows once, which is the
    cheapest thing on the wire (e.g. 16× less than winnowing's exploded
    per-char rows; measured 2.6-3× end-to-end on the row-local-heavy
    queries at sf0.1). On well-laid-out input it is the identity and
    adds NO exchange — so plans keep their scan-stage fusion at scale.

    Apply AFTER pushable filters/projections (the repartition is a
    pushdown barrier), BEFORE per-row heavy compute.
    """
    spark = df.sparkSession
    target = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # The scan-partition probe (df.rdd.getNumPartitions) costs ~150ms
    # of driver time per call (full plan→RDD translation); the answer
    # depends only on the input FILES and the split config, so memoize
    # it per (session, plan, file signatures, maxPartitionBytes,
    # target). Metadata only, and perf-only: a stale/collided entry
    # could only mis-steer the repartition heuristic, never
    # correctness. r12 (ADVICE fix): the key now includes the actual
    # FILE SIGNATURES of the scan's inputs (df.inputFiles → _file_sig,
    # so a rewritten file genuinely re-probes) and the memo lives
    # per-session in the weak-keyed cache (a stopped session's entries
    # die with it) instead of the process-global _META_CACHE;
    # semanticHash stays in the key to separate plans whose scans
    # share files (it canonicalizes expression ids, ~15ms vs ~150ms
    # for the RDD probe).
    key = None
    try:
        files = df.inputFiles()
        sigs = tuple(
            _file_sig(f[7:] if f.startswith("file://") else f) for f in files
        )
        # a file that cannot be stat'ed (any non-local path: hdfs://,
        # s3a://) has no signature, so a rewrite of it would go unseen:
        # probe every time instead of memoizing
        if None not in sigs:
            key = (
                "scanparts",
                df.semanticHash(),
                sigs,
                spark.conf.get("spark.sql.files.maxPartitionBytes"),
                target,
            )
    except Exception:
        key = None
    memo = _DF_CACHE.setdefault(spark, {})
    if key is not None and key in memo:
        n_in = memo[key]
    else:
        n_in = df.rdd.getNumPartitions()
        if key is not None:
            memo[key] = n_in
    if n_in >= max(target // 2, 1):
        return df
    return df.repartition(target, *cols) if cols else df.repartition(target)
