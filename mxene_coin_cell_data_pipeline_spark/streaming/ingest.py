"""Streaming sources: live cycler CSV feeds and the events parquet.

File-source streams only need a directory that vendors drop exports
into — the standard cycler-lab integration shape. Schemas must be
explicit for streaming reads; for CSV we derive the header schema from
the files already present (one cheap batch peek, all-string so the
normalize casts own the semantics, same as batch).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

from ..operators.normalize import apply_sign_flip, normalize_cycler_stateless


def read_cycler_stream(
    spark: SparkSession,
    path: str,
    schema: StructType | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming CSV scan of a cycler-export drop directory.

    ``schema=None`` peeks at the existing files batch-side for the
    header names (all columns string — lenient casts happen in
    normalize, identical to the batch path S1/S2).
    """
    if schema is None:
        schema = spark.read.option("header", True).csv(path).schema
    reader = spark.readStream.option("header", True).schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.csv(path)


def normalize_cycler_stream(
    df: DataFrame,
    cell_id: str | None = None,
    sign_flip: DataFrame | bool | None = None,
) -> DataFrame:
    """Streaming variant of normalize: the identical stateless
    projection (renames / casts / labels / units / canonical select —
    ``normalize_cycler_stateless``), minus the two phases that need
    global state:

    - the sign-flip decision (C10) is a full-history aggregate; pass a
      batch-computed ``sign_flip_decisions`` table (static side of a
      stream-static broadcast join) or a plain bool;
    - the canonical sort (O1) has no meaning on an unbounded stream —
      downstream streaming aggregates are order-insensitive
      (``max_by``) or maintain order in state (trapezoid).
    """
    out = normalize_cycler_stateless(df, cell_id)
    if isinstance(sign_flip, DataFrame):
        out = apply_sign_flip(out, sign_flip)
    elif sign_flip:
        out = out.withColumn("current_a", -F.col("current_a"))
    return out


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming scan of the driver's events parquet (TESTDATA.md)."""
    return read_table_stream(spark, sf_dir, "events")


def read_table_stream(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Streaming scan of any driver table parquet.

    Mirrors ``sources.tables.load_table`` for both parquet timestamp
    encodings the driver has shipped (see that module's docstring):

    - TIMESTAMP(NANOS) reads as long under ``nanosAsLong`` — converted
      back to µs timestamps with integer math fused into the scan;
    - TIMESTAMP(MICROS, isAdjustedToUTC=false) would infer as
      TIMESTAMP_NTZ, which ``withWatermark``/``session_window`` reject —
      the explicit read schema rewrites NTZ fields to TIMESTAMP (LTZ) so
      the decoder emits the stored micros as the instant directly
      (session-tz independent, no projection).

    Accepts both single-file tables and directory-layout datasets.
    """
    import os

    from ..sources.tables import nanos_as_micros, ntz_free_schema

    path = os.path.join(sf_dir, f"{name}.parquet")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = ntz_free_schema(spark, path)
    if os.path.isdir(path):
        # dataset laid out as a directory of part files: stream it directly
        df = spark.readStream.schema(schema).parquet(path)
    else:
        # single-file table: the file-stream source requires a *directory*;
        # select the file out of the scale-factor dir with a glob filter
        df = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", f"{name}.parquet")
            .parquet(sf_dir)
        )
    return nanos_as_micros(df, path)
