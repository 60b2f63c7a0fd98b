"""Stream execution helpers.

``availableNow`` + memory sink turns any streaming plan into a
deterministic, fully-tested batch of micro-batches — the engine's
test/oracle harness path. Production sinks (kafka/parquet/console) use
the same plans with a different ``writeStream`` tail.
"""

from __future__ import annotations

import itertools
import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

_SEQ = itertools.count()


def _run_foreach_batch(
    df: DataFrame,
    fn: Callable[[DataFrame, int], None],
    output_mode: str,
    checkpoint_dir: str | None = None,
) -> None:
    """Run ``df`` to completion (availableNow), calling
    ``fn(batch_df, batch_id)`` on every micro-batch; with
    ``checkpoint_dir`` the committed offsets (and operator state) persist
    there and a restart resumes at the first uncommitted batch."""
    w = df.writeStream.foreachBatch(fn).outputMode(output_mode)
    if checkpoint_dir is not None:
        w = w.option("checkpointLocation", checkpoint_dir)
    w.trigger(availableNow=True).start().awaitTermination()


def replay_feed(df: DataFrame, work_dir: str) -> DataFrame:
    """Write ``df`` under ``<work_dir>/feed`` as 4 ``ts``-ranged parquet
    files and return a stream reading them one file per micro-batch —
    the registered streaming queries' replay of a static table."""
    src = os.path.join(work_dir, "feed")
    df.repartitionByRange(4, "ts").write.mode("overwrite").parquet(src)
    spark = df.sparkSession
    return (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )


def run_stream_to_memory(
    df: DataFrame,
    output_mode: str = "complete",
    max_files_per_trigger: int | None = None,  # set on the reader, not here
) -> DataFrame:
    """Run a streaming DataFrame to completion (availableNow) into a
    memory sink; return the sink table as a batch DataFrame.

    ``complete`` mode re-emits full aggregation results (exact final
    answer — oracle-comparable); ``update`` mode leaves one row per
    state refresh in the sink (the *last* update per key is the final
    value — dedup driver-side if needed).

    The memory sink is NOT restartable (Spark refuses to recover it
    from a checkpoint) — it is the test/oracle harness path only. For
    checkpointed, kill-and-restart-safe execution use
    ``run_stream_append_parquet`` (or the snapshot runners).
    """
    spark: SparkSession = df.sparkSession
    name = f"_stream_sink_{next(_SEQ)}"
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def run_stream_append_parquet(
    df: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    output_mode: str = "update",
) -> None:
    """Run a streaming DataFrame to completion (availableNow), appending
    every emitted row to a parquet directory via ``foreachBatch`` with a
    REQUIRED checkpoint — the restartable execution surface.

    On restart with the same ``checkpoint_dir``, committed source
    offsets and operator state (streaming aggregations,
    ``applyInPandasWithState`` accumulators) are restored, so the query
    resumes at the first unprocessed file instead of reprocessing the
    feed — the exactly-once recovery contract pinned by
    tests/test_streaming_recovery.py.
    """
    _run_foreach_batch(
        df,
        lambda batch_df, batch_id: batch_df.write.mode("append").parquet(out_dir),
        output_mode,
        checkpoint_dir,
    )


def run_stream_complete_parquet(
    df: DataFrame, out_dir: str | None = None
) -> DataFrame:
    """Run a complete-mode streaming aggregation to completion
    (availableNow) with each micro-batch OVERWRITING a parquet
    directory via ``foreachBatch``; return the final state read back
    as a batch DataFrame.

    The executor-side alternative to ``run_stream_to_memory`` for
    LARGE final states: the memory sink materializes every emitted
    row on the driver (measured at 100x: st04's ~1.5M-session state
    blew ``spark.driver.maxResultSize`` at collect), while this sink
    writes each re-emission distributed and the last overwrite IS the
    exact final answer. Complete-mode re-emission is still O(state)
    per micro-batch — the harness replay path; a production
    sessionization feed uses append/update with watermark state
    eviction (``run_stream_append_parquet`` / snapshot runners).
    """
    import tempfile

    if out_dir is None:
        out_dir = tempfile.mkdtemp(prefix="stream_complete_")

    _run_foreach_batch(
        df,
        lambda batch_df, batch_id: batch_df.write.mode("overwrite").parquet(out_dir),
        "complete",
    )
    return df.sparkSession.read.parquet(out_dir)
