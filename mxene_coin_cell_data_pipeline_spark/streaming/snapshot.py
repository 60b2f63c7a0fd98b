"""Incremental snapshot maintenance over a stream (foreachBatch merge).

The lakehouse "changelog → queryable snapshot" loop: each micro-batch
of an event/CDC feed is merged into a persisted parquet snapshot.
``foreachBatch`` is the right surface because the merge is a BATCH
join/aggregate against existing state on storage — bigger than
executor memory is fine, no streaming-state store involvement, and the
sink stays queryable between batches.

One merge step (``_merge_batch``) serves every snapshot kind; a kind is
a ``combine(current, batch)`` function:

- ``merge_latest_by_key``: latest version per key (the streaming form
  of the batch ``o07`` latest-by-key compaction);
- ``merge_additive_totals``: per-key count and decimal(38,6) sums;
- ``merge_bin_counts``: per-(key, bin) integer histogram counts.

Without an ACID table format the swap is tmp-dir + rename-aside (see
``_swap``): crash-safe for the writer, but NOT atomic for a concurrent
reader, which sees no snapshot between the two renames. On
Delta/Iceberg ``combine`` + swap become a single MERGE INTO.

Determinism contract (what the oracles check): each combine is
independent of how the feed is chopped into micro-batches — merging per
batch and merging all at once give the same final snapshot (total
version order for latest-by-key; exact decimal and integer addition for
the additive kinds).
"""

from __future__ import annotations

import json
import os
import shutil
from functools import partial
from typing import Callable

from pyspark.sql import DataFrame, Window, functions as F

from .run import _run_foreach_batch

#: ``combine(current, batch) -> merged``; ``current`` is None before the
#: first batch lands.
Combine = Callable[[DataFrame | None, DataFrame], DataFrame]

#: Last-applied batch marker, stored INSIDE the snapshot directory so it
#: moves with the data on every swap (Spark's and pyarrow's parquet
#: readers ignore ``_``-prefixed files, like ``_SUCCESS``).
_META = "_LAST_BATCH"


def _last_applied(snapshot_dir: str, ckpt_id: str) -> int | None:
    """Last batch_id applied FROM THIS CHECKPOINT LINEAGE, else None
    (no marker, unreadable marker, or a different lineage's marker)."""
    meta = os.path.join(snapshot_dir, _META)
    if os.path.exists(meta):
        try:
            with open(meta) as f:
                rec = json.loads(f.read())
            if rec.get("ckpt") == ckpt_id:
                return int(rec["batch_id"])
        except (ValueError, KeyError):
            pass
    return None


def _recover(snapshot_dir: str) -> None:
    """Undo a swap cut between its two renames: the live snapshot is
    missing and its previous version sits aside as ``<dir>.old``."""
    old = snapshot_dir + ".old"
    if not os.path.exists(snapshot_dir) and os.path.exists(old):
        os.rename(old, snapshot_dir)


def _swap(
    merged: DataFrame, snapshot_dir: str, marker: dict | None
) -> None:
    """Write ``merged`` (plus the ``_LAST_BATCH`` marker, if given) to
    ``<dir>.tmp``, then rename-aside: live → ``<dir>.old``, tmp → live,
    drop ``.old``. At every instant one complete version exists on
    disk, live or aside, for ``_recover`` to find."""
    tmp, old = snapshot_dir + ".tmp", snapshot_dir + ".old"
    merged.write.mode("overwrite").parquet(tmp)
    if marker is not None:
        with open(os.path.join(tmp, _META), "w") as f:
            f.write(json.dumps(marker))
    # stale only after a crash past the tmp → live rename; live is intact
    shutil.rmtree(old, ignore_errors=True)
    if os.path.exists(snapshot_dir):
        os.rename(snapshot_dir, old)
    os.rename(tmp, snapshot_dir)
    shutil.rmtree(old, ignore_errors=True)


def _merge_batch(
    batch_df: DataFrame,
    batch_id: int,
    snapshot_dir: str,
    combine: Combine,
    ckpt_id: str | None,
) -> None:
    """Merge one micro-batch into the snapshot: recover, guard, read
    current state, ``combine(current, batch)``, swap.

    Exactly-once contract, under a checkpoint (``ckpt_id`` = the
    checkpoint location, the query-lineage identity):

    - committed source offsets live in the checkpoint, so a restarted
      query resumes at the first batch whose offset was not committed;
    - that batch may already be in the snapshot (a crash after the swap,
      before the offset commit), so the swap also writes a
      ``_LAST_BATCH`` marker ``{ckpt, batch_id}`` and a batch_id at or
      below the marker's is skipped. The marker is keyed by lineage:
      batch_ids restart at 0 under a fresh checkpoint, so another
      lineage's marker is ignored and its batches merge;
    - a crash inside the swap leaves the previous version aside as
      ``<dir>.old``; ``_recover`` puts it back, and since that batch's
      offset was never committed the stream replays it onto it.

    Without a checkpoint no marker is written or consulted: a restart
    re-reads the whole feed, which is at-least-once — harmless for the
    idempotent latest-by-key combine, double-counting for the additive
    ones.
    """
    _recover(snapshot_dir)
    if ckpt_id is not None:
        last = _last_applied(snapshot_dir, ckpt_id)
        if last is not None and batch_id <= last:
            return
    # the stored schema is the combine's own output schema, so reading
    # with it skips the parquet schema-inference job
    current = (
        batch_df.sparkSession.read.schema(combine(None, batch_df).schema).parquet(
            snapshot_dir
        )
        if os.path.exists(snapshot_dir)
        else None
    )
    marker = None if ckpt_id is None else {"ckpt": ckpt_id, "batch_id": batch_id}
    _swap(combine(current, batch_df), snapshot_dir, marker)


def _run_snapshot(
    stream_df: DataFrame,
    snapshot_dir: str,
    combine: Combine,
    checkpoint_dir: str | None,
) -> None:
    """Run the stream to completion (availableNow), merging every
    micro-batch into ``snapshot_dir`` through ``_merge_batch``."""
    _run_foreach_batch(
        stream_df,
        lambda batch_df, batch_id: _merge_batch(
            batch_df, batch_id, snapshot_dir, combine, checkpoint_dir
        ),
        "update",
        checkpoint_dir,
    )


def merge_latest_by_key(
    current: DataFrame | None,
    batch: DataFrame,
    key: str,
    order_cols: list[str],
) -> DataFrame:
    """One merge step: union state with the new batch, keep the row
    with the largest ``order_cols`` per key (total order required —
    include a unique tie-break column last)."""
    allr = batch if current is None else batch.unionByName(current)
    w = Window.partitionBy(key).orderBy(*[F.desc(c) for c in order_cols])
    return (
        allr.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def merge_additive_totals(
    current: DataFrame | None,
    batch: DataFrame,
    key: str,
    agg_cols: dict[str, str],
) -> DataFrame:
    """The batch's rows (``n`` = 1 and ``sum_<col>`` = the value) added
    into the stored totals (row count ``n`` and ``sum_<col>`` per key)
    by one aggregate over both. Decimal sums are exact and associative,
    so the totals are identical for ANY micro-batch split of the feed
    (a double sum would drift with accumulation order)."""
    rows = batch.select(
        F.col(key),
        F.lit(1).cast("long").alias("n"),
        *[F.round(F.col(c), 6).cast("decimal(38,6)").alias(f"sum_{c}") for c in agg_cols],
    )
    if current is not None:
        rows = current.unionByName(rows)
    return rows.groupBy(key).agg(
        F.sum("n").alias("n"),
        *[F.sum(f"sum_{c}").alias(f"sum_{c}") for c in agg_cols],
    )


def merge_bin_counts(
    current: DataFrame | None,
    batch: DataFrame,
    key: str,
    value_col: str,
    bin_width: float,
) -> DataFrame:
    """The batch's rows, each one count ``c`` = 1 in (key, ``bin =
    floor(value / bin_width)``), added into the stored histogram by one
    aggregate over both. All-integer state, so the merged histogram is
    bit-identical to the one-pass batch histogram for ANY micro-batch
    split."""
    rows = batch.select(
        F.col(key),
        F.floor(F.col(value_col) / F.lit(bin_width)).cast("long").alias("bin"),
        F.lit(1).cast("long").alias("c"),
    )
    if current is not None:
        rows = current.unionByName(rows)
    return rows.groupBy(key, "bin").agg(F.sum("c").alias("c"))


def run_stream_latest_snapshot(
    stream_df: DataFrame,
    snapshot_dir: str,
    key: str = "user_id",
    order_cols: list[str] | None = None,
    checkpoint_dir: str | None = None,
) -> None:
    """Maintain the latest row per ``key`` (largest ``order_cols``,
    default ``ts, event_id``) at ``snapshot_dir``. Each batch rewrites
    only the snapshot (keys × 1 row), never the history. The combine is
    idempotent, so even a checkpoint-less restart converges; with
    ``checkpoint_dir`` the run is exactly-once (see ``_merge_batch``)."""
    combine = partial(
        merge_latest_by_key, key=key, order_cols=order_cols or ["ts", "event_id"]
    )
    _run_snapshot(stream_df, snapshot_dir, combine, checkpoint_dir)


def run_stream_agg_snapshot(
    stream_df: DataFrame,
    snapshot_dir: str,
    key: str,
    agg_cols: dict[str, str] | None = None,
    checkpoint_dir: str | None = None,
) -> None:
    """Maintain per-``key`` totals (``n`` and ``sum_<col>`` for each of
    ``agg_cols``) at ``snapshot_dir`` by adding each batch's partial —
    the mergeable-aggregate pattern behind every incremental rollup (and
    the reason avg must be carried as (sum, n), never as a stored
    average). State is O(keys), independent of history. Additive merge
    is not idempotent: restartability REQUIRES ``checkpoint_dir`` (see
    ``_merge_batch``); without it a restart double-counts."""
    combine = partial(
        merge_additive_totals, key=key, agg_cols=agg_cols or {"value": "sum"}
    )
    _run_snapshot(stream_df, snapshot_dir, combine, checkpoint_dir)


def run_stream_histogram_snapshot(
    stream_df: DataFrame,
    snapshot_dir: str,
    key: str,
    value_col: str = "value",
    bin_width: float = 10.0,
    checkpoint_dir: str | None = None,
) -> None:
    """Maintain a per-``key`` fixed-bin histogram of ``value_col`` at
    ``snapshot_dir`` by adding each batch's bin counts — the a27
    mergeable-quantile sketch run live on a stream. State is O(keys ×
    occupied bins); any quantile is answered from the stored counts
    without rescanning the feed. Additive, so restartability requires
    ``checkpoint_dir`` (see ``_merge_batch``)."""
    combine = partial(
        merge_bin_counts, key=key, value_col=value_col, bin_width=bin_width
    )
    _run_snapshot(stream_df, snapshot_dir, combine, checkpoint_dir)
