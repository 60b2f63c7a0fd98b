"""Kill-and-restart recovery for the streaming layer.

The property the 4-micro-batch replays don't pin: a query stopped
mid-feed and RE-STARTED from its checkpoint must produce the same
final result as an uninterrupted run. Simulated deterministically by
running the feed in two phases against one checkpoint directory — the
stop between phases is a stop mid-stream of the overall feed, and the
restart must resume from committed offsets (and, for the stateful
operator, from restored per-key state) instead of reprocessing.

Covers:
- foreachBatch additive-merge snapshot (st08 shape): NOT idempotent,
  so exactly-once depends entirely on the checkpoint — plus the
  negative control showing a checkpoint-less restart double-counts;
- foreachBatch latest-by-key upsert snapshot (st06 shape): idempotent
  merge + checkpoint;
- applyInPandasWithState stateful energy (st07 shape): per-key
  accumulator state must survive the restart because phase boundaries
  cut cycles mid-accumulation;
- the one snapshot merge step (``snapshot._merge_batch``) under each
  combine function: a replayed batch is skipped, and a crash between
  the swap's two renames loses no state.
"""

import math
import os
from functools import partial

import pytest
from pyspark.sql import functions as F


def _phase_files(ts, day_col, bounds, src, phase):
    """Write the feed files for one phase (list of (lo, hi) day ranges)."""
    import time as _time

    for i, (lo, hi) in enumerate(bounds):
        part = ts
        if lo is not None:
            part = part.filter(day_col >= lo)
        if hi is not None:
            part = part.filter(day_col < hi)
        part.coalesce(1).write.mode("append").parquet(src)
        _time.sleep(1.05)  # distinct mtimes → deterministic file order


def _events_feed(spark, sf_dir, tmp_path, phase_bounds):
    from mxene_coin_cell_data_pipeline_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "feed")
    day = F.expr("unix_micros(ts) div 86400000000")
    _phase_files(ev, day, phase_bounds, src, 0)
    return ev, src, day


def _read_feed(spark, src):
    return (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )


D0 = 19723  # 2024-01-01 — the events table's first day


def test_agg_snapshot_checkpoint_recovery(spark, sf_dir, tmp_path):
    """Additive-merge totals survive a stop/restart exactly-once."""
    from mxene_coin_cell_data_pipeline_spark.streaming.snapshot import (
        run_stream_agg_snapshot,
    )

    ev, src, day = _events_feed(
        spark, sf_dir, tmp_path, [(None, D0 + 4), (D0 + 4, D0 + 11)]
    )
    snap = str(tmp_path / "snap")
    ckpt = str(tmp_path / "ckpt")

    run_stream_agg_snapshot(
        _read_feed(spark, src), snap, key="event_type", checkpoint_dir=ckpt
    )
    mid = {r["event_type"]: r["n"] for r in spark.read.parquet(snap).collect()}
    assert sum(mid.values()) == ev.filter(day < D0 + 11).count()

    # "crash" happened here; the remaining feed arrives and the query
    # restarts against the SAME checkpoint
    _phase_files(ev, day, [(D0 + 11, D0 + 18), (D0 + 18, None)], src, 1)
    run_stream_agg_snapshot(
        _read_feed(spark, src), snap, key="event_type", checkpoint_dir=ckpt
    )

    got = {
        r["event_type"]: (r["n"], float(r["sum_value"]))
        for r in spark.read.parquet(snap).collect()
    }
    want = {
        r["event_type"]: (r["n"], float(r["s"]))
        for r in ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value"), 6).cast("decimal(38,6)")).alias("s"),
        )
        .collect()
    }
    assert got == want


def test_agg_snapshot_without_checkpoint_double_counts(spark, sf_dir, tmp_path):
    """Negative control: the additive merge is not idempotent, so a
    restart WITHOUT a checkpoint reprocesses phase-1 files and
    double-counts — proving the checkpoint in the positive test is
    doing the exactly-once work."""
    from mxene_coin_cell_data_pipeline_spark.streaming.snapshot import (
        run_stream_agg_snapshot,
    )

    ev, src, day = _events_feed(
        spark, sf_dir, tmp_path, [(None, D0 + 11)]
    )
    snap = str(tmp_path / "snap")
    run_stream_agg_snapshot(_read_feed(spark, src), snap, key="event_type")
    _phase_files(ev, day, [(D0 + 11, None)], src, 1)
    run_stream_agg_snapshot(_read_feed(spark, src), snap, key="event_type")
    total_n = sum(r["n"] for r in spark.read.parquet(snap).collect())
    n_all = ev.count()
    n_phase1 = ev.filter(day < D0 + 11).count()
    assert total_n == n_all + n_phase1  # phase-1 rows counted twice


def test_latest_snapshot_checkpoint_recovery(spark, sf_dir, tmp_path):
    """Latest-per-key upsert snapshot equals the uninterrupted batch
    answer after a stop/restart from checkpoint."""
    from mxene_coin_cell_data_pipeline_spark.streaming.snapshot import (
        merge_latest_by_key,
        run_stream_latest_snapshot,
    )

    ev, src, day = _events_feed(
        spark, sf_dir, tmp_path, [(None, D0 + 4), (D0 + 4, D0 + 11)]
    )
    snap = str(tmp_path / "snap")
    ckpt = str(tmp_path / "ckpt")
    run_stream_latest_snapshot(
        _read_feed(spark, src), snap, key="user_id", checkpoint_dir=ckpt
    )
    _phase_files(ev, day, [(D0 + 11, None)], src, 1)
    run_stream_latest_snapshot(
        _read_feed(spark, src), snap, key="user_id", checkpoint_dir=ckpt
    )

    got = {
        (r["user_id"]): (r["event_id"], r["ts"])
        for r in spark.read.parquet(snap).collect()
    }
    want = {
        (r["user_id"]): (r["event_id"], r["ts"])
        for r in merge_latest_by_key(None, ev, "user_id", ["ts", "event_id"])
        .collect()
    }
    assert got == want


def test_stateful_energy_checkpoint_recovery(spark, sf_dir, tmp_path):
    """applyInPandasWithState: the per-(cell, cycle) trapezoid
    accumulator must be RESTORED from the checkpoint on restart — the
    phase boundary cuts cycles mid-week, so a lost accumulator yields
    wrong energy for every straddling cycle."""
    from mxene_coin_cell_data_pipeline_spark.operators.energy import (
        energy_wh_per_cycle,
    )
    from mxene_coin_cell_data_pipeline_spark.plans.flagship import (
        events_as_timeseries,
    )
    from mxene_coin_cell_data_pipeline_spark.streaming import (
        run_stream_append_parquet,
    )
    from mxene_coin_cell_data_pipeline_spark.streaming.features import (
        stream_energy_trapezoid,
    )

    ts = events_as_timeseries(spark, sf_dir).select(
        "cell_id", "timestamp", "cycle_index", "step_type", "voltage_v", "current_a"
    )
    src = str(tmp_path / "feed")
    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "emitted")
    day = F.expr("unix_micros(timestamp) div 86400000000")
    # phase boundary at D0+11 is mid-cycle (weeks start at day%7==3 here)
    _phase_files(ts, day, [(None, D0 + 4), (D0 + 4, D0 + 11)], src, 0)
    run_stream_append_parquet(
        stream_energy_trapezoid(_read_feed(spark, src)), out_dir, ckpt
    )

    _phase_files(ts, day, [(D0 + 11, D0 + 18), (D0 + 18, None)], src, 1)
    run_stream_append_parquet(
        stream_energy_trapezoid(_read_feed(spark, src)), out_dir, ckpt
    )

    final = (
        spark.read.parquet(out_dir)
        .groupBy("cell_id", "cycle_index")
        .agg(F.max_by("E_dis_Wh", "n_points").alias("E_dis_Wh"))
        .toPandas()
        .set_index(["cell_id", "cycle_index"])["E_dis_Wh"]
        .to_dict()
    )
    expect = (
        energy_wh_per_cycle(ts)
        .toPandas()
        .set_index(["cell_id", "cycle_index"])["E_dis_Wh"]
        .to_dict()
    )
    # the stream filters to DIS rows before the stateful operator, so
    # it emits exactly the groups with >= 1 discharge row; the batch
    # scaffold also carries all-REST groups (E = NULL)
    from mxene_coin_cell_data_pipeline_spark.operators._keys import is_dis

    dis_keys = {
        (r["cell_id"], r["cycle_index"])
        for r in ts.filter(is_dis()).select("cell_id", "cycle_index")
        .distinct()
        .collect()
    }
    assert set(final) == dis_keys
    assert dis_keys <= set(expect)
    n_checked = 0
    for k in sorted(dis_keys):
        want, got = expect[k], final[k]
        if want is None or (isinstance(want, float) and math.isnan(want)):
            assert got is None or math.isnan(got)
        else:
            assert got == pytest.approx(want, abs=5e-7), k
            n_checked += 1
    assert n_checked > 50  # real coverage, not a vacuous pass


def test_histogram_snapshot_checkpoint_recovery(spark, sf_dir, tmp_path):
    """The histogram sketch's additive bin merge survives a
    stop/restart exactly-once: the recovered snapshot's (key, bin)
    counts equal the one-pass batch histogram of the whole feed."""
    from mxene_coin_cell_data_pipeline_spark.streaming.snapshot import (
        run_stream_histogram_snapshot,
    )

    ev, src, day = _events_feed(
        spark, sf_dir, tmp_path, [(None, D0 + 4), (D0 + 4, D0 + 11)]
    )
    snap = str(tmp_path / "hist")
    ckpt = str(tmp_path / "ckpt")

    run_stream_histogram_snapshot(
        _read_feed(spark, src), snap, key="event_type", checkpoint_dir=ckpt
    )
    mid_total = sum(r["c"] for r in spark.read.parquet(snap).collect())
    assert mid_total == ev.filter(day < D0 + 11).count()

    # crash boundary; the rest of the feed arrives, restart on the
    # SAME checkpoint — committed phase-1 batches must not re-merge
    _phase_files(ev, day, [(D0 + 11, None)], src, 1)
    run_stream_histogram_snapshot(
        _read_feed(spark, src), snap, key="event_type", checkpoint_dir=ckpt
    )

    got = {
        (r["event_type"], r["bin"]): r["c"]
        for r in spark.read.parquet(snap).collect()
    }
    want = {
        (r["event_type"], r["bin"]): r["c"]
        for r in ev.select(
            "event_type",
            F.floor(F.col("value") / F.lit(10.0)).cast("long").alias("bin"),
        )
        .groupBy("event_type", "bin")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    assert got == want


def _combine(runner):
    """The snapshot kind's combine function, as its runner binds it."""
    from mxene_coin_cell_data_pipeline_spark.streaming.snapshot import (
        merge_additive_totals,
        merge_bin_counts,
        merge_latest_by_key,
    )

    if runner == "agg":
        return partial(
            merge_additive_totals, key="event_type", agg_cols={"value": "sum"}
        )
    if runner == "histogram":
        return partial(
            merge_bin_counts, key="event_type", value_col="value", bin_width=10.0
        )
    return partial(merge_latest_by_key, key="user_id", order_cols=["ts", "event_id"])


def _snapshot_rows(spark, snap):
    return sorted(map(tuple, spark.read.parquet(snap).collect()))


@pytest.mark.parametrize("runner", ["agg", "histogram", "latest"])
def test_replayed_batch_is_noop_all_runners(spark, sf_dir, tmp_path, runner):
    """The swap-before-offset-commit crash window, parametrized over
    ALL THREE combine functions through the one merge step: replaying
    an already-applied batch_id must leave the snapshot unchanged, and
    the NEXT batch must still apply. Under a checkpoint the
    _LAST_BATCH guard skips the replay for every kind (the
    latest-by-key combine would also be idempotent without it)."""
    from mxene_coin_cell_data_pipeline_spark.sources.tables import load_table
    from mxene_coin_cell_data_pipeline_spark.streaming.snapshot import _merge_batch

    ev = load_table(spark, sf_dir, "events").limit(500)
    snap = str(tmp_path / "snap")
    combine = _combine(runner)

    def merge(batch_df, batch_id):
        _merge_batch(batch_df, batch_id, snap, combine, ckpt_id="ckA")

    merge(ev, 0)
    once = _snapshot_rows(spark, snap)
    # replay of batch 0 (crash-window restart) — must be a no-op
    merge(ev, 0)
    assert _snapshot_rows(spark, snap) == once
    # the next batch still applies (the guard is <=, not a latch)
    if runner == "latest":
        # newer versions for every key: the later ts must win
        max_once = max(
            r["ts"] for r in spark.read.parquet(snap).collect()
        )
        batch1 = ev.withColumn("ts", F.col("ts") + F.expr("INTERVAL 400 DAYS"))
    else:
        batch1 = ev
    merge(batch1, 1)
    after = _snapshot_rows(spark, snap)
    assert after != once
    if runner == "agg":
        total = sum(r["n"] for r in spark.read.parquet(snap).collect())
        assert total == 2 * len(ev.collect())
    elif runner == "histogram":
        total = sum(r["c"] for r in spark.read.parquet(snap).collect())
        assert total == 2 * len(ev.collect())
    else:
        # every key's kept row now carries a batch-1 (shifted) ts
        assert all(
            r["ts"] > max_once
            for r in spark.read.parquet(snap).collect()
        )
        # and a second replay of batch 1 is again a no-op
        merge(batch1, 1)
        assert _snapshot_rows(spark, snap) == after


def test_additive_merge_replayed_batch_is_skipped(spark, sf_dir, tmp_path):
    """The swap-before-offset-commit crash window: a crash after the
    snapshot swap but before the checkpoint commits the offset replays
    the SAME batch_id on restart. The _LAST_BATCH marker (swapped in
    with the snapshot) must make re-applying that batch a no-op —
    without it the additive combines double-count."""
    from mxene_coin_cell_data_pipeline_spark.sources.tables import load_table
    from mxene_coin_cell_data_pipeline_spark.streaming.snapshot import _merge_batch

    ev = load_table(spark, sf_dir, "events").limit(500)
    agg, hist_combine = _combine("agg"), _combine("histogram")
    snap = str(tmp_path / "snap")
    _merge_batch(ev, 0, snap, agg, ckpt_id="ckA")
    once = {r["event_type"]: r["n"] for r in spark.read.parquet(snap).collect()}
    # replay of batch 0 (crash-window restart) — must be skipped
    _merge_batch(ev, 0, snap, agg, ckpt_id="ckA")
    assert {
        r["event_type"]: r["n"] for r in spark.read.parquet(snap).collect()
    } == once
    # the next batch still applies (guard is <=, not a latch)
    _merge_batch(ev, 1, snap, agg, ckpt_id="ckA")
    assert sum(
        r["n"] for r in spark.read.parquet(snap).collect()
    ) == 2 * sum(once.values())

    hist = str(tmp_path / "hist")
    _merge_batch(ev, 0, hist, hist_combine, ckpt_id="ckA")
    honce = {
        (r["event_type"], r["bin"]): r["c"]
        for r in spark.read.parquet(hist).collect()
    }
    _merge_batch(ev, 0, hist, hist_combine, ckpt_id="ckA")
    assert {
        (r["event_type"], r["bin"]): r["c"]
        for r in spark.read.parquet(hist).collect()
    } == honce

    # unguarded (checkpoint-less) keeps the documented at-least-once
    # shape: the same replay double-counts
    snap2 = str(tmp_path / "snap2")
    _merge_batch(ev, 0, snap2, agg, ckpt_id=None)
    _merge_batch(ev, 0, snap2, agg, ckpt_id=None)
    assert sum(
        r["n"] for r in spark.read.parquet(snap2).collect()
    ) == 2 * sum(once.values())

    # lineage mismatch: a snapshot reused against a DIFFERENT
    # checkpoint (fresh lineage, batch_ids restart at 0) must MERGE
    # its batch 0, not skip it — the marker carries the checkpoint
    # identity and is ignored on mismatch
    _merge_batch(ev, 0, snap, agg, ckpt_id="ckB")
    assert sum(
        r["n"] for r in spark.read.parquet(snap).collect()
    ) == 3 * sum(once.values())


@pytest.mark.parametrize("runner", ["agg", "histogram", "latest"])
def test_crash_inside_swap_loses_no_state(
    spark, sf_dir, tmp_path, monkeypatch, runner
):
    """Fault injection inside the snapshot swap: the tmp → live rename
    fails after the live snapshot was moved aside. The batch's offset
    is never committed, so the restart replays it — and the snapshot
    must equal an uninterrupted run's, not just the replayed batch
    merged onto nothing."""
    from mxene_coin_cell_data_pipeline_spark.sources.tables import load_table
    from mxene_coin_cell_data_pipeline_spark.streaming import snapshot

    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 500)
    b0 = ev.filter(F.col("event_id") % 2 == 0)
    b1 = ev.filter(F.col("event_id") % 2 == 1)
    combine = _combine(runner)

    ref = str(tmp_path / "ref")
    for batch_id, batch in enumerate([b0, b1]):
        snapshot._merge_batch(batch, batch_id, ref, combine, ckpt_id="ckA")

    snap = str(tmp_path / "snap")
    snapshot._merge_batch(b0, 0, snap, combine, ckpt_id="ckA")
    real_rename = os.rename

    def crash_on_tmp_to_live(src, dst):
        if src == snap + ".tmp":
            raise OSError("injected crash before tmp -> live")
        real_rename(src, dst)

    monkeypatch.setattr(snapshot.os, "rename", crash_on_tmp_to_live)
    with pytest.raises(OSError, match="injected crash"):
        snapshot._merge_batch(b1, 1, snap, combine, ckpt_id="ckA")
    monkeypatch.undo()

    # restart: batch 1's offset was never committed, so it replays
    snapshot._merge_batch(b1, 1, snap, combine, ckpt_id="ckA")
    assert _snapshot_rows(spark, snap) == _snapshot_rows(spark, ref)
    assert not os.path.exists(snap + ".old")
