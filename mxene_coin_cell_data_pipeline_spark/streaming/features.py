"""Streaming feature maintenance over the canonical cycler timeseries.

Three shapes, each the idiomatic Structured Streaming expression of a
batch operator family:

- declarative streaming aggregation (capacity/CE — same ``max_by``
  algebra as batch, maintained incrementally in update mode);
- watermark + tumbling event-time window (event rollups);
- ``applyInPandasWithState`` custom stateful operator (trapezoid
  energy — the integral accumulates across micro-batches with three
  numbers of state per open cycle).
"""

from __future__ import annotations

import sys
from typing import Any, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .._serde import register_self
from ..operators._keys import cycle_keys, is_dis
from ..operators.capacity import capacity_aggs, coulombic_efficiency
from .run import _run_foreach_batch

register_self(sys.modules[__name__])


def stream_capacity_ce(ts: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Per-(cell, cycle) capacity + CE, maintained incrementally.

    The batch operator's own expressions (``operators/capacity.py``):
    end-of-cycle cumulative capacity = ``max_by(col, ts | col not null)``;
    CE with the null/zero guard (pipeline.py:160-162). Use output mode
    ``update`` — cycle keys are not event-time windows, so rows never
    finalize under append; each micro-batch emits refreshed rows for
    the cycles it touched. The watermark bounds state for late data.
    """
    agg = (
        ts.filter(F.col("cycle_index").isNotNull())
        .withWatermark("timestamp", watermark)
        .groupBy(*cycle_keys(ts))
        .agg(*(F.expr(a) for a in capacity_aggs()))
    )
    return agg.withColumn("CE", F.expr(coulombic_efficiency()))


#: applyInPandasWithState state: running trapezoid accumulator
_ENERGY_STATE_SCHEMA = "last_t double, last_p double, acc double, n long"


def stream_energy_trapezoid(ts: DataFrame) -> DataFrame:
    """Per-(cell, cycle) discharge energy as a custom stateful operator.

    Batch semantics (energy.py: |∫ V·I dt| / 3600 over DIS rows,
    NULL below 2 points) require neighbor differences — not expressible
    as a declarative streaming aggregate. State per open (cell, cycle)
    is just ``(last_t, last_p, acc, n)``; each micro-batch advances the
    integral with its new rows and emits the refreshed running value
    (update semantics).

    Assumes the feed is in-order per cell, which file-per-export cycler
    feeds are; late/out-of-order samples would need a reorder buffer in
    state (not implemented — batch recompute is the reconciliation
    path, the standard lambda shape for lab telemetry).
    """
    keys = cycle_keys(ts)
    has_cell = "cell_id" in ts.columns
    out_schema = (
        ("cell_id string, " if has_cell else "")
        + "cycle_index long, E_dis_Wh double, n_points long"
    )

    def update(
        key: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            last_t, last_p, acc, n = state.get
        else:
            last_t, last_p, acc, n = 0.0, 0.0, 0.0, 0
        for pdf in pdfs:
            pdf = pdf.sort_values("timestamp", kind="stable")
            # exact integer µs first, THEN one float division: int64
            # nanoseconds (~1.7e18) exceed 2^53, so ns→float64 rounds
            # away ~100ns per sample — enough to shift every segment by
            # ~1e-6 and diverge from any µs-based engine. µs fit in the
            # double mantissa, and µs/1e6 is the correctly-rounded
            # seconds value every µs-native engine computes.
            ts_s = (
                pdf["timestamp"].to_numpy(dtype="datetime64[us]").astype("int64")
                / 1e6
            )
            p = (pdf["voltage_v"] * pdf["current_a"]).to_numpy(dtype=float)
            for i in range(len(pdf)):
                if n > 0:
                    acc += 0.5 * (p[i] + last_p) * (ts_s[i] - last_t)
                last_t, last_p = ts_s[i], p[i]
                n += 1
        state.update((last_t, last_p, acc, n))
        # round(,6): Wh values are O(1e2-1e3), sequential-vs-grouped
        # summation association costs ~1e-12 — absorbed at 1e-6 grid
        energy = round(abs(acc) / 3600.0, 6) if n >= 2 else None
        yield pd.DataFrame([(*key, energy, n)], columns=list(keys) + ["E_dis_Wh", "n_points"])

    dis = ts.filter(is_dis()).filter(F.col("cycle_index").isNotNull()).select(
        *keys, "timestamp", "voltage_v", "current_a"
    )
    return dis.groupBy(*keys).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=_ENERGY_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def windowed_event_rollup(
    ev: DataFrame, window: str = "7 days", watermark: str = "1 day"
) -> DataFrame:
    """Tumbling event-time window rollup of the events stream:
    count + value sum per (window, event_type), late data bounded by
    the watermark. Window start is epoch-aligned (Spark's default
    origin), so the bucket boundary is reproducible in any engine as
    ``floor(epoch / window) * window``.
    """
    return (
        ev.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # exact decimal accumulation: the streaming state merges
            # partial sums in arbitrary micro-batch order — decimal
            # addition is associative, so the final total is replay-
            # and batching-invariant (a double sum is only ~1e-9 so)
            F.sum(F.round(F.col("value"), 6).cast("decimal(38,6)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def stream_exact_dedup(
    docs: DataFrame,
    text_col: str = "text",
    ts_col: str | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Novel-documents-only stream: exact dedup on content fingerprint.

    The training-data ingest pattern — drop every document whose md5
    fingerprint has been seen before. Spark's native streaming
    ``dropDuplicates`` maintains the seen-set in state; with an
    event-time column + watermark the state is bounded (duplicates
    separated by more than the watermark pass through — the standard
    correctness/state trade at scale). Without ``ts_col`` state grows
    unboundedly: only for bounded replays.
    """
    fp = docs.withColumn("_fp", F.md5(F.col(text_col)))
    if ts_col is not None:
        return fp.withWatermark(ts_col, watermark).dropDuplicates(["_fp"]).drop("_fp")
    return fp.dropDuplicates(["_fp"]).drop("_fp")


def stream_segment_rollup(events: DataFrame, customer: DataFrame) -> DataFrame:
    """Stream-static enrichment join + running rollup: the streaming
    events feed joined to the static customer dimension on
    user_id = c_custkey, aggregated per market segment.

    Stream-static joins are stateless on the stream side — each
    micro-batch hash-joins against the (broadcast) static table, no
    join state, no watermark needed; only the downstream aggregate
    keeps state (one row per segment). This is THE dimension-enrich
    shape for event ingest at scale: the static side reloads per
    micro-batch, so slowly-changing dims pick up updates for free.
    """
    dim = customer.select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    return (
        events.join(F.broadcast(dim), "user_id")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # exact decimal accumulation — see windowed_event_rollup
            F.sum(F.round(F.col("value"), 6).cast("decimal(38,6)"))
            .cast("double")
            .alias("sum_value"),
        )
    )


def stream_sessionize(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Streaming gap-sessionization via the native session window: per
    user, events closer than ``gap`` merge into one growing session
    whose state Spark keeps (and MERGES across micro-batches — two
    open sessions that an out-of-order event bridges collapse into
    one, the part a hand-rolled lag/cumsum sessionizer cannot do
    incrementally). Session end = last event time + gap, exclusive;
    a new session starts when the inter-event gap is >= ``gap``.

    State per key is bounded by open sessions only once a watermark
    closes old ones — production readers add ``withWatermark`` and
    append mode; the test/oracle path replays in complete mode where
    the final state equals the batch session_window groupBy exactly.
    """
    return events.groupBy(
        F.col("user_id"), F.session_window("ts", gap)
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value").alias("sum_value"),
    )


def stream_click_attribution(events: DataFrame) -> DataFrame:
    """Stream-stream self-join: attribute each purchase to the same
    user's clicks in the preceding hour. Both sides are the SAME
    streaming source filtered two ways — Spark buffers each side's
    rows in join state and emits matches as the other side arrives,
    which is the only way to join two unbounded feeds whose matching
    rows arrive at different times (a stream-static join cannot: the
    "static" side would be frozen at query start).

    The time-band predicate rides the equi-key (user_id) as a state
    row-range filter. Production adds ``withWatermark`` on BOTH sides
    so the band bounds state eviction; the replay/oracle path omits it
    (availableNow replay, final emitted set == the batch band self-join
    exactly — inner joins need no watermark for correctness, only for
    state cleanup).
    """
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    buys = events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("_bu"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    return clicks.join(
        buys,
        (F.col("user_id") == F.col("_bu"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR")),
    ).select("user_id", "click_id", "click_ts", "purchase_id", "purchase_ts")


def stream_incremental_dedup(
    doc_stream: DataFrame,
    corpus_docs: DataFrame,
    threshold: float = 0.8,
    num_hashes: int | None = None,
    band_size: int | None = None,
    bucket_cap: int | None = None,
    hash_fn: str = "xxhash64",
    out_dir: str | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Streaming incremental MinHash dedup — d18's production twin as a
    genuine structured-streaming execution: new documents arrive on a
    stream and every micro-batch is probed against PREBUILT, stored
    corpus dedup state (``functions.dedup.dedup_corpus_state``). Runs
    the stream to completion (availableNow) and returns the matched-doc
    audit relation (batch_doc, n_matches, first_match,
    max_jaccard_nanos) read back from the sink.

    Why ``foreachBatch`` and not a chained streaming plan: the probe
    needs candidate-pair DISTINCT *and* a per-doc aggregate — two
    stateful operators Spark won't stack without watermark gymnastics —
    but because the corpus side is STATIC and each incoming doc's
    verdict depends only on itself, per-micro-batch batch evaluation is
    EXACT with zero cross-batch state: the streaming-state problem
    disappears by construction (the d18 docstring's steady-state
    argument, executed). ``dedup_corpus_state`` stores the corpus
    relations before the stream starts and every micro-batch reuses
    them; per-batch work
    is O(batch docs), so an always-on ingest holds steady cost no
    matter how large the corpus grows.

    ``checkpoint_dir`` makes the run RESTARTABLE: committed source
    offsets ensure a stopped-and-restarted query resumes at the first
    unprocessed file instead of re-probing (and re-appending) batches
    already in the sink — the parquet append is NOT idempotent, so
    exactly-once across restarts depends entirely on the checkpoint
    (pinned by the recovery test in tests/test_wave6.py). Without it
    the run is the single-shot harness path.

    COUPLING: the checkpoint and the sink are one unit of state — a
    restart skips batches the checkpoint has committed, so the sink
    must be the SAME directory that received them. ``checkpoint_dir``
    without an explicit ``out_dir`` would mint a fresh temp sink per
    call and a restarted run would silently return only the new
    batches' matches; that combination is rejected here.
    """
    import tempfile

    if checkpoint_dir is not None and out_dir is None:
        raise ValueError(
            "checkpoint_dir requires an explicit out_dir: the checkpoint "
            "skips already-committed batches, so a fresh temp sink would "
            "silently drop their matches on restart (pass the out_dir "
            "that belongs to this checkpoint)"
        )

    from ..functions.dedup import (
        DEFAULT_BAND_SIZE,
        DEFAULT_NUM_HASHES,
        dedup_corpus_state,
        probe_dedup_state,
    )

    nh = DEFAULT_NUM_HASHES if num_hashes is None else num_hashes
    bs = DEFAULT_BAND_SIZE if band_size is None else band_size
    if out_dir is None:
        out_dir = tempfile.mkdtemp(prefix="stream_incdedup_")
    buckets, sets = dedup_corpus_state(
        corpus_docs,
        num_hashes=nh,
        band_size=bs,
        bucket_cap=bucket_cap,
        hash_fn=hash_fn,
    )

    def _probe(batch_df: DataFrame, batch_id: int) -> None:
        probe_dedup_state(
            batch_df,
            buckets,
            sets,
            num_hashes=nh,
            band_size=bs,
            threshold=threshold,
            hash_fn=hash_fn,
        ).write.mode("append").parquet(out_dir)

    _run_foreach_batch(doc_stream, _probe, "update", checkpoint_dir)
    return doc_stream.sparkSession.read.parquet(out_dir)
