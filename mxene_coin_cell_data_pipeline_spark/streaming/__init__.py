"""Structured Streaming layer: live cycler-feed ingest and per-cycle
feature maintenance.

The reference is batch-only (SURVEY.md §2.12) — this layer is the
engine's forward extension for live cycler feeds, built on the same
operator semantics:

- ``read_cycler_stream`` / ``normalize_cycler_stream``: file-source
  CSV stream → the exact stateless normalize projection the batch path
  uses (one code path, ``operators.normalize.normalize_cycler_stateless``);
  the global sign-flip decision is batch-calibrated and joined in as a
  static broadcast side.
- ``stream_capacity_ce``: watermarked per-(cell, cycle) capacity/CE
  maintained incrementally (update mode) with the same ``max_by``
  end-of-cycle semantics as the batch operator.
- ``stream_energy_trapezoid``: custom stateful operator
  (``applyInPandasWithState``) integrating V·I dt incrementally across
  micro-batches — state is three floats per open (cell, cycle).
- ``windowed_event_rollup``: classic watermark + tumbling event-time
  window aggregation over the events stream.
- ``run_stream_latest_snapshot`` / ``run_stream_agg_snapshot`` /
  ``run_stream_histogram_snapshot``: a persisted parquet snapshot
  (latest row per key, additive totals, bin counts) merged per
  micro-batch through one crash-safe, checkpoint-guarded merge step
  (``snapshot._merge_batch``).
"""

from .ingest import (
    normalize_cycler_stream,
    read_cycler_stream,
    read_events_stream,
    read_table_stream,
)
from .features import (
    stream_capacity_ce,
    stream_energy_trapezoid,
    stream_exact_dedup,
    windowed_event_rollup,
)
from .run import (
    run_stream_append_parquet,
    run_stream_complete_parquet,
    run_stream_to_memory,
)
from .snapshot import (
    merge_latest_by_key,
    run_stream_agg_snapshot,
    run_stream_histogram_snapshot,
    run_stream_latest_snapshot,
)

__all__ = [
    "read_cycler_stream",
    "read_events_stream",
    "read_table_stream",
    "normalize_cycler_stream",
    "stream_capacity_ce",
    "stream_energy_trapezoid",
    "stream_exact_dedup",
    "windowed_event_rollup",
    "run_stream_append_parquet",
    "run_stream_complete_parquet",
    "run_stream_to_memory",
    "run_stream_latest_snapshot",
    "run_stream_agg_snapshot",
    "run_stream_histogram_snapshot",
]
