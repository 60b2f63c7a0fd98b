"""The additive snapshot merges are one aggregate over state and batch.

``merge_additive_totals`` and ``merge_bin_counts`` add a micro-batch
into the stored snapshot. Both group the stored rows and the batch's
rows in one ``groupBy``, so the merge plan has one aggregate exchange.
Their values are checked against totals counted in Python over the
whole feed, with NULL values and NULL keys in the batches.
"""

from __future__ import annotations

import math
import random
from decimal import Decimal

import pytest

from mxene_coin_cell_data_pipeline_spark.streaming.snapshot import (
    merge_additive_totals,
    merge_bin_counts,
)

SCHEMA = "k string, v double"
BIN_WIDTH = 10.0


def _batch(rng: random.Random, n: int) -> list[tuple]:
    """``(k, v)`` rows: keys a/b/c or NULL, values in thousandths
    (exact at 6 decimals) or NULL. Key ``c`` only ever has NULL
    values."""
    rows = []
    for _ in range(n):
        k = rng.choice(["a", "b", "c", None])
        v = None if k == "c" or rng.random() < 0.2 else rng.randint(-99999, 99999) / 1000
        rows.append((k, v))
    return rows


def _totals(rows):
    out: dict = {}
    for k, v in rows:
        n, s = out.get(k, (0, None))
        if v is not None:
            s = (s or Decimal(0)) + Decimal(str(v))
        out[k] = (n + 1, s)
    six = Decimal("0.000001")
    return {k: (n, None if s is None else s.quantize(six)) for k, (n, s) in out.items()}


def _bins(rows):
    out: dict = {}
    for k, v in rows:
        b = None if v is None else math.floor(v / BIN_WIDTH)
        out[(k, b)] = out.get((k, b), 0) + 1
    return out


def _merged(spark, tmp_path, combine, batches):
    """Merge ``batches`` one at a time through stored state, as the
    snapshot runner does; returns the last merge's DataFrame."""
    state = None
    for i, rows in enumerate(batches):
        merged = combine(state, spark.createDataFrame(rows, SCHEMA))
        path = str(tmp_path / f"state{i}")
        merged.write.parquet(path)
        state = spark.read.parquet(path)
    return merged


def _aggregate_exchanges(df) -> int:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return sum("Exchange hashpartitioning" in ln for ln in plan.splitlines())


@pytest.mark.parametrize("seed", [3, 4])
def test_additive_totals_one_aggregate(spark, tmp_path, seed):
    rng = random.Random(seed)
    batches = [_batch(rng, 40) for _ in range(3)]
    merged = _merged(
        spark, tmp_path, lambda cur, b: merge_additive_totals(cur, b, "k", {"v": "sum"}), batches
    )
    assert _aggregate_exchanges(merged) == 1
    got = {r["k"]: (r["n"], r["sum_v"]) for r in merged.collect()}
    assert got == _totals([r for b in batches for r in b])


@pytest.mark.parametrize("seed", [3, 4])
def test_bin_counts_one_aggregate(spark, tmp_path, seed):
    rng = random.Random(seed)
    batches = [_batch(rng, 40) for _ in range(3)]
    merged = _merged(
        spark, tmp_path, lambda cur, b: merge_bin_counts(cur, b, "k", "v", BIN_WIDTH), batches
    )
    assert _aggregate_exchanges(merged) == 1
    got = {(r["k"], r["bin"]): r["c"] for r in merged.collect()}
    assert got == _bins([r for b in batches for r in b])
