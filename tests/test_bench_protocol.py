"""The timing protocol shared by bench.py and tools/time_queries.py
(``bench.measure``): cache honesty, recorded warmup failures, and the
min-of-passes bookkeeping. Calls ``measure`` only — both CLIs' ``main``
stop the session."""

from __future__ import annotations

import importlib.util
import pathlib
import sys


def _load_bench():
    root = pathlib.Path(__file__).resolve().parent.parent
    spec = importlib.util.spec_from_file_location("bench", root / "bench.py")
    mod = importlib.util.module_from_spec(spec)
    sys.modules.setdefault("bench", mod)
    spec.loader.exec_module(mod)
    return mod


def test_measure_protocol(spark, sf_dir, tmp_path, monkeypatch):
    bench = _load_bench()
    warm = str(tmp_path / "warm")
    (tmp_path / "warm").mkdir()
    monkeypatch.setattr(bench, "WARM_SF", warm)

    persisted = []

    def cached(spark, d):
        df = spark.range(50).selectExpr("id", "id * 2 AS v").persist()
        persisted.append(df)
        return df

    def cold_only_fails(spark, d):
        if d == warm:
            raise RuntimeError("fails at the warm directory only")
        return spark.range(20).selectExpr("sum(id) AS s")

    def plain(spark, d):
        return spark.range(10).selectExpr("id % 3 AS k").groupBy("k").count()

    fns = {"cached": cached, "cold_only_fails": cold_only_fails, "plain": plain}
    passes = 3
    mins, per_pass, warmup_secs, failures = bench.measure(
        spark, fns, sf_dir, passes=passes, warmups=1
    )

    # cache honesty: nothing a query persisted survives its execution
    assert persisted
    assert all(not df.storageLevel.useMemory for df in persisted)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    # a warmup failure is recorded, and the query is still timed
    assert failures == ["cold_only_fails"]
    assert len(warmup_secs) == 1
    assert set(mins) == set(fns)
    for name in fns:
        assert len(per_pass[name]) == passes
        assert mins[name] == min(per_pass[name])
