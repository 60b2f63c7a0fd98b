"""Semantic pins for the round-12 optimization rewrites.

Each test pins a rewritten operator's output against a from-first-
principles Python reference (not against the old implementation's
output files), so the optimized form is verified to compute the same
relation, not just to run.
"""

from __future__ import annotations

import pytest

_CAP = 3


def _ref_capped_pairs(buckets: dict[tuple, list[int]], cap: int) -> set:
    """Reference: all pairs (a<b) within buckets of size <= cap, star
    edges (min -> member) past the cap, distinct over both."""
    out = set()
    for _k, members in buckets.items():
        ms = sorted(members)
        if len(ms) <= cap:
            out |= {(a, b) for i, a in enumerate(ms) for b in ms[i + 1 :]}
        else:
            out |= {(ms[0], m) for m in ms[1:]}
    return out


def test_capped_bucket_pairs_matches_reference(spark):
    from mxene_coin_cell_data_pipeline_spark.functions.dedup import (
        _capped_bucket_pairs,
    )

    buckets = {
        ("b0", "x"): [7],                      # singleton: no pairs
        ("b0", "y"): [4, 2],                   # small: one pair
        ("b1", "x"): [10, 11, 12],             # exactly cap: all pairs
        ("b1", "y"): [3, 9, 1, 5],             # cap+1: star from 1
        ("b2", "z"): [20, 23, 21, 25, 24, 22], # cap+3: star from 20
    }
    rows = [(d, k[0], k[1]) for k, ms in buckets.items() for d in ms]
    bands = spark.createDataFrame(rows, "doc_id long, band string, bucket string")
    got = {
        (r["doc_a"], r["doc_b"])
        for r in _capped_bucket_pairs(bands, ["band", "bucket"], _CAP).collect()
    }
    assert got == _ref_capped_pairs(buckets, _CAP)


def test_capped_bucket_pairs_distinct_across_buckets(spark):
    """The same pair emitted by two buckets appears once (the old
    union+distinct contract)."""
    from mxene_coin_cell_data_pipeline_spark.functions.dedup import (
        _capped_bucket_pairs,
    )

    rows = [(1, 0, "a"), (2, 0, "a"), (1, 1, "b"), (2, 1, "b")]
    bands = spark.createDataFrame(rows, "doc_id long, band int, bucket string")
    got = _capped_bucket_pairs(bands, ["band", "bucket"], _CAP).collect()
    assert [(r["doc_a"], r["doc_b"]) for r in got] == [(1, 2)]


def test_capped_bucket_pairs_plan_single_pass(spark):
    """The r12 groupBy form must not plan a Window or a self-join:
    one aggregate over the band relation, pair emission row-local."""
    from mxene_coin_cell_data_pipeline_spark.functions.dedup import (
        _capped_bucket_pairs,
    )

    bands = spark.createDataFrame(
        [(1, 0, "a"), (2, 0, "a")], "doc_id long, band int, bucket string"
    )
    plan = (
        _capped_bucket_pairs(bands, ["band", "bucket"], _CAP)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" not in plan
    assert "Join" not in plan  # no SortMergeJoin/ShuffledHashJoin/BHJ


def test_thin_buckets_keeps_cap_smallest(spark):
    from mxene_coin_cell_data_pipeline_spark.functions.dedup import _thin_buckets

    rows = [
        (d, 0, "a") for d in (9, 3, 5, 1, 7)
    ] + [(d, 1, "b") for d in (2, 4)]
    buckets = spark.createDataFrame(rows, "doc_id long, band int, bucket string")
    got = sorted(
        (r["band"], r["bucket"], r["doc_id"])
        for r in _thin_buckets(buckets, 3).collect()
    )
    assert got == [(0, "a", 1), (0, "a", 3), (0, "a", 5), (1, "b", 2), (1, "b", 4)]


def _ref_keeper(members, quality):
    keeper = min(members, key=lambda d: (-quality[d], d))
    return keeper, quality[keeper]


@pytest.mark.parametrize(
    "quality",
    [
        # ties -> smaller id; includes zero and negative quality and a
        # doc_id near the top of the int64 range (the decimal pack must
        # stay exact everywhere the mixer's id contract allows)
        {1: 10, 2: 50, 3: 50, 4: 0, 5: -7, (1 << 62) + 11: 50},
    ],
)
def test_quality_keeper_pack_argmax_exact(spark, quality):
    from mxene_coin_cell_data_pipeline_spark.functions.dedup import (
        _KNUTH,
        _MOD31,
        quality_keeper_audit,
    )

    members = list(quality)
    groups = spark.createDataFrame(
        [(d, 1) for d in members], "doc_id long, group_id long"
    )
    docs = spark.createDataFrame(
        [(d, q) for d, q in quality.items()], "doc_id long, n_chars long"
    )
    out = quality_keeper_audit(groups, docs).collect()
    assert len(out) == 1
    r = out[0]
    keeper, kq = _ref_keeper(members, quality)
    assert (r["keeper_id"], r["keeper_quality"]) == (keeper, kq)
    mix = lambda d: ((d % _MOD31) * _KNUTH) % _MOD31  # noqa: E731
    assert r["drop_sig"] == sum(mix(d) for d in members if d != keeper)
    assert r["n_docs"] == len(members)


def test_quality_keeper_hash_aggregates(spark):
    """VERDICT r11 item 4 'done' criterion: integral quality plans as
    HashAggregate (decimal pack buffer is mutable); the struct-argmax
    SortAggregate is gone."""
    from mxene_coin_cell_data_pipeline_spark.functions.dedup import (
        quality_keeper_audit,
    )

    groups = spark.createDataFrame([(1, 1), (2, 1)], "doc_id long, group_id long")
    docs = spark.createDataFrame([(1, 5), (2, 9)], "doc_id long, n_chars long")
    plan = (
        quality_keeper_audit(groups, docs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "SortAggregate" not in plan, plan[:2000]
    assert "HashAggregate" in plan


def test_quality_keeper_fractional_quality_falls_back(spark):
    """Non-integral quality keeps the exact struct argmax (a decimal
    cast would truncate 1.5 vs 1.9)."""
    from mxene_coin_cell_data_pipeline_spark.functions.dedup import (
        quality_keeper_audit,
    )

    groups = spark.createDataFrame(
        [(1, 1), (2, 1)], "doc_id long, group_id long"
    )
    docs = spark.createDataFrame(
        [(1, 1.9), (2, 1.5)], "doc_id long, score double"
    )
    r = quality_keeper_audit(groups, docs, quality_col="score").collect()[0]
    assert r["keeper_id"] == 1


def test_dlit_nonfinite_literals(spark):
    """ADVICE r11: inf/nan in a literal vector must parse (the repr
    form emitted invalid SQL 'infD'/'nanD')."""
    from mxene_coin_cell_data_pipeline_spark.functions.similarity import _dlit

    row = spark.range(1).select(
        _dlit([1.5, float("inf"), float("-inf"), float("nan")]).alias("v")
    ).collect()[0]
    v = row["v"]
    assert v[0] == 1.5 and v[1] == float("inf") and v[2] == float("-inf")
    assert v[3] != v[3]  # NaN


def test_durable_checkpoint_reliable_mode(spark, tmp_path):
    """VERDICT r11 item 7: with spark.graft.checkpointDir set, the
    iterative families truncate lineage through a RELIABLE checkpoint
    (files in the configured dir), with identical results; unset, the
    local default is unchanged."""
    from mxene_coin_cell_data_pipeline_spark.functions.dedup import (
        near_dup_groups,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long"
    )
    base = {(r["doc_id"], r["group_id"]) for r in near_dup_groups(pairs).collect()}
    ckdir = str(tmp_path / "reliable_ck")
    spark.conf.set("spark.graft.checkpointDir", ckdir)
    try:
        got = {
            (r["doc_id"], r["group_id"]) for r in near_dup_groups(pairs).collect()
        }
    finally:
        spark.conf.unset("spark.graft.checkpointDir")
    assert got == base == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}
    import os

    assert os.path.isdir(ckdir) and any(os.scandir(ckdir)), (
        "reliable checkpoint wrote nothing"
    )


def test_durable_checkpoint_resets_mismatched_dir(spark, tmp_path):
    """A checkpoint dir set on the context earlier (A) must not swallow
    the configured one (B): the feature table's reliable checkpoint
    lands under B and equals the local-checkpoint form. Once B is set,
    later calls keep it (one Spark UUID subdirectory under B)."""
    import os

    from fixtures import RATED_AH, arbin_frame
    from mxene_coin_cell_data_pipeline_spark.operators import (
        full_feature_pipeline,
        normalize_cycler,
    )
    from mxene_coin_cell_data_pipeline_spark.sources import read_cycler_csv

    csv = str(tmp_path / "cell.csv")
    arbin_frame().to_csv(csv, index=False)
    ts = normalize_cycler(read_cycler_csv(spark, csv), cell_id="C1")
    local = full_feature_pipeline(ts, rated_ah=RATED_AH).toPandas()

    dir_a, dir_b = str(tmp_path / "ck_a"), str(tmp_path / "ck_b")
    spark.sparkContext.setCheckpointDir(dir_a)
    spark.conf.set("spark.graft.checkpointDir", dir_b)
    try:
        got = full_feature_pipeline(ts, rated_ah=RATED_AH).toPandas()
        again = full_feature_pipeline(ts, rated_ah=RATED_AH).toPandas()
    finally:
        spark.conf.unset("spark.graft.checkpointDir")

    def rdd_dirs(root):
        return [
            name
            for dirpath, dirnames, _ in os.walk(root)
            for name in dirnames
            if name.startswith("rdd-")
        ]

    assert rdd_dirs(dir_b), "nothing checkpointed into the configured dir"
    assert rdd_dirs(dir_a) == []
    assert len(os.listdir(dir_b)) == 1, os.listdir(dir_b)
    assert got.equals(local) and again.equals(local)
