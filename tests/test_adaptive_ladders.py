"""Rung-boundary pins for the two count-adaptive parameter ladders
(VERDICT r06 task 5) and for the round-7 band-OR recall compensation.

The subtle part of each adaptive design is the BOUNDARY: the Python
driver and the SQL oracle must pick the identical integer parameter
for every count, especially at n = rung·base ± 1 where an off-by-one
in either CASE ladder silently desynchronizes the engines. These
tests evaluate the generated SQL through DuckDB for every boundary
and compare bit-exactly with the Python ladder.
"""

from __future__ import annotations

import math

import duckdb
import pytest

from mxene_coin_cell_data_pipeline_spark.functions.similarity import (
    SIGNLSH_BASE_N,
    SIGNLSH_BASE_PLANES,
    SIGNLSH_MAX_EXTRA,
    SIGNLSH_MAX_TABLES,
    _SIGNLSH_REF_S,
    signlsh_adaptive_planes,
    signlsh_adaptive_tables,
)
from mxene_coin_cell_data_pipeline_spark.plans.dedup import _signlsh_tables_sql
from mxene_coin_cell_data_pipeline_spark.plans.events import (
    _E08_BASE_N,
    _E08_MAX_HALVINGS,
    _e08_cell,
    _e08_cell_sql,
)
from mxene_coin_cell_data_pipeline_spark.plans.similarity import _signlsh_planes_sql


def _boundary_counts(base: int, factor: int, rungs: int) -> list[int]:
    ns = [1, base - 1, base, base + 1]
    thr = base
    for _ in range(rungs + 1):  # one past the cap: the ELSE arm
        thr *= factor
        ns += [thr - 1, thr, thr + 1]
    return ns


# ------------------------------------------------------------- e08 grid
def test_e08_cell_python_sql_agree_across_every_boundary():
    con = duckdb.connect()
    case = _e08_cell_sql()
    for n in _boundary_counts(_E08_BASE_N, 4, _E08_MAX_HALVINGS):
        (got,) = con.execute(
            f"SELECT {case} FROM (SELECT {n}::BIGINT AS n)"
        ).fetchone()
        want = _e08_cell(n)
        assert got == want, f"n={n}: sql {got!r} != py {want!r}"


def test_e08_cell_halves_exactly_at_the_first_boundary():
    # the ladder is exact power-of-two scaling of the same 0.1 literal:
    # crossing a rung touches only the exponent, so cell stays
    # bit-identical across engines (and cell*cell is deterministic)
    assert _e08_cell(_E08_BASE_N) == 0.1
    assert _e08_cell(_E08_BASE_N + 1) == 0.1 / 2
    assert _e08_cell(_E08_BASE_N * 4) == 0.1 / 2
    assert _e08_cell(_E08_BASE_N * 4 + 1) == 0.1 / 4
    # cap: the ELSE arm
    deep = _E08_BASE_N * 4**_E08_MAX_HALVINGS
    assert _e08_cell(deep + 10**9) == 0.1 / 2**_E08_MAX_HALVINGS


# ------------------------------------------------------- sign-LSH planes
def test_signlsh_planes_python_sql_agree_across_every_boundary():
    con = duckdb.connect()
    case = _signlsh_planes_sql()
    for n in _boundary_counts(SIGNLSH_BASE_N, 2, SIGNLSH_MAX_EXTRA):
        (got,) = con.execute(
            f"SELECT {case} FROM (SELECT {n}::BIGINT AS n)"
        ).fetchone()
        want = signlsh_adaptive_planes(n)
        assert got == want, f"n={n}: sql {got} != py {want}"


def test_signlsh_planes_rung_boundaries():
    assert signlsh_adaptive_planes(SIGNLSH_BASE_N) == SIGNLSH_BASE_PLANES
    assert signlsh_adaptive_planes(SIGNLSH_BASE_N + 1) == SIGNLSH_BASE_PLANES + 1
    assert signlsh_adaptive_planes(SIGNLSH_BASE_N * 2) == SIGNLSH_BASE_PLANES + 1
    assert (
        signlsh_adaptive_planes(SIGNLSH_BASE_N * 2 + 1) == SIGNLSH_BASE_PLANES + 2
    )
    cap = SIGNLSH_BASE_PLANES + SIGNLSH_MAX_EXTRA
    assert signlsh_adaptive_planes(SIGNLSH_BASE_N * 2**SIGNLSH_MAX_EXTRA) == cap
    assert signlsh_adaptive_planes(10**15) == cap


# ------------------------------------------- band-OR table compensation
def test_signlsh_tables_python_sql_agree_for_every_plane_count():
    con = duckdb.connect()
    case = _signlsh_tables_sql()
    for p in range(
        SIGNLSH_BASE_PLANES, SIGNLSH_BASE_PLANES + SIGNLSH_MAX_EXTRA + 1
    ):
        (got,) = con.execute(
            f"SELECT {case} FROM (SELECT {p} AS planes)"
        ).fetchone()
        want = signlsh_adaptive_tables(p)
        assert got == want, f"planes={p}: sql {got} != py {want}"


def test_signlsh_tables_recall_contract():
    """The whole point of the OR-construction: with t(p) tables the
    probability that a cosine≥0.9 pair becomes a candidate never drops
    below the 8-plane single-table base rung — recall is
    scale-INDEPENDENT, not constant-output-degree-by-missing-dups."""
    s = _SIGNLSH_REF_S
    assert math.isclose(s, 1.0 - math.acos(0.9) / math.pi)
    base = s**SIGNLSH_BASE_PLANES
    assert signlsh_adaptive_tables(SIGNLSH_BASE_PLANES) == 1
    prev = 1
    for p in range(
        SIGNLSH_BASE_PLANES, SIGNLSH_BASE_PLANES + SIGNLSH_MAX_EXTRA + 1
    ):
        t = signlsh_adaptive_tables(p)
        assert 1 <= t <= SIGNLSH_MAX_TABLES
        assert t >= prev, "table count must be monotone in plane count"
        prev = t
        or_recall = 1.0 - (1.0 - s**p) ** t
        assert or_recall >= base - 1e-12, (
            f"planes={p} tables={t}: OR-recall {or_recall:.4f} < "
            f"base {base:.4f}"
        )


# --------------------------------------------- Spark-side multiprobe
@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    from mxene_coin_cell_data_pipeline_spark.sources.tables import load_table

    return load_table(spark, sf_dir, "embeddings")


def test_multiprobe_is_union_of_independent_tables(spark, emb):
    """n_tables=2 candidates == distinct union of the two per-table
    single joins — i.e. multiprobe is exactly the OR-construction, and
    table 0 is byte-identical to the classic single-table form."""
    from pyspark.sql import functions as F

    from mxene_coin_cell_data_pipeline_spark.functions.similarity import (
        signlsh_buckets,
        signlsh_candidate_pairs,
    )

    got = signlsh_candidate_pairs(emb, n_planes=6, n_tables=2)
    assert set(got.columns) == {"vec_a", "vec_b"}

    expect_parts = []
    for t in range(2):
        b = signlsh_buckets(emb, n_planes=6, table=t)
        a_side = b.select(F.col("vec_id").alias("vec_a"), "bucket")
        b_side = b.select(F.col("vec_id").alias("vec_b"), "bucket")
        expect_parts.append(
            a_side.join(b_side, "bucket")
            .filter(F.col("vec_a") < F.col("vec_b"))
            .select("vec_a", "vec_b")
        )
    expect = expect_parts[0].unionByName(expect_parts[1]).distinct()
    assert got.exceptAll(expect).count() == 0
    assert expect.exceptAll(got).count() == 0
    # single-table form unchanged (bucket column preserved)
    single = signlsh_candidate_pairs(emb, n_planes=6, n_tables=1)
    assert set(single.columns) == {"vec_a", "vec_b", "bucket"}
    t0 = expect_parts[0]
    assert single.select("vec_a", "vec_b").exceptAll(t0).count() == 0
    assert t0.exceptAll(single.select("vec_a", "vec_b")).count() == 0


def test_multiprobe_only_adds_candidates_and_dedups_pairs(spark, emb):
    """More tables can only ADD candidates (OR-construction is
    monotone), and the output never repeats a pair."""
    one = signlsh_candidate_pairs_cols(emb, n_tables=1)
    three = signlsh_candidate_pairs_cols(emb, n_tables=3)
    assert one.exceptAll(three).count() == 0
    assert three.count() == three.distinct().count()
    assert three.count() >= one.count()


def signlsh_candidate_pairs_cols(emb, n_tables):
    from mxene_coin_cell_data_pipeline_spark.functions.similarity import (
        signlsh_candidate_pairs,
    )

    return signlsh_candidate_pairs(emb, n_planes=6, n_tables=n_tables).select(
        "vec_a", "vec_b"
    )


def test_near_dup_pairs_base_rung_unchanged_and_count_skippable(spark, emb):
    """At the base rung the adaptive default (planes=8, tables=1)
    reduces to the classic form, and passing n_vectors skips the
    sizing count() without changing the result."""
    from mxene_coin_cell_data_pipeline_spark.functions.similarity import (
        signlsh_near_dup_pairs,
    )

    n = emb.count()
    assert n <= SIGNLSH_BASE_N  # sf0.001/0.01 sit in the base rung
    auto = signlsh_near_dup_pairs(emb, threshold=0.3)
    classic = signlsh_near_dup_pairs(emb, threshold=0.3, n_planes=8, n_tables=1)
    hinted = signlsh_near_dup_pairs(emb, threshold=0.3, n_vectors=n)
    a = sorted(map(tuple, auto.collect()))
    assert a == sorted(map(tuple, classic.collect()))
    assert a == sorted(map(tuple, hinted.collect()))


def test_multiprobe_sql_twin_matches_spark_above_base_rung(spark):
    """Differential pin of the t>1 oracle leg: at sf0.01 the driver's
    compare sits in the base rung (planes=8, tables=1), so the
    multi-table branch of the generated SQL would otherwise only ever
    run in the 100x sweep. 9000 synthetic vectors land on planes=10 /
    tables=2; the DuckDB candidate set must equal Spark's exactly."""
    import numpy as np
    import pandas as pd

    from mxene_coin_cell_data_pipeline_spark.functions.similarity import (
        signlsh_candidate_pairs,
    )
    from mxene_coin_cell_data_pipeline_spark.plans.dedup import (
        _signlsh_multiprobe_candidates_sql,
    )

    n, dim = 9000, 8
    assert signlsh_adaptive_planes(n) == SIGNLSH_BASE_PLANES + 2
    assert signlsh_adaptive_tables(SIGNLSH_BASE_PLANES + 2) == 2

    rng = np.random.default_rng(42)
    vecs = rng.integers(-4, 5, size=(n, dim)).astype("float32")
    pdf = pd.DataFrame({"vec_id": np.arange(n, dtype="int64"),
                        "embedding": list(vecs)})
    sdf = spark.createDataFrame(
        pd.DataFrame({"vec_id": pdf["vec_id"],
                      "embedding": [list(map(float, v)) for v in vecs]}),
        "vec_id long, embedding array<float>",
    )
    got = sorted(
        (r["vec_a"], r["vec_b"])
        for r in signlsh_candidate_pairs(sdf, n_tables=None).collect()
    )

    con = duckdb.connect()
    con.register("embeddings", pdf)
    want = sorted(
        map(tuple, con.execute(_signlsh_multiprobe_candidates_sql()).fetchall())
    )
    assert len(got) > 0
    assert got == want
