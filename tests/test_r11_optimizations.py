"""Focused pins for the round-11 optimization-pass internals.

Each test targets an operator whose INTERNALS changed for performance
with results contractually identical:

- the BPE trainer's per-round merge apply moved from a mapInPandas
  kernel to a pure JVM ``aggregate`` fold (``_apply_merge_expr``);
- the trainer's audit now derives n_merged/n_tokens_after from the
  fused per-round aggregation (nt = Σ pair counts + Σ cnt);
- ``near_dup_groups`` fused the changed-count into the label update
  (one action per closure round);
- ``load_table``/``scale_out`` memoize file METADATA keyed by
  (path, mtime, size) — a rewritten file must invalidate.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F


def test_jvm_apply_matches_python(spark):
    """_apply_merge_expr == apply_one_merge on every shape that
    matters: no match, single match, chained, and a==b overlap runs
    (leftmost non-overlapping takes every other position)."""
    from mxene_coin_cell_data_pipeline_spark.functions.text import (
        _apply_merge_expr,
        apply_one_merge,
    )

    words = [
        "scan", "scat", "banana", "aaaa", "aaaaa", "aa", "a",
        "abab", "aab", "erer", "xyz", "eree", "rrrr",
    ]
    cases = [("a", "a"), ("a", "b"), ("e", "r"), ("r", "e"), ("s", "c")]
    df = spark.createDataFrame([(w,) for w in words], "w string").select(
        "w", F.expr("filter(split(w, ''), c -> c <> '')").alias("syms")
    )
    for a, b in cases:
        got = {
            r["w"]: list(r["out"])
            for r in df.select(
                "w", _apply_merge_expr("syms", a, b).alias("out")
            ).collect()
        }
        for w in words:
            want, _n = apply_one_merge(list(w), a, b)
            assert got[w] == want, (w, a, b, got[w], want)


def test_trainer_audit_identities(spark):
    """The fused-round audit identities: n_tokens_after equals
    Σ cnt·len(state) and n_merged equals the round-over-round delta —
    against the pure-Python trainer on a corpus with an a==b overlap
    run (where pair_count != n_merged)."""
    from mxene_coin_cell_data_pipeline_spark.functions.text import (
        bpe_train_merges_py,
        bpe_train_rows,
    )

    words = {"aaaa": 3, "aab": 2, "banana": 1, "aa": 5}
    df = spark.createDataFrame(list(words.items()), "w string, cnt long")
    got = bpe_train_rows(df, rounds=4)
    want = [
        (
            r["rank"], r["sym_a"], r["sym_b"], r["pair_count"],
            r["n_merged"], r["n_tokens_after"],
        )
        for r in bpe_train_merges_py(words, rounds=4)
    ]
    assert got == want


def test_near_dup_groups_fused_round(spark):
    """A 5-chain plus an isolate converges to min-id labels under the
    fused one-action-per-round closure."""
    from mxene_coin_cell_data_pipeline_spark.functions.dedup import (
        near_dup_groups,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (8, 9)],
        "doc_a long, doc_b long",
    )
    got = {
        r["doc_id"]: r["group_id"] for r in near_dup_groups(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 8: 8, 9: 8}


def test_metadata_cache_invalidates_on_rewrite(spark, tmp_path):
    """load_table's schema memo is keyed by (path, mtime, size): a
    rewritten file with a different schema must be re-sniffed."""
    import pandas as pd

    from mxene_coin_cell_data_pipeline_spark.sources.tables import load_table

    p = str(tmp_path / "documents.parquet")
    pd.DataFrame({"doc_id": [1, 2]}).to_parquet(p)
    df1 = load_table(spark, str(tmp_path), "documents")
    assert df1.columns == ["doc_id"]
    os.utime(p, (0, 0))  # force a different mtime even on fast rewrites
    pd.DataFrame({"doc_id": [1], "extra": ["x"]}).to_parquet(p)
    df2 = load_table(spark, str(tmp_path), "documents")
    assert df2.columns == ["doc_id", "extra"]


def test_load_table_returns_cached_handle(spark, sf_dir):
    """Same session + same file ⇒ the SAME lazy plan handle (the
    memo is plan-level only; actions still read the parquet)."""
    from mxene_coin_cell_data_pipeline_spark.sources.tables import load_table

    a = load_table(spark, sf_dir, "region")
    b = load_table(spark, sf_dir, "region")
    assert a is b
    assert a.count() == b.count() > 0


def test_scale_out_reprobes_when_a_file_has_no_signature(spark, tmp_path, monkeypatch):
    """A path ``os.stat`` cannot see (hdfs://, s3a://) has no file
    signature; memoizing its partition probe under that missing
    signature would keep the answer across a rewrite of the file, so
    every call must probe."""
    import pandas as pd
    from pyspark import RDD

    from mxene_coin_cell_data_pipeline_spark.sources import tables

    p = str(tmp_path / "t.parquet")
    pd.DataFrame({"k": range(10)}).to_parquet(p)
    df = spark.read.parquet(p)
    probes = []
    probe = RDD.getNumPartitions
    monkeypatch.setattr(
        RDD, "getNumPartitions", lambda self: probes.append(1) or probe(self)
    )
    monkeypatch.setattr(tables, "_file_sig", lambda path: None)
    tables.scale_out(df)
    tables.scale_out(df)
    assert len(probes) == 2
