"""AUDIT-OUTPUT CONTRACT reconciliation (round-8 task, VERDICT.md #7).

Several registered queries return BOUNDED AUDIT AGGREGATES while the
library API returns the raw relation users actually consume:

  registered        library API (raw)
  ---------------   ------------------------------------------------
  d06 / d14         near_dup_groups -> (doc_id, group_id) per doc
  d04               embedding_near_dup_pairs_blas -> (vec_a, vec_b,
                    cosine) per pair
  d10               chunk_dedup's audit columns describe a reassembly
                    that is never materialized
  t17               t17's audit columns describe the kept-span
                    reassembly, never materialized

These tests pin the contract: the registered aggregate must reconcile
with the raw relation, recomputed INDEPENDENTLY (pandas/python over
the collected raw rows — not the Spark expressions under test), so the
registered shape can never silently diverge from the API shape. Runs
at the test SF where collecting raw relations is cheap.
"""

import hashlib

import pandas as pd
import pytest

from mxene_coin_cell_data_pipeline_spark.sources.tables import load_table

KNUTH = 2654435761
MOD31 = 2147483647


def _hash32(s: str) -> int:
    """int of the first 8 hex chars of md5 — the engines' hash32."""
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def _rows(df) -> set[tuple]:
    return {tuple(r) for r in df.toPandas().itertuples(index=False)}


def _pd_rows(pdf: pd.DataFrame) -> set[tuple]:
    return {tuple(r) for r in pdf.itertuples(index=False)}


# ---------------------------------------------------------------- d06 / d14
@pytest.mark.parametrize("bucket_cap", [None, 2], ids=["d06", "d14"])
def test_closure_audit_reconciles_with_raw_groups(spark, sf_dir, bucket_cap):
    from mxene_coin_cell_data_pipeline_spark.functions.dedup import (
        closure_audit,
        minhash_near_dup_pairs,
        near_dup_groups,
    )

    docs = load_table(spark, sf_dir, "documents")
    raw = near_dup_groups(
        minhash_near_dup_pairs(
            docs, threshold=0.8, bucket_cap=bucket_cap, hash_fn="md5"
        )
    )
    got = _rows(closure_audit(raw))

    g = raw.toPandas()
    g["sig"] = ((g.doc_id % MOD31) * KNUTH) % MOD31
    want = {
        (
            int(gid),
            len(m),
            int(m.doc_id.min()),
            int(m.doc_id.max()),
            int(m.sig.sum()),
        )
        for gid, m in g.groupby("group_id")
    }
    assert got == want
    # structural invariants of the closure itself
    for gid, n, mn, mx, _sig in got:
        assert gid == mn, "group_id must be the member minimum"
        assert n >= 2, "singleton docs never appear in a pair closure"


def test_d06_list_verify_pair_sql_matches_registered_d02(sf_dir):
    """d06's closure oracle derives its pair relation with a row-local
    list-intersection verify (in-sweep capable at 100x); it must define
    EXACTLY the registered d02 relation (also verified at sf0.01 and
    sf0.1 when landed — this pins it at the test SF forever)."""
    import duckdb

    from mxene_coin_cell_data_pipeline_spark.plans import (
        QUERIES,
        dedup as qd,
    )

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    )
    a = con.execute(
        f"SELECT doc_a, doc_b FROM ({QUERIES['d02_minhash_lsh'].oracle}) "
        "ORDER BY 1, 2"
    ).fetchall()
    b = con.execute(
        f"SELECT doc_a, doc_b FROM ({qd._D02_PAIRS_LIST_SQL}) ORDER BY 1, 2"
    ).fetchall()
    assert a == b and len(a) > 0


# --------------------------------------------------------------------- d04
def test_d04_audit_reconciles_with_raw_pairs(spark, sf_dir):
    from mxene_coin_cell_data_pipeline_spark.functions.similarity import (
        embedding_near_dup_pairs_blas,
    )
    from mxene_coin_cell_data_pipeline_spark.plans import QUERIES

    emb = load_table(spark, sf_dir, "embeddings")
    raw = embedding_near_dup_pairs_blas(emb, threshold=0.2).toPandas()
    raw["cos_nanos"] = (raw.cosine * 1e9).round().astype("int64")
    raw["psig"] = (raw.vec_b * KNUTH) % MOD31
    want = {
        (
            int(a),
            len(m),
            int(m.cos_nanos.sum()),
            int(m.cos_nanos.max()),
            int(m.psig.sum()),
        )
        for a, m in raw.groupby("vec_a")
    }
    got = _rows(QUERIES["d04_embedding_neardup"].spark(spark, sf_dir))
    assert got == want


# --------------------------------------------------------------------- d10
def test_d10_audit_describes_the_real_reassembly(spark, sf_dir):
    """dedup_len/dedup_sig are pure aggregates on the engines; here the
    reassembly IS materialized (python, tiny SF) and the audit columns
    must equal its actual properties."""
    import re

    from mxene_coin_cell_data_pipeline_spark.functions.dedup import chunk_dedup

    docs = load_table(spark, sf_dir, "documents")
    got = {
        int(r.doc_id): (int(r.n_chunks), int(r.n_kept), r.dedup_len, r.dedup_sig)
        for r in chunk_dedup(docs, chunk_words=3).collect()
    }

    pdf = docs.select("doc_id", "text").toPandas()
    # global first occurrence = smallest (doc_id, chunk_idx) per chunk
    chunks: list[tuple[int, int, str]] = []
    for r in pdf.sort_values("doc_id").itertuples(index=False):
        w = re.findall(r"[a-z0-9]+", r.text.lower())
        for i in range(0, (len(w) + 2) // 3):
            chunks.append((int(r.doc_id), i, " ".join(w[i * 3 : i * 3 + 3])))
    seen: set[str] = set()
    kept: dict[int, list[tuple[int, str]]] = {}
    per_doc_n: dict[int, int] = {}
    for doc, idx, ch in sorted(chunks):
        per_doc_n[doc] = per_doc_n.get(doc, 0) + 1
        if ch not in seen:
            seen.add(ch)
            kept.setdefault(doc, []).append((idx, ch))
    want = {}
    for doc, n in per_doc_n.items():
        ks = kept.get(doc, [])
        text = " ".join(ch for _i, ch in ks)  # the real reassembly
        want[doc] = (
            n,
            len(ks),
            len(text) if ks else None,
            sum((i + 1) * _hash32(ch) for i, ch in ks) if ks else None,
        )
    assert got == want


# --------------------------------------------------------------------- t17
def test_t17_audit_describes_the_real_reassembly(spark, sf_dir):
    from mxene_coin_cell_data_pipeline_spark.plans import QUERIES

    got = {
        int(r.doc_id): (
            int(r.n_tokens),
            int(r.n_spans),
            int(r.n_uniq_spans),
            int(r.kept_len),
            int(r.kept_sig),
        )
        for r in QUERIES["t17_span_self_dedup"].spark(spark, sf_dir).collect()
    }

    pdf = load_table(spark, sf_dir, "documents").select("doc_id", "text").toPandas()
    want = {}
    for r in pdf.itertuples(index=False):
        toks = [t for t in r.text.split(" ") if t]
        spans = [
            " ".join(toks[i * 3 : i * 3 + 3])
            for i in range(0, (len(toks) + 2) // 3)
        ]
        kept: list[str] = []
        seen: set[str] = set()
        for s in spans:  # first-occurrence order within the doc
            if s not in seen:
                seen.add(s)
                kept.append(s)
        text = " ".join(kept)  # the real reassembly
        want[int(r.doc_id)] = (
            len(toks),
            len(spans),
            len(kept),
            len(text) if kept else 0,
            sum((i + 1) * _hash32(s) for i, s in enumerate(kept)),
        )
    assert got == want
