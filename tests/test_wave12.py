"""Wave-12 operator tests (round 11): s14 IVFADC residual search, m13
audio fingerprint near-dup, s15 RRF hybrid fusion, p07 trained-
tokenizer capstone. Differentials are pure-Python re-implementations,
the wave-10/11 discipline."""

from __future__ import annotations

import math

import pytest


# ---------------------------------------------------------------------------
# s14: IVFADC residual search
# ---------------------------------------------------------------------------


def _dot_seq(a, b):
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + x * y
    return acc


def _sqd(a, b):
    return _dot_seq(a, a) - 2 * _dot_seq(a, b) + _dot_seq(b, b)


def _py_ivfpq_reference(vecs, kc=4, m=4, k=4, nprobe=2, topk=10):
    """Pure-Python IVFADC mirroring ivfpq_residual_topk bit-for-bit:
    coarse assign (ties -> smaller list), residual PQ codes against the
    shared codebook seeded from residuals of vec kc..kc+k-1, probe the
    nprobe nearest lists, per-list LUT ADC, top-k on the round(1e9)
    int grid with vec_id tie-breaks."""
    dim = len(vecs[0])
    sub = dim // m
    coarse = [vecs[c] for c in range(kc)]

    def assign(v):
        best, bd = 0, _sqd(v, coarse[0])
        for c in range(1, kc):
            d = _sqd(v, coarse[c])
            if d < bd:
                best, bd = c, d
        return best

    pq = []
    for j in range(kc, kc + k):
        cv = coarse[assign(vecs[j])]
        pq.append([x - y for x, y in zip(vecs[j], cv)])
    qv = vecs[0]
    probed = sorted(range(kc), key=lambda c: (_sqd(qv, coarse[c]), c))[:nprobe]
    lut = {}
    for li in probed:
        rq = [x - y for x, y in zip(qv, coarse[li])]
        lut[li] = [
            [
                _sqd(rq[s * sub:(s + 1) * sub], pq[c][s * sub:(s + 1) * sub])
                for c in range(k)
            ]
            for s in range(m)
        ]
    out = []
    for vid, v in vecs.items():
        if vid == 0:
            continue
        li = assign(v)
        if li not in probed:
            continue
        r = [x - y for x, y in zip(v, coarse[li])]
        adc = 0.0
        for s in range(m):
            rs = r[s * sub:(s + 1) * sub]
            best, bd = 0, _sqd(rs, pq[0][s * sub:(s + 1) * sub])
            for c in range(1, k):
                d = _sqd(rs, pq[c][s * sub:(s + 1) * sub])
                if d < bd:
                    best, bd = c, d
            adc = adc + lut[li][s][best]
        out.append((int(round(adc * 1e9)), vid, li))
    out.sort()
    return probed, [(vid, li, nanos) for nanos, vid, li in out[:topk]]


def test_s14_differential_vs_python(spark, sf_dir):
    from mxene_coin_cell_data_pipeline_spark.plans.queries import QUERIES
    from mxene_coin_cell_data_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    vecs = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]]
        for r in emb.collect()
    }
    probed, expected = _py_ivfpq_reference(vecs)
    got = [
        (r["vec_id"], r["list_id"], r["adc_nanos"])
        for r in QUERIES["s14_ivfpq_residual_topk"].spark(spark, sf_dir)
        .orderBy("adc_nanos", "vec_id")
        .collect()
    ]
    assert got == expected
    # sub-scan contract: every hit comes from a probed list
    assert all(li in probed for _vid, li, _n in got)


# ---------------------------------------------------------------------------
# m13: audio fingerprint near-dup
# ---------------------------------------------------------------------------


def test_m13_amplitude_invariance_and_splice(spark):
    """The sibling contract the fixture plants: amplitude doubling
    leaves every fingerprint bit unchanged; only the spliced window's
    fingerprint differs between siblings."""
    from mxene_coin_cell_data_pipeline_spark.functions.multimodal import (
        wav_window_fingerprints,
        with_wav_pair_payload,
    )

    docs = spark.range(0, 8).withColumnRenamed("id", "doc_id")
    fps = wav_window_fingerprints(with_wav_pair_payload(docs)).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(int(r["doc_id"]), {})[int(r["win_idx"])] = (
            r["fp_bits"], int(r["n_win"])
        )
    for g in range(4):
        even, odd = by_doc[2 * g], by_doc[2 * g + 1]
        nw = 2 + g % 3
        assert len(even) == len(odd) == nw
        spliced = g % nw
        for w in range(nw):
            assert len(even[w][0]) == 64
            if w == spliced:
                assert even[w][0] != odd[w][0], (g, w)
            else:
                # amplitude x2 scales every sub-band energy x4 — the
                # comparison bits are provably identical
                assert even[w][0] == odd[w][0], (g, w)


def test_m13_kernel_skips_non_wav(spark):
    from mxene_coin_cell_data_pipeline_spark.functions.multimodal import (
        wav_window_fingerprints,
    )

    df = spark.createDataFrame(
        [(1, bytearray(b"NOTAWAVPAYLOAD_____")), (2, None)],
        "doc_id long, payload binary",
    )
    assert wav_window_fingerprints(df).count() == 0


# ---------------------------------------------------------------------------
# s15: RRF hybrid fusion
# ---------------------------------------------------------------------------


def test_s15_exact_integer_rrf(spark, sf_dir):
    from mxene_coin_cell_data_pipeline_spark.plans.queries import QUERIES

    D = math.lcm(*range(61, 71))
    rows = QUERIES["s15_rrf_hybrid_fusion"].spark(spark, sf_dir).collect()
    lex = sorted(r["lex_rank"] for r in rows if r["lex_rank"] > 0)
    vec = sorted(r["vec_rank"] for r in rows if r["vec_rank"] > 0)
    assert lex == list(range(1, 11))
    assert vec == list(range(1, 11))
    for r in rows:
        want = 0
        if r["lex_rank"] > 0:
            assert D % (60 + r["lex_rank"]) == 0  # exact by construction
            want += D // (60 + r["lex_rank"])
        if r["vec_rank"] > 0:
            want += D // (60 + r["vec_rank"])
        assert r["rrf_num"] == want
        assert r["lex_rank"] > 0 or r["vec_rank"] > 0


# ---------------------------------------------------------------------------
# p07: trained-tokenizer capstone
# ---------------------------------------------------------------------------


def test_p07_train_encode_corpus_identity(spark, sf_dir):
    """Capstone-level encode/train consistency (VERDICT r10 task 4):
    encoding the TRAINING corpus under the trained merge table must
    reproduce the trainer's own final token count — the corpus-level
    form of the t24 consistency theorem, and exactly the identity the
    p07 driver hash gate proves cross-engine (Spark encodes, the
    oracle counts the trainer's final state)."""
    from pyspark.sql import functions as F

    from mxene_coin_cell_data_pipeline_spark.functions.text import (
        bpe_apply_merges,
        bpe_train_rows,
    )
    from mxene_coin_cell_data_pipeline_spark.plans.pipelines import (
        _p06_curation_stages,
    )
    from mxene_coin_cell_data_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    surv, _q, _sel, _pagg, _nin = _p06_curation_stages(docs)
    words = (
        surv.select(F.explode("kept_toks").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    wlist = [(r["w"], int(r["cnt"])) for r in words.collect()]
    rows = bpe_train_rows(words, rounds=8)
    assert len(rows) == 8
    merges = [(a, b) for (_r, a, b, _pc, _nm, _nt) in rows]
    encoded_total = sum(
        cnt * len(bpe_apply_merges(w, merges)) for w, cnt in wlist
    )
    assert encoded_total == rows[-1][5]  # n_tokens_after of round 8
    # the merge table is rank-ordered and non-degenerate
    assert all(rows[i][0] == i + 1 for i in range(8))
    assert len(set(merges)) == 8
