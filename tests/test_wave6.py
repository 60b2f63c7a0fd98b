"""Wave-6 operator tests: d17 window-dup rate, d18 incremental dedup,
t19 BPE merges, t20 inverted index, s11 PQ assignment.

Each operator gets a hand-computable fixture check (the oracle-parity
suite covers the registered sf0.001/0.01 compare; these pin SEMANTICS
on inputs small enough to verify by eye) plus the knob contracts
(gram_key/bucket_cap determinism, seed self-assignment).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _docs(spark, rows):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(rows)], ["doc_id", "text"]
    )


# ---------------------------------------------------------------------------
# d17: cross-document duplicated-window rate
# ---------------------------------------------------------------------------


def test_window_dup_rate_hand_case(spark):
    from mxene_coin_cell_data_pipeline_spark.functions.dedup import window_dup_rate

    shared = "a b c d"  # one shared 4-token window
    docs = _docs(
        spark,
        [
            f"{shared} x1 y1",  # doc 0: 6 tokens, k=4 -> windows at pos 1..3
            f"{shared} x2 y2",  # doc 1: same boilerplate head
            "p q r s t u",  # doc 2: all windows unique
            "w x",  # doc 3: too short for any window -> no row
        ],
    )
    out = {
        r["doc_id"]: r
        for r in window_dup_rate(docs, k=4).collect()
    }
    assert set(out) == {0, 1, 2}
    # 6 tokens, k=4 -> 3 windows; only the leading "a b c d" is shared
    for d in (0, 1):
        assert out[d]["n_windows"] == 3
        assert out[d]["n_dup_windows"] == 1
        assert out[d]["dup_frac"] == pytest.approx(1 / 3)
    assert out[2]["n_windows"] == 3
    assert out[2]["n_dup_windows"] == 0
    assert out[2]["dup_frac"] == 0.0


def test_window_dup_rate_counts_within_doc_repeats_as_positions(spark):
    """Within-doc repeats of a CROSS-doc gram count per position; a gram
    repeated only within one doc is NOT cross-doc duplicated."""
    from mxene_coin_cell_data_pipeline_spark.functions.dedup import window_dup_rate

    docs = _docs(
        spark,
        [
            "a b a b a b",  # windows(k=2): "a b","b a","a b","b a","a b"
            "a b zzz qqq",  # shares only "a b"
        ],
    )
    out = {r["doc_id"]: r for r in window_dup_rate(docs, k=2).collect()}
    # doc 0: 5 positions, the three "a b" positions are cross-doc dup,
    # the two "b a" positions exist only in doc 0 -> not dup
    assert out[0]["n_windows"] == 5
    assert out[0]["n_dup_windows"] == 3
    assert out[1]["n_windows"] == 3
    assert out[1]["n_dup_windows"] == 1


def test_window_dup_rate_hash_key_matches_raw(spark):
    """The production xxhash64 gram key must reproduce the raw-string
    result on collision-free data (any realistic corpus)."""
    from mxene_coin_cell_data_pipeline_spark.functions.dedup import window_dup_rate
    from mxene_coin_cell_data_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    raw = sorted(
        window_dup_rate(docs, k=8, gram_key="raw").collect(),
        key=lambda r: r["doc_id"],
    )
    hashed = sorted(
        window_dup_rate(docs, k=8, gram_key="xxhash64").collect(),
        key=lambda r: r["doc_id"],
    )
    assert [tuple(r) for r in raw] == [tuple(r) for r in hashed]


# ---------------------------------------------------------------------------
# d18: incremental batch-vs-corpus dedup
# ---------------------------------------------------------------------------

_BOILER = "the quick brown fox jumps over the lazy dog again and again"


def test_incremental_dedup_finds_planted_duplicate(spark):
    from mxene_coin_cell_data_pipeline_spark.functions.dedup import (
        incremental_minhash_dedup,
    )

    rows = [
        # doc_id 0 and 5 are batch (%5==0); 0 duplicates corpus doc 3
        (0, _BOILER),
        (3, _BOILER),
        (5, "completely different novel content with no twin here at all"),
        (1, "unrelated corpus document one about machine learning models"),
        (2, "unrelated corpus document two about distributed query engines"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["batch_doc"]: r
        for r in incremental_minhash_dedup(
            docs, batch_mod=5, threshold=0.8, bucket_cap=None, hash_fn="md5"
        ).collect()
    }
    # exact duplicate must be matched, the novel doc must NOT appear
    assert 0 in out and 5 not in out
    assert out[0]["first_match"] == 3
    assert out[0]["max_jaccard_nanos"] == 1_000_000_000  # jaccard exactly 1
    assert out[0]["n_matches"] == 1


def test_incremental_dedup_matches_are_sound(spark):
    """Every reported match must be a TRUE jaccard>=t batch-corpus pair
    (precision is exact by construction; this differentially re-scores
    each reported pair against a brute-force python jaccard)."""
    from mxene_coin_cell_data_pipeline_spark.functions.dedup import (
        incremental_minhash_dedup,
        shingles,
    )
    from mxene_coin_cell_data_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    out = incremental_minhash_dedup(
        docs, batch_mod=5, threshold=0.8, bucket_cap=None, hash_fn="md5"
    ).collect()
    assert out, "sf0.001 contains planted near-dups crossing the %5 split"
    sets: dict[int, set] = {}
    for r in shingles(docs).collect():
        sets.setdefault(r["doc_id"], set()).add(r["shingle"])
    for r in out:
        b, a = r["batch_doc"], r["first_match"]
        assert b % 5 == 0 and a % 5 != 0
        inter = len(sets[a] & sets[b])
        j = inter / (len(sets[a]) + len(sets[b]) - inter)
        assert j >= 0.8


def test_incremental_dedup_bucket_cap_is_subset(spark):
    """Capped probing may only DROP matches (recall trade), never invent
    them, and surviving rows keep identical audit values."""
    from mxene_coin_cell_data_pipeline_spark.functions.dedup import (
        incremental_minhash_dedup,
    )
    from mxene_coin_cell_data_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    full = {
        r["batch_doc"]: tuple(r)
        for r in incremental_minhash_dedup(
            docs, bucket_cap=None, hash_fn="md5"
        ).collect()
    }
    capped = {
        r["batch_doc"]: tuple(r)
        for r in incremental_minhash_dedup(
            docs, bucket_cap=2, hash_fn="md5"
        ).collect()
    }
    assert set(capped) <= set(full)
    for b, row in capped.items():
        # n_matches/first_match/max_j may shrink under the cap, but the
        # reported first_match must be one of the full form's true
        # matches for that batch doc only when equal; minimally the
        # match count cannot exceed the uncapped count
        assert row[1] <= full[b][1]


# ---------------------------------------------------------------------------
# t19: BPE merge counts
# ---------------------------------------------------------------------------


def test_bpe_top_merges_hand_case(spark):
    from mxene_coin_cell_data_pipeline_spark.functions.text import bpe_top_merges

    # corpus: "aa aa ab" -> vocab {aa:2, ab:1}
    # aa -> pairs [aa, a</w>] each weight 2; ab -> [ab, b</w>] weight 1
    docs = _docs(spark, ["aa aa ab"])
    out = bpe_top_merges(docs, k=10).collect()
    got = {r["pair"]: r["n_total"] for r in out}
    assert got == {"aa": 2, "a</w>": 2, "ab": 1, "b</w>": 1}
    # rank: count desc then pair asc -> a</w> before aa
    ranks = {r["rank"]: r["pair"] for r in out}
    assert ranks[1] == "a</w>" and ranks[2] == "aa"


def test_bpe_single_char_words(spark):
    from mxene_coin_cell_data_pipeline_spark.functions.text import bpe_top_merges

    docs = _docs(spark, ["a a a b"])
    got = {r["pair"]: r["n_total"] for r in bpe_top_merges(docs, k=10).collect()}
    assert got == {"a</w>": 3, "b</w>": 1}


# ---------------------------------------------------------------------------
# t20: inverted index
# ---------------------------------------------------------------------------


def test_inverted_index_hand_case(spark):
    from mxene_coin_cell_data_pipeline_spark.functions.text import inverted_index

    docs = _docs(
        spark,
        [
            "x x x y",  # doc 0: x*3 y*1
            "x y y",  # doc 1: x*1 y*2
            "x",  # doc 2: x*1
            "x x",  # doc 3: x*2
        ],
    )
    out = {r["token"]: r for r in inverted_index(docs, top_postings=3).collect()}
    x = out["x"]
    # df/cf are EXACT over the full posting list (4 docs, 7 occurrences)
    assert x["df"] == 4 and x["cf"] == 7
    # stored postings capped at 3, tf desc then doc asc: 0:3, 3:2, then
    # tf=1 tie between docs 1 and 2 -> doc 1
    assert x["postings"] == "0:3,3:2,1:1"
    y = out["y"]
    assert y["df"] == 2 and y["cf"] == 3
    assert y["postings"] == "1:2,0:1"


# ---------------------------------------------------------------------------
# s11: PQ assignment
# ---------------------------------------------------------------------------


def test_pq_assign_seeds_self_code_zero_error(spark):
    """Each codebook seed vector must quantize to its own code in every
    subspace with EXACTLY zero error (dist folds to 0.0 bit-exactly:
    dxx - 2*dxx + dxx with identical sequential folds)."""
    from mxene_coin_cell_data_pipeline_spark.functions.similarity import pq_assign
    from mxene_coin_cell_data_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    out = {r["vec_id"]: r for r in pq_assign(emb, m=4, k=4).collect()}
    for s in range(4):
        for c in range(4):
            assert out[c][f"code_{s}"] == c
    for c in range(4):
        assert out[c]["err_nanos"] == 0
    # every vector got a code in range and a non-negative error
    for r in out.values():
        assert all(0 <= r[f"code_{s}"] < 4 for s in range(4))
        assert r["err_nanos"] >= 0


def test_pq_assign_rejects_bad_shapes(spark):
    from mxene_coin_cell_data_pipeline_spark.functions.similarity import pq_assign
    from mxene_coin_cell_data_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    with pytest.raises(ValueError, match="not divisible"):
        pq_assign(emb, m=7, k=4)


# ---------------------------------------------------------------------------
# st11: streaming incremental dedup == batch d18
# ---------------------------------------------------------------------------


def test_stream_incremental_dedup_equals_batch(spark):
    """The streaming execution (foreachBatch probe of persisted corpus
    state) must agree row-for-row with the batch incremental dedup —
    the registered st11 oracle IS d18's, so this pins the same contract
    library-side, including under the production xxhash64 knob the
    oracle can't check."""
    from pyspark.sql import functions as F

    from mxene_coin_cell_data_pipeline_spark.functions.dedup import (
        incremental_minhash_dedup,
    )
    from mxene_coin_cell_data_pipeline_spark.sources.tables import load_table
    from mxene_coin_cell_data_pipeline_spark.streaming import read_table_stream
    from mxene_coin_cell_data_pipeline_spark.streaming.features import (
        stream_incremental_dedup,
    )

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    batch_out = sorted(
        tuple(r)
        for r in incremental_minhash_dedup(
            docs, batch_mod=5, bucket_cap=None, hash_fn="xxhash64"
        ).collect()
    )
    stream = read_table_stream(spark, sf, "documents").filter(
        F.col("doc_id") % 5 == 0
    )
    stream_out = sorted(
        tuple(r)
        for r in stream_incremental_dedup(
            stream,
            docs.filter(F.col("doc_id") % 5 != 0),
            bucket_cap=None,
            hash_fn="xxhash64",
        ).collect()
    )
    assert batch_out == stream_out and batch_out


# ---------------------------------------------------------------------------
# s12: JL random projection
# ---------------------------------------------------------------------------


def test_random_projection_preserves_distances_roughly(spark):
    """JL contract: pairwise squared distances in the 16-dim projection
    approximate the 64-dim originals (loose ε — the sign matrix is
    fixed, this guards against sign/scale bugs, not concentration)."""
    import math

    from mxene_coin_cell_data_pipeline_spark.functions.similarity import (
        random_projection,
    )
    from mxene_coin_cell_data_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    orig = {
        r["vec_id"]: list(r["embedding"])
        for r in emb.limit(20).collect()
    }
    proj = {
        r["vec_id"]: [r[f"y{j}_nanos"] / 1e9 for j in range(16)]
        for r in random_projection(emb).collect()
    }
    ids = sorted(orig)[:10]
    ratios = []
    for a in ids:
        for b in ids:
            if a >= b:
                continue
            d_o = sum((x - y) ** 2 for x, y in zip(orig[a], orig[b]))
            d_p = sum((x - y) ** 2 for x, y in zip(proj[a], proj[b]))
            if d_o > 1e-9:
                ratios.append(d_p / d_o)
    # mean ratio near 1 (unbiased estimator); individual ratios bounded
    mean = sum(ratios) / len(ratios)
    assert 0.5 < mean < 1.5
    assert all(0.05 < r < 5.0 for r in ratios)


def test_random_projection_matches_manual_md5_signs(spark):
    """One projected coordinate recomputed by hand from the md5 sign
    rule must match exactly (pins the sign convention both engines
    share)."""
    import hashlib

    from mxene_coin_cell_data_pipeline_spark.functions.similarity import (
        random_projection,
    )
    from mxene_coin_cell_data_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    row = emb.filter("vec_id = 7").collect()[0]
    x = [float(v) for v in row["embedding"]]
    got = random_projection(emb).filter("vec_id = 7").collect()[0]
    for j in (0, 5, 15):
        acc = 0.0
        for i, xi in enumerate(x, start=1):
            ch = hashlib.md5(f"{j}|{i}".encode()).hexdigest()[0]
            s = 1.0 if int(ch, 16) & 1 else -1.0
            acc = acc + xi * s
        expect = round(acc * 0.25 * 1e9)
        assert got[f"y{j}_nanos"] == expect


# ---------------------------------------------------------------------------
# m09: AVI keyframe detection
# ---------------------------------------------------------------------------


def test_avi_keyframes_match_md5_stream(spark):
    """Every diff row recomputed by hand from the md5 movi byte rule;
    row count per doc is n_frames - 1."""
    import hashlib

    from mxene_coin_cell_data_pipeline_spark.functions.multimodal import (
        avi_keyframes,
        with_avi_payload,
    )

    docs = spark.createDataFrame([(i,) for i in range(8)], ["doc_id"])
    out = avi_keyframes(with_avi_payload(docs)).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)

    def frame(did, k):
        m = 4 + (did + k) % 5
        return [
            int(hashlib.md5(f"{did}:{k}:{j}".encode()).hexdigest()[:2], 16)
            for j in range(m)
        ]

    for did in range(8):
        nf = 2 + did % 4
        rows = sorted(by_doc[did], key=lambda r: r["frame_idx"])
        assert len(rows) == nf - 1
        for r in rows:
            k = r["frame_idx"]
            prev, cur = frame(did, k - 1), frame(did, k)
            m = min(len(prev), len(cur))
            diff = sum(abs(cur[j] - prev[j]) for j in range(m))
            assert r["diff_sum"] == diff
            assert r["prev_bytes"] == len(prev)
            assert r["frame_bytes"] == len(cur)
            assert r["is_key"] == (1 if 2 * diff >= 255 * m else 0)


# ---------------------------------------------------------------------------
# d19: containment pairs
# ---------------------------------------------------------------------------


def test_containment_catches_what_jaccard_misses(spark):
    """A small doc embedded verbatim in a much larger one: containment
    1.0, jaccard far below any dedup threshold — d19's reason to
    exist."""
    from mxene_coin_cell_data_pipeline_spark.functions.dedup import (
        containment_pairs,
        ngram_jaccard_pairs,
    )

    small = "alpha beta gamma delta epsilon zeta"
    filler = " ".join(f"unique{i} filler{i} token{i}" for i in range(30))
    docs = _docs(spark, [small, f"{filler} {small} {filler}"])
    got = containment_pairs(docs, threshold=0.9, max_df=None).collect()
    assert len(got) == 1
    r = got[0]
    assert (r["doc_a"], r["doc_b"]) == (0, 1)
    assert r["containment"] == 1.0
    # the same pair is invisible to symmetric jaccard at 0.8
    jac = ngram_jaccard_pairs(docs, threshold=0.8, max_df=None).collect()
    assert jac == []


def test_containment_pairs_sound_and_complete_vs_bruteforce(spark):
    """Prefix-pruned output == brute-force all-pairs containment over
    the SAME capped universe (the filter must be lossless)."""
    from mxene_coin_cell_data_pipeline_spark.functions.dedup import (
        containment_pairs,
        shingles,
    )
    from mxene_coin_cell_data_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    t, cap = 0.9, 64
    got = {
        (r["doc_a"], r["doc_b"]): (r["n_inter"], r["containment"])
        for r in containment_pairs(docs, threshold=t, max_df=cap).collect()
    }
    # brute force in python over the capped universe
    sets: dict[int, set] = {}
    df: dict[str, int] = {}
    for r in shingles(docs).collect():
        sets.setdefault(r["doc_id"], set()).add(r["shingle"])
        df[r["shingle"]] = df.get(r["shingle"], 0) + 1
    capped = {
        d: {s for s in ss if df[s] <= cap} for d, ss in sets.items()
    }
    expect = {}
    ids = sorted(capped)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            sa, sb = capped[a], capped[b]
            if not sa or not sb:
                continue
            inter = len(sa & sb)
            c = inter / min(len(sa), len(sb))
            if c >= t:
                expect[(a, b)] = (inter, c)
    assert set(got) == set(expect)
    for k, (ni, c) in expect.items():
        assert got[k][0] == ni
        assert abs(got[k][1] - c) < 1e-12


# ---------------------------------------------------------------------------
# src06: schema evolution
# ---------------------------------------------------------------------------


def test_schema_evolution_null_fill(spark, sf_dir):
    """The registered src06 relation itself: gen-1 rows carry zero
    non-null event_type after the mergeSchema read, gen-2 all."""
    from mxene_coin_cell_data_pipeline_spark.plans.sources import (
        src06_schema_evolution,
    )

    out = {r["schema_gen"]: r for r in src06_schema_evolution(spark, sf_dir).collect()}
    assert out[1]["n_typed"] == 0
    assert out[2]["n_typed"] == out[2]["n"] > 0


# ---------------------------------------------------------------------------
# t21: bigram-LM scoring
# ---------------------------------------------------------------------------


def test_bigram_lm_hand_case(spark):
    """Two-doc corpus small enough to fold the Laplace model by hand."""
    import math

    from mxene_coin_cell_data_pipeline_spark.functions.text import bigram_lm_score

    docs = _docs(spark, ["a b a b", "a b c"])
    # pairs: d0 -> (a,b),(b,a),(a,b); d1 -> (a,b),(b,c)
    # c2: (a,b)=3 (b,a)=1 (b,c)=1; heads: a=3, b=2; V = |{b,a,c}| = 3
    out = {r["doc_id"]: r for r in bigram_lm_score(docs).collect()}
    p_ab = (3 + 1) / (3 + 3.0)
    p_ba = (1 + 1) / (2 + 3.0)
    p_bc = (1 + 1) / (2 + 3.0)
    exp0 = round(-(math.log(p_ab) * 2 + math.log(p_ba)) / 3, 9)
    exp1 = round(-(math.log(p_ab) + math.log(p_bc)) / 2, 9)
    assert out[0]["n_bigrams"] == 3 and out[1]["n_bigrams"] == 2
    assert abs(out[0]["score_neglogp"] - exp0) < 1e-9
    assert abs(out[1]["score_neglogp"] - exp1) < 1e-9


def test_bigram_lm_short_docs_drop(spark):
    from mxene_coin_cell_data_pipeline_spark.functions.text import bigram_lm_score

    docs = _docs(spark, ["solo", "", "two tokens"])
    out = {r["doc_id"]: r for r in bigram_lm_score(docs).collect()}
    assert set(out) == {2}
    assert out[2]["n_bigrams"] == 1


def test_stream_incdedup_checkpoint_requires_out_dir(spark, tmp_path):
    """checkpoint_dir without an explicit out_dir is rejected: the
    checkpoint skips committed batches, so a fresh temp sink would
    silently drop their matches on restart (ADVICE r08)."""
    import pytest

    from mxene_coin_cell_data_pipeline_spark.sources.tables import load_table
    from mxene_coin_cell_data_pipeline_spark.streaming.features import (
        stream_incremental_dedup,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    feed = tmp_path / "feed"
    feed.mkdir()
    stream = spark.readStream.schema(docs.schema).parquet(str(feed))
    with pytest.raises(ValueError, match="out_dir"):
        stream_incremental_dedup(
            stream, docs, checkpoint_dir=str(tmp_path / "ckpt")
        )


def test_stream_incremental_dedup_checkpoint_recovery(spark, tmp_path):
    """st11's restart contract: a checkpointed run stopped mid-feed and
    restarted must equal the uninterrupted batch answer exactly-once —
    the parquet-append sink is NOT idempotent, so a duplicate-free
    result proves committed offsets were honored."""
    import time

    from pyspark.sql import functions as F

    from mxene_coin_cell_data_pipeline_spark.functions.dedup import (
        incremental_minhash_dedup,
    )
    from mxene_coin_cell_data_pipeline_spark.sources.tables import load_table
    from mxene_coin_cell_data_pipeline_spark.streaming.features import (
        stream_incremental_dedup,
    )

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    feed = str(tmp_path / "feed")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def read_feed():
        return (
            spark.readStream.schema(batch.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(feed)
        )

    # phase 1: half the batch arrives; run to completion and "crash"
    batch.filter(F.col("doc_id") % 10 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(feed)
    time.sleep(1.05)  # distinct mtimes -> deterministic file order
    stream_incremental_dedup(
        read_feed(), corpus, bucket_cap=None, hash_fn="md5",
        out_dir=out, checkpoint_dir=ckpt,
    )
    # phase 2: the rest arrives; restart against the SAME checkpoint
    batch.filter(F.col("doc_id") % 10 != 0).coalesce(1).write.mode(
        "append"
    ).parquet(feed)
    got = sorted(
        tuple(r)
        for r in stream_incremental_dedup(
            read_feed(), corpus, bucket_cap=None, hash_fn="md5",
            out_dir=out, checkpoint_dir=ckpt,
        ).collect()
    )
    expect = sorted(
        tuple(r)
        for r in incremental_minhash_dedup(
            docs, batch_mod=5, bucket_cap=None, hash_fn="md5"
        ).collect()
    )
    assert got == expect and got


# ---------------------------------------------------------------------------
# o17: MERGE upsert/delete
# ---------------------------------------------------------------------------


def test_merge_upsert_hand_case(spark, tmp_path):
    """Full WHEN MATCHED/NOT MATCHED matrix on four hand-built users:
    untouched base, matched update, matched delete, unmatched insert."""
    import datetime

    from mxene_coin_cell_data_pipeline_spark.plans.curation import (
        o17_merge_upsert,
    )
    from mxene_coin_cell_data_pipeline_spark.plans._registry import QUERIES

    rows = [
        # (event_id, ts, user_id, event_type, value)
        (1, datetime.datetime(2024, 1, 1), 10, "click", 1.0),   # base only
        (2, datetime.datetime(2024, 1, 2), 20, "click", 2.0),   # base...
        (3, datetime.datetime(2024, 7, 1), 20, "view", 2.5),    # ...updated
        (4, datetime.datetime(2024, 1, 3), 30, "click", 3.0),   # base...
        (5, datetime.datetime(2024, 7, 2), 30, "error", 0.0),   # ...deleted
        (6, datetime.datetime(2024, 7, 3), 40, "signup", 4.0),  # insert
        # last-writer-wins inside the change feed: the late error wins
        (7, datetime.datetime(2024, 7, 4), 50, "view", 5.0),
        (8, datetime.datetime(2024, 7, 5), 50, "error", 0.0),   # -> deleted
    ]
    ev = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value"]
    )
    sf = str(tmp_path)
    ev.write.parquet(str(tmp_path / "events.parquet"))
    out = {r["user_id"]: r for r in QUERIES["o17_merge_upsert"].spark(spark, sf).collect()}
    assert set(out) == {10, 20, 40}
    assert out[10]["src"] == "base" and out[10]["value"] == 1.0
    assert out[20]["src"] == "update" and out[20]["value"] == 2.5
    assert out[40]["src"] == "insert" and out[40]["value"] == 4.0


def test_window_dup_rate_differential_random_corpora(spark):
    """Seeded random corpora (tiny alphabet to force collisions) vs a
    pure-python reference of the d17 semantics — one Spark job per
    corpus keeps the suite fast (the test_properties.py discipline)."""
    import random

    from mxene_coin_cell_data_pipeline_spark.functions.dedup import window_dup_rate

    k = 3
    for seed in (7, 13, 99):
        rng = random.Random(seed)
        corpus = [
            " ".join(
                rng.choice("ab cd ef gh ij".split())
                for _ in range(rng.randint(0, 12))
            )
            for _ in range(25)
        ]
        # pure-python reference
        grams: dict[int, list[tuple]] = {}
        for i, text in enumerate(corpus):
            toks = text.split()
            grams[i] = [
                tuple(toks[p : p + k]) for p in range(len(toks) - k + 1)
            ]
        docs_of = {}
        for i, gs in grams.items():
            for g in set(gs):
                docs_of.setdefault(g, set()).add(i)
        expect = {}
        for i, gs in grams.items():
            if not gs:
                continue
            dup = sum(1 for g in gs if len(docs_of[g]) >= 2)
            expect[i] = (len(gs), dup)
        got = {
            r["doc_id"]: (r["n_windows"], r["n_dup_windows"])
            for r in window_dup_rate(_docs(spark, corpus), k=k).collect()
        }
        assert got == expect, f"seed {seed}"


# ---------------------------------------------------------------------------
# m10: image aHash near-dup
# ---------------------------------------------------------------------------


def test_ahash_matches_hand_computation(spark):
    """aHash bits recomputed by hand from the md5 sample rule for a few
    sibling pairs; every even/odd sibling pair must be within hamming 3
    (one-channel one-pixel edit) and appear in the pair output."""
    import hashlib

    from mxene_coin_cell_data_pipeline_spark.functions.dedup import (
        hamming_pairs_from_bits,
    )
    from mxene_coin_cell_data_pipeline_spark.functions.multimodal import (
        ahash_bits,
        with_ppm_pair_payload,
    )

    docs = spark.createDataFrame([(i,) for i in range(12)], ["doc_id"])
    fps = {
        r["doc_id"]: r["ahash_bits"]
        for r in ahash_bits(with_ppm_pair_payload(docs)).collect()
    }

    def hand(did):
        g = did // 2
        w, h = 3 + g % 6, 2 + g % 4
        vals = [
            int(hashlib.md5(f"{g}:{k}".encode()).hexdigest()[:2], 16)
            for k in range(3 * w * h)
        ]
        if did % 2 == 1:
            vals[0] = (vals[0] + 1) % 256
        lum = [
            299 * vals[3 * p] + 587 * vals[3 * p + 1] + 114 * vals[3 * p + 2]
            for p in range(w * h)
        ]
        cells = [
            lum[(r * h // 8) * w + (c * w // 8)]
            for r in range(8)
            for c in range(8)
        ]
        t = sum(cells)
        return "".join("1" if 64 * cl > t else "0" for cl in cells)

    for did in range(12):
        assert fps[did] == hand(did), did
    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in hamming_pairs_from_bits(
            ahash_bits(with_ppm_pair_payload(docs)),
            bits_col="ahash_bits",
            bucket_cap=None,
        ).collect()
    }
    for g in range(6):
        a, b = 2 * g, 2 * g + 1
        ham = sum(x != y for x, y in zip(fps[a], fps[b]))
        if ham <= 3:
            assert (a, b) in pairs and pairs[(a, b)] == ham
    assert pairs, "sibling perturbation must leave some hamming<=3 pairs"


def test_m10_capped_equals_uncapped_on_small_buckets(spark):
    """The registered capped form (bucket_cap=64, the 100x-survivable
    shape — aHash bands are low-entropy on small images) must be
    IDENTICAL to the uncapped all-pairs form wherever buckets stay
    under the cap, which sf0.001's corpus does."""
    from mxene_coin_cell_data_pipeline_spark.functions.dedup import (
        hamming_pairs_from_bits,
    )
    from mxene_coin_cell_data_pipeline_spark.functions.multimodal import (
        ahash_bits,
        with_ppm_pair_payload,
    )
    from mxene_coin_cell_data_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    fps = ahash_bits(with_ppm_pair_payload(docs.select("doc_id")))
    capped = sorted(
        tuple(r)
        for r in hamming_pairs_from_bits(
            fps, bits_col="ahash_bits", bucket_cap=64
        ).collect()
    )
    uncapped = sorted(
        tuple(r)
        for r in hamming_pairs_from_bits(
            fps, bits_col="ahash_bits", bucket_cap=None
        ).collect()
    )
    assert capped == uncapped and capped


# ---------------------------------------------------------------------------
# t22: token drift
# ---------------------------------------------------------------------------


def test_token_drift_hand_case(spark):
    """Hand-foldable two-split corpus: the planted ref-only token must
    rank first with exactly the smoothed p*ln(p/q) nanos."""
    import math

    from mxene_coin_cell_data_pipeline_spark.functions.text import (
        token_drift_topk,
    )

    # doc 0 (ref): 'aaa aaa bbb'; doc 1 (cand): 'bbb bbb ccc'
    docs = _docs(spark, ["aaa aaa bbb", "bbb bbb ccc"])
    out = token_drift_topk(docs, split_mod=2, k=10).collect()
    by_tok = {r["token"]: r for r in out}
    nr, nc, v = 3.0, 3.0, 3.0  # totals and shared vocab {aaa,bbb,ccc}

    def kl_nano(n_ref, n_cand):
        p = (n_ref + 1) / (nr + v)
        q = (n_cand + 1) / (nc + v)
        return round(p * math.log(p / q) * 1e9)

    assert by_tok["aaa"]["kl_nano"] == kl_nano(2, 0)
    assert by_tok["bbb"]["kl_nano"] == kl_nano(1, 2)
    assert by_tok["ccc"]["kl_nano"] == kl_nano(0, 1)
    # ref-only token dominates the drift ranking
    assert out[0]["token"] == "aaa" and out[0]["rank"] == 1
    assert by_tok["aaa"]["n_ref"] == 2 and by_tok["aaa"]["n_cand"] == 0


def test_pq_assign_differential_python_bruteforce(spark):
    """Third-implementation check for s11: a from-scratch python PQ
    (same seeds, same distance expansion and fold order) must
    reproduce every code AND the exact err_nanos — the engine and the
    SQL oracle could in principle share a misunderstanding; this one
    can't."""
    from mxene_coin_cell_data_pipeline_spark.functions.similarity import pq_assign
    from mxene_coin_cell_data_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    rows = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]]
        for r in emb.collect()
    }
    seeds = [rows[c] for c in range(4)]
    got = {r["vec_id"]: r for r in pq_assign(emb, m=4, k=4).collect()}

    def dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    for vid, e in rows.items():
        err = 0
        for s in range(4):
            xs = e[s * 16 : (s + 1) * 16]
            dxx = dot(xs, xs)
            best = None
            for c in range(4):
                cs = seeds[c][s * 16 : (s + 1) * 16]
                dist = dxx - 2 * dot(xs, cs) + dot(cs, cs)
                if best is None or (dist, c) < best:
                    best = (dist, c)
            assert got[vid][f"code_{s}"] == best[1], (vid, s)
            err += int(round(best[0] * 1e9))
        assert got[vid]["err_nanos"] == err, vid
