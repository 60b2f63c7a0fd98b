"""Round-5 contract: hashed hot paths default to xxhash64.

md5 was the dominant per-row cost in the d02/d12 100× profile
(~3k docs/s), so MinHash permutations, LSH band buckets, feature-hash
indices, and CMS cells all take ``hash_fn`` DEFAULTING to the JVM
xxhash64 production path, with ``"md5"`` as the engine-portable
oracle/parity knob (the registered oracle queries pin it explicitly —
d02/d06/d08/d12/d14, t11, a28). These tests pin the default and the
hash-fn-INDEPENDENT semantics: which duplicates are found, how many
tokens are hashed, and the CMS one-sided guarantee must not depend on
the hash family.
"""

import inspect
import re

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F


def test_xxhash64_is_the_default_everywhere():
    from mxene_coin_cell_data_pipeline_spark.functions.dedup import (
        lsh_candidate_pairs,
        minhash_near_dup_pairs,
        minhash_signatures,
    )
    from mxene_coin_cell_data_pipeline_spark.functions.stats import (
        cms_bucket,
        countmin_cells,
    )
    from mxene_coin_cell_data_pipeline_spark.functions.text import (
        hashed_features,
        winnow_fingerprints,
    )

    for fn in (
        minhash_signatures,
        lsh_candidate_pairs,
        minhash_near_dup_pairs,
        hashed_features,
        winnow_fingerprints,
        cms_bucket,
        countmin_cells,
    ):
        assert (
            inspect.signature(fn).parameters["hash_fn"].default == "xxhash64"
        ), fn.__name__


def _docs(spark):
    rows = [
        (0, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (2, "totally unrelated content about completely different things here now"),
        (3, "another distinct document with its own vocabulary and nothing shared"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.mark.parametrize("hash_fn", ["xxhash64", "md5"])
def test_minhash_finds_identical_docs_in_both_modes(spark, hash_fn):
    from mxene_coin_cell_data_pipeline_spark.functions.dedup import (
        minhash_near_dup_pairs,
    )

    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_near_dup_pairs(
            _docs(spark), threshold=0.8, hash_fn=hash_fn
        ).collect()
    }
    assert pairs == {(0, 1)}


def test_minhash_rejects_unknown_hash_fn(spark):
    from mxene_coin_cell_data_pipeline_spark.functions.dedup import (
        minhash_near_dup_pairs,
        minhash_signatures,
        shingles,
    )

    with pytest.raises(ValueError, match="hash_fn"):
        minhash_signatures(shingles(_docs(spark)), hash_fn="sha1")
    with pytest.raises(ValueError, match="hash_fn"):
        minhash_near_dup_pairs(_docs(spark), hash_fn="sha1").count()


@pytest.mark.parametrize("hash_fn", ["xxhash64", "md5"])
def test_hashed_features_semantics_mode_independent(spark, hash_fn):
    """Per-doc hashed-token mass is conserved in either mode: the sum
    of |cell| token counts equals the doc's token count minus tokens
    lost to zero-sum collision cells (bounded by the collision count),
    and every index is inside [0, n_dims)."""
    from mxene_coin_cell_data_pipeline_spark.functions.text import (
        hashed_features,
        tokenize,
    )

    docs = _docs(spark)
    feats = hashed_features(docs, n_dims=64, hash_fn=hash_fn)
    rows = feats.collect()
    assert all(0 <= r["feat_idx"] < 64 for r in rows)
    got_tokens = {}
    for r in rows:
        got_tokens[r["doc_id"]] = got_tokens.get(r["doc_id"], 0) + r["n_tokens"]
        assert abs(r["weight"]) <= r["n_tokens"]
    want = {
        r["doc_id"]: r["n"]
        for r in docs.select(
            "doc_id", F.size(tokenize(F.col("text"))).alias("n")
        ).collect()
    }
    for d, n in want.items():
        assert got_tokens.get(d, 0) <= n
        # dropped cells are zero-sum collisions: even token count lost
        assert (n - got_tokens.get(d, 0)) % 2 == 0


@pytest.mark.parametrize("hash_fn", ["xxhash64", "md5"])
def test_countmin_one_sided_guarantee_both_modes(spark, hash_fn):
    """est(key) = min_j cell[j][bucket_j(key)] >= exact count, in
    either hash mode, and each sketch row's mass equals the corpus
    size (cells merge by addition)."""
    from mxene_coin_cell_data_pipeline_spark.functions.stats import (
        cms_bucket,
        countmin_cells,
    )

    docs = _docs(spark)
    toks = docs.select(F.explode(F.split("text", " ")).alias("tok"))
    d, w = 3, 8
    cells = countmin_cells(toks, "tok", d=d, w=w, hash_fn=hash_fn)
    total = toks.count()
    per_row = {r["j"]: r["s"] for r in
               cells.groupBy("j").agg(F.sum("cell_n").alias("s")).collect()}
    assert per_row == {j: total for j in range(d)}

    exact = toks.groupBy("tok").agg(F.count("*").alias("n"))
    spark_js = spark.range(d).select(F.col("id").cast("int").alias("j"))
    est = (
        exact.crossJoin(F.broadcast(spark_js))
        .select(
            "tok", "n",
            cms_bucket(F.col("tok"), F.col("j"), w, hash_fn).alias("bucket"),
            "j",
        )
        .join(cells, ["j", "bucket"])
        .groupBy("tok")
        .agg(F.max("n").alias("exact_n"), F.min("cell_n").alias("est_n"))
    )
    assert all(r["est_n"] >= r["exact_n"] for r in est.collect())


def _string_jaccard(a: str, b: str, n: int = 3) -> float:
    """Jaccard of two texts' word n-gram shingle strings, recounted in
    Python with the library's tokenizer rule."""
    from mxene_coin_cell_data_pipeline_spark.functions.text import TOKEN_RE

    def grams(text):
        toks = re.findall(TOKEN_RE, text.lower())
        return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}

    sa, sb = grams(a), grams(b)
    inter = len(sa & sb)
    return inter / (len(sa) + len(sb) - inter)


def _assert_gram_id_jaccard_is_string_jaccard(docs) -> None:
    """Every candidate pair of the xxhash64 chain (threshold 0, so the
    verify keeps them all) scores exactly the string-shingle jaccard:
    the 64-bit gram ids of the stored sets do not collide here."""
    from mxene_coin_cell_data_pipeline_spark.functions.dedup import (
        minhash_near_dup_pairs,
    )

    text = {r["doc_id"]: r["text"] for r in docs.collect()}
    pairs = minhash_near_dup_pairs(docs, threshold=0.0, bucket_cap=None).collect()
    assert pairs
    for r in pairs:
        assert r["jaccard"] == _string_jaccard(text[r["doc_a"]], text[r["doc_b"]]), r


def test_gram_id_jaccard_is_string_jaccard_on_test_docs(spark, sf_dir):
    from mxene_coin_cell_data_pipeline_spark.sources.tables import load_table

    _assert_gram_id_jaccard_is_string_jaccard(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )


_WORDS = st.sampled_from(
    "alpha Beta gamma DELTA eps zeta eta theta iota kappa lam mu 42 x9".split()
)
_SEPS = st.sampled_from([" ", ", ", "-", ". ", "\n"])


@st.composite
def _near_dup_corpus(draw):
    """Base docs, each with a few copies that replace up to two words,
    plus one exact copy of the first base (so some pair always
    passes)."""
    bases = draw(st.lists(st.lists(_WORDS, min_size=3, max_size=20),
                          min_size=1, max_size=4))
    docs = [bases[0]]
    for base in bases:
        docs.append(base)
        for _ in range(draw(st.integers(1, 3))):
            copy = list(base)
            for _ in range(draw(st.integers(0, 2))):
                copy[draw(st.integers(0, len(copy) - 1))] = draw(_WORDS)
            docs.append(copy)
    return [
        "".join(w + draw(_SEPS) for w in words).strip() for words in docs
    ]


@given(corpus=_near_dup_corpus())
@settings(max_examples=10, deadline=None)
def test_gram_id_jaccard_is_string_jaccard_on_near_dups(spark, corpus):
    _assert_gram_id_jaccard_is_string_jaccard(
        spark.createDataFrame(list(enumerate(corpus)), "doc_id long, text string")
    )
