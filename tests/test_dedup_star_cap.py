"""Star-cap (bounded pair emission) semantics for the LSH dedup paths.

A duplicate cluster of m docs puts all m members in the same band
bucket, so uncapped candidate emission is m(m-1)/2 pairs per bucket —
quadratic in cluster size (the one 100 TB scale-killer the round-3
review identified). With ``bucket_cap``, large buckets emit m-1 star
edges to the bucket's min doc_id instead. These tests pin the two
properties that make the cap safe:

1. edge volume over a duplicate cluster is LINEAR in m (m-1 star
   edges, not m(m-1)/2 pairs);
2. the transitive closure (keeper groups) over the capped edge set is
   IDENTICAL to the closure over the uncapped pair set — the star
   keeps every bucket connected through its min doc.
"""

import pytest


def _dup_heavy_docs(spark, m_cluster: int = 12, n_singletons: int = 6):
    """m_cluster identical docs + n_singletons distinct docs."""
    base = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "watches from the warm windowsill nearby"
    )
    rows = [(i, base) for i in range(m_cluster)]
    rows += [
        (100 + i, f"completely different document number {i} about "
                  f"topic {i * 7} with unrelated vocabulary item{i}")
        for i in range(n_singletons)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_star_cap_emission_is_linear(spark):
    from mxene_coin_cell_data_pipeline_spark.functions.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        shingles,
    )

    m = 12
    docs = _dup_heavy_docs(spark, m_cluster=m)
    sig = minhash_signatures(shingles(docs))

    def cluster_pairs(df):
        # singletons share a few shingles ("completely different
        # document", ...) and may legitimately LSH-collide depending
        # on the hash family — the linearity claim is about the
        # CLUSTER's emission, so count only intra-cluster pairs
        return sum(
            1 for r in df.collect() if r["doc_a"] < m and r["doc_b"] < m
        )

    uncapped = cluster_pairs(lsh_candidate_pairs(sig, bucket_cap=None))
    capped = cluster_pairs(lsh_candidate_pairs(sig, bucket_cap=4))
    # identical docs share every band bucket: uncapped emits the full
    # m(m-1)/2 distinct pairs, capped emits exactly the m-1 star edges
    assert uncapped == m * (m - 1) // 2
    assert capped == m - 1


def test_star_cap_closure_identical(spark):
    from mxene_coin_cell_data_pipeline_spark.functions.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        near_dup_groups,
        shingles,
    )

    docs = _dup_heavy_docs(spark, m_cluster=12)
    sig = minhash_signatures(shingles(docs))
    full = near_dup_groups(lsh_candidate_pairs(sig, bucket_cap=None))
    star = near_dup_groups(lsh_candidate_pairs(sig, bucket_cap=4))
    got_full = {r["doc_id"]: r["group_id"] for r in full.collect()}
    got_star = {r["doc_id"]: r["group_id"] for r in star.collect()}
    assert got_full == got_star
    # the cluster collapses to one keeper group rooted at doc 0
    assert all(g == 0 for d, g in got_star.items() if d < 12)


def test_simhash_star_cap_matches_uncapped_pairs(spark):
    """With identical docs the star edges all survive the hamming
    refine (distance 0), so capped output == the star subset of the
    uncapped pair set."""
    from mxene_coin_cell_data_pipeline_spark.functions.dedup import (
        simhash_hamming_pairs,
    )

    m = 10
    docs = _dup_heavy_docs(spark, m_cluster=m)
    uncapped = simhash_hamming_pairs(
        docs, max_hamming=3, n_bands=4, bucket_cap=None
    )
    capped = simhash_hamming_pairs(docs, max_hamming=3, n_bands=4, bucket_cap=4)
    un = {
        (r["doc_a"], r["doc_b"])
        for r in uncapped.collect()
        if r["doc_a"] < m and r["doc_b"] < m
    }
    cp = {
        (r["doc_a"], r["doc_b"])
        for r in capped.collect()
        if r["doc_a"] < m and r["doc_b"] < m
    }
    assert un >= cp
    assert cp == {(0, b) for b in range(1, m)}
    assert len(un) == m * (m - 1) // 2


def test_star_cap_small_buckets_stay_exact(spark):
    """Buckets at or under the cap keep all-pairs emission: with the
    cap above every bucket size, capped == uncapped exactly."""
    from mxene_coin_cell_data_pipeline_spark.functions.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        shingles,
    )

    docs = _dup_heavy_docs(spark, m_cluster=5)
    sig = minhash_signatures(shingles(docs))
    un = {
        (r["doc_a"], r["doc_b"])
        for r in lsh_candidate_pairs(sig, bucket_cap=None).collect()
    }
    cp = {
        (r["doc_a"], r["doc_b"])
        for r in lsh_candidate_pairs(sig, bucket_cap=5).collect()
    }
    assert un == cp


def test_star_cap_is_the_library_default(spark):
    """Round-5 contract: star-capped emission is the DEFAULT. A caller
    who does not opt out gets linear per-bucket emission — a cluster
    larger than DEFAULT_BUCKET_CAP emits m-1 star edges, never the
    m(m-1)/2 all-pairs set. ``bucket_cap=None`` / ``max_df=None`` are
    the explicit exact-shape opt-outs (used by the d02/d05/d06/d08/d09
    oracle queries)."""
    import inspect

    from mxene_coin_cell_data_pipeline_spark.functions.dedup import (
        DEFAULT_BUCKET_CAP,
        DEFAULT_MAX_DF,
        lsh_candidate_pairs,
        minhash_near_dup_pairs,
        minhash_signatures,
        ngram_jaccard_pairs,
        shingles,
        simhash_hamming_pairs,
    )

    for fn in (lsh_candidate_pairs, minhash_near_dup_pairs, simhash_hamming_pairs):
        assert (
            inspect.signature(fn).parameters["bucket_cap"].default
            == DEFAULT_BUCKET_CAP
        ), fn.__name__
    assert (
        inspect.signature(ngram_jaccard_pairs).parameters["max_df"].default
        == DEFAULT_MAX_DF
    )

    m = DEFAULT_BUCKET_CAP + 6
    docs = _dup_heavy_docs(spark, m_cluster=m, n_singletons=0)
    sig = minhash_signatures(shingles(docs))
    # default call — no opt-in — must emit the linear star shape
    assert lsh_candidate_pairs(sig).count() == m - 1


@pytest.mark.parametrize("bucket_cap", [None, 4])
def test_repeated_sig_row_emits_no_self_pair(spark, bucket_cap):
    """A doc_id that appears twice in the signature table sits twice in
    each of its buckets. The uncapped emitter must still emit exactly
    the self-join's ``a.doc_id < b.doc_id`` pairs, so no (x, x) pair,
    and the capped one must not count the repeat as a member."""
    from mxene_coin_cell_data_pipeline_spark.functions.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        shingles,
    )

    m = 3
    sig = minhash_signatures(shingles(_dup_heavy_docs(spark, m, 0)))
    twice = sig.unionByName(sig.filter("doc_id = 0"))
    pairs = sorted(
        (r["doc_a"], r["doc_b"])
        for r in lsh_candidate_pairs(twice, bucket_cap=bucket_cap).collect()
    )
    assert pairs == [(0, 1), (0, 2), (1, 2)]
