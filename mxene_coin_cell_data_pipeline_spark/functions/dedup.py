"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram
Jaccard (north-star training-data pipeline ops).

Design for 100 TB:
- exact dedup is a hash groupBy on the text (or its md5 fingerprint for
  wide rows) — one shuffle, map-side combining;
- MinHash signatures are computed per doc with explode → groupBy
  (shuffle keyed by doc_id), band buckets join candidates so the
  pairwise comparison is LSH-bounded, never O(n²);
- hashed hot paths (MinHash permutations, band buckets) default to
  seed-keyed JVM ``xxhash64`` — the production configuration; every
  such operator also takes ``hash_fn="md5"`` (seeded by
  concatenation, deterministic and engine-portable) as the
  DuckDB-oracle/parity knob, which the registered oracle queries pin
  explicitly. Exact-dedup fingerprints and chunk keys stay md5: they
  double as cross-engine audit digests.
"""

from __future__ import annotations

from ..checkpoint import durable_checkpoint
from ..operators._sql import double, ident
from pyspark.sql import Column, DataFrame, Window, functions as F

from .text import _tokenize_sql, tokenize

DEFAULT_NUM_HASHES = 8
DEFAULT_BAND_SIZE = 2
#: Library DEFAULT for per-bucket pair emission in the LSH/SimHash
#: candidate generators. A band bucket of m co-hashed docs emits
#: m(m-1)/2 pairs uncapped — at web scale one viral
#: boilerplate cluster (m ~ 1e6) is 5e11 pairs from ONE bucket, the
#: single quadratic scale-killer in the dedup family (measured:
#: SCALING.md — uncapped edges grew 100.5× on 10× duplicate-heavy
#: data; capped 10.1×, linear). Buckets of m ≤ 64 keep the exact
#: all-pairs emission; larger buckets emit m-1 star edges to the
#: bucket's min doc_id, which keeps every bucket connected so the
#: hash-min transitive closure builds identical keeper groups
#: (pinned: tests/test_dedup_star_cap.py). Star-capped emission is
#: the PRODUCTION default; pass ``bucket_cap=None`` to opt out into
#: the fully-exact all-pairs shape (the DuckDB oracle queries
#: d02/d05/d06/d08/d09 do, because their oracles define all-pairs
#: semantics).
DEFAULT_BUCKET_CAP = 64
#: Same scale guard for the exact inverted-index path
#: (``ngram_jaccard_pairs``): a shingle with document frequency df
#: contributes O(df²) join pairs, so ultra-common shingles from a
#: duplicate cluster blow up the posting-list self-join. The default
#: restricts the shingle universe to df ≤ 64 (set sizes and
#: intersections both computed over the SAME capped universe — a
#: well-defined jaccard of stop-filtered shingle sets); pass
#: ``max_df=None`` for the fully-exact all-shingle score.
DEFAULT_MAX_DF = 64
#: production fingerprint width: 64 bits = 4 bands × 16 bits, so the
#: pigeonhole band join buckets on 2^16 values per band and candidate
#: volume tracks true near-dups instead of corpus²/2^4 (the quadratic
#: trap of narrow fingerprints — see SCALING.md d09). Bit j of the
#: fingerprint is bit (3 - j%4) of md5 hex char j//4, so any width up
#: to 128 shares one code path and one oracle formulation.
SIMHASH_BITS = 64


def exact_dedup(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact duplicate groups: md5 fingerprint → keeper id + copy count."""
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("fp"))
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def _token_arrays(
    docs: DataFrame, text_col: str, name: str = "toks"
) -> DataFrame:
    """``(doc_id, <name>)``: each doc's token array, the input of every
    word-gram builder here.

    ZERO-shuffle formulation. A naive
    ``transform(sequence, i -> element_at(tokenize(text), …))`` gets the
    tokenization re-inlined by projection collapse, re-running the
    regexp per array element (measured 10× slower); a
    posexplode + lead-window version fixes that but pays a doc_id
    shuffle + sort. Instead, ``explode`` of a one-element array is a
    Generate node — projection collapse does not cross it — so the
    token array materializes exactly once per doc and the gram assembly
    stays map-side. (``scale_out`` first rebalances a
    parallelism-starved scan — identity on splittable layouts.)
    """
    from ..sources.tables import scale_out

    return scale_out(docs.select("doc_id", text_col), "doc_id").selectExpr(
        "doc_id", f"explode(array({_tokenize_sql(text_col)})) AS {ident(name)}"
    )


def _word_grams(toks: str, k: int) -> str:
    """SQL text: every k-token window of the token array column
    ``toks``, in position order, as space-joined strings (empty below k
    tokens)."""
    t = ident(toks)
    words = ", ".join(f"element_at({t}, i + {j})" for j in range(k))
    return (
        f"CASE WHEN size({t}) >= {k}"
        f" THEN transform(sequence(1, size({t}) - {k - 1}), i -> concat_ws(' ', {words}))"
        " ELSE CAST(array() AS ARRAY<STRING>) END"
    )


def _gram_key(grams: DataFrame, gram_key: str) -> DataFrame:
    """The ``gram_key`` projection of the ``gram`` column: ``"raw"``
    keeps the string, ``"xxhash64"`` replaces it with its 64-bit hash
    (see ``window_dup_rate``)."""
    if gram_key == "xxhash64":
        return grams.withColumn("gram", F.xxhash64("gram"))
    if gram_key != "raw":
        raise ValueError(f"unknown gram_key: {gram_key}")
    return grams


def shingles(docs: DataFrame, text_col: str = "text", n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per doc: (doc_id, shingle).

    Shuffle-free: the n-grams of ``_token_arrays`` are assembled and
    deduplicated per doc (``array_distinct``) map-side. Measured 2×
    faster than a posexplode + lead-window version at sf0.1.
    """
    return _token_arrays(docs, text_col).selectExpr(
        "doc_id", f"explode(array_distinct({_word_grams('toks', n)})) AS shingle"
    )


#: SQL text of each hash family: the MinHash permutation ``i`` of a
#: shingle, the bucket of one band's signature columns ``cols``, and
#: the per-doc shingle set the jaccard verify intersects (64-bit gram
#: ids on xxhash64, the exact strings on md5)
_MINHASH_SQL = {
    "xxhash64": "xxhash64(CAST({i} AS BIGINT), shingle)",
    "md5": "md5(concat('{i}|', shingle))",
}
_BAND_SQL = {
    "xxhash64": "CAST(xxhash64({cols}) AS STRING)",
    "md5": "md5(concat_ws('|', {cols}))",
}
_SET_SQL = {
    "xxhash64": "collect_set(xxhash64(shingle))",
    "md5": "collect_set(shingle)",
}


def _hash_sql(family: dict[str, str], hash_fn: str) -> str:
    """``family[hash_fn]``; an unknown ``hash_fn`` raises."""
    if hash_fn not in family:
        raise ValueError(f"unknown hash_fn: {hash_fn}")
    return family[hash_fn]


def minhash_signatures(
    sh: DataFrame,
    num_hashes: int = DEFAULT_NUM_HASHES,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Per-doc MinHash signature columns mh0..mh{k-1}.

    ``hash_fn`` picks the permutation family (t07's discipline):

    - ``xxhash64`` (default, the PRODUCTION path): seed-keyed JVM
      xxhash64 compared as int64 — a few ns per shingle, no hex
      materialization. md5 was the dominant per-row cost in the d02/
      d12 100× profile (~3k docs/s), so the hot path must not pay it.
    - ``md5``: md5 of "<seed>|<shingle>" compared lexicographically —
      ~10× slower but byte-identical in any engine with md5; the
      DuckDB-oracle/parity configuration (d02/d06/d08/d12/d14 pass it
      explicitly).

    Both families are uniform and deterministic, so every downstream
    property (band collision probability, jaccard refine, closure) is
    hash_fn-independent; only the concrete signature values differ.
    """
    return sh.groupBy("doc_id").agg(*_signature_cols(num_hashes, hash_fn))


def _signature_cols(num_hashes: int, hash_fn: str) -> list[Column]:
    """The aggregate columns mh0..mh{k-1} of ``minhash_signatures``."""
    perm = _hash_sql(_MINHASH_SQL, hash_fn)
    return [F.expr(f"min({perm.format(i=i)}) AS mh{i}") for i in range(num_hashes)]


def _minhash_doc_state(
    docs: DataFrame, text_col: str, n: int, num_hashes: int, hash_fn: str
) -> DataFrame:
    """``(doc_id, mh0..mh{k-1}, _set)``, stored: each doc's MinHash
    signature and its shingle set, from ONE tokenization.

    One ``groupBy(doc_id)`` over the shingle stream computes both the
    signature (the codegen'd ``min`` aggregates of
    ``minhash_signatures``) and ``_set`` (``_SET_SQL``), and
    ``durable_checkpoint`` stores the result, so the band buckets and
    both sides of the jaccard verify read the stored rows and no
    consumer tokenizes again. One row per doc, so the state is
    corpus-linear; a local checkpoint's blocks are freed by Spark's
    context cleaner once no plan references them.

    On md5 ``_set`` holds the shingle strings, so the jaccard is the
    string jaccard byte for byte. On xxhash64 it holds 64-bit gram ids
    (``xxhash64(shingle)``): a pair's id jaccard equals its string
    jaccard unless two distinct shingles of the pair's union share a
    hash. For a union of u shingles that has probability at most
    u(u-1)/2 / 2^64 (about 3·10⁻¹⁴ at u = 1,000); each colliding pair
    of shingles counts as one gram.
    """
    agg = _signature_cols(num_hashes, hash_fn)
    agg.append(F.expr(f"{_hash_sql(_SET_SQL, hash_fn)} AS _set"))
    return durable_checkpoint(
        shingles(docs, text_col, n).groupBy("doc_id").agg(*agg)
    )


def band_buckets(
    sig: DataFrame,
    num_hashes: int = DEFAULT_NUM_HASHES,
    band_size: int = DEFAULT_BAND_SIZE,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(doc_id, band, bucket) rows — one per LSH band per doc, the
    probe/build key space every LSH consumer joins on.

    One ``inline`` of a per-row literal-struct array, so the plan is one
    Generate node with no shuffle. ``lsh_candidate_pairs`` groups it
    by bucket; the incremental paths probe corpus-side buckets with
    batch-side ones instead.

    ``hash_fn`` picks the band-bucket hash: ``xxhash64`` (default)
    folds the band's signature columns directly into one int64 —
    no string concat, no hex; ``md5`` concatenates and hex-hashes,
    the engine-portable oracle form. Use the same ``hash_fn`` as the
    signatures were built with.
    """
    bucket = _hash_sql(_BAND_SQL, hash_fn)
    bands = ", ".join(
        "struct({b} AS band, {h} AS bucket)".format(
            b=b,
            h=bucket.format(
                cols=", ".join(f"mh{b * band_size + r}" for r in range(band_size))
            ),
        )
        for b in range(num_hashes // band_size)
    )
    return sig.selectExpr("doc_id", f"inline(array({bands}))")


def lsh_candidate_pairs(
    sig: DataFrame,
    num_hashes: int = DEFAULT_NUM_HASHES,
    band_size: int = DEFAULT_BAND_SIZE,
    bucket_cap: int | None = DEFAULT_BUCKET_CAP,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Distinct candidate pairs (doc_a < doc_b) sharing ≥1 band bucket.

    ``hash_fn`` picks the band-bucket hash: ``xxhash64`` (default)
    folds the band's signature columns directly into one int64 —
    no string concat, no hex; ``md5`` concatenates and hex-hashes,
    the engine-portable oracle form. Use the same ``hash_fn`` as the
    signatures were built with (``minhash_near_dup_pairs`` threads it).

    ``bucket_cap`` is the scale guard against quadratic pair emission:
    a bucket of m co-hashed docs emits m(m−1)/2 pairs — at web scale
    a single viral boilerplate cluster (m ~ 10⁶) is 5·10¹¹ pairs from
    ONE bucket. With a cap, buckets of
    m ≤ cap keep the exact all-pairs emission, and larger buckets emit
    only STAR edges to the bucket's min doc_id (m−1 edges, the d10
    first-occurrence pattern) — per-bucket work drops from O(m²) to
    O(m) while the candidate graph keeps every bucket connected, so
    hash-min transitive closure (``near_dup_groups``) builds the same
    keeper groups over the unrefined candidates. The documented trade:
    similarity REFINES of star edges score (min, x) pairs only, so a
    link (b, c) inside a giant bucket whose members are dissimilar to
    the min doc can be missed — acceptable precisely because a full
    band collision at large m is overwhelming evidence of boilerplate.
    Capped emission (``DEFAULT_BUCKET_CAP``) is the production
    default; ``bucket_cap=None`` opts out into the fully-exact
    all-pairs shape. Both go through ``_capped_bucket_pairs``, which
    reads the band relation once, so a lazy ``sig`` is evaluated once,
    not once per join leg.
    """
    bands = band_buckets(sig, num_hashes, band_size, hash_fn)
    return _capped_bucket_pairs(bands, ["band", "bucket"], bucket_cap)


def _capped_bucket_pairs(
    bands: DataFrame, bucket_keys: list[str], bucket_cap: int | None
) -> DataFrame:
    """All pairs (doc_a < doc_b) within buckets of at most
    ``bucket_cap`` members, star edges (min doc_id → member) within
    larger ones; distinct over both. ``bucket_cap=None`` emits all
    pairs of every bucket, exactly a self-join of ``bands`` on the
    bucket keys with ``a.doc_id < b.doc_id``.

    Single-pass form (optimization r12, guide §2.4): ONE groupBy over
    the bucket keys collects each bucket's distinct members into a
    sorted array, and the pair emission is a row-local array
    expression — all ordered pairs of the array when the bucket is
    small (or uncapped), star edges from the array's minimum (element
    0 after the sort) past the cap. No window, self-join or persist:
    the band relation is read exactly once and only the final
    ``distinct`` shuffles pair rows. A doc_id repeated inside a bucket
    is collected once, so it emits no self-pair.

    Memory boundary: one aggregation buffer holds one bucket's member
    array (8 bytes/id) — 8 MB at m = 10⁶, fine for any real boilerplate
    cluster; a pathological m ≳ 10⁸ bucket would pressure a single
    task's buffer, but such a bucket also emits m−1 star rows, so the
    right guard at that scale is pre-filtering the bucket key upstream,
    not a streamier pair emitter. Uncapped, such a bucket emits m²/2
    pairs: the quadratic trap the cap exists for.
    """
    g = bands.groupBy(*bucket_keys).agg(
        F.expr("array_sort(collect_set(doc_id)) AS _ds")
    )
    # all ordered pairs (x at 0-based i, every later y) of the sorted
    # distinct member array — doc_a < doc_b by construction, exactly
    # the self-join's emission; slice() truncates at the array end
    all_pairs = (
        "flatten(transform(_ds, (x, i) ->"
        " transform(slice(_ds, i + 2, size(_ds)),"
        "           y -> struct(x AS doc_a, y AS doc_b))))"
    )
    if bucket_cap is None:
        return g.selectExpr(f"inline({all_pairs})").distinct()
    # star edges: min member (element 0) → every other member
    star = (
        "transform(slice(_ds, 2, size(_ds) - 1),"
        " y -> struct(_ds[0] AS doc_a, y AS doc_b))"
    )
    return g.selectExpr(
        f"inline(CASE WHEN size(_ds) <= {int(bucket_cap)} THEN {all_pairs} ELSE {star} END)"
    ).distinct()


def _thin_buckets(buckets: DataFrame, bucket_cap: int | None) -> DataFrame:
    """Keep each (band, bucket)'s ``bucket_cap`` smallest doc_ids —
    the deterministic corpus-side thinning of the incremental dedup
    family. Single-pass form (optimization r12, same move as
    ``_capped_bucket_pairs``): one groupBy collecting the sorted member
    array and a row-local ``slice`` replaces the r11 row_number window
    (an exchange + per-partition sort over the full band relation);
    the hash aggregate needs no sort and its partials combine map-side.
    Same memory boundary note as ``_capped_bucket_pairs``.
    ``bucket_cap=None`` keeps every member (the frame unchanged)."""
    if bucket_cap is None:
        return buckets
    return (
        buckets.groupBy("band", "bucket")
        .agg(F.expr(f"slice(array_sort(collect_list(doc_id)), 1, {int(bucket_cap)}) AS _ks"))
        .selectExpr("band", "bucket", "explode(_ks) AS doc_id")
    )


def _doc_sets(sh: DataFrame) -> DataFrame:
    """``(doc_id, _set)``: each doc's shingle set as one array."""
    return sh.groupBy("doc_id").agg(F.expr("collect_set(shingle) AS _set"))


def _with_sets(
    pairs: DataFrame,
    sets_a: DataFrame,
    sets_b: DataFrame,
    broadcast: bool = False,
) -> DataFrame:
    """``pairs`` with doc_a's set from ``sets_a`` as ``_sa`` and
    doc_b's from ``sets_b`` as ``_sb`` (frames with ``doc_id`` and
    ``_set``): two joins touching candidate rows only, broadcast on
    request."""
    a = sets_a.selectExpr("doc_id AS doc_a", "_set AS _sa")
    b = sets_b.selectExpr("doc_id AS doc_b", "_set AS _sb")
    if broadcast:
        a, b = F.broadcast(a), F.broadcast(b)
    return pairs.join(a, "doc_a").join(b, "doc_b")


def _set_jaccard(
    pairs: DataFrame, sets_a: DataFrame, sets_b: DataFrame
) -> DataFrame:
    """``(doc_a, doc_b, jaccard)``: exact set jaccard of each pair."""
    n_inter = "size(array_intersect(_sa, _sb))"
    return _with_sets(pairs, sets_a, sets_b).selectExpr(
        "doc_a",
        "doc_b",
        f"CAST({n_inter} AS DOUBLE) / (size(_sa) + size(_sb) - {n_inter}) AS jaccard",
    )


def _rarest_first_postings(sh: DataFrame, max_df: int | None) -> DataFrame:
    """The persisted prefix-filter postings of ``(doc_id, shingle)``
    rows: ``_df`` (the shingle's document frequency), ``n`` (the doc's
    set size) and ``_rn`` (the shingle's 1-based rank in the doc's
    rarest-first order, ties broken by shingle text so the SQL oracles
    reproduce it). ``max_df`` restricts the shingle universe to
    ``_df ≤ max_df`` before sizes and ranks are taken.

    Size and rank share ONE window pass: both use the (doc_id)
    partition and the (_df, shingle) order, the size over the
    full-partition frame. Persisted because the callers read it three
    times (doc sets, prefixes, and the containment full side); the lazy
    form replayed the shingle explode and both window shuffles once per
    consumer. SQL-cached blocks live until unpersist()/clearCache();
    bench.py clears the session cache after every query execution.
    """
    posting = sh.withColumn(
        "_df", F.count(F.lit(1)).over(Window.partitionBy("shingle"))
    )
    if max_df is not None:
        posting = posting.filter(F.col("_df") <= max_df)
    dw = Window.partitionBy("doc_id").orderBy("_df", "shingle")
    return (
        posting.withColumn(
            "n",
            F.count(F.lit(1)).over(
                dw.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
            ),
        )
        .withColumn("_rn", F.row_number().over(dw))
        .persist()
    )


def minhash_near_dup_pairs(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = DEFAULT_NUM_HASHES,
    band_size: int = DEFAULT_BAND_SIZE,
    threshold: float = 0.8,
    bucket_cap: int | None = DEFAULT_BUCKET_CAP,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """shingle → minhash → band-bucket pairs → exact-jaccard refine.

    Each doc is tokenized once: ``_minhash_doc_state`` stores one row
    per doc with its signature and its shingle set, the band buckets
    are derived from the stored signatures, and both sides of the
    verify join the stored sets onto the candidate pairs, so the
    returned plan scans the stored state and never the documents.
    Candidate pairs are few after LSH, so the verify is an
    array intersect per pair, O(|pairs| · set size), independent of
    shingle document frequency. Building the pairs runs one Spark job,
    the state's checkpoint.

    The per-doc rows are what make storing pay: the exploded
    (doc_id, shingle) table is some 10× the corpus, and storing that
    measured 3.8× slower cold at sf0.1 than re-deriving it per branch,
    while the state is one compact row per doc and removes two of the
    three tokenizations (SCALING.md "Near-dup chains: one tokenization
    per doc"). On the default xxhash64 path the sets hold 64-bit gram
    ids; see ``_minhash_doc_state`` for the collision bound under
    which the jaccard equals the string jaccard.

    ``bucket_cap`` bounds per-bucket pair emission (star edges past
    the cap — see ``lsh_candidate_pairs``); capped is the DEFAULT
    because on duplicate-heavy corpora one boilerplate cluster would
    otherwise emit O(m²) candidates. ``bucket_cap=None`` opts out
    into the fully-exact all-pairs shape (the d02 oracle does).
    """
    state = _minhash_doc_state(docs, text_col, n, num_hashes, hash_fn)
    cand = lsh_candidate_pairs(state, num_hashes, band_size, bucket_cap, hash_fn)
    return _set_jaccard(cand, state, state).filter(f"jaccard >= {double(threshold)}")


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    max_df: int | None = DEFAULT_MAX_DF,
) -> DataFrame:
    """Exact n-gram jaccard dedup without LSH, with PREFIX FILTERING
    (the AllPairs/PPJoin candidate prune — Bayardo et al. WWW'07,
    Chaudhuri et al. ICDE'06): order every shingle set rarest-first;
    two sets with jaccard ≥ t MUST share a shingle among each set's
    first ``n − ceil(t·n) + 1`` entries (pigeonhole: a pair meeting t
    shares ≥ ceil(t·n) shingles, so it cannot avoid every prefix
    slot). Only prefixes enter the inverted-index self-join — on a
    template-heavy corpus the naive all-shingle join's aggregate is
    quadratic in per-shingle document frequency (the 100× OOM), while
    prefixes collide mostly on genuinely rare, doc-specific shingles.
    Candidates then verify with the EXACT jaccard over the full sets,
    so the output is identical to the unfiltered join at any t (at
    t=0 the prefix is the whole set and the prune gracefully
    degenerates to the classic inverted index).

    Three further EXACT prunes keep the candidate set bounded on
    template-heavy corpora, where even prefixes stay common (measured
    at 100×: 5.6M prefix postings over 12,978 distinct shingles, max
    prefix df 891 → 1.21e9 distinct unfiltered candidates):

    - **length filter** (AllPairs): jaccard = |∩|/|∪| ≤ min(nₐ,n_b) /
      max(nₐ,n_b), so J ≥ t needs min ≥ ceil(t·max) — applied inside
      the prefix join before the distinct.
    - **positional filter** (PPJoin): J ≥ t ⟺ |∩| ≥ ceil(t/(1+t) ·
      (nₐ+n_b)); for the FIRST colliding prefix slot (ranks rₐ, r_b in
      the shared rarest-first canonical order) no earlier element
      matched, so |∩| ≤ min(nₐ−rₐ, n_b−r_b) + 1. Filtering collision
      ROWS then taking DISTINCT pairs is sound: a qualifying pair's
      first collision always survives the bound.
    - **row-local verify**: candidates score via ``array_intersect``
      over per-doc shingle arrays (broadcast: |docs| rows regardless
      of corpus bytes) instead of the candidate×postings co-shingle
      aggregate — that aggregate's hash state is O(|cand|) groups fed
      by O(|cand|·set) rows (~6e10 at 100×, the 3h20m / OOM wall),
      while the array form streams candidates through two broadcast
      hash joins with per-row O(set) work and NO aggregate. (Beyond
      broadcast reach — corpora ≫ 10M distinct docs — swap the hint
      for two sort-merge joins and accept the array shuffle; at that
      scale the LSH family (d02/d12) is the production path anyway.)

    Plan shape: one shingle computation → document frequency in one
    shingle-keyed window → rarest-first rank in one doc-keyed window
    (with ``max_df``, ``_rarest_first_postings``, shared with
    ``containment_pairs``) → length+position-filtered prefix self-join
    → distinct → broadcast
    array-intersect verify. ``max_df`` (optional) additionally
    restricts the shingle UNIVERSE to document frequency ≤ cap — the
    stop-shingle guard at scale; set sizes and intersections are both
    computed over the SAME capped universe, so the score is a
    well-defined jaccard (of stop-filtered shingle sets). The capped
    universe (``DEFAULT_MAX_DF``) is the production default;
    ``max_df=None`` opts out into the fully-exact all-shingle score
    (the d05 oracle does — the filters keep even that exact form
    feasible at 100×).
    """
    t = float(threshold)
    sh = shingles(docs, text_col, n)
    if max_df is None:
        # sizes ride the sets and the ranks come from the exploded sets:
        # at sf0.1 this ran faster than the shared ranker, whose posting
        # persist the uncapped universe does not need
        doc_sets = _doc_sets(sh)
        posting = (
            doc_sets.select(
                "doc_id", F.size("_set").alias("n"), F.explode("_set").alias("shingle")
            )
            .withColumn("_df", F.count(F.lit(1)).over(Window.partitionBy("shingle")))
            .withColumn(
                "_rn",
                F.row_number().over(
                    Window.partitionBy("doc_id").orderBy("_df", "shingle")
                ),
            )
        )
    else:
        posting = _rarest_first_postings(sh, max_df)
        # sets over the SAME capped universe as the postings
        doc_sets = _doc_sets(posting)
    # persisted: one row per doc, the broadcast side of both verify legs
    # (and, uncapped, the source of the postings)
    doc_sets = doc_sets.persist()
    prefix = (
        posting.filter(
            F.col("_rn") <= F.col("n") - F.ceil(F.lit(t) * F.col("n")) + 1
        )
        .select("doc_id", "n", "_rn", "shingle")
        # persisted: both self-join legs read the prefix, a small slice
        # of the postings
        .persist()
    )
    a = prefix.select(
        F.col("doc_id").alias("doc_a"),
        F.col("n").alias("n_a"),
        F.col("_rn").alias("rn_a"),
        "shingle",
    )
    b = prefix.select(
        F.col("doc_id").alias("doc_b"),
        F.col("n").alias("n_b"),
        F.col("_rn").alias("rn_b"),
        "shingle",
    )
    cand = (
        a.join(b, "shingle")
        .filter(
            (F.col("doc_a") < F.col("doc_b"))
            # length filter: min(n_a,n_b) >= ceil(t*max(n_a,n_b))
            & (F.col("n_b") >= F.ceil(F.lit(t) * F.col("n_a")))
            & (F.col("n_a") >= F.ceil(F.lit(t) * F.col("n_b")))
            # positional filter: suffix past the first collision must
            # still be able to reach the required overlap
            & (
                F.least(
                    F.col("n_a") - F.col("rn_a"), F.col("n_b") - F.col("rn_b")
                )
                + 1
                >= F.ceil(F.lit(t / (1.0 + t)) * (F.col("n_a") + F.col("n_b")))
            )
        )
        .select("doc_a", "n_a", "doc_b", "n_b")
        .distinct()
    )
    # exact row-local verify over the FULL sets: two broadcast joins to
    # the per-doc arrays, |A∩B| computed per candidate row — no
    # aggregate, state bounded by |docs| not |cand|
    return (
        _with_sets(cand, doc_sets, doc_sets, broadcast=True)
        .withColumn("n_inter", F.size(F.array_intersect("_sa", "_sb")))
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("n_inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def simhash(
    docs: DataFrame, text_col: str = "text", bits: int = SIMHASH_BITS
) -> DataFrame:
    """``bits``-wide SimHash over word tokens (default 64).

    Bit j of the fingerprint is set when the majority of the doc's
    tokens have bit ``3 - j%4`` of md5-hex-char ``j//4`` set — i.e. the
    md5 hex digest is consumed nibble-by-nibble, giving up to 128
    independent bits from one hash. Fully expressible as ``bits``
    conditional-sum aggregates — one token shuffle, map-side partials,
    engine-portable and oracle-checkable at any width.
    """
    if not 1 <= bits <= 128:
        raise ValueError("md5 provides at most 128 fingerprint bits")
    from ..sources.tables import scale_out

    toks = scale_out(docs.select("doc_id", text_col), "doc_id").select(
        "doc_id", F.explode(tokenize(F.col(text_col))).alias("tok")
    )
    h = F.md5(F.col("tok"))

    def tok_bit(j: int) -> Column:
        v = F.conv(F.substring(h, j // 4 + 1, 1), 16, 10).cast("int")
        mask = 1 << (3 - j % 4)
        return F.when(v.bitwiseAND(F.lit(mask)) > 0, 1).otherwise(-1)

    bit_sums = [F.sum(tok_bit(j)).alias(f"s{j}") for j in range(bits)]
    agg = toks.groupBy("doc_id").agg(*bit_sums)
    out_bits = F.concat(
        *[F.when(F.col(f"s{j}") > 0, "1").otherwise("0") for j in range(bits)]
    )
    return agg.select("doc_id", out_bits.alias("simhash_bits"))


def near_dup_groups(pairs: DataFrame, max_iter: int = 25) -> DataFrame:
    """Connected components over near-dup pairs → ``(doc_id, group_id)``.

    Turning pairwise matches into keep/drop decisions needs the
    transitive closure (A~B, B~C ⇒ one group). Distributed hash-min
    label propagation: every doc starts labeled with its own id, and
    each round a doc takes the min label over itself and its neighbors
    (its closed neighborhood); fixpoint after O(component diameter)
    rounds. group_id = the component's minimum doc_id (the canonical
    "keeper" under keep-first policy). ``max_iter`` bounds the rounds
    of a pathological chain; ``max_iter ≤ 0`` returns the identity
    labels.

    Plan: one ``inline`` emits both directions of every pair and both
    endpoints' self-loops, so the min over a row's edges IS the min
    over its closed neighborhood. The edge list is checkpointed
    partitioned by ``dst``, the join key of every round. Round 1 needs
    no join: with identity labels its result is ``min(src)`` per
    ``dst``, one aggregate over the stored partitions. Each later round
    is one join, edges ⋈ labels on ``dst``, and one ``groupBy(src)``
    whose ``min`` is the new label and whose ``min`` over the self-loop
    row alone is the old one; the changed-count rides the update, so a
    round is one lazy checkpoint and one 1-row ``sum`` collect. Near-dup
    groups are mostly stars around their smallest doc, which round 1
    labels at once: such a graph costs two checkpoints.

    A NULL endpoint links to nothing: its row keeps a NULL group and
    its partner keeps its other links.
    """
    edges = (
        pairs.selectExpr(
            "inline(array(struct(doc_a AS src, doc_b AS dst),"
            " struct(doc_b AS src, doc_a AS dst),"
            " struct(doc_a AS src, doc_a AS dst),"
            " struct(doc_b AS src, doc_b AS dst)))"
        )
        # a pair with one NULL end links nothing; both ends keep a row
        .filter("(src IS NULL) = (dst IS NULL)")
        .repartition("dst")
        .dropDuplicates(["src", "dst"])
        .transform(durable_checkpoint)
    )
    # round 1 (max_iter ≤ 0: the identity labels)
    seed = "min(src)" if max_iter > 0 else "dst"
    labels = edges.groupBy("dst").agg(F.expr(f"{seed} AS group_id")).withColumnRenamed(
        "dst", "doc_id"
    )
    for _ in range(max_iter - 1):
        stepped = (
            # left: the NULL doc's self-loop matches no label but keeps
            # its row
            edges.join(labels.selectExpr("doc_id AS dst", "group_id AS _nl"), "dst", "left")
            .groupBy("src")
            .agg(
                F.expr("min(_nl) AS group_id"),
                F.expr("CAST(min(_nl) <> min(_nl) FILTER (WHERE src = dst) AS INT) AS _chg"),
            )
            .withColumnRenamed("src", "doc_id")
            .transform(lambda d: durable_checkpoint(d, eager=False))
        )
        changed = stepped.selectExpr("sum(_chg)").collect()[0][0] or 0
        labels = stepped.select("doc_id", "group_id")
        if changed == 0:
            break
    return labels


#: Knuth multiplicative hash constant / Mersenne-31 modulus for the
#: order-independent membership checksums used by the audit shapes.
_KNUTH = 2654435761
_MOD31 = 2147483647


def _member_mix(doc_id: Column) -> Column:
    """``((doc_id % 2147483647) * 2654435761) % 2147483647``: the
    membership checksum term of the audit shapes (see
    ``closure_audit``)."""
    return ((doc_id % F.lit(_MOD31)) * F.lit(_KNUTH)) % F.lit(_MOD31)


def closure_audit(groups: DataFrame) -> DataFrame:
    """Bounded per-group audit of a ``(doc_id, group_id)`` closure
    relation: one row per group — size, member-id range, and an exact
    order-independent int64 membership checksum.

    AUDIT-OUTPUT CONTRACT (the d04/d10/t17 bounded-oracle discipline):
    the RAW per-doc relation from :func:`near_dup_groups` is the API
    shape users consume; the REGISTERED d06/d14 queries return this
    aggregate of it, so the verified output stays O(#groups) at any
    scale while a wrong, missing, or extra member anywhere flips its
    group's row. ``tests/test_audit_contract.py`` pins that this
    aggregate reconciles with the raw relation. The three fields
    mitigate each other: the additive checksum alone could cancel a
    compensating swap of hash-colliding members across two groups,
    which n_docs/min/max then catch unless sizes also compensate.

    member_sig mixer: ``((doc_id % 2147483647) * 2654435761) %
    2147483647`` — bounded below 2^62 for ANY doc_id, so it never
    overflows int64 under ANSI sessions (unlike raw Knuth
    multiplication, which overflows past doc_id ~3.4e9).
    """
    return groups.groupBy("group_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
        F.sum(_member_mix(F.col("doc_id"))).alias("member_sig"),
    )


def edit_distance_refine(
    docs: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Character-level refine of candidate pairs: levenshtein distance
    and normalized similarity ``1 − lev/max(len)`` for each
    ``(doc_a, doc_b)``.

    Edit distance is O(len²) per pair — never run it all-pairs; it is
    the third refine tier after cheap candidate generation (LSH bands)
    and set-overlap jaccard, catching near-dups that shingle sets miss
    (small in-place edits shift every overlapping shingle). Texts join
    to candidates by id (two hash joins touching only candidate rows);
    the distance itself is the built-in JVM ``levenshtein``, codegen
    end to end.
    """
    a = docs.select(
        F.col(id_col).alias("doc_a"), F.col(text_col).alias("_ta")
    )
    b = docs.select(
        F.col(id_col).alias("doc_b"), F.col(text_col).alias("_tb")
    )
    lev = F.levenshtein(F.col("_ta"), F.col("_tb"))
    max_len = F.greatest(F.length("_ta"), F.length("_tb"))
    return (
        pairs.select("doc_a", "doc_b")
        .join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            lev.alias("lev"),
            F.when(max_len == 0, F.lit(1.0))
            .otherwise(1.0 - lev / max_len)
            .alias("edit_sim"),
        )
    )


def simhash_hamming_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    n_bands: int = 4,
    text_col: str = "text",
    bits: int = SIMHASH_BITS,
    bucket_cap: int | None = DEFAULT_BUCKET_CAP,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance ≤ ``max_hamming``,
    found via the pigeonhole band join: split the fingerprint into
    ``n_bands`` equal bands — ≤ ``n_bands - 1`` differing bits cannot
    touch every band, so hamming-close pairs MUST share at least one
    exact band. Bucket-join per (band index, band value), dedupe, then
    refine with ``bit_count(xor)`` over 32-bit fingerprint words — all
    JVM built-ins (32-bit words keep every intermediate inside a
    non-overflowing signed int64 under ANSI mode, at any width).

    Guaranteed recall needs ``max_hamming < n_bands``. At the default
    64-bit/4-band configuration each band carries 2¹⁶ values, so
    bucket occupancy (and candidate volume) tracks true near-dups; a
    16-bit fingerprint (``bits=16``) has only 2⁴ values per band and
    candidate volume degrades to corpus²/2⁴ — kept available as the
    cross-check width, never the production path (SCALING.md d09).

    ``bucket_cap``: same per-bucket quadratic guard as
    ``lsh_candidate_pairs`` — a cluster of m identical documents puts
    all m fingerprints in the same bucket of EVERY band (m²/2 pairs ×
    4 bands before dedup); past the cap the bucket emits m−1 star
    edges to its min doc_id instead, hamming-refined like any other
    candidate. Capped (``DEFAULT_BUCKET_CAP``) by default;
    ``bucket_cap=None`` opts out into the exact all-pairs shape (the
    d09 oracle does).
    """
    return hamming_pairs_from_bits(
        simhash(docs, text_col, bits=bits),
        bits_col="simhash_bits",
        bits=bits,
        max_hamming=max_hamming,
        n_bands=n_bands,
        bucket_cap=bucket_cap,
    )


def hamming_pairs_from_bits(
    fps: DataFrame,
    bits_col: str = "simhash_bits",
    bits: int = SIMHASH_BITS,
    max_hamming: int = 3,
    n_bands: int = 4,
    bucket_cap: int | None = DEFAULT_BUCKET_CAP,
) -> DataFrame:
    """The pigeonhole band join + bit_count(xor) refine over ANY
    (doc_id, bit-string) fingerprint relation — extracted verbatim
    from ``simhash_hamming_pairs`` (which now delegates here) so other
    fingerprint families reuse the exact verified machinery: m10 feeds
    it image aHash bits, d09/d13 the text SimHash. Semantics, bounds
    and the ``bucket_cap`` star-edge guard are documented on
    ``simhash_hamming_pairs``.
    """
    if max_hamming >= n_bands:
        raise ValueError("guaranteed recall needs max_hamming < n_bands")
    if bits % n_bands:
        raise ValueError("bits must divide evenly into n_bands")
    band_w = bits // n_bands
    n_words = (bits + 31) // 32
    word_cols = [f"_w{i}" for i in range(n_words)]
    words = [
        F.conv(F.substring(bits_col, i * 32 + 1, min(32, bits - i * 32)), 2, 10)
        .cast("long")
        .alias(word_cols[i])
        for i in range(n_words)
    ]
    # Store the COMPACT per-doc fingerprint table (guide §5 caching
    # rule: reused AND expensive to recompute). The lazy form
    # replicated the upstream fingerprint derivation under THREE plan
    # subtrees (the capped path's band groupBy plus the two word
    # re-attach legs; the old window/self-join shape had five) — for
    # the multimodal callers each replay re-runs the codec kernel
    # (measured: m10's kernel 0.84s, full query 2.7s). One narrow row
    # per doc (id + bits + words), so the store is corpus-linear.
    # Stored through durable_checkpoint, not persist(): the SQL cache
    # holds a persisted plan until unpersist()/clearCache(), and later
    # plans of the session picked it up; a local checkpoint's blocks
    # are freed by the context cleaner once no plan references them.
    sh = durable_checkpoint(fps.select("doc_id", bits_col, *words))
    bands = sh.select(
        "doc_id",
        *word_cols,
        F.posexplode(
            F.array(
                *[
                    F.substring(bits_col, j * band_w + 1, band_w)
                    for j in range(n_bands)
                ]
            )
        ).alias("_j", "_band"),
    )

    def side(df: DataFrame, s: str, *keys: str) -> DataFrame:
        # doc_id → doc_<s>, each fingerprint word w → w<s>
        return df.select(
            F.col("doc_id").alias(f"doc_{s}"),
            *[F.col(w).alias(f"{w}{s}") for w in word_cols],
            *keys,
        )

    if bucket_cap is None:
        cand = (
            side(bands, "a", "_j", "_band")
            .join(side(bands, "b", "_j", "_band"), ["_j", "_band"])
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select(
                "doc_a",
                "doc_b",
                *[c for w in word_cols for c in (f"{w}a", f"{w}b")],
            )
            .dropDuplicates(["doc_a", "doc_b"])
        )
    else:
        # star edges past the cap; fingerprint words re-attached by id
        # (two hash joins against the compact per-doc fingerprint table
        # — touches candidate rows only, never the band explosion)
        pairs = _capped_bucket_pairs(
            bands.select("doc_id", "_j", "_band"), ["_j", "_band"], bucket_cap
        )
        cand = pairs.join(side(sh, "a"), "doc_a").join(side(sh, "b"), "doc_b")
    hamming = sum(
        F.bit_count(F.col(f"{w}a").bitwiseXOR(F.col(f"{w}b"))) for w in word_cols
    )
    return (
        cand.select("doc_a", "doc_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def chunk_dedup(
    docs: DataFrame,
    text_col: str = "text",
    chunk_words: int = 3,
) -> DataFrame:
    """Sub-document exact dedup with reassembly (the C4/CCNet
    paragraph-dedup pattern): split each document into consecutive
    ``chunk_words``-word chunks, keep only the globally FIRST occurrence
    of each distinct chunk (first = smallest (doc_id, chunk_idx)), and
    reassemble every document from its surviving chunks in order.

    Production corpora chunk on paragraph/line boundaries; the fixed
    word-window here is the same machinery with a deterministic
    splitter. Two shuffles total, both keyed uniformly: one on the
    chunk hash (the global first-occurrence ranking), one on doc_id
    (reassembly). Emits per-doc audit columns only, and every audit
    column is a PURE BOUNDED AGGREGATE (the t17 discipline):
    ``dedup_len`` is sum(len(kept chunk)) + n_kept - 1 — numerically
    identical to the length of the space-joined reassembly, without
    materializing it — and ``dedup_sig`` is the position-weighted
    integer signature sum((chunk_idx + 1) · hash32(chunk)) over kept
    chunks, order/content-sensitive w.h.p. with per-doc-bounded int64
    state on both engines (the earlier string_agg reassembly grew
    oracle intermediates with the corpus and OOM'd DuckDB at 100×).
    """
    w = tokenize(F.col(text_col))
    n_chunks = F.ceil(F.size(w) / F.lit(float(chunk_words))).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.array_join(
            F.slice(w, i * chunk_words + 1, chunk_words), " "
        ),
    )
    ch = (
        docs.filter(F.size(w) > 0)
        .select("doc_id", F.posexplode(chunks).alias("chunk_idx", "chunk"))
    )
    first = Window.partitionBy(F.md5("chunk")).orderBy("doc_id", "chunk_idx")
    ranked = ch.withColumn("rn", F.row_number().over(first))
    hash32 = F.conv(F.substring(F.md5("chunk"), 1, 8), 16, 10).cast("long")
    agg = ranked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).alias("n_kept"),
        F.sum(
            F.when(F.col("rn") == 1, F.length("chunk").cast("long"))
        ).alias("_kept_chars"),
        F.sum(
            F.when(
                F.col("rn") == 1,
                (F.col("chunk_idx").cast("long") + 1) * hash32,
            )
        ).alias("_sig"),
    )
    return agg.select(
        "doc_id",
        "n_chunks",
        "n_kept",
        F.when(
            F.col("n_kept") > 0, F.col("_kept_chars") + F.col("n_kept") - 1
        ).cast("long").alias("dedup_len"),
        F.when(F.col("n_kept") > 0, F.col("_sig")).alias("dedup_sig"),
    )


def canonicalize_url(url: Column) -> Column:
    """URL canonicalization for web-corpus dedup: strip the fragment,
    strip trailing ``?utm_*`` tracking params, lowercase the
    scheme://host[:port] prefix (path/query stay case-sensitive), drop
    an explicit ``:443`` default port, drop a trailing slash. Pure
    RE2-compatible regexp chain (no lookahead — RE2 has none), codegen,
    no shuffle. The canonical string is the dedup key crawl pipelines
    group on before any content-based pass."""
    c = F.regexp_replace(url, r"#.*$", "")
    c = F.regexp_replace(c, r"\?utm_[a-z_]+=[^&#]*$", "")
    pre = F.regexp_extract(c, r"^([A-Za-z]+://[^/]+)", 1)
    rest = F.substring(c, F.length(pre) + 1, F.lit(1 << 30))
    pre = F.regexp_replace(F.lower(pre), r":443$", "")
    c = F.concat(pre, rest)
    return F.regexp_replace(c, r"/$", "")


def window_dup_rate(
    docs: DataFrame,
    text_col: str = "text",
    k: int = 8,
    gram_key: str = "raw",
) -> DataFrame:
    """Cross-document duplicated-window rate — the exact-substring dedup
    signal of Lee et al., "Deduplicating Training Data Makes Language
    Models Better" (arXiv:2107.06499), restated over k-TOKEN windows:
    every k-token window of every document is counted, and a window
    position is "duplicated" when its gram text also occurs in at least
    one OTHER document (within-doc repetition is deliberately excluded —
    that is t08's repetition screen / t17's span self-dedup; this
    operator isolates the cross-document boilerplate signal that drives
    train-set memorization). Returns one row per doc with ≥1 window:
    ``n_windows`` (all k-token positions), ``n_dup_windows`` (positions
    whose gram appears in another doc) and ``dup_frac`` — the fraction
    curation pipelines threshold on (e.g. drop docs >50% duplicated).

    Spark-first shape, three skinny shuffles and nothing quadratic:
    (1) the window grams are assembled ROW-LOCALLY (the
    ``_token_arrays`` Generate node — the token array materializes once per doc,
    no per-token explode) and reduced to (doc_id, gram, n_pos) with a
    map-side-combining groupBy, collapsing within-doc repeats BEFORE
    anything hits the wire; (2) the cross-doc document frequency is a
    ``count() over (partition by gram)`` window on that already-reduced
    relation — one exchange on gram, no self-join, and since each
    (doc, gram) appears once the count IS the distinct-doc count;
    (3) the per-doc rollup. Work is O(total windows); a boilerplate
    gram shared by m docs costs m rows in one window partition — linear,
    never m² (contrast the naive gram self-join).

    ``gram_key``: ``"raw"`` (default, and the oracle configuration)
    shuffles the gram STRING — exact, engine-portable; ``"xxhash64"``
    replaces it with the 64-bit gram hash before the exchanges — ~k·8
    bytes less per row on the wire at 100 TB, with a ~n²/2⁶⁴ collision
    probability that only ever OVERCOUNTS duplication (two distinct
    grams colliding merge their doc sets), the same trade the MinHash
    family documents.
    """
    g = _token_arrays(docs, text_col).selectExpr(
        "doc_id", f"explode({_word_grams('toks', k)}) AS gram"
    )
    per_doc_gram = _gram_key(g, gram_key).groupBy("doc_id", "gram").agg(
        F.count(F.lit(1)).alias("n_pos")
    )
    gw = Window.partitionBy("gram")
    ann = per_doc_gram.withColumn("n_docs", F.count(F.lit(1)).over(gw))
    dup_pos = F.sum(
        F.when(F.col("n_docs") >= 2, F.col("n_pos")).otherwise(F.lit(0))
    )
    return (
        ann.groupBy("doc_id")
        .agg(
            F.sum("n_pos").cast("long").alias("n_windows"),
            dup_pos.cast("long").alias("n_dup_windows"),
        )
        .withColumn(
            "dup_frac",
            F.col("n_dup_windows").cast("double") / F.col("n_windows"),
        )
    )


def _probe_buckets(
    corpus_buckets: DataFrame,
    batch_buckets: DataFrame,
    corpus_sets: DataFrame,
    batch_sets: DataFrame,
    threshold: float,
) -> DataFrame:
    """The incremental-dedup probe: corpus ⋈ batch band buckets on
    (band, bucket) → distinct candidates → exact set jaccard ≥
    ``threshold`` → one audit row per matched batch doc."""
    cand = (
        corpus_buckets.alias("c")
        .join(
            batch_buckets.alias("b"),
            (F.col("c.band") == F.col("b.band"))
            & (F.col("c.bucket") == F.col("b.bucket")),
        )
        .select(
            F.col("c.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    scored = _set_jaccard(cand, corpus_sets, batch_sets).filter(
        F.col("jaccard") >= threshold
    )
    return scored.groupBy(F.col("doc_b").alias("batch_doc")).agg(
        F.count(F.lit(1)).cast("long").alias("n_matches"),
        F.min("doc_a").alias("first_match"),
        F.max(F.round(F.col("jaccard") * 1e9).cast("long")).alias(
            "max_jaccard_nanos"
        ),
    )


def incremental_minhash_dedup(
    docs: DataFrame,
    batch_mod: int = 5,
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = DEFAULT_NUM_HASHES,
    band_size: int = DEFAULT_BAND_SIZE,
    threshold: float = 0.8,
    bucket_cap: int | None = DEFAULT_BUCKET_CAP,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Incremental (batch-vs-corpus) MinHash dedup — THE production
    ingestion shape: a new batch arrives, and each batch document is
    screened against the existing corpus for near-duplicates; batch
    docs with no corpus match are the novel survivors that get
    appended. Here the split is carved deterministically out of one
    table (``doc_id % batch_mod == 0`` → batch, else corpus) so the
    operator is closed over the driver's test data; in production the
    corpus side is the stored signature/bucket state and the batch
    side is the day's crawl.

    Returns one row per MATCHED batch doc: ``batch_doc``,
    ``n_matches`` (corpus docs with jaccard ≥ threshold),
    ``first_match`` (smallest matching corpus doc_id) and
    ``max_jaccard_nanos`` (exact int64 of round(j·1e9)). The novel
    survivors are the batch anti-join against this relation — kept out
    of the output so the interesting structure (who matched what, how
    strongly) is what gets checked.

    Scale design: signatures and shingle sets are built once over both
    sides, from one tokenization (the stored per-doc state of
    ``minhash_near_dup_pairs``, so building the relation runs one Spark
    job); the candidate join is corpus-bands ⋈ batch-bands on (band,
    bucket) — batch is typically ≪ corpus, so this is a
    build-small/probe-large hash join, never a corpus self-join — and
    the jaccard verify is the candidate-bounded array intersect of
    ``minhash_near_dup_pairs`` (O(|cand| · set size), independent of
    shingle document frequency). The probe is ``probe_dedup_state``'s,
    over one stored state for both sides. CRITICALLY, at steady state
    the corpus side's shingling + signatures need not be recomputed
    per batch: they are append-only state keyed by doc_id, written
    once when a doc is admitted (``dedup_corpus_state``; this function
    recomputes them only because its input is one ephemeral table).

    ``bucket_cap`` guards the skew case of a batch doc's bucket landing
    in viral corpus boilerplate: corpus buckets larger than the cap are
    thinned to their ``cap`` smallest doc_ids (deterministic), so one
    bucket contributes ≤ cap candidates per probe instead of m. The
    documented recall trade: a batch doc whose ONLY match sits in the
    dropped tail of a >cap bucket can slip through — acceptable because
    any of the cap retained members of the same full-band collision is
    overwhelmingly likely to match too (the star-cap argument).
    ``bucket_cap=None`` opts out into the exact all-members probe (the
    registered oracle does).
    """
    state = _minhash_doc_state(docs, text_col, n, num_hashes, hash_fn)
    bands = band_buckets(state, num_hashes, band_size, hash_fn)
    is_batch = F.col("doc_id") % batch_mod == 0
    # one stored state serves both sides; shingling each side on its
    # own (the dedup_corpus_state route) measured slower at sf0.1
    return _probe_buckets(
        _thin_buckets(bands.filter(~is_batch), bucket_cap),
        bands.filter(is_batch),
        state,
        state,
        threshold,
    )


def dedup_corpus_state(
    corpus_docs: DataFrame,
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = DEFAULT_NUM_HASHES,
    band_size: int = DEFAULT_BAND_SIZE,
    bucket_cap: int | None = DEFAULT_BUCKET_CAP,
    hash_fn: str = "xxhash64",
) -> tuple[DataFrame, DataFrame]:
    """The stored corpus side of incremental dedup: ``(buckets,
    sets)`` — the (doc_id, band, bucket) LSH probe keys and the per-doc
    shingle arrays the jaccard verify intersects against.

    This pair IS the append-only state a production ingest maintains:
    both relations are keyed by doc_id, written once when a document is
    admitted and never updated, so "dedup today's crawl against the
    corpus" costs O(batch), not O(corpus). ``bucket_cap`` thins
    oversized buckets to their cap smallest doc_ids at state-build time
    (the ``incremental_minhash_dedup`` recall trade, applied once
    instead of per probe).

    Both relations are stored, so probing them re-runs no corpus work:
    the sets are a projection of the stored per-doc state (one
    tokenization, ``minhash_near_dup_pairs``), the uncapped buckets a
    row-local one over it, and thinned buckets are stored themselves.
    """
    state = _minhash_doc_state(corpus_docs, text_col, n, num_hashes, hash_fn)
    buckets = band_buckets(state, num_hashes, band_size, hash_fn)
    if bucket_cap is not None:
        buckets = durable_checkpoint(_thin_buckets(buckets, bucket_cap))
    return buckets, state.select("doc_id", "_set")


def probe_dedup_state(
    batch_docs: DataFrame,
    corpus_buckets: DataFrame,
    corpus_sets: DataFrame,
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = DEFAULT_NUM_HASHES,
    band_size: int = DEFAULT_BAND_SIZE,
    threshold: float = 0.8,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Probe a batch of new documents against prebuilt corpus dedup
    state (``dedup_corpus_state``): per MATCHED batch doc, the same
    audit row as ``incremental_minhash_dedup`` — ``batch_doc``,
    ``n_matches``, ``first_match``, ``max_jaccard_nanos``.

    Built for the micro-batch path (``streaming.features.
    stream_incremental_dedup`` calls it inside ``foreachBatch``): every
    step is batch-sized except the two joins against the stored
    corpus relations, and since each document's verdict depends only on
    itself and the STATIC corpus, per-micro-batch evaluation is exact —
    no cross-batch streaming state at all. Signatures/buckets must use
    the same ``num_hashes``/``band_size``/``hash_fn`` the state was
    built with (as with ``lsh_candidate_pairs``).
    """
    state = _minhash_doc_state(batch_docs, text_col, n, num_hashes, hash_fn)
    return _probe_buckets(
        corpus_buckets,
        band_buckets(state, num_hashes, band_size, hash_fn),
        corpus_sets,
        state,
        threshold,
    )


def containment_pairs(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.9,
    max_df: int | None = DEFAULT_MAX_DF,
) -> DataFrame:
    """Near-CONTAINMENT pairs: c(A,B) = |A∩B| / min(|A|,|B|) ≥ t over
    n-gram shingle sets — the doc-inside-doc signal (quotes, aggregator
    pages, chunk-of-a-larger-doc) that symmetric jaccard structurally
    misses: a 50-shingle doc fully embedded in a 5000-shingle doc has
    jaccard ≈ 0.01 but containment 1.0, and MinHash-LSH (a jaccard
    estimator) won't surface it either — containment needs its own
    candidate generation.

    Candidate prune — the AllPairs prefix theorem specialized to the
    asymmetric score: c ≥ t means the SMALLER set shares ≥ ceil(t·n_s)
    of its elements, so it cannot avoid its own rarest-first prefix of
    n_s − ceil(t·n_s) + 1 entries; the larger set has NO length or
    prefix constraint (any size ratio qualifies — that is the point).
    So the inverted-index join is smaller-side PREFIXES against
    larger-side FULL postings, with the positional bound
    (n_s − r_s) + 1 ≥ ceil(t·n_s) on the first collision. Verify is the
    row-local broadcast ``array_intersect`` (d05's discipline — no
    candidate-keyed aggregate).

    ``max_df`` restricts the shingle universe to document frequency ≤
    cap, and HERE the cap is part of the REGISTERED semantics, not just
    a production knob: the larger side keeps full (unprefixed) posting
    lists, so an uncapped universe pays O(df) join rows per posting and
    a boilerplate shingle re-creates the quadratic wall the jaccard
    prefix filter escapes via its length bound — which containment, by
    definition, does not have. Sizes and intersections both compute
    over the SAME capped universe, so the score is a well-defined
    containment of stop-filtered shingle sets (also statistically the
    right universe for the signal: ultra-common shingles carry no
    containment evidence). ``max_df=None`` exists for small-corpus
    exactness checks only.
    """
    t = float(threshold)
    posting = _rarest_first_postings(shingles(docs, text_col, n), max_df)
    prefix = posting.filter(
        (F.col("_rn") <= F.col("n") - F.ceil(F.lit(t) * F.col("n")) + 1)
        # positional bound on the smaller side's first collision slot
        & (F.col("n") - F.col("_rn") + 1 >= F.ceil(F.lit(t) * F.col("n")))
    ).select(
        F.col("doc_id").alias("doc_s"),
        F.col("n").alias("n_s"),
        "shingle",
    )
    full = posting.select(
        F.col("doc_id").alias("doc_l"), F.col("n").alias("n_l"), "shingle"
    )
    cand = (
        prefix.join(full, "shingle")
        .filter((F.col("doc_s") != F.col("doc_l")) & (F.col("n_s") <= F.col("n_l")))
        .select(
            F.least("doc_s", "doc_l").alias("doc_a"),
            F.greatest("doc_s", "doc_l").alias("doc_b"),
        )
        .distinct()
    )
    doc_sets = _doc_sets(posting)
    n_inter = F.size(F.array_intersect("_sa", "_sb"))
    return (
        _with_sets(cand, doc_sets, doc_sets, broadcast=True)
        .select(
            "doc_a",
            "doc_b",
            n_inter.cast("long").alias("n_inter"),
            (
                n_inter.cast("double")
                / F.least(F.size("_sa"), F.size("_sb"))
            ).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


def crossdoc_span_removal(
    docs: DataFrame,
    text_col: str = "text",
    k: int = 8,
    gram_key: str = "raw",
) -> DataFrame:
    """Cross-document exact-substring REMOVAL — the actual dedup
    TRANSFORM of Lee et al. (arXiv:2107.06499), completing d17 (which
    only measures the duplicated-window rate) and t17 (which removes
    only within-doc spans): every k-token window whose gram also occurs
    in a document with a SMALLER doc_id is a duplicated occurrence, the
    tokens it covers are excised, and each document is reassembled from
    its surviving tokens in order. First-occurrence-wins is defined
    deterministically: the corpus-minimum doc_id containing a gram
    keeps ALL its occurrences (within-doc repeats included — those are
    t17's business); every later document loses every token covered by
    that gram. A token survives iff NO flagged window starting in
    ``[q-k+1, q]`` covers it.

    Per-doc audit output (one row per doc with ≥1 token), every column
    a PURE BOUNDED AGGREGATE (the t17/d10 oracle discipline — neither
    engine materializes reassembled text):
    ``n_tokens``, ``n_removed``, ``n_kept``,
    ``kept_len`` = sum(len(kept token)) + n_kept − 1 (the length of
    the space-joined reassembly, NULL when nothing survives), and
    ``kept_sig`` = Σ new_idx · hash32(token) over survivors (new_idx =
    1-based position in the REASSEMBLED doc), order/content-sensitive
    w.h.p. with per-doc-bounded int64 state.

    Spark-first shape, three skinny linear shuffles, nothing quadratic:
    (1) window grams are assembled ROW-LOCALLY (the d17 Generate-node
    trick) into (doc_id, start_pos, gram) and the corpus-minimum owner
    per gram is a ``min(doc_id) over (partition by gram)`` window —
    one exchange on gram, no self-join; a boilerplate gram shared by m
    docs costs m rows in one partition, linear, never m²;
    (2) flagged starts equi-join back to the posexploded token relation
    on (doc_id, pos) — both sides uniform in doc position;
    (3) one per-doc sort window computes coverage (``max(flag)`` over
    the trailing k−1 starts) AND the running kept index in the same
    partitioning, then a map-side-combining per-doc rollup.
    Work is O(total tokens + total windows) at any corpus size.

    ``gram_key``: ``"raw"`` (default, the oracle configuration)
    shuffles the gram STRING — exact, engine-portable; ``"xxhash64"``
    shuffles the 64-bit gram hash instead — ~k·8 bytes less per wire
    row at 100 TB, with ~n²/2⁶⁴ collision odds that only ever
    OVER-remove (two distinct grams colliding merge their doc sets),
    the same trade d17 documents.
    """
    st = crossdoc_kept_tokens(docs, text_col=text_col, k=k, gram_key=gram_key)
    hash32 = F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long")
    kept = F.col("covered") == 0
    n_kept = F.sum(F.when(kept, 1).otherwise(0))
    return (
        st.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum("covered").cast("long").alias("n_removed"),
            n_kept.cast("long").alias("n_kept"),
            F.sum(F.when(kept, F.length("tok").cast("long"))).alias(
                "_kept_chars"
            ),
            F.sum(F.when(kept, F.col("rn_kept") * hash32)).alias("_sig"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_removed",
            "n_kept",
            F.when(F.col("n_kept") > 0, F.col("_kept_chars") + F.col("n_kept") - 1)
            .cast("long")
            .alias("kept_len"),
            F.when(F.col("n_kept") > 0, F.col("_sig"))
            .cast("long")
            .alias("kept_sig"),
        )
    )


def crossdoc_kept_tokens(
    docs: DataFrame,
    text_col: str = "text",
    k: int = 8,
    gram_key: str = "raw",
) -> DataFrame:
    """The span-removal TOKEN relation behind ``crossdoc_span_removal``
    (which aggregates it to the registered per-doc audit), exposed so
    composed pipelines (p06) can keep processing the surviving tokens:
    one row per input token — ``(doc_id, q, tok, covered, rn_kept)``
    with ``q`` the 1-based original position, ``covered`` the excision
    flag, and ``rn_kept`` the 1-based position in the reassembled doc
    (only meaningful on survivor rows). Plan shape and scale notes are
    documented on ``crossdoc_span_removal``."""
    toks = _token_arrays(docs, text_col, "w").filter(F.size("w") > 0)

    # (1) gram starts, row-locally assembled; corpus-min owner per gram
    occ = toks.selectExpr(
        "doc_id", f"posexplode({_word_grams('w', k)}) AS (p0, gram)"
    ).select("doc_id", (F.col("p0") + 1).alias("p"), "gram")
    gw = Window.partitionBy("gram")
    flagged = (
        _gram_key(occ, gram_key)
        .withColumn("min_doc", F.min("doc_id").over(gw))
        .filter(F.col("min_doc") < F.col("doc_id"))
        .select("doc_id", F.col("p").alias("q"))
        .distinct()  # within-doc repeated grams flag one start once
        .withColumn("start_flag", F.lit(1))
    )

    # (2) token relation joined to flagged starts on (doc_id, pos)
    tok = toks.select(
        "doc_id", F.posexplode("w").alias("q0", "tok")
    ).select("doc_id", (F.col("q0") + 1).alias("q"), "tok")
    st = tok.join(flagged, ["doc_id", "q"], "left").withColumn(
        "start_flag", F.coalesce("start_flag", F.lit(0))
    )

    # (3) trailing-window coverage + running kept index, per-doc rollup
    dw = Window.partitionBy("doc_id").orderBy("q")
    covered = F.max("start_flag").over(dw.rowsBetween(-(k - 1), 0))
    return st.withColumn("covered", covered).withColumn(
        "rn_kept",
        F.sum(1 - F.col("covered")).over(
            dw.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )


#: 2⁶³ and 2⁶³−1 as DECIMAL literals (BD suffix): both exceed int64,
#: so they cannot ride F.lit
_P63 = "9223372036854775808BD"
_P63M1 = "9223372036854775807BD"


def argmax_pack(value: str, id_col: str) -> Column:
    """``value·2⁶³ + (2⁶³−1−id)`` as one DECIMAL(38,0): its ``max`` over
    a group encodes argmax(value, tie → smaller id).

    The pack is strictly monotone in (value asc, id desc) for any long
    value and any id ≥ 0, and stays below ~8.6·10³⁷ < 10³⁸. A decimal
    buffer is mutable, so the aggregate plans as HashAggregate with
    map-side partials; ``max(struct(value, −id))`` forces SortAggregate.
    A negative id would overlap the next value's range and pick a wrong
    id, so it raises instead.
    """
    v, i = ident(value), ident(id_col)
    return F.expr(
        f"CAST({v} AS DECIMAL(20,0)) * {_P63} + ({_P63M1} - CAST(IF({i} < 0,"
        f" raise_error(concat('argmax_pack: negative id ', CAST({i} AS STRING))),"
        f" {i}) AS DECIMAL(20,0)))"
    )


def argmax_unpack(pack: str, value_max: str) -> Column:
    """The id inside ``max`` of :func:`argmax_pack`, given the group's
    ``max`` value: ``2⁶³−1 − (pack − value_max·2⁶³)``, exact in decimal."""
    return F.expr(
        f"CAST({_P63M1} - ({ident(pack)} - CAST({ident(value_max)}"
        f" AS DECIMAL(20,0)) * {_P63}) AS BIGINT)"
    )


def quality_keeper_audit(
    groups: DataFrame,
    docs: DataFrame,
    quality_col: str = "n_chars",
    id_col: str = "doc_id",
) -> DataFrame:
    """Keeper-by-QUALITY selection over a ``(doc_id, group_id)``
    closure relation — what production dedup actually ships:
    :func:`near_dup_groups` labels every group by its min doc_id
    (the hash-min invariant the closure needs), but the member a
    pipeline KEEPS should be the best one, not the first one. This
    pass picks argmax(quality, tie → smaller id) per group and emits
    one bounded audit row: ``(group_id, n_docs, keeper_id,
    keeper_quality, drop_sig)`` where drop_sig is the closure_audit
    int64 mixer summed over exactly the DROPPED members — the
    reproducible kill-list checksum a curation run logs.

    Scale shape: one equi-join of the closure relation onto the docs'
    quality column (id-keyed, co-partitionable) and ONE groupBy with
    map-side partials; drop_sig is derived as (Σ mixer over ALL
    members) − mixer(keeper) after the aggregate, exact in int64.
    State is O(#groups) end to end.

    Argmax encoding: for integral quality columns the argmax travels
    as ``max`` of :func:`argmax_pack` (HashAggregate, no sort; a
    negative doc_id raises). Non-integral quality columns keep the
    exact struct form (a decimal cast would truncate).
    """
    q = groups.join(
        docs.select(F.col(id_col).alias("doc_id"), quality_col), "doc_id"
    )
    mix = _member_mix(F.col("doc_id"))
    integral = dict(q.dtypes).get(quality_col) in (
        "tinyint",
        "smallint",
        "int",
        "bigint",
    )
    if integral:
        agg = q.groupBy("group_id").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.max(F.col(quality_col)).alias("_bq"),
            F.max(argmax_pack(quality_col, "doc_id")).alias("_bp"),
            F.sum(mix).alias("_sig_all"),
        )
        keeper_id = argmax_unpack("_bp", "_bq")
        keeper_q = F.col("_bq")
    else:
        best = F.max(
            F.struct(
                F.col(quality_col).alias("q"), (-F.col("doc_id")).alias("nid")
            )
        )
        agg = q.groupBy("group_id").agg(
            F.count(F.lit(1)).alias("n_docs"),
            best.alias("_best"),
            F.sum(mix).alias("_sig_all"),
        )
        keeper_id = -F.col("_best.nid")
        keeper_q = F.col("_best.q")
    return agg.select(
        "group_id",
        "n_docs",
        keeper_id.cast("long").alias("keeper_id"),
        keeper_q.cast("long").alias("keeper_quality"),
        (F.col("_sig_all") - _member_mix(keeper_id)).cast("long").alias("drop_sig"),
    )
