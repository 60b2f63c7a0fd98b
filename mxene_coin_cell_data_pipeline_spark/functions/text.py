"""Text-analysis operators for large-scale corpus pipelines.

All JVM-side (regexp + arithmetic inside whole-stage codegen): no UDFs,
so they scale linearly with input and survive 100 TB partitioning
untouched. Tokenization is a fixed public contract
(``[a-z0-9]+`` over lowercased text) shared by the dedup operators so
fingerprints and shingles agree across the engine.
"""

from __future__ import annotations

import sys

from pyspark.sql import Column, DataFrame, Window, functions as F

from .._serde import register_self
from ..operators._sql import ident, string

# t23's BPE kernel closes over module functions — workers must be able
# to re-import this module off-cwd (the SKILL.md serde gotcha)
register_self(sys.modules[__name__])

TOKEN_RE = "[a-z0-9]+"

# tiny public stopword lists for the language-ID heuristic
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "it"],
    "es": ["el", "la", "de", "que", "los", "las", "una", "por"],
    "fr": ["le", "la", "les", "des", "est", "dans", "une", "pour"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit"],
}


def tokenize(col: Column) -> Column:
    """Lowercased word tokens (array<string>)."""
    return F.regexp_extract_all(F.lower(col), F.lit(TOKEN_RE), 0)


def _tokenize_sql(name: str) -> str:
    """``tokenize`` of the column ``name``, as SQL text."""
    return f"regexp_extract_all(lower({ident(name)}), {string(TOKEN_RE)}, 0)"


def token_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-doc token counting: n_tokens, n_chars, avg token length,
    punctuation count (north-star 'token counting' op)."""
    toks = tokenize(F.col(text_col))
    n_tokens = F.size(toks)
    total_len = F.aggregate(
        toks, F.lit(0), lambda acc, t: acc + F.length(t)
    )
    return docs.select(
        "doc_id",
        F.length(text_col).alias("n_chars_actual"),
        n_tokens.alias("n_tokens"),
        F.when(n_tokens > 0, total_len.cast("double") / n_tokens).alias(
            "avg_token_len"
        ),
        F.size(F.regexp_extract_all(F.col(text_col), F.lit(r"[.,;:!?]"), 0)).alias(
            "n_punct"
        ),
    )


def quality_score(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic doc-quality components + composite score
    (length / punctuation / stopword ratios — north-star 'quality
    scoring')."""
    toks = tokenize(F.col(text_col))
    n_tokens = F.size(toks).cast("double")
    stop_re = r"\b(" + "|".join(LANG_MARKERS["en"]) + r")\b"
    n_stop = F.size(F.regexp_extract_all(F.lower(text_col), F.lit(stop_re), 0)).cast(
        "double"
    )
    n_punct = F.size(
        F.regexp_extract_all(F.col(text_col), F.lit(r"[.,;:!?]"), 0)
    ).cast("double")
    n_chars = F.length(text_col).cast("double")
    stop_ratio = F.when(n_tokens > 0, n_stop / n_tokens).otherwise(F.lit(0.0))
    punct_ratio = F.when(n_chars > 0, n_punct / n_chars).otherwise(F.lit(0.0))
    len_score = F.least(n_chars / F.lit(500.0), F.lit(1.0))
    score = 0.5 * len_score + 0.3 * (1.0 - punct_ratio) + 0.2 * stop_ratio
    return docs.select(
        "doc_id",
        stop_ratio.alias("stop_ratio"),
        punct_ratio.alias("punct_ratio"),
        len_score.alias("len_score"),
        score.alias("quality"),
    )


def language_id(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """n-gram/stopword language-ID heuristic: count marker hits per
    language, pick the argmax (deterministic tie order en,es,fr,de;
    'und' = no hits)."""
    lowered = F.lower(F.col(text_col))
    hits = {
        lang: F.size(
            F.regexp_extract_all(
                lowered, F.lit(r"\b(" + "|".join(words) + r")\b"), 0
            )
        )
        for lang, words in LANG_MARKERS.items()
    }
    best = F.greatest(*hits.values())
    guess = F.when(best == 0, F.lit("und"))
    for lang in LANG_MARKERS:  # insertion order = tie priority
        guess = guess.when(hits[lang] == best, F.lit(lang))
    out = docs.select(
        "doc_id",
        *[hits[lang].alias(f"hits_{lang}") for lang in LANG_MARKERS],
        guess.alias("lang_guess"),
    )
    return out


def fingerprint(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministic document fingerprint: md5 over the normalized
    token stream (whitespace/case/punct-insensitive)."""
    normalized = F.array_join(tokenize(F.col(text_col)), " ")
    return docs.select(
        "doc_id",
        F.md5(normalized).alias("fp"),
        F.length(normalized).alias("norm_len"),
    )


def top_bigrams(docs: DataFrame, text_col: str = "text", k: int = 50) -> DataFrame:
    """Top-k corpus bigrams: ``(bigram, n)``, count-desc with a bigram
    tie-break (total order — deterministic top-k).

    Bigrams are formed JVM-side with array higher-order functions —
    ``zip_with(slice(w, 1, n-1), slice(w, 2, n-1), concat)`` — so the
    whole pipeline (tokenize → pair → explode → count → top-k) stays in
    whole-stage codegen with one shuffle (the count) and a
    TakeOrderedAndProject for the limit, never a global sort. Linear in
    corpus size at any scale; k bounds driver output.
    """
    w = tokenize(F.col(text_col))
    n1 = F.greatest(F.size(w) - 1, F.lit(0))  # 0/1-token docs → no bigrams
    pairs = F.zip_with(
        F.slice(w, 1, n1), F.slice(w, 2, n1), lambda a, b: F.concat_ws(" ", a, b)
    )
    return (
        docs.select(F.explode(pairs).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("bigram"))
        .limit(k)
    )


def tfidf_top_terms(
    docs: DataFrame, text_col: str = "text", k: int = 3
) -> DataFrame:
    """Top-k TF-IDF terms per document: ``(doc_id, term, tf, df,
    tfidf, rank)``.

    Classic smooth-idf weighting: ``tf · ln((1+N)/(1+df))`` with raw
    term counts. Plan: one explode + (doc, term) count (shuffle 1),
    document frequency by term (shuffle 2), N as a broadcast scalar
    subquery via a cross join of a 1-row aggregate, window top-k per
    doc. All built-in expressions — codegen end to end, linear in
    corpus size.
    """
    from pyspark.sql import Window

    toks = docs.select(
        "doc_id", F.explode(tokenize(F.col(text_col))).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.countDistinct("doc_id").alias("_n"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.col("tf")
            * F.log((1 + F.col("_n")) / (1 + F.col("df")).cast("double")),
        )
        .drop("_n")
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tfidf"), F.asc("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("doc_id", "term", "tf", "df", "tfidf", "rank")
    )


def winnow_fingerprints(
    docs: DataFrame,
    k: int = 8,
    w: int = 4,
    text_col: str = "text",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken's
    rolling-hash local fingerprinting, the MOSS algorithm): hash every
    k-char gram of the normalized text, slide a w-gram window over the
    hash sequence, keep the minimum hash of each window, and dedupe —
    a position-robust fingerprint set guaranteed to share members with
    any document that has a sufficiently long common substring.

    Spark-first formulation: ROW-LOCAL array HOFs — the k-gram hash
    sequence, the per-window minima (``array_min(slice(...))``), the
    dedupe, and the digest are all computed inside whole-stage codegen
    on each document row, so the operator needs ZERO shuffle: no
    per-character explode, no full-corpus redistribution, no per-doc
    sort. (The previous formulation exploded positions to rows and paid
    a window shuffle of one row PER CHARACTER — ~16 bytes/char on the
    wire vs ~1 byte/char for raw text; the rewrite measured 3.4×
    faster at sf0.1 and removes the only exchange.) Work is O(chars·w)
    per doc, memory one long per char transiently — fine through
    multi-100kB docs; for pathological multi-MB single documents the
    bounded-memory fallback is the explode+window form this replaced
    (see git history), same results. Short docs (fewer than w k-grams)
    degrade to a single whole-doc window rather than dropping out.

    Because the operator is now narrow, its parallelism equals the
    scan's. Splittable multi-file layouts parallelize naturally; the
    driver's single-row-group files would run one task, so when the
    incoming partition count is below half the session's shuffle
    parallelism the input is first repartitioned by doc_id — a shuffle
    of raw TEXT (the cheap thing), never of per-char rows, and skipped
    entirely on well-laid-out input.

    Returns one row per surviving doc: ``n_fp`` distinct fingerprints
    and an order-canonical ``fp_digest`` (md5 of the ascending
    fingerprint list) usable as a cheap whole-set equality key.

    ``hash_fn``: ``xxhash64`` (default — JVM-native 64-bit hash, the
    production path; one k-gram hash is a few ns) or ``md5`` (32-bit
    prefix via hex → long; ~10× slower but byte-identical in any
    engine with md5 — the oracle/parity configuration).
    """
    from ..sources.tables import scale_out

    norm = F.array_join(tokenize(F.col(text_col)), " ")
    base = scale_out(
        docs.select("doc_id", norm.alias("_t")).filter(F.length("_t") >= k),
        "doc_id",
    )
    if hash_fn == "xxhash64":
        hexpr = f"xxhash64(substring(_t, i, {k}))"
    elif hash_fn == "md5":
        hexpr = (
            f"cast(conv(substr(md5(substring(_t, i, {k})), 1, 8), 16, 10)"
            " as bigint)"
        )
    else:
        raise ValueError(f"unknown hash_fn: {hash_fn}")
    hs = F.expr(f"transform(sequence(1, length(_t) - {k - 1}), i -> {hexpr})")
    b = base.select("doc_id", hs.alias("_hs"))
    mins = F.expr(
        f"transform(sequence(1, greatest(size(_hs) - {w - 1}, 1)),"
        f" i -> array_min(slice(_hs, i, {w})))"
    )
    fps = F.array_distinct(mins)
    return b.select(
        "doc_id",
        F.size(fps).alias("n_fp"),
        F.md5(
            F.array_join(F.sort_array(fps).cast("array<string>"), ",")
        ).alias("fp_digest"),
    )


def repetition_metrics(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition screens per document: duplicate-n-gram
    fractions and the top-bigram character fraction (the filters used to
    drop boilerplate/spammy docs from LM training corpora).

    The duplicate-{2,3}-gram fractions are ROW-LOCAL — n-gram arrays are
    built with ``zip_with``/``slice`` higher-order functions and compared
    via ``array_distinct``, all inside whole-stage codegen, so that part
    needs no shuffle at any scale. Only the per-doc top bigram (a mode,
    which array HOFs cannot express without a map accumulator) pays one
    explode + groupBy + window on ``doc_id``.

    Output: ``doc_id, n_words, dup_2gram_frac, dup_3gram_frac,
    top_bigram, top_bigram_n, top_bigram_char_frac`` (fractions NULL when
    the doc is too short to have the n-gram; char fraction uses the
    normalized token stream, ties broken by bigram text asc).
    """
    from pyspark.sql import Window

    # NULL text behaves as empty (size(NULL) is -1 non-ANSI / NULL ANSI —
    # neither is a word count)
    w = tokenize(F.coalesce(F.col(text_col), F.lit("")))
    n = F.size(w)
    n1 = F.greatest(n - 1, F.lit(0))
    n2 = F.greatest(n - 2, F.lit(0))
    bg = F.zip_with(
        F.slice(w, 1, n1), F.slice(w, 2, n1), lambda a, b: F.concat_ws(" ", a, b)
    )
    tg = F.zip_with(
        F.slice(bg, 1, n2), F.slice(w, 3, n2), lambda p, c: F.concat_ws(" ", p, c)
    )
    from ..sources.tables import scale_out

    # the n-gram arrays + distinct-counting are heavy NARROW work —
    # rebalance a parallelism-starved scan first (identity on
    # splittable layouts; see sources.tables.scale_out)
    base = scale_out(docs.select("doc_id", text_col), "doc_id").select(
        "doc_id",
        n.alias("n_words"),
        F.length(F.array_join(w, " ")).alias("_n_chars"),
        bg.alias("_bg"),
        tg.alias("_tg"),
    )

    def _dup_frac(arr):
        return F.when(
            F.size(arr) > 0,
            F.lit(1.0)
            - F.size(F.array_distinct(arr)).cast("double")
            / F.size(arr).cast("double"),
        )

    rowstats = base.select(
        "doc_id",
        "n_words",
        "_n_chars",
        _dup_frac(F.col("_bg")).alias("dup_2gram_frac"),
        _dup_frac(F.col("_tg")).alias("dup_3gram_frac"),
    )
    # mode = min_by on the (−count, bigram) composite key: the second
    # doc_id aggregate replaces a window rank, so no per-partition sort —
    # both shuffles stay pure hash aggregates with map-side partials
    counts = (
        base.select("doc_id", F.explode("_bg").alias("top_bigram"))
        .groupBy("doc_id", "top_bigram")
        .agg(F.count(F.lit(1)).alias("top_bigram_n"))
    )
    top = (
        counts.groupBy("doc_id")
        .agg(
            F.min_by(
                F.struct("top_bigram", "top_bigram_n"),
                F.struct(
                    (-F.col("top_bigram_n")).alias("k1"),
                    F.col("top_bigram").alias("k2"),
                ),
            ).alias("_t")
        )
        .select("doc_id", "_t.top_bigram", "_t.top_bigram_n")
    )
    return (
        rowstats.join(top, "doc_id", "left")
        .select(
            "doc_id",
            "n_words",
            "dup_2gram_frac",
            "dup_3gram_frac",
            "top_bigram",
            "top_bigram_n",
            F.when(
                F.col("_n_chars") > 0,
                F.col("top_bigram_n")
                * F.length("top_bigram")
                / F.col("_n_chars").cast("double"),
            ).alias("top_bigram_char_frac"),
        )
    )


# Redaction patterns are a fixed public contract (RE2-compatible so the
# same regexes run on any engine auditing the scrub).
PII_PATTERNS: dict[str, str] = {
    "email": r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}",
    "phone": r"\b555-[0-9]{4}\b",
}


def redact_pii(
    docs: DataFrame, text_col: str = "text", patterns: dict[str, str] | None = None
) -> DataFrame:
    """PII scrub + audit: count matches of each pattern on the ORIGINAL
    text, then replace every occurrence with a ``<NAME>`` token,
    applying patterns in dict order. Pure ``regexp_extract_all`` /
    ``regexp_replace`` — JVM codegen, no shuffle, linear at any scale.

    Output: ``doc_id, n_<pattern>..., redacted_len, redacted_fp`` (md5
    of the scrubbed text — lets an auditor verify the scrub without the
    engine ever emitting the original).
    """
    patterns = PII_PATTERNS if patterns is None else patterns
    counts = [
        F.size(F.regexp_extract_all(F.col(text_col), F.lit(pat), 0)).alias(f"n_{name}")
        for name, pat in patterns.items()
    ]
    red = F.col(text_col)
    for name, pat in patterns.items():
        red = F.regexp_replace(red, pat, f"<{name.upper()}>")
    return docs.select(
        "doc_id",
        *counts,
        F.length(red).alias("redacted_len"),
        F.md5(red).alias("redacted_fp"),
    )


def curation_funnel(
    docs: DataFrame,
    text_col: str = "text",
    lang: str = "en",
    min_quality: float = 0.5,
    min_tokens: int = 5,
) -> DataFrame:
    """C4/CCNet-style curation funnel in one pass: language filter →
    quality filter → length filter → exact near-dup (normalized-token
    fingerprint, keep-first), emitting every document with the FIRST
    stage that dropped it (``kept`` for survivors) — the per-doc audit
    trail a training-data pipeline keeps so filters can be tuned
    without re-running upstream stages.

    Scale shape: every stage is row-local (regexp + arithmetic in one
    projection, ONE scan — not a join of the four standalone
    operators); the only shuffle is the keep-first ranking over the
    fingerprint, and only documents surviving the cheap filters enter
    it — so the exchange shrinks with filter selectivity, exactly how
    production curation orders its stages (cheap row-local screens
    before the expensive global dedup).
    """
    # NULL text is an empty document, NOT Spark's size(NULL) = -1
    # (which would leak engine-specific NULL semantics into the stage
    # decision — DuckDB keeps NULL through the same expressions)
    txt = F.coalesce(F.col(text_col), F.lit(""))
    toks = tokenize(txt)
    n_tokens = F.size(toks)
    n_chars = F.length(txt).cast("double")
    stop_re = r"\b(" + "|".join(LANG_MARKERS[lang]) + r")\b"
    n_stop = F.size(
        F.regexp_extract_all(F.lower(txt), F.lit(stop_re), 0)
    ).cast("double")
    n_punct = F.size(
        F.regexp_extract_all(txt, F.lit(r"[.,;:!?]"), 0)
    ).cast("double")
    stop_ratio = F.when(n_tokens.cast("double") > 0, n_stop / n_tokens).otherwise(
        F.lit(0.0)
    )
    punct_ratio = F.when(n_chars > 0, n_punct / n_chars).otherwise(F.lit(0.0))
    len_score = F.least(n_chars / F.lit(500.0), F.lit(1.0))
    quality = 0.5 * len_score + 0.3 * (1.0 - punct_ratio) + 0.2 * stop_ratio

    lowered = F.lower(txt)
    hits = {
        lg: F.size(
            F.regexp_extract_all(lowered, F.lit(r"\b(" + "|".join(w) + r")\b"), 0)
        )
        for lg, w in LANG_MARKERS.items()
    }
    best = F.greatest(*hits.values())
    guess = F.when(best == 0, F.lit("und"))
    for lg in LANG_MARKERS:  # insertion order = tie priority
        guess = guess.when(hits[lg] == best, F.lit(lg))

    base = docs.select(
        "doc_id",
        guess.alias("lang_guess"),
        n_tokens.alias("n_tokens"),
        # quality is deterministic per row (one IEEE expression over
        # exact counts) so the threshold compare needs no tolerance;
        # the EMITTED column rounds at 9dp for cross-engine hashing
        quality.alias("_q"),
        F.md5(F.array_join(toks, " ")).alias("_fp"),
    )
    survivor = (
        (F.col("lang_guess") == lang)
        & (F.col("_q") >= min_quality)
        & (F.col("n_tokens") >= min_tokens)
    )
    # rank ONLY survivor rows (dedup competes among documents that
    # passed the cheap filters) WITHOUT a second scan: the survivor
    # rank is a conditional running count over the fingerprint bucket,
    # and the keeper is the bucket's min survivor id — one scan, one
    # fp exchange, two window frames sharing the same sort. (The
    # filter-then-self-join alternative shuffles fewer rows but scans
    # the corpus twice — at 100 TB one scan wins.)
    w_ord = (
        Window.partitionBy("_fp")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("_fp")
    surv_one = F.when(survivor, 1).otherwise(0)
    ranked = base.select(
        "*",
        F.when(survivor, F.sum(surv_one).over(w_ord)).alias("_rn"),
        F.min(F.when(survivor, F.col("doc_id"))).over(w_all).alias("_keeper"),
    )
    stage = (
        F.when(F.col("lang_guess") != lang, F.lit("lang"))
        .when(F.col("_q") < min_quality, F.lit("quality"))
        .when(F.col("n_tokens") < min_tokens, F.lit("length"))
        .when(F.col("_rn") > 1, F.lit("duplicate"))
        .otherwise(F.lit("kept"))
    )
    return ranked.select(
        "doc_id",
        "lang_guess",
        "n_tokens",
        F.round(F.col("_q"), 9).alias("quality"),
        stage.alias("stage"),
        F.when(F.col("_rn") > 1, F.col("_keeper")).alias("kept_as"),
    )


def hashed_features(
    docs: DataFrame,
    n_dims: int = 256,
    text_col: str = "text",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Signed hashed bag-of-words (the hashing-trick vectorizer):
    tokens hash to a fixed ``n_dims`` index space, a second salted
    hash gives the collision-debiasing sign, per-(doc, index) signed
    counts aggregate to sparse weights, zero-sum collision cells drop.
    Fixed dimensionality with NO vocabulary table to build, broadcast,
    or keep consistent across corpus versions — one (doc, index)
    aggregate is the whole plan.

    ``hash_fn`` (t07's discipline): ``xxhash64`` (default) keys the
    index and sign hashes off seeded JVM xxhash64 — the production
    path, no hex materialization per token; ``md5`` reproduces the
    engine-portable feature space byte-for-byte in any engine with md5
    (the t11 oracle configuration, via ``sampling.hash_bucket``).
    Either way the feature space is deterministic across runs,
    partitionings, and corpus growth; only cross-ENGINE replay needs
    md5.
    """
    from .sampling import hash_bucket

    toks = docs.select("doc_id", F.explode(tokenize(F.col(text_col))).alias("tok"))
    if hash_fn == "xxhash64":
        idx = F.pmod(F.xxhash64(F.col("tok")), F.lit(n_dims))
        sign_bit = F.pmod(F.xxhash64(F.lit(1).cast("long"), F.col("tok")), F.lit(2))
    elif hash_fn == "md5":
        idx = hash_bucket(F.col("tok"), n_buckets=n_dims)
        sign_bit = hash_bucket(F.col("tok"), n_buckets=2, salt="s|")
    else:
        raise ValueError(f"unknown hash_fn: {hash_fn}")
    sign = F.when(sign_bit == 0, F.lit(1)).otherwise(F.lit(-1))
    return (
        toks.select("doc_id", idx.alias("feat_idx"), sign.alias("sign"))
        .groupBy("doc_id", "feat_idx")
        .agg(F.sum("sign").alias("weight"), F.count(F.lit(1)).alias("n_tokens"))
        .filter(F.col("weight") != 0)
    )


def bpe_top_merges(docs: DataFrame, text_col: str = "text", k: int = 20) -> DataFrame:
    """One BPE merge-selection iteration at corpus scale: the
    frequency-weighted counts of adjacent SYMBOL pairs over the word
    vocabulary — exactly the statistic byte-pair-encoding tokenizer
    training maximizes each round (Sennrich et al., arXiv:1508.07909).
    Words start as character sequences closed by the ``</w>``
    end-of-word marker, so the pair universe on round one is the 2-char
    substrings of each word plus the (last char, ``</w>``) pair; the
    top pair is the merge a trainer would apply. Returns the top-``k``
    merges: (rank, pair, n_total), ordered by weighted count desc then
    pair asc — a deterministic set under ties.

    Scale design — the reason BPE training is feasible on 100 TB at
    all: the ONLY corpus-sized pass is the word-frequency aggregate
    (one map-side-combining shuffle of raw tokens). Everything after
    operates on the DISTINCT VOCABULARY, which grows ~O(corpusᵝ),
    β≈0.5 (Heaps' law) — pair extraction is a row-local array HOF over
    vocab rows, the pair aggregate shuffles vocab-bounded rows, and the
    top-k is a TakeOrderedAndProject (per-partition partial top-k, no
    global sort). Iterating = re-deriving each word's symbol sequence
    against the merge list accepted so far — every round stays
    vocab-sized; the corpus is never rescanned.
    """
    vocab = (
        docs.select(F.explode(tokenize(F.col(text_col))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n_w"))
    )
    pairs = vocab.select(
        F.explode(
            F.expr(
                "transform(sequence(1, length(w)), i -> "
                "case when i < length(w) then substring(w, i, 2) "
                "else substring(w, i, 1) || '</w>' end)"
            )
        ).alias("pair"),
        "n_w",
    )
    agg = pairs.groupBy("pair").agg(F.sum("n_w").cast("long").alias("n_total"))
    topk = agg.orderBy(F.col("n_total").desc(), "pair").limit(k)
    rw = Window.orderBy(F.col("n_total").desc(), "pair")
    return topk.select(
        F.row_number().over(rw).cast("long").alias("rank"), "pair", "n_total"
    )


def inverted_index(
    docs: DataFrame, text_col: str = "text", top_postings: int = 3
) -> DataFrame:
    """Capped inverted-index build — the write-a-search-index-from-the-
    corpus shape: one row per term with its document frequency ``df``,
    collection frequency ``cf``, and the top-``top_postings`` postings
    by term frequency (ties → smaller doc_id) serialized as a
    ``doc:tf,doc:tf`` string. df/cf are computed over the FULL posting
    list before the cap, so the index header is exact while the stored
    list is bounded — the impact-ordered / static-pruning layout
    search engines actually ship (highest-tf postings first, tail
    truncated).

    Scale design: (token, doc) term frequencies come from one
    map-side-combining aggregate of exploded tokens (the corpus
    shuffle); df/cf/rank are ONE window over the token partitioning —
    a second, vocab×docs-bounded exchange that AQE coalesces — and the
    final per-token rollup reuses that same partitioning (no third
    exchange). Per-token state is the posting list of that token only;
    a stopword appearing in every doc costs m rows in one sort
    partition, linear, and its STORED posting list is still ≤
    ``top_postings``. The serialized string keeps the registered
    output flat and order-canonical; the library consumer would keep
    the struct array.
    """
    tf = (
        docs.select("doc_id", F.explode(tokenize(F.col(text_col))).alias("token"))
        .groupBy("token", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    tw = Window.partitionBy("token")
    rw = Window.partitionBy("token").orderBy(F.col("tf").desc(), "doc_id")
    ann = tf.select(
        "token",
        "doc_id",
        "tf",
        F.count(F.lit(1)).over(tw).alias("df"),
        F.sum("tf").over(tw).alias("cf"),
        F.row_number().over(rw).alias("rn"),
    ).filter(F.col("rn") <= top_postings)
    posting = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("rn", "doc_id", "tf"))),
            lambda s: F.concat_ws(
                ":", s["doc_id"].cast("string"), s["tf"].cast("string")
            ),
        ),
        ",",
    )
    return ann.groupBy("token").agg(
        F.max("df").cast("long").alias("df"),
        F.max("cf").cast("long").alias("cf"),
        posting.alias("postings"),
    )


def bigram_lm_score(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Bigram-LM document scoring with Laplace smoothing — one model
    order up from t10's unigram gate and the cheap stand-in for the
    KenLM/CCNet perplexity filter: the corpus trains its own bigram
    model p(w|prev) = (c(prev,w)+1) / (c(prev)+V) over the adjacent-
    token-pair relation (c(prev) = occurrences as a bigram head, V =
    distinct continuation vocabulary — both derived from the SAME pairs
    relation so the model is self-consistent), and every document
    scores avg(−ln p) over its bigrams. Repetitive boilerplate scores
    low, rare-token noise scores high; curation thresholds both tails.
    Returns (doc_id, n_bigrams, score_neglogp) — docs with <2 tokens
    carry no bigram and drop out.

    Scale design (t10's discipline, one order up): bigram assembly is
    ROW-LOCAL (the explode-barrier token array, adjacent structs — no
    position window); the model tables are Zipf-bounded aggregates of
    the pair stream (bigram types grow ~O(corpus^β), β<1) broadcast
    back onto it, so the only corpus-sized shuffles are the model
    aggregate and the per-doc rollup. Past broadcast reach the model
    join degrades to a hash join on the pair key — same plan shape,
    one more exchange. Score rounds to 1e-9 (values O(1-10)) to absorb
    summation-order and libm ln noise, the t10 contract.
    """
    toks = docs.select(
        "doc_id", F.explode(F.array(tokenize(F.col(text_col)))).alias("toks")
    )
    pair = F.transform(
        F.sequence(F.lit(1), F.size("toks") - 1),
        lambda i: F.struct(
            F.element_at("toks", i).alias("prev"),
            F.element_at("toks", i + 1).alias("cur"),
        ),
    )
    pairs = toks.select(
        "doc_id",
        F.explode(
            F.when(F.size("toks") >= 2, pair).otherwise(
                F.array().cast("array<struct<prev:string,cur:string>>")
            )
        ).alias("p"),
    ).select("doc_id", "p.prev", "p.cur")
    bg = pairs.groupBy("prev", "cur").agg(F.count(F.lit(1)).alias("c2"))
    heads = bg.groupBy("prev").agg(F.sum("c2").alias("c1"))
    v = pairs.agg(F.countDistinct("cur").cast("double").alias("v"))
    p = (F.col("c2") + 1).cast("double") / (
        F.col("c1").cast("double") + F.col("v")
    )
    return (
        pairs.join(F.broadcast(bg), ["prev", "cur"])
        .join(F.broadcast(heads), "prev")
        .join(F.broadcast(v))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.round(F.avg(-F.log(p)), 9).alias("score_neglogp"),
        )
    )


def token_drift_topk(
    docs: DataFrame,
    text_col: str = "text",
    split_col: str = "doc_id",
    split_mod: int = 2,
    k: int = 20,
) -> DataFrame:
    """Token-distribution DRIFT monitor: the top-``k`` tokens by
    smoothed KL-divergence contribution between two corpus splits
    (reference = ``split_col % split_mod == 0``, candidate = the rest).
    Each token scores ``p·ln(p/q)`` with Laplace-smoothed unigram
    probabilities p (reference) and q (candidate) over the SHARED
    vocabulary (V = distinct tokens across both splits, so both
    distributions are defined everywhere and the contribution is
    finite) — the statistic drift dashboards threshold to catch a
    crawl source going off-distribution before it poisons a training
    mix. Positive contributions = tokens over-represented in the
    reference relative to the candidate; the sum over the vocabulary
    would be the (smoothed) KL(p‖q).

    Scale design: ONE corpus-sized pass — the (token, split) counts
    aggregate with map-side combining — then everything operates on
    the vocabulary (Heaps-law sublinear): the scalar totals broadcast
    back as a single row, the per-token score is row-local arithmetic,
    and the top-k is a TakeOrderedAndProject. Returns (rank, token,
    n_ref, n_cand, kl_nano) with the score as exact round(·1e9) int64
    (values O(1e-3); the ln rides the t10 rounding contract).
    """
    toks = docs.select(
        (F.col(split_col) % split_mod == 0).alias("_ref"),
        F.explode(tokenize(F.col(text_col))).alias("token"),
    )
    counts = toks.groupBy("token").agg(
        F.sum(F.when(F.col("_ref"), 1).otherwise(0)).alias("n_ref"),
        F.sum(F.when(F.col("_ref"), 0).otherwise(1)).alias("n_cand"),
    )
    tot = counts.agg(
        F.sum("n_ref").cast("double").alias("_nr"),
        F.sum("n_cand").cast("double").alias("_nc"),
        F.count(F.lit(1)).cast("double").alias("_v"),
    )
    p = (F.col("n_ref") + 1).cast("double") / (F.col("_nr") + F.col("_v"))
    q = (F.col("n_cand") + 1).cast("double") / (F.col("_nc") + F.col("_v"))
    scored = counts.join(F.broadcast(tot)).select(
        "token",
        F.col("n_ref").cast("long").alias("n_ref"),
        F.col("n_cand").cast("long").alias("n_cand"),
        F.round((p * F.log(p / q)) * 1e9).cast("long").alias("kl_nano"),
    )
    topk = scored.orderBy(F.col("kl_nano").desc(), "token").limit(k)
    rw = Window.orderBy(F.col("kl_nano").desc(), "token")
    return topk.select(
        F.row_number().over(rw).cast("long").alias("rank"),
        "token",
        "n_ref",
        "n_cand",
        "kl_nano",
    )


#: Literal BPE merge table (rank order), the t23 contract: a TRAINED
#: tokenizer's merge list is a fixed artifact shipped with the model —
#: the literal here plays that role (the s11 literal-codebook
#: precedent), deliberately including chained merges (s,c → sc,a →
#: sca,n assembles "scan" through three ranks) and rank interactions
#: ((e,r) at rank 0 changes where (o,r) can fire) so the application
#: ORDER is load-bearing, not decorative.
BPE_MERGES: list[tuple[str, str]] = [
    ("e", "r"),
    ("i", "n"),
    ("s", "t"),
    ("o", "w"),
    ("t", "er"),
    ("a", "t"),
    ("o", "r"),
    ("s", "c"),
    ("sc", "a"),
    ("sca", "n"),
    ("r", "ow"),
    ("h", "a"),
]


def bpe_apply_merges(
    word: str, merges: list[tuple[str, str]] | None = None
) -> list[str]:
    """Greedy BPE encode of one word under a rank-ordered merge list:
    start from characters; at each step apply the LOWEST-RANK merge
    present anywhere in the symbol sequence, at its LEFTMOST
    occurrence; stop when no merge applies. Single-step-leftmost-
    minrank is the deterministic semantics all three implementations
    share (this function, the Arrow kernel that calls it, and the
    DuckDB recursive-CTE oracle) — it matches the classic
    apply-merges-in-rank-order encoder wherever merges don't
    self-overlap."""
    if merges is None:
        merges = BPE_MERGES
    syms = list(word)
    while True:
        best: tuple[int, int] | None = None
        for rank, (a, b) in enumerate(merges):
            for i in range(len(syms) - 1):
                if syms[i] == a and syms[i + 1] == b:
                    best = (rank, i)
                    break
            if best:
                break
        if best is None:
            return syms
        rank, i = best
        a, b = merges[rank]
        syms[i : i + 2] = [a + b]


def bpe_encode_vocab(
    vocab: DataFrame, merges: list[tuple[str, str]] | None = None
) -> DataFrame:
    """Arrow-batched BPE encode of a DISTINCT-token relation — the
    word-cache kernel behind ``bpe_encode_corpus``, exposed so composed
    pipelines (p06) encode their own token streams: one input row per
    distinct ``tok``, output (tok, enc '|'-joined, n_syms). O(vocab)
    Python regardless of corpus size; occurrences join back JVM-side."""
    merges_resolved = list(BPE_MERGES if merges is None else merges)

    def enc_batches(it):
        import pandas as pd

        for pdf in it:
            toks_in = list(pdf["tok"])
            encs = [
                "|".join(bpe_apply_merges(t, merges_resolved))
                for t in toks_in
            ]
            yield pd.DataFrame(
                {
                    "tok": toks_in,
                    "enc": encs,
                    "n_syms": [e.count("|") + 1 for e in encs],
                }
            )

    return vocab.mapInPandas(
        enc_batches, schema="tok string, enc string, n_syms int"
    )


def bpe_encode_corpus(
    docs: DataFrame,
    text_col: str = "text",
    merges: list[tuple[str, str]] | None = None,
) -> DataFrame:
    """Corpus BPE encoding under a broadcast merge table — the encode
    stage t15 (pre-tokenization) and t19 (merge-pair counting, i.e.
    training) lead up to: every word of every document is encoded by
    ``bpe_apply_merges`` and the result is audited per doc with
    bounded aggregates (the t17/d10 oracle discipline):
    ``n_words``, ``n_chars`` (Σ len(word)), ``n_bpe_tokens``
    (Σ encoded length — n_chars/n_bpe_tokens IS the compression ratio
    a tokenizer is judged on) and ``bpe_sig`` = Σ word_idx ·
    hash32('|'-joined encoding), order/content-sensitive w.h.p.

    Scale design — the fast-tokenizer word-cache, distributed: the
    Python merge loop runs ONCE PER DISTINCT WORD (an Arrow-batched
    kernel over the deduplicated vocabulary, Heaps-law small — 31
    words in this corpus at ANY scale factor, ≤ O(√tokens) in real
    text), never per occurrence; occurrences join the encoded vocab
    back JVM-side (AQE broadcasts the build side when small) and the
    per-doc rollup is a map-side-combining aggregate. Work:
    O(vocab · word_len²) Python + O(tokens) JVM — the only shape that
    survives 100 TB, where tokens/vocab ≈ 10⁶."""
    from pyspark.sql import Window  # noqa: F401  (parity with siblings)

    merges_resolved = list(BPE_MERGES if merges is None else merges)

    toks = docs.select(
        "doc_id", F.explode(F.array(tokenize(F.col(text_col)))).alias("w")
    ).filter(F.size("w") > 0)
    occ = toks.select(
        "doc_id", F.posexplode("w").alias("i0", "tok")
    ).select("doc_id", (F.col("i0") + 1).alias("widx"), "tok")
    enc = bpe_encode_vocab(occ.select("tok").distinct(), merges_resolved)
    hash32 = F.conv(F.substring(F.md5("enc"), 1, 8), 16, 10).cast("long")
    return (
        occ.join(enc, "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum(F.length("tok")).cast("long").alias("n_chars"),
            F.sum("n_syms").cast("long").alias("n_bpe_tokens"),
            F.sum(F.col("widx") * hash32).cast("long").alias("bpe_sig"),
        )
    )


def apply_one_merge(syms: list[str], a: str, b: str) -> tuple[list[str], int]:
    """Apply ONE merge (a,b) to a symbol sequence at every LEFTMOST
    NON-OVERLAPPING occurrence (one left-to-right pass — the batch
    form a BPE TRAINING round uses, vs encode's single-step loop).
    Returns (new symbols, replacements made). For a != b the two
    forms coincide exactly; for a == b runs, the left-to-right pass
    takes every other position — the same result the single-step
    leftmost loop converges to."""
    out: list[str] = []
    i = 0
    n = 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
            out.append(a + b)
            i += 2
            n += 1
        else:
            out.append(syms[i])
            i += 1
    return out, n


def bpe_train_merges_py(
    words: dict[str, int], rounds: int = 8
) -> list[dict]:
    """Pure-Python reference BPE trainer (the t24 differential): at
    each round count adjacent symbol pairs weighted by word frequency
    (OVERLAPPING positions counted — the Sennrich zip(word, word[1:])
    statistic), select max (ties -> lexicographically smaller (a,b)),
    apply at leftmost non-overlapping occurrences, recount."""
    state = {w: list(w) for w in words}
    out = []
    for r in range(1, rounds + 1):
        counts: dict[tuple[str, str], int] = {}
        for w, syms in state.items():
            cnt = words[w]
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + cnt
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        (a, b), n_pair = best
        n_merged = 0
        n_after = 0
        for w in state:
            state[w], n = apply_one_merge(state[w], a, b)
            n_merged += n * words[w]
            n_after += len(state[w]) * words[w]
        out.append(
            {
                "rank": r,
                "sym_a": a,
                "sym_b": b,
                "pair_count": n_pair,
                "n_merged": n_merged,
                "n_tokens_after": n_after,
            }
        )
    return out


def bpe_train_merges(
    docs: DataFrame, text_col: str = "text", rounds: int = 8
) -> DataFrame:
    """Iterative BPE merge TRAINING at corpus scale — the loop t19
    computed one round of (Sennrich et al., arXiv:1508.07909): each
    round counts frequency-weighted adjacent-symbol pairs over the
    vocabulary, selects the max-count pair (ties -> lexicographically
    smaller (sym_a, sym_b) — deterministic on both engines under
    binary collation of [a-z0-9] symbols), applies it to every word at
    the leftmost non-overlapping occurrences, and recounts over the
    EVOLVED symbol sequences. Emits the rank-ordered merge table — the
    trained-tokenizer artifact t23's encoder consumes — with a
    per-round audit: ``pair_count`` (the maximized statistic,
    overlapping positions counted), ``n_merged`` (replacements
    actually applied x word frequency; differs from pair_count exactly
    on a==b overlap runs), and ``n_tokens_after`` (corpus token count
    after the round — the live compression trajectory).

    Encode/train consistency: applying the trained table through
    ``bpe_apply_merges`` (single-step leftmost-minrank, t23's kernel)
    reproduces the trainer's final tokenization — rank r's occurrences
    in the encoder's rank-(r-1)-applied state are exactly the
    trainer's round-r state, inductively (a later merge's concatenated
    symbol cannot form an earlier pair: that symbol did not exist when
    the earlier pair was chosen). Pinned by
    tests/test_wave11.py::test_t24_trained_table_reproduces_encoding.

    Scale design (the g01/g02 unrolled-iteration pattern): the ONLY
    corpus-sized pass is the word-frequency aggregate (one map-side-
    combining shuffle); every round then runs on the persisted DISTINCT
    vocabulary (Heaps-law small): pair counts explode vocab-bounded
    adjacent-pair structs, the max-pair is a 1-row TakeOrdered collect
    (the quota/quantile-seed class of legitimately tiny driver
    collects), and the apply is a pure JVM ``aggregate`` fold ONCE PER
    DISTINCT WORD (t23's word-cache discipline at zero Python-boundary
    cost — O(vocab · word_len) codegen per round, the corpus never
    rescanned; optimization r11, was an Arrow kernel). Per-round state
    is persisted so round r+1 reads round r's vocab, not a recompute
    chain, and each round is ONE fused Spark action (see
    ``bpe_train_rows``).
    """
    words = (
        docs.select(F.explode(tokenize(F.col(text_col))).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    rows = bpe_train_rows(words, rounds=rounds)
    return docs.sparkSession.createDataFrame(
        rows,
        schema="rank long, sym_a string, sym_b string, pair_count long, "
        "n_merged long, n_tokens_after long",
    )


def _sql_str(s: str) -> str:
    """Single-quoted SQL string literal (symbols are [a-z0-9]+ by
    construction, but escape defensively)."""
    return "'" + s.replace("'", "''") + "'"


def _apply_merge_expr(syms_col: str, a: str, b: str) -> Column:
    """ONE merge (a,b) applied to an ``array<string>`` symbol column at
    every LEFTMOST NON-OVERLAPPING occurrence — ``apply_one_merge`` as
    a pure JVM ``aggregate`` fold (guide §4.1: a built-in HOF replaces
    the per-round Python boundary the r10 trainer paid). The
    accumulator carries (out, skip): position i appends a+b and sets
    skip when (syms[i], syms[i+1]) == (a, b) and i was not itself
    swallowed by the previous position — exactly the single
    left-to-right pass of the Python reference (differential-pinned by
    tests/test_wave11.py and tests/test_r11_optimizations.py).
    ``try_element_at`` keeps the i+1 lookahead NULL-safe (not an
    error) under the driver's ANSI session. Built as ONE ``F.expr``
    SQL string: the Column-API form of this fold was ~300 py4j round
    trips (~0.4s of driver latency) per trainer round."""
    sa, sb, sab = _sql_str(a), _sql_str(b), _sql_str(a + b)
    hit = (
        f"(try_element_at({syms_col}, i) = {sa}"
        f" AND coalesce(try_element_at({syms_col}, i + 1) = {sb}, false))"
    )
    return F.expr(
        f"""aggregate(
            sequence(1, size({syms_col})),
            struct(cast(array() as array<string>) as out, false as skip),
            (acc, i) -> struct(
                if(acc.skip, acc.out,
                   acc.out || array(if({hit}, {sab},
                                       element_at({syms_col}, i)))) as out,
                if(acc.skip, false, {hit}) as skip),
            acc -> acc.out)"""
    )


def bpe_train_rows(
    words: DataFrame, rounds: int = 8
) -> list[tuple[int, str, str, int, int, int]]:
    """The trainer loop of ``bpe_train_merges`` over an ALREADY
    AGGREGATED word-frequency relation ``(w, cnt)`` — exposed so
    composed pipelines (p07) train on a DERIVED corpus (e.g. the d20
    survivors' kept tokens) instead of raw document text, and get the
    merge table back as driver-side rows (rounds·4 strings — the
    quota-seed class of tiny collects) ready to drive
    ``bpe_encode_vocab``. Returns one tuple per round:
    ``(rank, sym_a, sym_b, pair_count, n_merged, n_tokens_after)``.
    Scale/caching behavior documented on ``bpe_train_merges``.

    Optimization round r11 (guide §1.2 step 1 + §4.1), identical rows:

    - the per-round merge APPLY is a JVM ``aggregate`` fold
      (``_apply_merge_expr``) instead of a ``mapInPandas`` kernel —
      the trainer no longer crosses the Python boundary at all, so
      each round drops the Arrow round-trip AND the per-round Python
      task launch (the vocabulary is Heaps-law small, so the fold's
      O(word_len) work per DISTINCT word is the same arithmetic the
      kernel did, now inside whole-stage codegen);
    - ONE Spark action per round instead of two: round r's audit
      aggregate and round r+1's max-pair TakeOrdered both read the
      freshly persisted state, so they ship as one 1-row collect (a
      left join on TRUE of two ≤1-row relations). Measured at sf0.1:
      t24 17 jobs → 9 jobs.

    At most TWO states are ever cached (r10 ADVICE): the fused collect
    materializes round r's state, after which round r-1 unpersists.
    """
    state = words.select(
        "w",
        F.col("cnt").cast("long").alias("cnt"),
        F.expr("filter(split(w, ''), c -> c <> '')").alias("syms"),
    ).persist()

    def _round_stats(df: DataFrame) -> DataFrame:
        """ONE aggregation subtree per round delivering BOTH the next
        max-pair and the audit: over the per-pair counts,
        ``min(struct(-n, a, b))`` is exactly ORDER BY n DESC, a, b
        LIMIT 1, and ``sum(n)`` gives the weighted token count as
        nt = Σ_pairs n + W (a word of k symbols holds k−1 pairs, so
        Σ cnt·(size−1) = Σ_pairs n), with W = Σ cnt constant across
        rounds. No join/union/broadcast — one plan, ~3 tiny stages."""
        pairs = df.select(
            "cnt",
            F.explode(
                F.arrays_zip(
                    F.expr("slice(syms, 1, size(syms) - 1)").alias("a"),
                    F.expr("slice(syms, 2, size(syms) - 1)").alias("b"),
                )
            ).alias("p"),
        )
        grouped = pairs.groupBy(
            F.col("p.a").alias("a"), F.col("p.b").alias("b")
        ).agg(F.sum("cnt").cast("long").alias("n"))
        return grouped.agg(
            F.min(
                F.struct(
                    (-F.col("n")).alias("nn"), F.col("a"), F.col("b")
                )
            ).alias("best"),
            F.sum("n").cast("long").alias("tot"),
        )

    rows: list[tuple[int, str, str, int, int, int]] = []
    cached = state
    # W (total word occurrences) is round-invariant; this first action
    # also materializes the persisted state (the only corpus-sized
    # pass). The vocab row count rides the SAME action (r12) to size
    # the iteration's cache layout below.
    first = state.agg(
        F.sum("cnt").alias("_wt"), F.count(F.lit(1)).alias("_nv")
    ).collect()[0]
    w_total, n_vocab = int(first["_wt"] or 0), int(first["_nv"])
    # Size the per-round cache to the VOCABULARY, not to the corpus
    # shuffle width (optimization r12, guide §2.2 applied to the
    # iteration state): the persisted state inherits the word
    # aggregate's shuffle partitioning (e.g. 32 partitions for a
    # 31-word toy vocab — cached plans keep their exchange layout;
    # AQE's cache coalescing is off by default and was measured HARMFUL
    # session-wide, it serializes heavy cache consumers elsewhere), so
    # every round ran 3 stages × shuffle-width near-empty tasks.
    # ~50k vocab rows per partition keeps each round's fold task
    # meaningfully sized at any scale while a small vocab iterates on
    # a handful of partitions. One narrow coalesce of the tiny cached
    # relation, once.
    target_parts = max(1, -(-n_vocab // 50_000))
    shuffle_parts = int(
        state.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    if target_parts < shuffle_parts:
        slim = state.coalesce(target_parts).persist()
        slim.count()  # materialize from the already-cached state
        cached.unpersist()
        cached = state = slim
    init = _round_stats(state).collect()[0]
    best, tot_prev = init["best"], int(init["tot"] or 0)
    for r in range(1, rounds + 1):
        if best is None or best["a"] is None:
            break
        a, b, n_pair = best["a"], best["b"], -int(best["nn"])
        applied = state.select(
            "w", "cnt", _apply_merge_expr("syms", a, b).alias("syms")
        ).persist()
        # ONE action per round: this collect materializes the new
        # state's cache and returns round r's audit (via tot) plus
        # round r+1's max-pair. n_merged = nt_{r-1} − nt_r exactly
        # (every applied replacement shrinks the weighted count by 1).
        st = _round_stats(applied).collect()[0]
        tot = int(st["tot"] or 0)
        rows.append((r, a, b, n_pair, tot_prev - tot, tot + w_total))
        best, tot_prev = st["best"], tot
        # the previous round's state is no longer read by anything
        cached.unpersist()
        cached = applied
        state = applied
    cached.unpersist()
    return rows
