"""Text queries (``t*``): token statistics, quality and language scoring,
fingerprints, TF-IDF, PII redaction, DSIR resampling, a linear quality
classifier, span self-dedup, BM25, an inverted index, a bigram language
model, the BPE pre-tokenize/merge/encode/train chain and the curation
funnel.

Importing this module registers its queries; the driver-facing order is
``_registry.ORDER``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.text import (
    BPE_MERGES,
    LANG_MARKERS,
    fingerprint,
    language_id,
    quality_score,
    token_stats,
)
from ._registry import _ctx, _register


@_register(
    "t01_token_stats",
    r"""
    WITH toks AS (SELECT doc_id, length(text) AS n_chars_actual,
                         regexp_extract_all(lower(text), '[a-z0-9]+') AS w,
                         len(regexp_extract_all(text, '[.,;:!?]')) AS n_punct
                  FROM documents)
    SELECT doc_id, n_chars_actual, len(w) AS n_tokens,
           CASE WHEN len(w) > 0
                THEN list_sum(list_transform(w, t -> length(t))) * 1.0 / len(w)
           END AS avg_token_len,
           n_punct
    FROM toks
    """,
    survey="north-star text: token counting + stats",
)
def t01_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = _ctx(spark, sf_dir, "documents")
    return token_stats(docs)


_EN_RE = r"\b(" + "|".join(LANG_MARKERS["en"]) + r")\b"


@_register(
    "t02_quality_score",
    f"""
    WITH base AS (
      SELECT doc_id,
             CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS DOUBLE) AS n_tokens,
             CAST(len(regexp_extract_all(lower(text), '{_EN_RE}')) AS DOUBLE) AS n_stop,
             CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE) AS n_punct,
             CAST(length(text) AS DOUBLE) AS n_chars
      FROM documents),
    r AS (SELECT doc_id,
                 CASE WHEN n_tokens > 0 THEN n_stop / n_tokens ELSE 0.0 END AS stop_ratio,
                 CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0.0 END AS punct_ratio,
                 least(n_chars / 500.0, 1.0) AS len_score
          FROM base)
    SELECT doc_id, stop_ratio, punct_ratio, len_score,
           0.5 * len_score + 0.3 * (1.0 - punct_ratio) + 0.2 * stop_ratio AS quality
    FROM r
    """,
    survey="north-star text: quality scoring (length/punct/stopword ratios)",
)
def t02_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = _ctx(spark, sf_dir, "documents")
    return quality_score(docs)


_HIT_COLS = ",\n           ".join(
    "len(regexp_extract_all(lower(text), '\\b({alts})\\b')) AS hits_{lang}".format(
        alts="|".join(words), lang=lang
    )
    for lang, words in LANG_MARKERS.items()
)
_BEST = "greatest(" + ", ".join(f"hits_{lang}" for lang in LANG_MARKERS) + ")"
_GUESS = (
    "CASE WHEN " + _BEST + " = 0 THEN 'und' "
    + " ".join(
        f"WHEN hits_{lang} = {_BEST} THEN '{lang}'" for lang in LANG_MARKERS
    )
    + " END"
)


@_register(
    "t03_language_id",
    f"""
    WITH h AS (SELECT doc_id,
           {_HIT_COLS}
      FROM documents)
    SELECT doc_id, {', '.join('hits_' + g for g in LANG_MARKERS)},
           {_GUESS} AS lang_guess
    FROM h
    """,
    survey="north-star text: n-gram/stopword language-ID heuristic",
)
def t03_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = _ctx(spark, sf_dir, "documents")
    return language_id(docs)


@_register(
    "t04_fingerprint",
    """
    SELECT doc_id,
           md5(array_to_string(regexp_extract_all(lower(text), '[a-z0-9]+'), ' '))
             AS fp,
           length(array_to_string(regexp_extract_all(lower(text), '[a-z0-9]+'), ' '))
             AS norm_len
    FROM documents
    """,
    survey="north-star text: normalized md5 document fingerprint",
)
def t04_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = _ctx(spark, sf_dir, "documents")
    return fingerprint(docs)


@_register(
    "t05_tfidf_top_terms",
    """
    WITH toks AS (
      SELECT doc_id,
             unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
      FROM documents),
    tf AS (
      SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
    dfreq AS (
      SELECT term, count(*) AS df FROM tf GROUP BY term),
    n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
             tf.tf * ln((1 + n.n_docs) / CAST(1 + dfreq.df AS DOUBLE)) AS tfidf
      FROM tf JOIN dfreq USING (term) CROSS JOIN n),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf DESC, term ASC) AS rank
      FROM scored)
    SELECT doc_id, term, tf, df, round(tfidf, 9) AS tfidf, rank
    FROM ranked WHERE rank <= 3
    """,
    survey="north-star text: TF-IDF top-k terms per doc (explode + two keyed "
    "aggs + broadcast scalar N + window top-k, codegen end to end)",
)
def t05_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import tfidf_top_terms

    (docs,) = _ctx(spark, sf_dir, "documents")
    # score ∈ O(1): round(,9) absorbs libm/association ulp noise while
    # the ranking runs on the raw score (term gaps dwarf the noise)
    return tfidf_top_terms(docs, k=3).withColumn("tfidf", F.round("tfidf", 9))


@_register(
    "t06_top_bigrams",
    """
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w
      FROM documents),
    grams AS (
      SELECT w[u.i] || ' ' || w[u.i + 1] AS bigram
      FROM toks t,
           LATERAL (SELECT unnest(generate_series(1, len(t.w) - 1)) AS i) u)
    SELECT bigram, count(*) AS n
    FROM grams GROUP BY bigram
    ORDER BY n DESC, bigram ASC LIMIT 50
    """,
    survey="north-star text: corpus top-k bigrams via array higher-order "
    "functions (zip_with + slice, zero Python) + TakeOrdered top-k",
)
def t06_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import top_bigrams

    (docs,) = _ctx(spark, sf_dir, "documents")
    return top_bigrams(docs, k=50)


@_register(
    "t07_winnow_fingerprint",
    """
    WITH base AS (
      SELECT doc_id,
             array_to_string(regexp_extract_all(lower(text), '[a-z0-9]+'), ' ') AS t
      FROM documents),
    b AS (SELECT doc_id, t, length(t) - 7 AS nkg FROM base WHERE length(t) >= 8),
    kg AS (
      SELECT doc_id, nkg, u.pos,
             ('0x' || substr(md5(substr(t, u.pos, 8)), 1, 8))::BIGINT AS h
      FROM b, LATERAL (SELECT unnest(generate_series(1, nkg)) AS pos) u),
    win AS (
      SELECT doc_id, nkg, pos,
             min(h) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mh
      FROM kg),
    fp AS (
      SELECT DISTINCT doc_id, mh FROM win
      WHERE pos <= greatest(nkg - 3, 1))
    SELECT doc_id, count(*) AS n_fp,
           md5(string_agg(mh::VARCHAR, ',' ORDER BY mh)) AS fp_digest
    FROM fp GROUP BY doc_id
    """,
    survey="north-star text: winnowing rolling-hash fingerprints (MOSS "
    "k-gram/window local fingerprinting — hash every k-gram, take each "
    "w-window's min, dedupe to the fingerprint set) computed entirely "
    "with ROW-LOCAL array HOFs in codegen: zero shuffle, linear in "
    "corpus chars (the oracle's window formulation is the semantic "
    "spec; the engine plan never leaves the row)",
)
def t07_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint set per document (k=8 chars, w=4 windows),
    summarized as count + order-canonical digest."""
    from ..functions.text import winnow_fingerprints

    (docs,) = _ctx(spark, sf_dir, "documents")
    return winnow_fingerprints(docs, k=8, w=4, hash_fn="md5")


@_register(
    "t08_repetition_metrics",
    """
    WITH arr AS (
      SELECT doc_id,
             regexp_extract_all(lower(text), '[a-z0-9]+') AS w
      FROM documents),
    grams AS (
      SELECT doc_id, len(w) AS n_words,
             length(array_to_string(w, ' ')) AS n_chars,
             list_transform(range(1, len(w)),
                            i -> w[i] || ' ' || w[i+1]) AS bg,
             list_transform(range(1, len(w) - 1),
                            i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS tg
      FROM arr),
    rowstats AS (
      SELECT doc_id, n_words, n_chars,
             CASE WHEN len(bg) > 0 THEN
               1.0 - len(list_distinct(bg))::DOUBLE / len(bg)::DOUBLE
             END AS dup_2gram_frac,
             CASE WHEN len(tg) > 0 THEN
               1.0 - len(list_distinct(tg))::DOUBLE / len(tg)::DOUBLE
             END AS dup_3gram_frac,
             bg
      FROM grams),
    counts AS (
      SELECT doc_id, b AS top_bigram, count(*) AS top_bigram_n
      FROM (SELECT doc_id, unnest(bg) AS b FROM grams)
      GROUP BY doc_id, b),
    top AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY doc_id
                   ORDER BY top_bigram_n DESC, top_bigram ASC) AS rn
        FROM counts) WHERE rn = 1)
    SELECT r.doc_id, r.n_words, r.dup_2gram_frac, r.dup_3gram_frac,
           t.top_bigram, t.top_bigram_n,
           CASE WHEN r.n_chars > 0 THEN
             t.top_bigram_n * length(t.top_bigram) / r.n_chars::DOUBLE
           END AS top_bigram_char_frac
    FROM rowstats r LEFT JOIN top t USING (doc_id)
    """,
    survey="north-star text: Gopher-style repetition screens "
    "(duplicate-2/3-gram fractions + top-bigram char fraction — the "
    "boilerplate/spam filters of LM corpus curation); the n-gram duplicate "
    "fractions are row-local array HOFs in codegen (zero shuffle), only the "
    "per-doc mode (top bigram) pays an explode + doc_id groupBy + window",
)
def t08_repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See functions.text.repetition_metrics. The repetition family is
    the standard Gopher/C4 quality gate; at 100 TB the row-local part
    scales embarrassingly and the mode's shuffle is keyed by doc_id
    (uniform — no skew; hot docs don't exist by construction)."""
    from ..functions.text import repetition_metrics

    (docs,) = _ctx(spark, sf_dir, "documents")
    return repetition_metrics(docs)


@_register(
    "t09_pii_redact",
    """
    WITH pii AS (
      SELECT doc_id,
             text || ' contact user' || doc_id::VARCHAR || '@example.com'
                  || ' call 555-' || lpad((doc_id % 10000)::VARCHAR, 4, '0')
                  || CASE WHEN doc_id % 3 = 0
                          THEN ' backup bob@mail.co' ELSE '' END AS text
      FROM documents)
    SELECT doc_id,
           len(regexp_extract_all(text,
               '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}')) AS n_email,
           len(regexp_extract_all(text, '\\b555-[0-9]{4}\\b')) AS n_phone,
           length(regexp_replace(regexp_replace(text,
               '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}', '<EMAIL>', 'g'),
               '\\b555-[0-9]{4}\\b', '<PHONE>', 'g')) AS redacted_len,
           md5(regexp_replace(regexp_replace(text,
               '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}', '<EMAIL>', 'g'),
               '\\b555-[0-9]{4}\\b', '<PHONE>', 'g')) AS redacted_fp
    FROM pii
    """,
    survey="north-star text: PII scrub + audit (count matches on the "
    "original, regexp_replace every occurrence, emit only length + md5 of "
    "the scrubbed text) — RE2-compatible patterns so any engine can audit "
    "the same scrub; pure codegen, no shuffle. The fixture instruments the "
    "corpus with deterministic synthetic emails/phones (corpus text itself "
    "is letters-only), so counts are non-vacuous and vary by doc",
)
def t09_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthetic-PII instrumentation + the real scrubber. The md5 of the
    redacted text proves the scrub byte-identically across engines
    without either engine emitting raw PII into the comparison."""
    from ..functions.text import redact_pii

    (docs,) = _ctx(spark, sf_dir, "documents")
    pii = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com call 555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.when(F.col("doc_id") % 3 == 0, F.lit(" backup bob@mail.co")).otherwise(
                F.lit("")
            ),
        ).alias("text"),
    )
    return redact_pii(pii)


@_register(
    "t10_unigram_logprob",
    """
    WITH toks AS (
      SELECT doc_id,
             unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
      FROM documents),
    vocab AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok),
    n AS (SELECT count(*)::DOUBLE AS total FROM toks)
    SELECT t.doc_id, count(*) AS n_tokens,
           round(avg(-ln(v.cnt / n.total)), 9) AS score_neglogp
    FROM toks t JOIN vocab v ON v.tok = t.tok CROSS JOIN n
    GROUP BY t.doc_id
    """,
    survey="north-star text: unigram-LM document scoring (average token "
    "negative log-probability under the corpus's own unigram model — the "
    "cheap stand-in for CCNet's LM-perplexity quality gate; low score = "
    "boilerplate, high = rare-token noise) — one vocab aggregate broadcast "
    "back onto the token stream + one doc aggregate; the vocab is "
    "Zipf-bounded so the broadcast holds at corpus scale",
)
def t10_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """avg(-ln p(token)) per document. Three shuffles total (vocab agg,
    doc agg, and the token join rides the broadcast) — the token stream
    is never materialized twice thanks to the explode-barrier trick
    shared with the shingle path."""
    (docs,) = _ctx(spark, sf_dir, "documents")
    from ..functions.text import tokenize

    toks = docs.select(
        "doc_id", F.explode(tokenize(F.col("text"))).alias("tok")
    )
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    n = toks.agg(F.count(F.lit(1)).cast("double").alias("total"))
    return (
        toks.join(F.broadcast(vocab), "tok")
        .join(F.broadcast(n))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            # score ∈ O(1-10): round(,9) absorbs summation-order noise
            F.round(
                F.avg(-F.log(F.col("cnt") / F.col("total"))), 9
            ).alias("score_neglogp"),
        )
    )


@_register(
    "t11_feature_hashing",
    """
    WITH toks AS (
      SELECT doc_id,
             unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
      FROM documents),
    hashed AS (
      SELECT doc_id,
             (('0x' || substr(md5(tok), 1, 8))::BIGINT) % 256 AS feat_idx,
             CASE WHEN (('0x' || substr(md5('s|' || tok), 1, 8))::BIGINT) % 2
                  = 0 THEN 1 ELSE -1 END AS sign
      FROM toks)
    SELECT doc_id, feat_idx, CAST(sum(sign) AS BIGINT) AS weight,
           count(*) AS n_tokens
    FROM hashed GROUP BY doc_id, feat_idx
    HAVING sum(sign) <> 0
    """,
    survey="north-star text: feature hashing (the hashing-trick "
    "vectorizer — tokens hashed to a fixed 256-dim index space with a "
    "second salted hash as the collision-debiasing sign, per-doc sparse "
    "weights) — fixed dimensionality with NO vocabulary table to build, "
    "broadcast, or keep consistent across corpus versions; one (doc, "
    "index) aggregate, md5-derived so any engine reproduces the exact "
    "same feature space",
)
def t11_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signed hashed bag-of-words (256 dims) per document; zero-sum
    collision cells dropped as in the standard formulation.
    hash_fn="md5" is the oracle knob — the library default is the
    xxhash64 production path (functions/text.py hashed_features)."""
    from ..functions.text import hashed_features

    (docs,) = _ctx(spark, sf_dir, "documents")
    return hashed_features(docs, n_dims=256, hash_fn="md5")


@_register(
    "t12_explode_outer",
    """
    WITH toks AS (
      SELECT d.doc_id, t.tok
      FROM (SELECT doc_id,
                   regexp_extract_all(lower(text), '[ab][a-z0-9]*') AS ws
            FROM documents) d
      LEFT JOIN LATERAL (SELECT unnest(d.ws) AS tok) t ON TRUE)
    SELECT doc_id, count(tok) AS n_ab_tokens,
           count(*) AS n_rows
    FROM toks GROUP BY doc_id
    """,
    survey="generate-surface completion: explode_outer (LATERAL VIEW "
    "OUTER) — docs whose token filter matches nothing keep ONE row with "
    "a NULL token instead of vanishing (the silent-row-loss trap of "
    "plain explode when downstream re-aggregates per doc); count(col) "
    "vs count(*) distinguishes empties",
)
def t12_explode_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokens starting with a/b per doc via explode_outer — zero-match
    docs survive with n_ab_tokens=0, n_rows=1."""
    (docs,) = _ctx(spark, sf_dir, "documents")
    ws = F.regexp_extract_all(F.lower(F.col("text")), F.lit("[ab][a-z0-9]*"), 0)
    return (
        docs.select("doc_id", F.explode_outer(ws).alias("tok"))
        .groupBy("doc_id")
        .agg(F.count("tok").alias("n_ab_tokens"), F.count(F.lit(1)).alias("n_rows"))
    )


def _t13_oracle() -> str:
    from ..functions.text import LANG_MARKERS

    hit_cols = ",\n             ".join(
        "len(regexp_extract_all(lower(text), '\\b("
        + "|".join(words)
        + ")\\b')) AS hits_" + lang
        for lang, words in LANG_MARKERS.items()
    )
    langs = list(LANG_MARKERS)
    best = "greatest(" + ", ".join(f"hits_{lg}" for lg in langs) + ")"
    guess = "CASE WHEN " + best + " = 0 THEN 'und' "
    for lg in langs:  # insertion order = tie priority, matches Spark
        guess += f"WHEN hits_{lg} = {best} THEN '{lg}' "
    guess += "END"
    en_re = "\\b(" + "|".join(LANG_MARKERS["en"]) + ")\\b"
    return f"""
    WITH src AS (
      SELECT doc_id, coalesce(text, '') AS text FROM documents),
    base AS (
      SELECT doc_id,
             {hit_cols},
             len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_tokens,
             CAST(len(regexp_extract_all(lower(text), '{en_re}')) AS DOUBLE)
               AS n_stop,
             CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE)
               AS n_punct,
             CAST(length(text) AS DOUBLE) AS n_chars,
             md5(array_to_string(
               regexp_extract_all(lower(text), '[a-z0-9]+'), ' ')) AS fp
      FROM src),
    scored AS (
      SELECT doc_id, n_tokens, fp, {guess} AS lang_guess,
             0.5 * least(n_chars / 500.0, 1.0)
             + 0.3 * (1.0 - CASE WHEN n_chars > 0 THEN n_punct / n_chars
                                 ELSE 0.0 END)
             + 0.2 * (CASE WHEN n_tokens > 0
                           THEN n_stop / CAST(n_tokens AS DOUBLE)
                           ELSE 0.0 END) AS q
      FROM base),
    ranked AS (
      SELECT *,
             CASE WHEN surv THEN CAST(sum(CASE WHEN surv THEN 1 ELSE 0 END)
               OVER (PARTITION BY fp ORDER BY doc_id
                     ROWS UNBOUNDED PRECEDING) AS BIGINT) END AS rn,
             min(CASE WHEN surv THEN doc_id END)
               OVER (PARTITION BY fp) AS keeper
      FROM (SELECT *, lang_guess = 'en' AND q >= 0.5 AND n_tokens >= 5
                      AS surv
            FROM scored))
    SELECT doc_id, lang_guess, n_tokens, round(q, 9) AS quality,
           CASE WHEN lang_guess <> 'en' THEN 'lang'
                WHEN q < 0.5 THEN 'quality'
                WHEN n_tokens < 5 THEN 'length'
                WHEN rn > 1 THEN 'duplicate'
                ELSE 'kept' END AS stage,
           CASE WHEN rn > 1 THEN keeper END AS kept_as
    FROM ranked
    """


@_register(
    "t13_curation_funnel",
    _t13_oracle(),
    survey="north-star capstone: C4/CCNet-style curation funnel — "
    "langID -> quality -> length -> exact dedup composed in ONE scan "
    "plus one survivor-only fingerprint shuffle, emitting every doc "
    "with the first stage that dropped it (and its keeper when the "
    "stage is 'duplicate') — the per-doc audit trail that lets filter "
    "thresholds be tuned without re-running upstream stages; cheap "
    "row-local screens run before the global dedup exchange, so the "
    "shuffle shrinks with filter selectivity (the production stage "
    "ordering at corpus scale)",
)
def t13_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document curation verdicts over the documents corpus."""
    from ..functions.text import curation_funnel

    (docs,) = _ctx(spark, sf_dir, "documents")
    return curation_funnel(docs)


@_register(
    "t14_dsir_resample",
    """
    WITH toks AS (
      SELECT d.doc_id, d.lang,
             unnest(regexp_extract_all(lower(d.text), '[a-z0-9]+')) AS tok
      FROM documents d),
    src AS (SELECT tok, count(*) AS cnt_s FROM toks GROUP BY tok),
    tgt AS (SELECT tok, count(*) AS cnt_t FROM toks WHERE lang = 'en'
            GROUP BY tok),
    tot AS (SELECT (SELECT count(*)::DOUBLE FROM toks) AS ts,
                   (SELECT count(*)::DOUBLE FROM toks WHERE lang = 'en') AS tt,
                   (SELECT count(*)::DOUBLE FROM src) AS v),
    vocab AS (
      SELECT s.tok,
             ln((coalesce(t.cnt_t, 0) + 1) / (tot.tt + tot.v))
               - ln((s.cnt_s + 1) / (tot.ts + tot.v)) AS lr
      FROM src s LEFT JOIN tgt t ON t.tok = s.tok, tot),
    per AS (
      SELECT k.doc_id, k.lang, count(*) AS n_tokens,
             round(avg(v.lr), 9) AS lr_r
      FROM toks k JOIN vocab v ON v.tok = k.tok
      GROUP BY k.doc_id, k.lang)
    SELECT doc_id, lang, n_tokens, lr_r,
           round(ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                     + 1.0) / 4294967296.0), 9) < lr_r AS selected
    FROM per
    """,
    survey="north-star curation: DSIR-style importance resampling — score "
    "every document by its average token log-likelihood RATIO between a "
    "target-domain unigram model (here: the 'en' slice) and the source "
    "(whole-corpus) model, add-1 smoothed, then keep docs where a "
    "deterministic md5 uniform falls under the importance weight "
    "(ln u < log-ratio — sampling probability proportional to "
    "exp(avg lr), the Data Selection via Importance Resampling recipe "
    "with a unigram feature space). Plan: two Zipf-bounded vocab "
    "aggregates merged into ONE broadcast ratio table + one doc "
    "aggregate — the corpus token stream shuffles once (doc agg); at "
    "100 TB the vocab broadcast is the same one t10's LM scoring "
    "already holds.",
    note="Both engines compute the same doubles: counts are exact ints, "
    "ln of identical doubles, avg rounded to 1e-9 on both sides; the "
    "keep decision compares 1e-9-rounded values so a last-ulp libm "
    "divergence cannot flip it off-grid. u = (md5_32 + 1)/2^32 in (0,1] "
    "so ln(u) is finite.",
)
def t14_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance-resample the corpus toward the 'en' unigram
    distribution: per-doc smoothed avg log-ratio + deterministic
    keep/drop draw."""
    from ..functions.text import tokenize

    (docs,) = _ctx(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "lang", F.explode(tokenize(F.col("text"))).alias("tok")
    )
    src = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt_s"))
    tgt = (
        toks.filter(F.col("lang") == "en")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt_t"))
    )
    tot = toks.agg(
        F.count(F.lit(1)).cast("double").alias("ts"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
        .cast("double")
        .alias("tt"),
        F.count_distinct(F.col("tok")).cast("double").alias("v"),
    )
    vocab = (
        src.join(tgt, "tok", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "tok",
            (
                F.log(
                    (F.coalesce(F.col("cnt_t"), F.lit(0)) + F.lit(1))
                    / (F.col("tt") + F.col("v"))
                )
                - F.log((F.col("cnt_s") + F.lit(1)) / (F.col("ts") + F.col("v")))
            ).alias("lr"),
        )
    )
    per = (
        toks.join(F.broadcast(vocab), "tok")
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.avg("lr"), 9).alias("lr_r"),
        )
    )
    ln_u = F.round(
        F.log(
            (
                F.conv(
                    F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
                ).cast("double")
                + F.lit(1.0)
            )
            / F.lit(4294967296.0)
        ),
        9,
    )
    return per.select(
        "doc_id", "lang", "n_tokens", "lr_r", (ln_u < F.col("lr_r")).alias("selected")
    )


# GPT-2-style pre-tokenizer, lookahead-free so ONE pattern runs
# identically under Java regex (Spark) and RE2 (DuckDB): contraction
# suffixes, space-prefixed letter runs, space-prefixed digit runs,
# space-prefixed punctuation runs, whitespace runs. Explicit
# whitespace classes (never ``\\s``: Java includes U+000B, RE2 does
# not). Both engines match leftmost-first over the same alternation
# order — verified token-for-token on unicode + contraction + mixed
# alphanumeric inputs.
_BPE_PRETOKEN = r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^ \t\n\r\f\p{L}\p{N}]+|[ \t\n\r\f]+"
_WS_TOKEN = r"[^ \t\n\r\f]+"


@_register(
    "t15_bpe_pretokenize",
    f"""
    WITH c AS (
      SELECT doc_id,
             len(regexp_extract_all(text,
                 '{_BPE_PRETOKEN.replace("'", "''")}')) AS n_bpe,
             len(regexp_extract_all(text, '{_WS_TOKEN}')) AS n_ws,
             length(text) AS n_chars
      FROM documents)
    SELECT doc_id, n_bpe, n_ws, n_chars,
           CASE WHEN n_bpe > 0
                THEN CAST(n_chars * 1000000 // n_bpe AS BIGINT)
           END AS chars_per_bpe_micro
    FROM c
    """,
    survey="north-star text: BPE-style pre-tokenization counts (the "
    "SURVEY token-counting brief's 'whitespace + a BPE-ish regex') — a "
    "GPT-2-shape pre-tokenizer regex (contractions / space-prefixed "
    "letter, digit, punctuation runs / whitespace runs) counted per doc "
    "next to the whitespace count, plus the chars-per-token compression "
    "proxy as an EXACT integer micro-ratio (integer floor-division — no "
    "float anywhere, bit-portable across engines). Plan: one scan, "
    "row-local regexp_extract_all + size, codegen end to end, zero "
    "shuffles — at 100 TB this is scan-bound and embarrassingly "
    "parallel, the cheapest possible pre-pass for packing budgets.",
    note="The regex is lookahead-free so the SAME pattern string drives "
    "Java regex and RE2; alternation order is the GPT-2 one, both "
    "engines match leftmost-first.",
)
def t15_bpe_pretokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc BPE-ish pre-token count vs whitespace count.

    chars_per_bpe_micro = floor(n_chars * 1e6 / n_bpe): the
    compression-ratio proxy as an exact integer (float ratio rounding
    is engine-dependent at ties; integer floor-division is not).
    """
    (docs,) = _ctx(spark, sf_dir, "documents")
    n_bpe = F.size(F.regexp_extract_all("text", F.lit(_BPE_PRETOKEN), 0))
    n_ws = F.size(F.regexp_extract_all("text", F.lit(_WS_TOKEN), 0))
    return docs.select(
        "doc_id",
        n_bpe.alias("n_bpe"),
        n_ws.alias("n_ws"),
        F.length("text").alias("n_chars"),
    ).withColumn(
        "chars_per_bpe_micro",
        F.when(
            F.col("n_bpe") > 0,
            F.expr("CAST(n_chars * 1000000L DIV n_bpe AS BIGINT)"),
        ),
    )


@_register(
    "t16_linear_classifier",
    """
    WITH toks AS (
      SELECT doc_id,
             unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
      FROM documents),
    feats AS (
      SELECT doc_id,
             (('0x' || substr(md5(tok), 1, 8))::BIGINT) % 4096 AS feat_idx
      FROM toks),
    scored AS (
      SELECT doc_id,
             (('0x' || substr(md5('w|' || CAST(feat_idx AS VARCHAR)), 1, 8))
                ::BIGINT) % 2001 - 1000 AS w_milli
      FROM feats)
    SELECT doc_id, count(*) AS n_tok,
           CAST(sum(w_milli) AS BIGINT) AS score_milli,
           sum(w_milli) > 0 AS positive
    FROM scored GROUP BY doc_id
    """,
    survey="north-star curation: linear quality-classifier INFERENCE "
    "(the fastText-style filter stage of C4/CCNet/FineWeb pipelines) — "
    "tokens hash into a 4096-dim feature space (t11's hashing trick), "
    "each dimension carries a fixed milli-unit integer weight, and the "
    "document score is the sparse dot product folded inside ONE "
    "map-side-combined aggregate; the sign is the keep/drop verdict. "
    "Plan: scan → explode → hash → sum, no vocabulary table, no "
    "broadcast, no shuffle beyond the per-doc aggregate — at 100 TB "
    "this is the cheapest model-inference shape there is. Weights here "
    "are md5-derived from the dimension index (a deterministic stand-in "
    "with the exact cost profile); a TRAINED weight vector drops in as "
    "a 4096-element literal/broadcast array indexed by feat_idx with "
    "the plan unchanged. Integer milli-unit accumulation end to end — "
    "bit-portable, no float anywhere.",
    note="score_milli = Σ w_milli(feat(tok)) over token OCCURRENCES "
    "(not distinct tokens) — inference counts every occurrence, like "
    "the mean-of-embeddings fastText formulation scaled by n_tok.",
)
def t16_linear_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed linear classifier scoring per document (integer
    milli-unit weights derived from the feature index)."""
    from ..functions.sampling import hash_bucket
    from ..functions.text import tokenize

    (docs,) = _ctx(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(tokenize(F.col("text"))).alias("tok"))
    feat = hash_bucket(F.col("tok"), n_buckets=4096)
    w_milli = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("w|"), feat.cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % 2001
        - 1000
    )
    return (
        toks.select("doc_id", w_milli.alias("w_milli"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tok"),
            F.sum("w_milli").alias("score_milli"),
            (F.sum("w_milli") > 0).alias("positive"),
        )
    )


# ---------------------------------------------------------------------------
# t17: intra-document repeated-span removal (C4-style)
# ---------------------------------------------------------------------------
@_register(
    "t17_span_self_dedup",
    """
    WITH t AS (
      SELECT doc_id, regexp_extract_all(text, '[^ ]+') AS toks
      FROM documents),
    c AS (
      SELECT t.doc_id, u.i AS cidx,
             array_to_string(toks[3 * u.i + 1 : 3 * u.i + 3], ' ') AS chunk
      FROM t, LATERAL (SELECT unnest(generate_series(0,
               (len(toks) + 2) // 3 - 1)) AS i) u),
    f AS (SELECT doc_id, chunk, min(cidx) AS first_idx
          FROM c GROUP BY doc_id, chunk),
    r AS (SELECT doc_id, chunk,
                 CAST(row_number() OVER (PARTITION BY doc_id
                                         ORDER BY first_idx) AS BIGINT) AS rk
          FROM f),
    k AS (SELECT doc_id, count(*) AS n_uniq_spans,
                 sum(rk * (('0x' || substr(md5(chunk), 1, 8))::BIGINT))
                   AS kept_sig,
                 sum(len(chunk)) + count(*) - 1 AS kept_len
          FROM r GROUP BY doc_id)
    SELECT t.doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST((len(toks) + 2) // 3 AS BIGINT) AS n_spans,
           CAST(coalesce(k.n_uniq_spans, 0) AS BIGINT) AS n_uniq_spans,
           CAST(coalesce(k.kept_len, 0) AS BIGINT) AS kept_len,
           CAST(coalesce(k.kept_sig, 0) AS BIGINT) AS kept_sig
    FROM t LEFT JOIN k USING (doc_id)
    """,
    survey="north-star text: C4-style intra-document repeated-span "
    "removal — partition each doc into consecutive 3-token spans, keep "
    "the FIRST occurrence of each distinct span, reassemble (C4 does "
    "this with three-sentence spans; doc-level dedup like d01/d02 "
    "cannot see boilerplate repeated INSIDE one document). Entirely "
    "row-local array HOFs — split, slice, array_distinct (first-"
    "occurrence order) — one scan, zero shuffles, codegen end to end: "
    "at 100 TB this is the cheapest possible self-clean pass, "
    "embarrassingly parallel with no exchange at all.",
    note="The oracle re-derives first-occurrence order via "
    "min(position) + rank; Spark's array_distinct preserves "
    "first-occurrence order by construction. The order check is the "
    "POSITION-WEIGHTED integer signature sum(rank · hash32(span)) — "
    "a pure aggregate on both engines, so oracle memory is bounded "
    "per DOC (never per corpus; the round-4 string_agg reassembly "
    "OOM'd DuckDB at 100× because its intermediates grew with the "
    "corpus). Any span substitution or reorder shifts the weighted "
    "sum w.h.p. int64 bound is per-doc and corpus-size-independent: "
    "sum ≤ (n_uniq²/2)·2³² — safe through ~8k distinct spans/doc "
    "(~24k tokens), 40× the corpus's largest doc at ANY scale "
    "factor.",
)
def t17_span_self_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drop repeated 3-token spans within each document, keeping first
    occurrences; emit span counts + the md5 of the cleaned text."""
    from ..sources.tables import scale_out

    (docs,) = _ctx(spark, sf_dir, "documents")
    docs = scale_out(docs)  # row-local HOFs inherit scan parallelism
    toks = F.regexp_extract_all("text", F.lit(r"[^ ]+"), 0)
    # sequence(0, -1) would generate a DESCENDING sequence in Spark, so
    # the zero-token case is guarded to an explicitly empty span list.
    spans = F.when(F.size("toks") == 0, F.array().cast("array<string>")).otherwise(
        F.expr(
            "transform(sequence(0, (size(toks) + 2) div 3 - 1),"
            " i -> array_join(slice(toks, i * 3 + 1, 3), ' '))"
        )
    )
    d = docs.select("doc_id", toks.alias("toks")).select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
        spans.alias("spans"),
    )
    # rank·hash32 weighted signature: order-sensitive, pure row-local
    # arithmetic — no text reassembly on either engine (see note)
    sig = F.expr(
        "aggregate(transform(kept, (s, i) ->"
        " (CAST(i AS BIGINT) + 1L)"
        " * CAST(conv(substr(md5(s), 1, 8), 16, 10) AS BIGINT)),"
        " 0L, (acc, x) -> acc + x)"
    )
    kept_len = (
        F.expr("aggregate(kept, 0L, (acc, s) -> acc + length(s))")
        + F.greatest(F.size("kept") - 1, F.lit(0)).cast("long")
    )
    return d.select(
        "doc_id",
        "n_tokens",
        F.size("spans").cast("long").alias("n_spans"),
        F.array_distinct("spans").alias("kept"),
    ).select(
        "doc_id",
        "n_tokens",
        "n_spans",
        F.size("kept").cast("long").alias("n_uniq_spans"),
        kept_len.cast("long").alias("kept_len"),
        sig.cast("long").alias("kept_sig"),
    )


# ---------------------------------------------------------------------------
# t18: BM25 lexical retrieval scoring
# ---------------------------------------------------------------------------

#: fixed query terms (present across the synthetic corpus with spread
#: document frequencies — 'scan' rarer than 'value')
_BM25_TERMS = ("scan", "join", "window")
_BM25_K1 = "1.2"
_BM25_B = "0.75"


def _bm25_term_sql(term: str) -> str:
    """Per-term score: rational idf × saturated tf. Only IEEE
    +,-,*,/ (each correctly rounded, bit-identical across engines) —
    no log, so no libm divergence."""
    return (
        f"(CAST(st.n_docs - st.df_{term} AS DOUBLE) + 0.5)"
        f" / (CAST(st.df_{term} AS DOUBLE) + 0.5)"
        f" * (CAST(tf_{term} AS DOUBLE) * ({_BM25_K1} + 1.0))"
        f" / (CAST(tf_{term} AS DOUBLE) + {_BM25_K1} * (1.0 - {_BM25_B}"
        f" + {_BM25_B} * (CAST(dl AS DOUBLE) / st.avgdl)))"
    )


@_register(
    "t18_bm25_topk",
    f"""
    WITH tok AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[^ ]+') AS toks
      FROM documents),
    pd AS (
      SELECT doc_id, len(toks) AS dl,
             {", ".join(f"len(list_filter(toks, x -> x = '{t}')) AS tf_{t}"
                        for t in _BM25_TERMS)}
      FROM tok),
    st AS (
      SELECT count(*) AS n_docs,
             CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl,
             {", ".join(f"sum(CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END) AS df_{t}"
                        for t in _BM25_TERMS)}
      FROM pd)
    SELECT pd.doc_id,
           {" + ".join(f"(CASE WHEN tf_{t} > 0 THEN {_bm25_term_sql(t)}"
                       f" ELSE 0.0 END)" for t in _BM25_TERMS)} AS bm25
    FROM pd, st
    ORDER BY bm25 DESC, pd.doc_id
    LIMIT 10
    """,
    survey="north-star text: BM25 lexical retrieval top-k — the "
    "classic sparse scorer that pairs with the embedding ANN family "
    "(s01/s02) for hybrid retrieval. Corpus statistics (N, df per "
    "term, avgdl) come from ONE aggregate pass reduced to a single "
    "broadcast row; the score itself is row-local. Uses the rational "
    "idf (N-df+0.5)/(df+0.5) — the argument of the classical log — so "
    "the whole score is IEEE +,-,*,/ only: correctly-rounded ops are "
    "bit-identical across engines where libm log is not. Plan: one "
    "scan for stats + one scan for scoring + TakeOrdered; at 100 TB "
    "the stats row broadcasts and scoring stays embarrassingly "
    "parallel — no shuffle keyed by term ever materializes.",
    note="Ranking by rational idf is order-equivalent per term to "
    "log-idf (log is monotone); the summed score differs from classic "
    "BM25 numerically but is deterministic, which is what the "
    "tolerance-free hash gate needs.",
)
def t18_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 over the documents table for a fixed 3-term query,
    rational-idf variant (see oracle note)."""
    from ..sources.tables import scale_out

    (docs,) = _ctx(spark, sf_dir, "documents")
    docs = scale_out(docs)  # per-doc tf filters are narrow and heavy
    toks = F.regexp_extract_all(F.lower("text"), F.lit(r"[^ ]+"), 0)

    def _tf(term: str) -> F.Column:
        # NB: a two-arg lambda would make F.filter pass (element, index)
        return F.size(F.filter(toks, lambda x: x == F.lit(term)))

    per_doc = docs.select(
        "doc_id",
        F.size(toks).alias("dl"),
        *[_tf(t).alias(f"tf_{t}") for t in _BM25_TERMS],
    )
    stats = per_doc.agg(
        F.count("*").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
        *[
            F.sum(F.when(F.col(f"tf_{t}") > 0, 1).otherwise(0)).alias(f"df_{t}")
            for t in _BM25_TERMS
        ],
    )
    k1, b = 1.2, 0.75
    scored = per_doc.crossJoin(F.broadcast(stats))
    score = None
    for t in _BM25_TERMS:
        tf = F.col(f"tf_{t}").cast("double")
        idf = (F.col("n_docs").cast("double") - F.col(f"df_{t}").cast("double") + F.lit(0.5)) / (
            F.col(f"df_{t}").cast("double") + F.lit(0.5)
        )
        denom = tf + F.lit(k1) * (
            F.lit(1.0)
            - F.lit(b)
            + F.lit(b) * (F.col("dl").cast("double") / F.col("avgdl"))
        )
        # associativity mirrors the oracle exactly: (idf * num) / denom
        term = F.when(
            F.col(f"tf_{t}") > 0, idf * (tf * F.lit(k1 + 1.0)) / denom
        ).otherwise(F.lit(0.0))
        score = term if score is None else score + term
    return (
        scored.select("doc_id", score.alias("bm25"))
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# t19: BPE merge-pair counts (tokenizer-training iteration)
# ---------------------------------------------------------------------------
@_register(
    "t19_bpe_top_merges",
    """
    WITH vocab AS (
      SELECT u.tok AS w, count(*) AS n_w
      FROM documents,
           LATERAL (SELECT unnest(regexp_extract_all(lower(text),
                    '[a-z0-9]+')) AS tok) u
      GROUP BY u.tok),
    p AS (SELECT CASE WHEN i < len(w) THEN substr(w, i, 2)
                      ELSE substr(w, i, 1) || '</w>' END AS pair, n_w
          FROM vocab,
               LATERAL (SELECT unnest(generate_series(1, len(w)::BIGINT))
                        AS i) t),
    agg AS (SELECT pair, CAST(sum(n_w) AS BIGINT) AS n_total
            FROM p GROUP BY pair)
    SELECT CAST(row_number() OVER (ORDER BY n_total DESC, pair) AS BIGINT)
             AS rank,
           pair, n_total
    FROM agg ORDER BY n_total DESC, pair LIMIT 20
    """,
    survey="north-star text completion: BPE merge-pair counts — one "
    "byte-pair-encoding trainer iteration (Sennrich et al., "
    "arXiv:1508.07909): words as char sequences closed by '</w>', "
    "adjacent-pair counts weighted by word frequency, top-20 merges "
    "(desc count, pair asc — a deterministic set under ties). The only "
    "corpus-sized pass is the word-frequency aggregate; pair extraction "
    "and ranking run over the DISTINCT vocabulary (Heaps-law sublinear) "
    "with a TakeOrderedAndProject top-k — the reason tokenizer training "
    "on 100 TB is feasible: after one scan, every further merge round "
    "is vocab-sized.",
)
def t19_bpe_top_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 frequency-weighted adjacent symbol pairs over the word
    vocabulary (the first BPE merge candidates)."""
    from ..functions.text import bpe_top_merges

    (docs,) = _ctx(spark, sf_dir, "documents")
    return bpe_top_merges(docs, k=20)


# ---------------------------------------------------------------------------
# t20: capped inverted-index build (search-index write shape)
# ---------------------------------------------------------------------------


@_register(
    "t20_inverted_index",
    """
    WITH tf AS (
      SELECT u.tok AS token, doc_id, count(*) AS tf
      FROM documents,
           LATERAL (SELECT unnest(regexp_extract_all(lower(text),
                    '[a-z0-9]+')) AS tok) u
      GROUP BY u.tok, doc_id),
    w AS (SELECT token, doc_id, tf,
                 count(*) OVER (PARTITION BY token) AS df,
                 sum(tf) OVER (PARTITION BY token) AS cf,
                 row_number() OVER (PARTITION BY token
                                    ORDER BY tf DESC, doc_id) AS rn
          FROM tf)
    SELECT token,
           CAST(max(df) AS BIGINT) AS df,
           CAST(max(cf) AS BIGINT) AS cf,
           string_agg(CAST(doc_id AS VARCHAR) || ':' || CAST(tf AS VARCHAR),
                      ',' ORDER BY rn) AS postings
    FROM w WHERE rn <= 3 GROUP BY token
    """,
    survey="north-star text completion: capped inverted-index build — "
    "one row per term with EXACT df/cf (computed over the full posting "
    "list) and the top-3 postings by tf (ties → smaller doc_id) "
    "serialized doc:tf,… — the impact-ordered/static-pruned index "
    "layout search engines ship. Plan: one map-side-combining "
    "(token,doc) tf aggregate (the corpus shuffle), ONE window over the "
    "token partitioning for df/cf/rank, and a per-token rollup reusing "
    "that partitioning. A stopword in every doc costs m rows in one "
    "sort partition — linear — and its stored list is still ≤3.",
)
def t20_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-header, top-3-capped posting lists per token."""
    from ..functions.text import inverted_index

    (docs,) = _ctx(spark, sf_dir, "documents")
    return inverted_index(docs, top_postings=3)


# ---------------------------------------------------------------------------
# t21: bigram-LM document scoring (Laplace-smoothed)
# ---------------------------------------------------------------------------
@_register(
    "t21_bigram_lm_score",
    """
    WITH toks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+')
                         AS w
                  FROM documents),
    pairs AS (SELECT doc_id, w[i] AS prev, w[i+1] AS cur
              FROM toks, range(1, 4096) t(i) WHERE i + 1 <= len(w)),
    bg AS (SELECT prev, cur, count(*) AS c2 FROM pairs GROUP BY 1, 2),
    heads AS (SELECT prev, sum(c2) AS c1 FROM bg GROUP BY prev),
    vv AS (SELECT count(DISTINCT cur)::DOUBLE AS v FROM pairs)
    SELECT p.doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           round(avg(-ln((b.c2 + 1)::DOUBLE / (h.c1::DOUBLE + vv.v))), 9)
             AS score_neglogp
    FROM pairs p
    JOIN bg b ON b.prev = p.prev AND b.cur = p.cur
    JOIN heads h ON h.prev = p.prev
    CROSS JOIN vv
    GROUP BY p.doc_id
    """,
    survey="north-star text completion: bigram-LM document scoring "
    "with Laplace smoothing — the corpus trains its own bigram model "
    "p(w|prev)=(c(prev,w)+1)/(c(prev)+V) over the adjacent-pair "
    "relation (heads and continuation vocabulary derived from the SAME "
    "relation, so the model is self-consistent) and each doc scores "
    "avg(−ln p): the KenLM/CCNet perplexity quality gate one model "
    "order above t10. Row-local bigram assembly (no position window), "
    "Zipf-bounded model aggregates broadcast back onto the pair "
    "stream; round(,9) absorbs libm/summation noise (t10's contract).",
)
def t21_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """avg(-ln p(w|prev)) per doc under the corpus's own smoothed
    bigram model."""
    from ..functions.text import bigram_lm_score

    (docs,) = _ctx(spark, sf_dir, "documents")
    return bigram_lm_score(docs)


# ---------------------------------------------------------------------------
# t22: token-distribution drift monitor (smoothed KL contributions)
# ---------------------------------------------------------------------------
@_register(
    "t22_token_drift",
    """
    WITH toks AS (
      SELECT doc_id % 2 = 0 AS is_ref,
             u.tok AS token
      FROM documents,
           LATERAL (SELECT unnest(regexp_extract_all(lower(text),
                    '[a-z0-9]+')) AS tok) u),
    counts AS (SELECT token,
                      sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS n_ref,
                      sum(CASE WHEN is_ref THEN 0 ELSE 1 END) AS n_cand
               FROM toks GROUP BY token),
    tot AS (SELECT sum(n_ref)::DOUBLE AS nr, sum(n_cand)::DOUBLE AS nc,
                   count(*)::DOUBLE AS v
            FROM counts),
    scored AS (
      SELECT c.token,
             CAST(c.n_ref AS BIGINT) AS n_ref,
             CAST(c.n_cand AS BIGINT) AS n_cand,
             CAST(round(((c.n_ref + 1)::DOUBLE / (t.nr + t.v))
                  * ln(((c.n_ref + 1)::DOUBLE / (t.nr + t.v))
                       / ((c.n_cand + 1)::DOUBLE / (t.nc + t.v)))
                  * 1e9) AS BIGINT) AS kl_nano
      FROM counts c CROSS JOIN tot t)
    SELECT CAST(row_number() OVER (ORDER BY kl_nano DESC, token) AS BIGINT)
             AS rank,
           token, n_ref, n_cand, kl_nano
    FROM scored ORDER BY kl_nano DESC, token LIMIT 20
    """,
    survey="north-star text completion: token-distribution DRIFT "
    "monitor — top-20 tokens by Laplace-smoothed KL contribution "
    "p·ln(p/q) between a reference split (doc_id%2==0) and a candidate "
    "split, over the shared vocabulary so every contribution is "
    "finite. The drift dashboard every continuously-fed training mix "
    "needs: a crawl source going off-distribution surfaces as "
    "over/under-represented tokens long before eval regressions. One "
    "corpus pass (map-side-combining (token,split) counts), then "
    "vocab-sized row-local math against a broadcast scalar row and a "
    "TakeOrderedAndProject top-k; score emitted as exact "
    "round(·1e9) int64 under the t10 ln-rounding contract.",
)
def t22_token_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 smoothed KL-contribution tokens between the two corpus
    halves."""
    from ..functions.text import token_drift_topk

    (docs,) = _ctx(spark, sf_dir, "documents")
    return token_drift_topk(docs, split_mod=2, k=20)


# ---------------------------------------------------------------------------
# t23: corpus BPE encoding under the literal merge table
# ---------------------------------------------------------------------------

#: the oracle's merge loop, generated from the SAME literal merge
#: table the Arrow kernel applies: a DuckDB RECURSIVE CTE advances
#: each distinct word one merge per step (leftmost occurrence of the
#: lowest applicable rank — p{k} probes are evaluated in rank order by
#: the CASE), terminating on words with no applicable merge. The
#: recursion runs over the DISTINCT vocabulary only (Heaps-law small),
#: exactly mirroring the engine's vocab-cached kernel.
_T23_POS = ",\n             ".join(
    f"coalesce(list_filter(range(1, len(syms)), i -> syms[i] = '{a}' "
    f"AND syms[i+1] = '{b}')[1], 0) AS p{k}"
    for k, (a, b) in enumerate(BPE_MERGES)
)
_T23_APPLY = "\n          ".join(
    f"WHEN p{k} > 0 THEN list_slice(syms, 1, p{k}-1) || ['{a}{b}'] "
    f"|| list_slice(syms, p{k}+2, len(syms))"
    for k, (a, b) in enumerate(BPE_MERGES)
)
_T23_ANY = " OR ".join(f"p{k} > 0" for k in range(len(BPE_MERGES)))
_T23_NONE = " AND ".join(f"p{k} = 0" for k in range(len(BPE_MERGES)))


@_register(
    "t23_bpe_encode",
    f"""
    WITH RECURSIVE toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w
      FROM documents),
    occ AS (SELECT doc_id, i AS widx, w[i] AS tok
            FROM toks, range(1, 4096) t(i) WHERE i <= len(w)),
    vocab AS (SELECT DISTINCT tok FROM occ),
    enc AS (
      SELECT tok, list_transform(range(1, len(tok) + 1), i -> tok[i])
               AS syms
      FROM vocab
      UNION ALL
      SELECT tok, CASE
          {_T23_APPLY}
        END AS syms
      FROM (SELECT tok, syms,
             {_T23_POS}
            FROM enc) WHERE {_T23_ANY}
    ),
    final AS (
      SELECT tok, array_to_string(syms, '|') AS e, len(syms) AS n_syms
      FROM (SELECT tok, syms,
             {_T23_POS}
            FROM enc)
      WHERE {_T23_NONE})
    SELECT occ.doc_id,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(length(occ.tok)) AS BIGINT) AS n_chars,
           CAST(sum(f.n_syms) AS BIGINT) AS n_bpe_tokens,
           CAST(sum(occ.widx
                * ('0x' || substr(md5(f.e), 1, 8))::BIGINT) AS BIGINT)
             AS bpe_sig
    FROM occ JOIN final f ON f.tok = occ.tok
    GROUP BY occ.doc_id
    UNION ALL
    -- poison sentinel: occ caps each doc at 4095 tokens (range bound
    -- must be a constant in DuckDB); a longer doc fails loudly here
    -- instead of silently dropping words from the oracle only.
    SELECT CAST(-1 AS BIGINT) AS doc_id, CAST(mx AS BIGINT) AS n_words,
           CAST(NULL AS BIGINT) AS n_chars,
           CAST(NULL AS BIGINT) AS n_bpe_tokens,
           CAST(NULL AS BIGINT) AS bpe_sig
    FROM (SELECT max(len(w)) AS mx FROM toks) WHERE mx >= 4096
    """,
    survey="north-star text completion: corpus BPE ENCODING under a "
    "literal rank-ordered merge table (the trained-tokenizer artifact "
    "— the stage t15 pre-tokenization and t19 merge training lead up "
    "to). Single-step-leftmost-minrank semantics shared by three "
    "implementations: the Arrow kernel (bpe_apply_merges, run once "
    "per DISTINCT word — the fast-tokenizer word cache distributed: "
    "O(vocab) Python, O(tokens) JVM join + map-side rollup), a pure-"
    "Python differential (pytest), and a DuckDB RECURSIVE-CTE oracle "
    "that advances each vocab word one merge per step — the merge "
    "LOOP defeats single-pass SQL but not recursion, so the audit "
    "stays fully oracle-backed instead of rows-only. Bounded per-doc "
    "audit: n_words/n_chars/n_bpe_tokens (the compression ratio) + "
    "position-weighted encoding signature. Merge table includes "
    "chained merges (s,c→sc,a→sca,n) so application order is "
    "load-bearing.",
)
def t23_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc BPE-encoding audit under the literal BPE_MERGES table
    (see functions.text.bpe_encode_corpus)."""
    from ..functions.text import bpe_encode_corpus

    (docs,) = _ctx(spark, sf_dir, "documents")
    return bpe_encode_corpus(docs)


# ---------------------------------------------------------------------------
# t24: iterative BPE merge TRAINING (t19 unrolled over evolving symbols)
# ---------------------------------------------------------------------------
_T24_ROUNDS = 8


def _t24_oracle(rounds: int = _T24_ROUNDS) -> str:
    """Per-round CTE chain (the _closure_audit_oracle generation
    pattern): round r counts adjacent-symbol pairs over v{r-1} (one
    row per (word, pos, sym) — the evolving vocabulary state), picks
    the max via ORDER BY n DESC, sa, sb LIMIT 1, marks leftmost
    non-overlapping application sites with the gaps-and-islands parity
    rule (a matching position starts a merge iff its offset inside its
    island of CONSECUTIVE matching positions is even — islands larger
    than one element exist only for sa == sb runs; for sa != sb every
    match is a singleton island, parity 0, so the rule is universal),
    and rebuilds v{r} by dropping the swallowed successor positions.
    Every v{r}/s{r}/b{r} is MATERIALIZED — each is referenced several
    times downstream and DuckDB would otherwise inline the chain
    exponentially (the d06 lesson). An empty b{r} (no pairs left)
    yields an empty audit row and an unchanged v{r} via the LEFT JOIN
    ON TRUE, mirroring the engine's loop break."""
    ctes = [
        "toksw AS MATERIALIZED (SELECT u.tok AS w, count(*) AS cnt "
        "FROM documents, LATERAL (SELECT unnest(regexp_extract_all("
        "lower(text), '[a-z0-9]+')) AS tok) u WHERE u.tok <> '' "
        "GROUP BY u.tok)",
        _T24_V0_CTE,
    ] + _t24_round_ctes(rounds)
    union = "\n    UNION ALL ".join(
        f"SELECT * FROM a{r}" for r in range(1, rounds + 1)
    )
    return "WITH " + ",\n".join(ctes) + f"\n    {union}"


#: v0 from any toksw(w, cnt) CTE — the character-split starting state
_T24_V0_CTE = (
    "v0 AS MATERIALIZED (SELECT w, cnt, u.pos, u.sym FROM toksw, "
    "LATERAL (SELECT unnest(string_split(w, '')) AS sym, "
    "generate_subscripts(string_split(w, ''), 1) AS pos) u)"
)


def _t24_round_ctes(rounds: int) -> list[str]:
    """The per-round trainer CTEs (p{r}/b{r}/m{r}/s{r}/v{r}/a{r}),
    referencing v0 — extracted so p07 can run the SAME relational
    trainer over a different training corpus (the d20 survivors)."""
    ctes: list[str] = []
    for r in range(1, rounds + 1):
        p = f"v{r - 1}"
        ctes.append(
            f"p{r} AS (SELECT x.sym AS sa, y.sym AS sb, sum(x.cnt) AS n\n"
            f"  FROM {p} x JOIN {p} y ON y.w = x.w AND y.pos = x.pos + 1\n"
            f"  GROUP BY x.sym, y.sym)"
        )
        ctes.append(
            f"b{r} AS MATERIALIZED (SELECT sa, sb, n FROM p{r}\n"
            f"  ORDER BY n DESC, sa, sb LIMIT 1)"
        )
        ctes.append(
            f"m{r} AS (SELECT v.w, v.cnt, v.pos, v.sym, b.sa AS msa,\n"
            f"    b.sb AS msb,\n"
            f"    CASE WHEN v.sym = b.sa AND lead(v.sym) OVER\n"
            f"      (PARTITION BY v.w ORDER BY v.pos) = b.sb\n"
            f"    THEN 1 ELSE 0 END AS ism\n"
            f"  FROM {p} v LEFT JOIN b{r} b ON TRUE)"
        )
        ctes.append(
            f"s{r} AS MATERIALIZED (SELECT *,\n"
            f"    CASE WHEN ism = 1 AND (pos - min(pos) OVER\n"
            f"      (PARTITION BY w, grp)) % 2 = 0 THEN 1 ELSE 0 END AS strt\n"
            f"  FROM (SELECT *, CASE WHEN ism = 1 THEN pos - row_number()\n"
            f"      OVER (PARTITION BY w, ism ORDER BY pos) END AS grp\n"
            f"    FROM m{r}))"
        )
        ctes.append(
            f"v{r} AS MATERIALIZED (SELECT w, cnt,\n"
            f"    row_number() OVER (PARTITION BY w ORDER BY pos) AS pos,\n"
            f"    CASE WHEN strt = 1 THEN msa || msb ELSE sym END AS sym\n"
            f"  FROM (SELECT *, coalesce(lag(strt) OVER\n"
            f"      (PARTITION BY w ORDER BY pos), 0) AS pstrt FROM s{r})\n"
            f"  WHERE pstrt = 0)"
        )
        ctes.append(
            f"a{r} AS (SELECT CAST({r} AS BIGINT) AS rank, b.sa AS sym_a,\n"
            f"    b.sb AS sym_b, CAST(b.n AS BIGINT) AS pair_count,\n"
            f"    (SELECT CAST(coalesce(sum(cnt), 0) AS BIGINT)\n"
            f"     FROM s{r} WHERE strt = 1) AS n_merged,\n"
            f"    (SELECT CAST(coalesce(sum(cnt), 0) AS BIGINT)\n"
            f"     FROM v{r}) AS n_tokens_after\n"
            f"  FROM b{r} b)"
        )
    return ctes


@_register(
    "t24_bpe_train_merges",
    _t24_oracle(),
    survey="north-star text completion: iterative BPE merge TRAINING — "
    "t19 computed ONE round's pair statistic; this unrolls the full "
    "trainer loop (Sennrich et al., arXiv:1508.07909) over the EVOLVING "
    "symbol sequences: count frequency-weighted adjacent pairs "
    "(overlapping — the zip(word, word[1:]) statistic), select max "
    "(ties -> lexicographically smaller pair), apply at leftmost "
    "non-overlapping sites, recount. Emits the rank-ordered merge "
    "table t23's encoder consumes, closing the tokenizer lifecycle "
    "t15 (pre-tokenize) -> t24 (train) -> t23 (encode), plus a "
    "per-round audit: pair_count, n_merged (applied occurrences x "
    "frequency — differs from pair_count exactly on a==b overlap "
    "runs), n_tokens_after (the compression trajectory). Oracle: "
    "per-round CTE chain with relational leftmost-non-overlap apply "
    "(gaps-and-islands parity rule). Scale: ONE corpus pass (the "
    "word-frequency aggregate); every round is vocab-sized (Heaps' "
    "law) with persisted state — the g01/g02 unrolled-iteration "
    "pattern; the max-pair collect per round is the quota-seed class "
    "of tiny driver collects.",
    note="Encode/train consistency (bpe_apply_merges under the trained "
    "table reproduces the trainer's final tokenization) is pinned by "
    "tests/test_wave11.py; the pure-Python trainer differential "
    "(bpe_train_merges_py) runs in the same test module.",
)
def t24_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-ordered trained merge table + per-round audit (see
    functions.text.bpe_train_merges)."""
    from ..functions.text import bpe_train_merges

    (docs,) = _ctx(spark, sf_dir, "documents")
    return bpe_train_merges(docs, rounds=_T24_ROUNDS)
