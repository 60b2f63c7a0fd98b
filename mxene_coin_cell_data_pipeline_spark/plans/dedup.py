"""Dedup queries (``d*``): exact, MinHash/SimHash/sign-LSH near-dup, star-capped
emission, transitive closure into keeper groups, and span/substring removal.

Importing this module registers its queries; the driver-facing order is
``_registry.ORDER``. The SQL fragments the dedup oracles share (``_SH_CTE``,
``_d13_oracle``, ``_label_chain_ctes`` ...) live here; the multimodal and
pipeline families import them from here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.dedup import (
    DEFAULT_BAND_SIZE,
    DEFAULT_NUM_HASHES,
    SIMHASH_BITS,
    exact_dedup,
    minhash_near_dup_pairs,
    ngram_jaccard_pairs,
    simhash,
)
from ..functions.similarity import (
    SIGNLSH_BASE_PLANES,
    SIGNLSH_MAX_EXTRA,
    embedding_near_dup_pairs_blas,
    signlsh_adaptive_tables,
)
from ._registry import QUERIES, _ctx, _register
from .similarity import _signlsh_planes_sql


# shared SQL fragments, generated from the SAME constants as the Spark
# implementations so the two sides cannot drift
#: ``sh`` is MATERIALIZED: the queries below reference it many times
#: (bands inline sig 4x, pair sides double everything), and DuckDB's
#: default CTE inlining re-evaluates the 4096-wide LATERAL unnest +
#: 100M-row DISTINCT per reference — ~10 concurrent distinct hash
#: tables was the 100x disk-spill, not the query semantics.
_SH_CTE = """
toks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w
         FROM documents),
sh AS MATERIALIZED (
       SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
       FROM toks, range(1, 4096) t(i) WHERE i + 2 <= len(w))
"""

_MH_COLS = ",\n           ".join(
    f"min(md5('{i}|' || shingle)) AS mh{i}" for i in range(DEFAULT_NUM_HASHES)
)
_BAND_SELECTS = "\n      UNION ALL ".join(
    "SELECT doc_id, {b} AS band, md5({expr}) AS bucket FROM sig".format(
        b=b,
        expr=" || '|' || ".join(
            f"mh{b * DEFAULT_BAND_SIZE + r}" for r in range(DEFAULT_BAND_SIZE)
        ),
    )
    for b in range(DEFAULT_NUM_HASHES // DEFAULT_BAND_SIZE)
)

#: candidate-constrained refine tail for the LSH queries (d02/d12 and
#: their d08/d14 embeddings): value-identical to an unconstrained
#: co-shingle ``inter`` inner-joined to ``cand`` (rows outside cand
#: are discarded downstream anyway, and a cand pair with zero shared
#: shingles produces no group either way), but the aggregate's group
#: cardinality is bounded by |cand| instead of by every co-shingle
#: document pair — the unconstrained form's hash table is quadratic in
#: per-shingle document frequency and exceeded DuckDB's 48GB+disk at
#: 100x on the templated corpus. d05 (exact all-pairs jaccard, no LSH
#: candidate set) bounds its verify the same way via the AllPairs
#: prefix-filter candidates — see its registration below.
_JACCARD_TAIL_CAND = """
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (SELECT c.doc_a, c.doc_b, count(*) AS n_inter
          FROM cand c
          JOIN sh sa ON sa.doc_id = c.doc_a
          JOIN sh sb ON sb.doc_id = c.doc_b
                     AND sb.shingle = sa.shingle
          GROUP BY 1, 2)
"""


@_register(
    "d01_exact_dedup",
    """
    SELECT md5(text) AS fp, min(doc_id) AS keep_id, count(*) AS n_copies
    FROM documents GROUP BY text
    """,
    survey="north-star dedup: exact hash-groupBy",
)
def d01_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = _ctx(spark, sf_dir, "documents")
    return exact_dedup(docs)


@_register(
    "d02_minhash_lsh",
    f"""
    WITH {_SH_CTE},
    sig AS MATERIALIZED (SELECT doc_id, {_MH_COLS} FROM sh GROUP BY doc_id),
    bands AS ({_BAND_SELECTS}),
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
             FROM bands a JOIN bands b ON a.band = b.band
                                       AND a.bucket = b.bucket
                                       AND a.doc_id < b.doc_id),
    {_JACCARD_TAIL_CAND.lstrip()}
    SELECT c.doc_a, c.doc_b,
           i.n_inter * 1.0 / (na.n + nb.n - i.n_inter) AS jaccard
    FROM cand c JOIN inter i ON c.doc_a = i.doc_a AND c.doc_b = i.doc_b
    JOIN sizes na ON na.doc_id = c.doc_a
    JOIN sizes nb ON nb.doc_id = c.doc_b
    WHERE i.n_inter * 1.0 / (na.n + nb.n - i.n_inter) >= 0.8
    """,
    survey="north-star dedup: MinHash+LSH (shingle→minhash→band→bucket-join→exact refine)",
)
def d02_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = _ctx(spark, sf_dir, "documents")
    # bucket_cap=None: the oracle above defines ALL-PAIRS semantics;
    # the library default is star-capped (see functions/dedup.py).
    return minhash_near_dup_pairs(
        docs, threshold=0.8, bucket_cap=None, hash_fn="md5"
    )


# bit j of the fingerprint = bit (3 - j%4) of md5 hex char j//4 — the
# same nibble-consuming scheme as functions.dedup.simhash, generated
# for the full SIMHASH_BITS width
_SIM_SUMS = ",\n           ".join(
    f"sum(CASE WHEN ((strpos('0123456789abcdef', "
    f"substr(md5(tok), {j // 4 + 1}, 1)) - 1) >> {3 - j % 4}) & 1 = 1 "
    f"THEN 1 ELSE -1 END) AS s{j}"
    for j in range(SIMHASH_BITS)
)
_SIM_BITS = " || ".join(
    f"CASE WHEN s{j} > 0 THEN '1' ELSE '0' END" for j in range(SIMHASH_BITS)
)


@_register(
    "d03_simhash",
    f"""
    WITH toks AS (SELECT doc_id,
                         unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
                  FROM documents),
    agg AS (SELECT doc_id, {_SIM_SUMS} FROM toks GROUP BY doc_id)
    SELECT doc_id, {_SIM_BITS} AS simhash_bits FROM agg
    """,
    survey="north-star dedup: SimHash bit-majority fingerprint",
)
def d03_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = _ctx(spark, sf_dir, "documents")
    return simhash(docs)


@_register(
    "d05_ngram_jaccard",
    f"""
    WITH {_SH_CTE},
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    dfreq AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle),
    ord AS (SELECT s.doc_id, s.shingle, z.n,
                   row_number() OVER (PARTITION BY s.doc_id
                                      ORDER BY d.df, s.shingle) AS rn
            FROM sh s JOIN dfreq d USING (shingle)
                      JOIN sizes z USING (doc_id)),
    pref AS (SELECT doc_id, n, rn, shingle FROM ord
             WHERE rn <= n - ceil(0.8 * n) + 1),
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, a.n AS n_a,
                             b.doc_id AS doc_b, b.n AS n_b
             FROM pref a JOIN pref b ON a.shingle = b.shingle
                                     AND a.doc_id < b.doc_id
             WHERE b.n >= ceil(0.8 * a.n)
               AND a.n >= ceil(0.8 * b.n)
               AND least(a.n - a.rn, b.n - b.rn) + 1
                   >= ceil((0.8 / 1.8) * (a.n + b.n))),
    inter AS (SELECT c.doc_a, c.doc_b, c.n_a, c.n_b, count(*) AS n_inter
              FROM cand c
              JOIN sh sa ON sa.doc_id = c.doc_a
              JOIN sh sb ON sb.doc_id = c.doc_b
                         AND sb.shingle = sa.shingle
              GROUP BY 1, 2, 3, 4)
    SELECT doc_a, doc_b,
           n_inter * 1.0 / (n_a + n_b - n_inter) AS jaccard
    FROM inter
    WHERE n_inter * 1.0 / (n_a + n_b - n_inter) >= 0.8
    """,
    survey="north-star dedup: exact n-gram jaccard via prefix-filtered "
    "inverted-index join (AllPairs/PPJoin prune: jaccard ≥ t pairs must "
    "collide within each set's rarest-first n−ceil(t·n)+1 prefix, plus the "
    "exact length and positional filters — output identical to the "
    "all-shingle join, which is quadratic in per-shingle document "
    "frequency and OOMs at 100×; the filters cut 100× candidates 1.21e9 → "
    "1.29e8, so the candidate-bounded verify aggregate's state is ~129M "
    "groups — in-memory on both engines, where a per-candidate "
    "list-intersection join was measured to materialize list columns past "
    "host RAM in the oracle)",
)
def d05_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = _ctx(spark, sf_dir, "documents")
    # max_df=None: the oracle scores the full shingle universe; the
    # library default caps posting lists (see functions/dedup.py).
    return ngram_jaccard_pairs(docs, threshold=0.8, max_df=None)


@_register(
    "d04_embedding_neardup",
    f"""
    -- MATERIALIZED pre-cast + per-row norm: the inlined form re-casts
    -- embedding::DOUBLE[] and folds THREE dot products per pair (2e9
    -- pairs at 100x); sqrt(list_dot_product(v,v)) per ROW is the same
    -- double (identical op order), so cosine is bit-identical
    WITH e AS MATERIALIZED (
      SELECT vec_id, label, embedding::DOUBLE[] AS v,
             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      FROM embeddings),
    scored AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS cosine
      FROM e a JOIN e b
        ON a.label = b.label AND a.vec_id < b.vec_id),
    pairs AS (
      SELECT vec_a, vec_b, round(cosine, 9) AS cosine
      FROM scored WHERE round(cosine, 9) >= 0.2)
    SELECT vec_a,
           count(*) AS n_pairs,
           CAST(sum(CAST(round(cosine * 1e9) AS BIGINT)) AS BIGINT)
             AS sum_cos_nanos,
           max(CAST(round(cosine * 1e9) AS BIGINT)) AS max_cos_nanos,
           CAST(sum((vec_b * 2654435761) % 2147483647) AS BIGINT)
             AS partner_sig
    FROM pairs GROUP BY vec_a
    """,
    survey="north-star dedup: embedding-cosine near-dup (label-blocked pairwise, "
    "per-block BLAS gemm kernel; bounded per-vector audit output)",
    note="threshold 0.2 so the oracle checks ~10k real pairs at sf0.1 "
    "(0.95 matches nothing in the synthetic embeddings — a vacuous pass); "
    "the Spark side is the applyInPandas matrix-multiply kernel, ulp-equal "
    "to the SQL fold. Audit output is one row per vec_a — pair count, an "
    "exact int64 checksum of each partner's round(cosine,9) in nanos "
    "(integer sum, order-independent), the max, and a Knuth-hash partner-id "
    "signature — so a wrong, missing, or extra pair anywhere flips a row "
    "while output stays O(n) at any scale (the d10/t17 bounded-oracle "
    "discipline: the raw pair relation is ~120M rows at 100×, quadratic "
    "in block size, and collecting it is a harness cost, not a query cost).",
)
def d04_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    (emb,) = _ctx(spark, sf_dir, "embeddings")
    pairs = embedding_near_dup_pairs_blas(emb, threshold=0.2)
    # cosine is already round(,9) — ×1e9 is within 1e-7 of an integer,
    # so round→long is exact and the sums are order-independent int64.
    #
    # partner_sig overflow bound (round-7 ADVICE): vec_b * 2654435761
    # is evaluated in int64, so it overflows once vec_b exceeds
    # ~3.46e9 (2^63 / 2654435761) — ANSI sessions would throw there,
    # non-ANSI ones silently wrap. Max vec_id is ~1e9 even at 100x
    # (stride 1e7 x sf 100), a 3.4x margin; additive checksums can in
    # principle cancel compensating errors, which n_pairs /
    # sum_cos_nanos / max_cos_nanos jointly mitigate. If scale factors
    # ever grow past ~346x, switch to XOR-folding xxhash64((vec_b,
    # cos_nanos)) on BOTH sides instead of raising the multiplier.
    cos_nanos = F.round(F.col("cosine") * 1e9, 0).cast("long")
    return pairs.groupBy("vec_a").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(cos_nanos).alias("sum_cos_nanos"),
        F.max(cos_nanos).alias("max_cos_nanos"),
        F.sum(
            (F.col("vec_b") * F.lit(2654435761)) % F.lit(2147483647)
        ).alias("partner_sig"),
    )


_D02_PAIRS_SQL = QUERIES["d02_minhash_lsh"].oracle

#: d02's pair RELATION re-derived with a row-local list-intersection
#: verify instead of the co-shingle join + aggregate. Same toks/sh/
#: sig/bands/cand candidate generation (the fragments d12's oracle
#: composes), but the verify joins each candidate to two ordered
#: shingle LISTS and tests 5*|A∩B| >= 4*(|A|+|B|-|A∩B|) — integer
#: arithmetic exactly equivalent to jaccard >= 0.8 (both sides
#: integers; a ratio of exactly 4/5 rounds to the double 0.8 and
#: passes the float form too, and any other ratio differs from 4/5 by
#: >= 1/(5*union), far beyond double rounding). Why it exists: d02's
#: registered inter aggregate expands candidates x shingles (~5e9 rows
#: at 100x) through a grouped hash table — the r08 d06 oracle run
#: filled the host's remaining ~75GB of spill disk inside that
#: aggregate. The list form streams one row per candidate against a
#: ~0.5GB build side with NO aggregate state, so the closure oracle
#: is in-sweep capable at 100x. Relation-equality to the registered
#: d02 SQL is pinned by tests/test_audit_contract.py at the test SF
#: and was verified at sf0.01+sf0.1 when landed.
_D02_PAIRS_LIST_SQL = f"""
    WITH {_SH_CTE},
    sig AS MATERIALIZED (SELECT doc_id, {_MH_COLS} FROM sh GROUP BY doc_id),
    bands AS ({_BAND_SELECTS}),
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
             FROM bands a JOIN bands b ON a.band = b.band
                                       AND a.bucket = b.bucket
                                       AND a.doc_id < b.doc_id),
    sets AS MATERIALIZED (
      SELECT doc_id, list(shingle ORDER BY shingle) AS s, count(*) AS n
      FROM sh GROUP BY doc_id)
    SELECT c.doc_a, c.doc_b
    FROM cand c JOIN sets a ON a.doc_id = c.doc_a
                JOIN sets b ON b.doc_id = c.doc_b
    WHERE 5 * len(list_intersect(a.s, b.s))
          >= 4 * (a.n + b.n - len(list_intersect(a.s, b.s)))
    """


def _label_chain_ctes(pair_sql: str, rounds: int) -> tuple[list[str], str]:
    """The shared hash-min label-propagation CTE chain (pairs → sym →
    l0..l{rounds}) behind the closure oracles — extracted so d21's
    quality-keeper oracle reuses the exact certified chain d06/d14 use
    (the refactor is string-identity-verified against the pre-split
    oracles). Returns (ctes, name-of-last-label-CTE)."""
    ctes = [
        f"pairs AS MATERIALIZED ({pair_sql})",
        "sym AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM pairs "
        "UNION ALL SELECT doc_b AS src, doc_a AS dst FROM pairs)",
        "l0 AS MATERIALIZED (SELECT DISTINCT src AS doc_id, src AS lbl FROM sym)",
    ]
    for k in range(1, rounds + 1):
        p = f"l{k - 1}"
        ctes.append(
            f"l{k} AS MATERIALIZED (\n"
            f"  SELECT n.doc_id, least(n.lbl, coalesce(nb.mn, n.lbl),\n"
            f"                         coalesce(pj.lbl, n.lbl)) AS lbl\n"
            f"  FROM {p} n\n"
            f"  LEFT JOIN (SELECT s.src AS doc_id, min(x.lbl) AS mn\n"
            f"             FROM sym s JOIN {p} x ON x.doc_id = s.dst\n"
            f"             GROUP BY s.src) nb ON nb.doc_id = n.doc_id\n"
            f"  LEFT JOIN {p} pj ON pj.doc_id = n.lbl)"
        )
    return ctes, f"l{rounds}"


def _closure_audit_oracle(pair_sql: str, rounds: int = 12) -> str:
    """DuckDB closure-audit oracle with LINEAR state: ``rounds``
    unrolled rounds of hash-min label propagation with pointer
    jumping over the pair relation, then bounded per-group audit
    aggregates (the registered d06/d14 output — see
    functions/dedup.py:closure_audit for the contract).

    Replaces the round-5 recursive-CTE reachability oracle, whose
    intermediate is quadratic in component size (at 100x the corpus
    collapses into ~499k-doc components → ~1e11 reach rows, beyond
    DuckDB capacity — the gap tools/verify_closure_100x.py existed to
    adjudicate; that tool is now only a cross-check). Here each round
    is one edge join + group-by min plus a label-of-label shortcut
    (pointer jump), so state stays at one row per doc and the label's
    distance-to-component-minimum roughly doubles per round: 12
    rounds cover component diameters to ~4096 docs. Every l{k} is
    MATERIALIZED — it is referenced three times by l{k+1}, and DuckDB
    would otherwise inline the chain exponentially.

    ``rounds`` was cut 24 → 12 in round 10 after the phase-split
    profile (`git show d7617ac:tools/profile_d06_oracle.py`) MEASURED
    the 24-round chain as the 100x memory binder: DuckDB's per-thread
    operator state scales with unrolled rounds, and 24 rounds × 32
    threads exhausted
    a 48GB limit in 182s, while the same pair relation (26,914,312
    pairs) closed at rounds=12/48GB in 118s (rounds=8 also converged,
    92s; the 24-round form needs threads=8 — 372s — or 80GB). The cut
    is SAFE by construction: convergence is certified per run (poison
    sentinel below), so a future corpus with component diameter
    > ~4096 fails the driver hash loudly — raise ``rounds`` (or drop
    sweep threads) if that ever fires; it cannot pass wrongly.

    Convergence is CERTIFIED, not assumed: a label is always the id
    of a same-component member and monotonically non-increasing, so
    if no edge crosses two distinct labels the labeling is exactly
    connected-components-min (the min node m has lbl(m) <= m by
    monotonicity and lbl(m) >= m because labels are member ids). The
    final CTE counts label-crossing edges and emits a poison sentinel
    row (group_id = -1) when any remain, so an unconverged oracle
    fails the driver hash loudly instead of passing wrongly.
    """
    ctes, last = _label_chain_ctes(pair_sql, rounds)
    ctes.append(
        f"bad AS (SELECT count(*) AS n FROM sym s\n"
        f"        JOIN {last} a ON a.doc_id = s.src\n"
        f"        JOIN {last} b ON b.doc_id = s.dst\n"
        f"        WHERE a.lbl <> b.lbl)"
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
    SELECT lbl AS group_id, count(*) AS n_docs,
           min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id,
           CAST(sum(((doc_id % 2147483647) * 2654435761) % 2147483647)
                AS BIGINT) AS member_sig
    FROM {last} GROUP BY lbl
    UNION ALL
    SELECT CAST(-1 AS BIGINT) AS group_id, n AS n_docs,
           CAST(NULL AS BIGINT) AS min_doc_id,
           CAST(NULL AS BIGINT) AS max_doc_id,
           CAST(NULL AS BIGINT) AS member_sig
    FROM bad WHERE n > 0
    """
    )


@_register(
    "d06_near_dup_groups",
    _closure_audit_oracle(_D02_PAIRS_LIST_SQL),
    survey="north-star dedup: transitive closure of near-dup pairs into keeper "
    "groups (distributed hash-min label propagation vs unrolled pointer-"
    "jumping label propagation in SQL), registered as bounded per-group "
    "audit aggregates",
    note="AUDIT-OUTPUT CONTRACT: the API shape is near_dup_groups' raw "
    "(doc_id, group_id) relation; the registered output is closure_audit's "
    "one-row-per-group aggregate (size, id range, exact int64 membership "
    "checksum) so the verified relation stays O(#groups) at any scale. The "
    "oracle's label propagation carries linear state per round (the round-5 "
    "recursive reachability CTE was quadratic in component size and "
    "exceeded DuckDB capacity at 100x) and certifies its own convergence "
    "with a poison sentinel row. tests/test_audit_contract.py reconciles "
    "the raw relation against the registered aggregate.",
)
def d06_near_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of the MinHash near-dup graph, audited:
    every doc that has a duplicate gets its component's min doc_id as
    group_id (the canonical keep-first keeper); the registered output
    is one bounded audit row per group."""
    from ..functions.dedup import (
        closure_audit,
        minhash_near_dup_pairs,
        near_dup_groups,
    )

    (docs,) = _ctx(spark, sf_dir, "documents")
    # bucket_cap=None: the oracle propagates over the exact all-pairs
    # LSH pair set (library default is star-capped).
    return closure_audit(
        near_dup_groups(
            minhash_near_dup_pairs(
                docs, threshold=0.8, bucket_cap=None, hash_fn="md5"
            )
        )
    )


_D03_SIMHASH_SQL_REF = "d03_simhash"  # oracle reused as the d09 CTE


def _d09_oracle(
    bits: int = SIMHASH_BITS, n_bands: int = 4, sh_sql: str | None = None
) -> str:
    """Pigeonhole band join over the ``bits``-wide fingerprint, hamming
    refined via 32-bit fingerprint words (matches the Spark plan — no
    signed-int64 overflow at any width).

    ``sh_sql``: SQL producing (doc_id, simhash_bits) — defaults to
    d03's SimHash; m10 passes its image-aHash derivation instead (the
    template mirrors ``dedup.hamming_pairs_from_bits``, which both
    engines' queries share)."""
    if sh_sql is None:
        sh_sql = QUERIES[_D03_SIMHASH_SQL_REF].oracle
    band_w = bits // n_bands
    n_words = (bits + 31) // 32
    word_exprs = []
    for i in range(n_words):
        w = min(32, bits - i * 32)
        val = " + ".join(
            f"(CASE WHEN substr(simhash_bits, {i * 32 + j + 1}, 1) = '1' "
            f"THEN {1 << (w - 1 - j)} ELSE 0 END)"
            for j in range(w)
        )
        word_exprs.append(f"({val}) AS w{i}")
    words_sel = ", ".join(word_exprs)
    wcols = ", ".join(f"w{i}" for i in range(n_words))
    wcols_ab = ", ".join(
        f"a.w{i} AS w{i}a, b2.w{i} AS w{i}b" for i in range(n_words)
    )
    ham = " + ".join(f"bit_count(xor(w{i}a, w{i}b))" for i in range(n_words))
    return f"""
    WITH sh AS ({sh_sql}),
    v AS (SELECT doc_id, simhash_bits, {words_sel} FROM sh),
    b AS (SELECT doc_id, {wcols}, u.j,
                 substr(simhash_bits, u.j * {band_w} + 1, {band_w}) AS band
          FROM v, LATERAL (SELECT unnest(generate_series(0, {n_bands - 1}))
                           AS j) u),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b, {wcols_ab}
      FROM b a JOIN b b2 ON a.j = b2.j AND a.band = b2.band
                        AND a.doc_id < b2.doc_id)
    SELECT doc_a, doc_b, {ham} AS hamming
    FROM cand WHERE {ham} <= 3
    """


@_register(
    "d09_simhash_hamming",
    _d09_oracle(),
    survey="north-star dedup: SimHash hamming-distance pairs via the "
    "pigeonhole band join (≤ n_bands−1 differing bits must share an exact "
    "band) + bit_count(xor) refine — the fingerprint-side companion to "
    "d02's MinHash set-similarity path",
)
def d09_simhash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document pairs within hamming distance 3 of each other's SimHash."""
    from ..functions.dedup import simhash_hamming_pairs

    (docs,) = _ctx(spark, sf_dir, "documents")
    # bucket_cap=None: oracle defines all-pairs band-join semantics.
    return simhash_hamming_pairs(
        docs, max_hamming=3, n_bands=4, bucket_cap=None
    )


_D12_CAP = 2  # exercises the star path on sf0.01's m=3 buckets


@_register(
    "d12_lsh_star_cap",
    f"""
    WITH {_SH_CTE},
    sig AS MATERIALIZED (SELECT doc_id, {_MH_COLS} FROM sh GROUP BY doc_id),
    bands AS ({_BAND_SELECTS}),
    ann AS (SELECT doc_id, band, bucket,
                   count(*) OVER (PARTITION BY band, bucket) AS m,
                   min(doc_id) OVER (PARTITION BY band, bucket) AS mn
            FROM bands),
    cand AS (SELECT DISTINCT doc_a, doc_b FROM (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM ann a JOIN ann b ON a.band = b.band AND a.bucket = b.bucket
                            AND a.doc_id < b.doc_id
      WHERE a.m <= {_D12_CAP}
      UNION ALL
      SELECT mn AS doc_a, doc_id AS doc_b FROM ann
      WHERE m > {_D12_CAP} AND doc_id <> mn)),
    {_JACCARD_TAIL_CAND.lstrip()}
    SELECT c.doc_a, c.doc_b,
           i.n_inter * 1.0 / (na.n + nb.n - i.n_inter) AS jaccard
    FROM cand c JOIN inter i ON c.doc_a = i.doc_a AND c.doc_b = i.doc_b
    JOIN sizes na ON na.doc_id = c.doc_a
    JOIN sizes nb ON nb.doc_id = c.doc_b
    WHERE i.n_inter * 1.0 / (na.n + nb.n - i.n_inter) >= 0.8
    """,
    survey="north-star dedup, the 100 TB emission shape: MinHash+LSH with "
    "a per-bucket pair-emission cap — buckets over the cap emit m−1 STAR "
    "edges to their min doc_id (the d10 first-occurrence pattern) instead "
    "of m(m−1)/2 pairs, so one viral boilerplate cluster can never emit "
    "corpus-quadratic candidates; small buckets keep exact all-pairs",
    note="The candidate graph stays bucket-connected under the cap, so "
    "hash-min closure (d06) builds identical keeper groups; refined "
    "similarity on star edges scores (min, x) pairs only — the documented "
    "recall trade for giant buckets.",
)
def d12_lsh_star_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash near-dup pairs with the production bucket cap."""
    from ..functions.dedup import minhash_near_dup_pairs

    (docs,) = _ctx(spark, sf_dir, "documents")
    return minhash_near_dup_pairs(
        docs, threshold=0.8, bucket_cap=_D12_CAP, hash_fn="md5"
    )


# the d06 closure fed by the CAPPED pair set — the complete production
# chain (capped emission -> refine -> hash-min groups), registered as
# the same bounded audit aggregate over the identical capped pair SQL
@_register(
    "d14_star_cap_groups",
    _closure_audit_oracle(QUERIES["d12_lsh_star_cap"].oracle),
    survey="north-star dedup, the full 100 TB chain: bucket-capped LSH "
    "candidate emission (star edges past the cap) -> jaccard refine -> "
    "hash-min transitive closure into keeper groups — the exact pipeline "
    "a production dedup pass runs, with every stage's pair volume bounded "
    "linearly in duplicate-cluster size; registered as bounded per-group "
    "audit aggregates",
    note="Closure over the capped pair set, audited per group (see d06's "
    "AUDIT-OUTPUT CONTRACT note); tests/test_dedup_star_cap.py "
    "additionally pins that this closure equals the uncapped one on "
    "duplicate-heavy corpora (star edges keep every bucket connected).",
)
def d14_star_cap_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keeper groups from the capped near-dup graph, one bounded audit
    row per group (the raw relation is the near_dup_groups API)."""
    from ..functions.dedup import (
        closure_audit,
        minhash_near_dup_pairs,
        near_dup_groups,
    )

    (docs,) = _ctx(spark, sf_dir, "documents")
    return closure_audit(
        near_dup_groups(
            minhash_near_dup_pairs(
                docs, threshold=0.8, bucket_cap=_D12_CAP, hash_fn="md5"
            )
        )
    )


def _d13_oracle(
    bits: int = SIMHASH_BITS,
    n_bands: int = 4,
    cap: int = 2,
    sh_sql: str | None = None,
    max_hamming: int = 3,
) -> str:
    """d09's pigeonhole band join with the per-bucket star cap.

    ``sh_sql``: SQL producing (doc_id, simhash_bits) — defaults to
    d03's SimHash; m10 passes its image-aHash derivation (whose
    low-entropy bands are exactly why IT must register the capped
    form: small images replicate pixels across the 8×8 grid, band
    values concentrate, and the uncapped join shuffle measured its
    way into disk exhaustion at 100×). m12 does NOT use this template:
    its keyframe-DCT fingerprint derivation cannot live inside a
    nested CTE under DuckDB 1.0's materializer (measured at 100×: the
    list-pivot + 64-wide projection chain balloons virtual address
    space ~1.5GB/s until host malloc fails, whatever the memory_limit)
    — m12 generates the same band/refine SQL FLAT in multimodal.py
    over an aggregate-form DCT."""
    if sh_sql is None:
        sh_sql = QUERIES[_D03_SIMHASH_SQL_REF].oracle
    band_w = bits // n_bands
    n_words = (bits + 31) // 32
    word_exprs = []
    for i in range(n_words):
        w = min(32, bits - i * 32)
        val = " + ".join(
            f"(CASE WHEN substr(simhash_bits, {i * 32 + j + 1}, 1) = '1' "
            f"THEN {1 << (w - 1 - j)} ELSE 0 END)"
            for j in range(w)
        )
        word_exprs.append(f"({val}) AS w{i}")
    words_sel = ", ".join(word_exprs)
    wcols = ", ".join(f"w{i}" for i in range(n_words))
    wcols_a = ", ".join(f"va.w{i} AS w{i}a" for i in range(n_words))
    wcols_b = ", ".join(f"vb.w{i} AS w{i}b" for i in range(n_words))
    ham = " + ".join(f"bit_count(xor(w{i}a, w{i}b))" for i in range(n_words))
    return f"""
    WITH sh AS ({sh_sql}),
    v AS (SELECT doc_id, simhash_bits, {words_sel} FROM sh),
    b AS (SELECT doc_id, u.j,
                 substr(simhash_bits, u.j * {band_w} + 1, {band_w}) AS band
          FROM v, LATERAL (SELECT unnest(generate_series(0, {n_bands - 1}))
                           AS j) u),
    ann AS (SELECT doc_id, j, band,
                   count(*) OVER (PARTITION BY j, band) AS m,
                   min(doc_id) OVER (PARTITION BY j, band) AS mn
            FROM b),
    pairs AS (SELECT DISTINCT doc_a, doc_b FROM (
      SELECT a.doc_id AS doc_a, b2.doc_id AS doc_b
      FROM ann a JOIN ann b2 ON a.j = b2.j AND a.band = b2.band
                             AND a.doc_id < b2.doc_id
      WHERE a.m <= {cap}
      UNION ALL
      SELECT mn AS doc_a, doc_id AS doc_b FROM ann
      WHERE m > {cap} AND doc_id <> mn)),
    cand AS (SELECT p.doc_a, p.doc_b, {wcols_a}, {wcols_b}
             FROM pairs p JOIN v va ON va.doc_id = p.doc_a
                          JOIN v vb ON vb.doc_id = p.doc_b)
    SELECT doc_a, doc_b, {ham} AS hamming
    FROM cand WHERE {ham} <= {max_hamming}
    """


@_register(
    "d13_simhash_star_cap",
    _d13_oracle(cap=2),
    survey="north-star dedup, the 100 TB emission shape: SimHash pigeonhole "
    "band join with the per-bucket star cap — identical fingerprints land "
    "in the same bucket of EVERY band, so a cluster of m exact dups costs "
    "4·m²/2 pairs uncapped; capped it is m−1 star edges, hamming-refined "
    "like any candidate",
)
def d13_simhash_star_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming-≤3 SimHash pairs with the production bucket cap."""
    from ..functions.dedup import simhash_hamming_pairs

    (docs,) = _ctx(spark, sf_dir, "documents")
    return simhash_hamming_pairs(docs, max_hamming=3, n_bands=4, bucket_cap=2)


QUERIES_D08_ORACLE = f"""
    WITH pairs AS (
      {_D02_PAIRS_SQL}
    )
    SELECT p.doc_a, p.doc_b,
           levenshtein(a.text, b.text) AS lev,
           CASE WHEN greatest(length(a.text), length(b.text)) = 0 THEN 1.0
                ELSE 1.0 - levenshtein(a.text, b.text) * 1.0 /
                     greatest(length(a.text), length(b.text))
           END AS edit_sim
    FROM pairs p
    JOIN documents a ON p.doc_a = a.doc_id
    JOIN documents b ON p.doc_b = b.doc_id
    """


@_register(
    "d08_edit_distance_refine",
    QUERIES_D08_ORACLE,
    survey="north-star dedup: levenshtein refine of MinHash candidate pairs "
    "(third tier: LSH bands → jaccard → character edit distance, each "
    "touching only survivors of the previous; edit distance is O(len²) per "
    "pair and must never run all-pairs)",
)
def d08_edit_distance_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level similarity for every MinHash near-dup pair —
    catches in-place small edits that shift every overlapping shingle."""
    from ..functions.dedup import edit_distance_refine, minhash_near_dup_pairs

    (docs,) = _ctx(spark, sf_dir, "documents")
    # bucket_cap=None: refine tier must see the oracle's all-pairs set.
    return edit_distance_refine(
        docs,
        minhash_near_dup_pairs(docs, threshold=0.8, bucket_cap=None, hash_fn="md5"),
    )


def _signlsh_tables_sql() -> str:
    """SQL twin of ``signlsh_adaptive_tables``: the band-OR table count
    as an integer CASE over the plane count, generated FROM the Python
    function so the two ladders cannot drift."""
    rungs = " ".join(
        f"WHEN {p} THEN {signlsh_adaptive_tables(p)}"
        for p in range(
            SIGNLSH_BASE_PLANES, SIGNLSH_BASE_PLANES + SIGNLSH_MAX_EXTRA + 1
        )
    )
    return f"CASE planes {rungs} END"


#: weight of plane {j} in OR-table ``tbl`` — table 0 uses the historic
#: bare-integer seed (bit-compatible with ``_SIGNLSH_W``), table i>0
#: the disjoint 't{{i}}p{{j}}' namespace (``similarity._plane_seed``).
_SIGNLSH_WT = (
    "(('0x' || substr(md5((CASE WHEN tbl = 0 THEN '{j}' "
    "ELSE 't' || tbl || 'p{j}' END) || '|' || CAST(dim AS VARCHAR)), 1, 8))"
    "::BIGINT / 2147483648.0 - 1.0)"
)


def _signlsh_multiprobe_candidates_sql() -> str:
    """Band-OR multiprobe candidate pairs: per OR-table bucket self-
    join, unioned by colliding in ANY table, distinct pairs. The table
    count and the count-laddered plane PREFIX both derive from the
    same count(*) CASE ladders as the Spark side, and table 0's bit
    string is byte-identical to the single-table oracle's."""
    max_planes = SIGNLSH_BASE_PLANES + SIGNLSH_MAX_EXTRA
    dots = ",\n             ".join(
        f"sum(x * {_SIGNLSH_WT.format(j=j)}) AS d{j}" for j in range(max_planes)
    )
    bits = " || ".join(
        f"CASE WHEN d{j} >= 0 THEN '1' ELSE '0' END" for j in range(max_planes)
    )
    return f"""
    WITH params AS (
      SELECT planes, {_signlsh_tables_sql()} AS tables
      FROM (SELECT {_signlsh_planes_sql()} AS planes
            FROM (SELECT count(*) AS n FROM embeddings))),
    tbls AS (
      SELECT unnest(generate_series(0, tables - 1)) AS tbl FROM params),
    dims AS (
      SELECT vec_id, u.x, u.dim - 1 AS dim
      FROM embeddings,
           LATERAL (SELECT unnest(embedding::DOUBLE[]) AS x,
                           generate_subscripts(embedding, 1) AS dim) u),
    dots AS (
      SELECT vec_id, tbl,
             {dots}
      FROM dims CROSS JOIN tbls GROUP BY vec_id, tbl),
    buckets AS (
      SELECT vec_id, tbl, substr({bits}, 1, planes) AS bucket
      FROM dots, params)
    SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
    FROM buckets a JOIN buckets b
      ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
    """


@_register(
    "d07_signlsh_neardup",
    f"""
    WITH cand AS ({_signlsh_multiprobe_candidates_sql()}),
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
    SELECT vec_a, vec_b, cosine FROM (
      SELECT cand.vec_a, cand.vec_b,
             list_dot_product(a.v, b.v) /
               (sqrt(list_dot_product(a.v, a.v)) *
                sqrt(list_dot_product(b.v, b.v))) AS cosine
      FROM cand JOIN e a ON cand.vec_a = a.vec_id
                JOIN e b ON cand.vec_b = b.vec_id)
    WHERE cosine >= 0.3
    """,
    survey="north-star dedup: embedding near-dup at corpus scale — sign-LSH "
    "bucket-join candidates (count-adaptive plane ladder so candidate volume "
    "stays O(n) at any corpus size) OR'd over a recall-compensating number "
    "of independent plane tables (band-OR construction: the adaptive width "
    "alone multiplies recall by ~0.86 per extra plane, so a single table "
    "finds a vanishing fraction of true near-dups as the corpus grows; "
    "signlsh_adaptive_tables sizes t so OR-recall at cos≥0.9 never drops "
    "below the 8-plane base rung), refined by exact cosine ≥ threshold; the "
    "unblocked companion to d04 (candidate volume tracks bucket occupancy "
    "× t, not corpus²)",
    note="At the base rung (≤4096 vectors: 8 planes → 1 table) the band-OR "
    "form reduces to the classic single-table candidates, so sf≤0.1 results "
    "are unchanged; past it, both engines derive the identical (planes, "
    "tables) pair from the same count(*) integer ladders.",
)
def d07_signlsh_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.similarity import signlsh_near_dup_pairs

    (emb,) = _ctx(spark, sf_dir, "embeddings")
    return signlsh_near_dup_pairs(emb, threshold=0.3).select(
        "vec_a", "vec_b", "cosine"
    )


@_register(
    "d10_chunk_dedup",
    """
    WITH arr AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w
      FROM documents),
    ch AS (
      SELECT doc_id, i AS chunk_idx,
             array_to_string(w[(i*3+1):(i*3+3)], ' ') AS chunk
      FROM arr,
           LATERAL (SELECT unnest(range(0,
                      CAST(ceil(len(w) / 3.0) AS BIGINT))) AS i) u
      WHERE len(w) > 0),
    k AS (
      SELECT doc_id, chunk_idx, chunk,
             row_number() OVER (PARTITION BY md5(chunk)
                                ORDER BY doc_id, chunk_idx) AS rn
      FROM ch)
    SELECT doc_id,
           count(*) AS n_chunks,
           CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CASE WHEN sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) > 0 THEN
             CAST(sum(CASE WHEN rn = 1 THEN length(chunk) END)
                  + sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) - 1 AS BIGINT)
           END AS dedup_len,
           CASE WHEN sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) > 0 THEN
             CAST(sum(CASE WHEN rn = 1 THEN
               (chunk_idx + 1)
               * ('0x' || substr(md5(chunk), 1, 8))::BIGINT END) AS BIGINT)
           END AS dedup_sig
    FROM k GROUP BY doc_id
    """,
    survey="north-star dedup: sub-document exact dedup with reassembly "
    "(C4/CCNet paragraph-dedup pattern — chunk, keep the globally first "
    "occurrence of each distinct chunk, rebuild docs from survivors in "
    "order); two uniform shuffles (chunk-hash ranking, doc_id reassembly), "
    "audit output is bounded per-doc aggregates (derived length + "
    "position-weighted hash signature) so neither engine materializes "
    "reassembled text — the t17 bounded-oracle discipline",
)
def d10_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See functions.dedup.chunk_dedup (3-word chunks over the
    synthetic corpus so cross-doc duplicates actually occur; production
    chunks on paragraph boundaries with the same plan shape)."""
    from ..functions.dedup import chunk_dedup

    (docs,) = _ctx(spark, sf_dir, "documents")
    return chunk_dedup(docs, chunk_words=3)


@_register(
    "d11_url_dedup",
    """
    WITH u AS (
      SELECT doc_id,
             doc_id // 4 AS base, doc_id % 4 AS v,
             'www.src' || (doc_id // 4 % 20)::VARCHAR || '.example.com' AS host
      FROM documents),
    raw AS (
      SELECT doc_id,
             CASE v
               WHEN 0 THEN 'https://' || host || '/doc/' || base::VARCHAR
               WHEN 1 THEN 'HTTPS://' || upper(host) || '/doc/' || base::VARCHAR
                           || '#sec2'
               WHEN 2 THEN 'https://' || host || ':443/doc/' || base::VARCHAR
                           || '?utm_source=feed'
               ELSE 'https://' || host || '/doc/' || base::VARCHAR || '/'
             END AS url
      FROM u),
    stripped AS (
      SELECT doc_id, url,
             regexp_replace(regexp_replace(url, '#.*$', '', 'g'),
                            '\\?utm_[a-z_]+=[^&#]*$', '', 'g') AS s
      FROM raw),
    canon AS (
      SELECT doc_id, url,
             regexp_replace(
               lower(regexp_extract(s, '^([A-Za-z]+://[^/]+)', 1)),
               ':443$', '')
             || substr(s, length(regexp_extract(s, '^([A-Za-z]+://[^/]+)', 1))
                          + 1) AS c3
      FROM stripped),
    fin AS (SELECT doc_id, url, regexp_replace(c3, '/$', '') AS canonical
            FROM canon)
    SELECT canonical, count(*) AS n_variants,
           count(DISTINCT url) AS n_raw_forms,
           min(doc_id) AS keeper
    FROM fin GROUP BY canonical
    """,
    survey="north-star dedup: URL canonicalization dedup (the crawl-"
    "pipeline pre-pass: strip fragment + utm tracking params, lowercase "
    "scheme/host, drop default port and trailing slash, then group by the "
    "canonical form) — RE2-compatible regexp chain (no lookahead), all "
    "codegen, one groupBy shuffle; the fixture derives four messy variants "
    "per logical URL so the collapse is non-vacuous",
)
def d11_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthetic messy URLs (case/port/fragment/tracking/slash variants)
    collapsed by functions.dedup.canonicalize_url."""
    from ..functions.dedup import canonicalize_url

    (docs,) = _ctx(spark, sf_dir, "documents")
    base = F.floor(F.col("doc_id") / 4).cast("long")
    v = F.col("doc_id") % 4
    host = F.concat(
        F.lit("www.src"), (base % 20).cast("string"), F.lit(".example.com")
    )
    b = base.cast("string")
    url = (
        F.when(v == 0, F.concat(F.lit("https://"), host, F.lit("/doc/"), b))
        .when(
            v == 1,
            F.concat(F.lit("HTTPS://"), F.upper(host), F.lit("/doc/"), b, F.lit("#sec2")),
        )
        .when(
            v == 2,
            F.concat(
                F.lit("https://"), host, F.lit(":443/doc/"), b, F.lit("?utm_source=feed")
            ),
        )
        .otherwise(F.concat(F.lit("https://"), host, F.lit("/doc/"), b, F.lit("/")))
    )
    raw = docs.select("doc_id", url.alias("url"))
    return (
        raw.withColumn("canonical", canonicalize_url(F.col("url")))
        .groupBy("canonical")
        .agg(
            F.count(F.lit(1)).alias("n_variants"),
            F.count_distinct(F.col("url")).alias("n_raw_forms"),
            F.min("doc_id").alias("keeper"),
        )
    )


@_register(
    "d15_decontaminate",
    """
    WITH toks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w
                  FROM documents),
    sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
           FROM toks, range(1, 4096) t(i) WHERE i + 2 <= len(w)),
    bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 50 = 0),
    tr AS (SELECT * FROM sh WHERE doc_id % 50 <> 0),
    per AS (
      SELECT tr.doc_id, count(*) AS n_sh,
             count(*) FILTER (WHERE bench.shingle IS NOT NULL) AS n_hit
      FROM tr LEFT JOIN bench ON tr.shingle = bench.shingle
      GROUP BY tr.doc_id)
    SELECT doc_id, n_sh, n_hit,
           n_hit * 1.0 / n_sh >= 0.05 AS contaminated
    FROM per
    """,
    survey="north-star curation: eval-benchmark decontamination by "
    "n-gram collision (the GPT-3/PaLM discipline: a training doc sharing "
    "n-grams with a held-out benchmark is flagged/dropped). Plan: ONE "
    "corpus shingle scan; the benchmark n-gram set is tiny relative to "
    "the corpus and broadcast, so the collision probe is a map-side "
    "broadcast left join — the corpus never shuffles on shingle; the only "
    "exchange is the per-doc count aggregate (map-side partial). At "
    "100 TB the benchmark side stays a few million n-grams (MB-scale "
    "broadcast) no matter how big the corpus grows.",
    note="Benchmark stand-in: docs with doc_id % 50 = 0 (deterministic "
    "held-out subset). contaminated = hit fraction >= 0.05; the flag is "
    "an exact integer ratio compare, engine-portable.",
)
def d15_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flag training docs whose 3-gram shingle sets collide with the
    benchmark set's shingles. The broadcast of the benchmark n-gram
    set (not a shuffle of the corpus) is the 100 TB design point."""
    from ..functions.dedup import shingles

    (docs,) = _ctx(spark, sf_dir, "documents")
    sh = shingles(docs, "text", n=3)
    bench = (
        sh.filter(F.col("doc_id") % 50 == 0)
        .select("shingle")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    train = sh.filter(F.col("doc_id") % 50 != 0)
    per = (
        train.join(F.broadcast(bench), "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_sh"),
            F.count("_hit").alias("n_hit"),
        )
    )
    return per.select(
        "doc_id",
        "n_sh",
        "n_hit",
        (F.col("n_hit") * F.lit(1.0) / F.col("n_sh") >= F.lit(0.05)).alias(
            "contaminated"
        ),
    )


@_register(
    "d16_bloom_decontaminate",
    """
    WITH toks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w
                  FROM documents),
    sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
           FROM toks, range(1, 4096) t(i) WHERE i + 2 <= len(w)),
    bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 50 = 0),
    tr AS (SELECT * FROM sh WHERE doc_id % 50 <> 0),
    per AS (
      SELECT tr.doc_id, count(*) AS n_sh,
             count(*) FILTER (WHERE bench.shingle IS NOT NULL) AS n_hit
      FROM tr LEFT JOIN bench ON tr.shingle = bench.shingle
      GROUP BY tr.doc_id)
    SELECT doc_id, n_sh, n_hit,
           n_hit * 1.0 / n_sh >= 0.05 AS contaminated
    FROM per
    """,
    survey="north-star curation: d15's decontamination re-planned through "
    "a BLOOM-FILTER prefilter — the physical strategy Spark's own runtime "
    "row-level filtering uses, built explicitly: the benchmark shingle "
    "set is hashed k=3 ways into an m-bit array (driver-side bit_or "
    "aggregate, sized from the observed key count), shipped as an ARRAY "
    "LITERAL into the probe predicate, and every corpus shingle is "
    "screened ROW-LOCALLY (three xxhash64 + element_at bit tests — no "
    "join, no shuffle) before the exact residual join confirms survivors "
    "(Bloom has no false negatives, so the final result is exactly "
    "d15's). At 100 TB the corpus-side cost is a codegen'd predicate in "
    "the scan stage; only the ~fpp fraction of candidate shingles ever "
    "reaches the exact join. d12/d13's lesson applied to joins: screen "
    "cheaply first, pay the exchange only for survivors.",
    note="Oracle = d15's exact SQL (the Bloom pass is result-invisible "
    "by construction). Bloom build is a bounded driver collect of m/64 "
    "int64 words (same bounded-broadcast discipline as s02's IVF "
    "centroids); m scales with the benchmark key count, never the "
    "corpus.",
)
def d16_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered benchmark decontamination (exact result).

    Build: k=3 xxhash64 positions per benchmark shingle into m bits,
    OR-folded per 64-bit word by a bit_or aggregate, collected into a
    python list (m/64 longs). Probe: the corpus predicate tests all
    three bits against the array LITERAL — row-local, fused into the
    scan stage — then the surviving shingles take the exact broadcast
    join d15 applies to everything.
    """
    from ..functions.dedup import shingles

    (docs,) = _ctx(spark, sf_dir, "documents")
    sh = shingles(docs, "text", n=3)
    bench = sh.filter(F.col("doc_id") % 50 == 0).select("shingle").distinct()

    n_keys = bench.count()  # driver-side: benchmark set is the SMALL side
    m_bits = 64
    while m_bits < 16 * max(n_keys, 1):  # ~16 bits/key → fpp ≈ 0.1% at k=3
        m_bits *= 2
    n_words = m_bits // 64

    # seeds as BIGINT on both sides: xxhash64 hashes by input TYPE, so
    # an INT seed here and a `1L` seed in the probe expr would bucket
    # differently and silently drop every true hit
    positions = [
        F.pmod(F.xxhash64(F.lit(seed).cast("long"), F.col("shingle")), F.lit(m_bits))
        for seed in (1, 2, 3)
    ]
    word_rows = (
        bench.select(F.explode(F.array(*positions)).alias("pos"))
        .select(
            (F.col("pos") / 64).cast("int").alias("w"),
            (F.col("pos") % 64).cast("int").alias("b"),
        )
        .groupBy("w")
        .agg(F.bit_or(F.expr("shiftleft(CAST(1 AS BIGINT), b)")).alias("bits"))
        .collect()
    )
    words = [0] * n_words
    for r in word_rows:
        words[r["w"]] = r["bits"]

    # the bloom words ride along as a constant array column so the bit
    # tests can reference it from expr (shift amounts are per-row
    # columns, which the python shiftleft/shiftright API doesn't take)
    train = sh.filter(F.col("doc_id") % 50 != 0).withColumn(
        "_bloom", F.lit(words).cast("array<bigint>")
    )
    cond = F.lit(True)
    for seed in (1, 2, 3):
        bit_set = F.expr(
            f"shiftright(element_at(_bloom, "
            f"CAST(pmod(xxhash64({seed}L, shingle), {m_bits}L) DIV 64 AS INT) + 1), "
            f"CAST(pmod(xxhash64({seed}L, shingle), {m_bits}L) % 64 AS INT)) & 1 = 1"
        )
        cond = cond & bit_set
    cand = train.filter(cond).drop("_bloom")
    train = train.drop("_bloom")

    bench_hit = bench.withColumn("_hit", F.lit(1))
    hits = (
        cand.join(F.broadcast(bench_hit), "shingle", "left")
        .filter(F.col("_hit").isNotNull())
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    per = train.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    out = per.join(hits, "doc_id", "left").select(
        "doc_id",
        "n_sh",
        F.coalesce(F.col("n_hit"), F.lit(0)).alias("n_hit"),
        (
            F.coalesce(F.col("n_hit"), F.lit(0)) * F.lit(1.0) / F.col("n_sh")
            >= F.lit(0.05)
        ).alias("contaminated"),
    )
    return out


# ---------------------------------------------------------------------------
# d17: cross-document duplicated-window rate (exact substring dedup signal)
# ---------------------------------------------------------------------------
_D17_K = 8


@_register(
    "d17_window_duprate",
    f"""
    WITH toks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w
                  FROM documents),
    g AS (SELECT doc_id, array_to_string(w[i : i + {_D17_K - 1}], ' ') AS gram,
                 count(*) AS n_pos
          FROM toks, range(1, 4096) t(i)
          WHERE i + {_D17_K - 1} <= len(w)
          GROUP BY doc_id, gram),
    df AS (SELECT gram, count(*) AS n_docs FROM g GROUP BY gram)
    SELECT g.doc_id,
           CAST(sum(g.n_pos) AS BIGINT) AS n_windows,
           CAST(sum(CASE WHEN df.n_docs >= 2 THEN g.n_pos ELSE 0 END)
                AS BIGINT) AS n_dup_windows,
           CAST(sum(CASE WHEN df.n_docs >= 2 THEN g.n_pos ELSE 0 END)
                AS DOUBLE) / sum(g.n_pos) AS dup_frac
    FROM g JOIN df USING (gram)
    GROUP BY g.doc_id
    """,
    survey="north-star dedup completion: cross-document duplicated-"
    "window rate — the exact-substring dedup signal of Lee et al. "
    "(arXiv:2107.06499) over 8-token windows. Every window position is "
    "counted; a position is duplicated iff its gram occurs in ≥1 OTHER "
    "document (within-doc repetition stays t08/t17's business), and the "
    "per-doc fraction is the threshold curation pipelines drop on. "
    "Plan: row-local gram assembly (the shingles Generate-node trick), "
    "(doc,gram) map-side-combining aggregate collapsing within-doc "
    "repeats BEFORE the wire, one count-over-gram window (no gram "
    "self-join — a gram shared by m docs costs m rows, never m²), "
    "per-doc rollup. The raw-gram shuffle key is the oracle "
    "configuration; gram_key='xxhash64' is the production knob that "
    "shuffles 8 bytes per window instead of the string.",
)
def d17_window_duprate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc fraction of 8-token windows that also occur in another
    document."""
    from ..functions.dedup import window_dup_rate

    (docs,) = _ctx(spark, sf_dir, "documents")
    return window_dup_rate(docs, k=_D17_K, gram_key="raw")


# ---------------------------------------------------------------------------
# d18: incremental batch-vs-corpus MinHash dedup (production ingestion)
# ---------------------------------------------------------------------------


@_register(
    "d18_incremental_dedup",
    f"""
    WITH {_SH_CTE},
    sig AS MATERIALIZED (SELECT doc_id, {_MH_COLS} FROM sh GROUP BY doc_id),
    bands AS ({_BAND_SELECTS}),
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
             FROM bands a JOIN bands b ON a.band = b.band
                                       AND a.bucket = b.bucket
             WHERE a.doc_id % 5 <> 0 AND b.doc_id % 5 = 0),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (SELECT c.doc_a, c.doc_b, count(*) AS n_inter
              FROM cand c
              JOIN sh sa ON sa.doc_id = c.doc_a
              JOIN sh sb ON sb.doc_id = c.doc_b
                         AND sb.shingle = sa.shingle
              GROUP BY 1, 2),
    scored AS (SELECT i.doc_a, i.doc_b,
                      i.n_inter * 1.0 / (na.n + nb.n - i.n_inter) AS j
               FROM inter i
               JOIN sizes na ON na.doc_id = i.doc_a
               JOIN sizes nb ON nb.doc_id = i.doc_b
               WHERE i.n_inter * 1.0 / (na.n + nb.n - i.n_inter) >= 0.8)
    SELECT doc_b AS batch_doc,
           CAST(count(*) AS BIGINT) AS n_matches,
           min(doc_a) AS first_match,
           max(CAST(round(j * 1e9) AS BIGINT)) AS max_jaccard_nanos
    FROM scored GROUP BY doc_b
    """,
    survey="north-star dedup completion: INCREMENTAL batch-vs-corpus "
    "MinHash dedup — the production ingestion shape (new batch = "
    "doc_id%5==0, standing corpus = the rest; in production the corpus "
    "side is persisted signature/bucket state written once per admitted "
    "doc, so a batch costs O(batch), not O(corpus)). Candidates are "
    "corpus-bands ⋈ batch-bands on (band,bucket) — build-small/"
    "probe-large, never a corpus self-join — verified by the "
    "candidate-bounded array-intersect jaccard; per matched batch doc "
    "the match count, smallest matching corpus doc and exact max-"
    "jaccard nanos are emitted (novel survivors = the batch anti-join). "
    "bucket_cap thins viral corpus buckets to their cap smallest "
    "members per probe (the star-cap recall argument); the registered "
    "form opts out (bucket_cap=None, hash_fn=md5) because this oracle "
    "defines the exact all-members probe.",
)
def d18_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup matches of the doc_id%5==0 batch against the rest of
    the corpus (jaccard ≥ 0.8)."""
    from ..functions.dedup import incremental_minhash_dedup

    (docs,) = _ctx(spark, sf_dir, "documents")
    return incremental_minhash_dedup(
        docs, batch_mod=5, threshold=0.8, bucket_cap=None, hash_fn="md5"
    )


# ---------------------------------------------------------------------------
# d19: near-containment pairs
# ---------------------------------------------------------------------------
@_register(
    "d19_containment_pairs",
    """
    WITH toks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+')
                         AS w
                  FROM documents),
    sh AS MATERIALIZED (
       SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
       FROM toks, range(1, 4096) t(i) WHERE i + 2 <= len(w)),
    cap AS MATERIALIZED (
       SELECT doc_id, shingle FROM (
         SELECT doc_id, shingle,
                count(*) OVER (PARTITION BY shingle) AS df
         FROM sh) WHERE df <= 64),
    sizes AS (SELECT doc_id, count(*) AS n FROM cap GROUP BY doc_id),
    d1 AS (SELECT doc_id, shingle,
                  count(*) OVER (PARTITION BY shingle) AS df
           FROM cap),
    d2 AS (SELECT d1.doc_id, d1.shingle, z.n,
                  row_number() OVER (PARTITION BY d1.doc_id
                                     ORDER BY d1.df, d1.shingle) AS rn
           FROM d1 JOIN sizes z USING (doc_id)),
    pref AS (SELECT doc_id, n, rn, shingle FROM d2
             WHERE rn <= n - ceil(0.9 * n) + 1
               AND n - rn + 1 >= ceil(0.9 * n)),
    cand AS (SELECT DISTINCT least(a.doc_id, b.doc_id) AS doc_a,
                             greatest(a.doc_id, b.doc_id) AS doc_b
             FROM pref a JOIN d2 b ON a.shingle = b.shingle
                                   AND a.doc_id <> b.doc_id
             WHERE a.n <= b.n),
    inter AS (SELECT c.doc_a, c.doc_b, count(*) AS n_inter
              FROM cand c
              JOIN cap sa ON sa.doc_id = c.doc_a
              JOIN cap sb ON sb.doc_id = c.doc_b
                          AND sb.shingle = sa.shingle
              GROUP BY 1, 2)
    SELECT i.doc_a, i.doc_b,
           CAST(i.n_inter AS BIGINT) AS n_inter,
           i.n_inter * 1.0 / least(na.n, nb.n) AS containment
    FROM inter i
    JOIN sizes na ON na.doc_id = i.doc_a
    JOIN sizes nb ON nb.doc_id = i.doc_b
    WHERE i.n_inter * 1.0 / least(na.n, nb.n) >= 0.9
    """,
    survey="north-star dedup completion: near-CONTAINMENT pairs "
    "|A∩B|/min(|A|,|B|) ≥ 0.9 over the df≤64 stop-filtered shingle "
    "universe — the doc-inside-doc signal (quotes, aggregators, "
    "chunk-of-a-doc) that jaccard structurally misses (a small doc "
    "embedded in a huge one has jaccard ≈ |A|/|B| → 0) and that "
    "MinHash-LSH, a jaccard estimator, cannot surface. Candidate "
    "prune: the AllPairs prefix theorem specialized to the asymmetric "
    "score — only the SMALLER side's rarest-first prefix joins, "
    "against the larger side's full capped postings (containment has "
    "no length filter by definition, which is why the df cap is part "
    "of the REGISTERED semantics here: it is what keeps the "
    "unprefixed larger side linear). Verify is the row-local "
    "broadcast array_intersect (d05's discipline).",
)
def d19_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stop-filtered shingle containment ≥ 0.9, prefix-pruned on the
    smaller side only."""
    from ..functions.dedup import containment_pairs

    (docs,) = _ctx(spark, sf_dir, "documents")
    return containment_pairs(docs, threshold=0.9, max_df=64)


# ---------------------------------------------------------------------------
# d20: cross-document exact-substring removal (the dedup transform)
# ---------------------------------------------------------------------------
_D20_K = 8

#: the span-removal derivation as a reusable CTE block (toks ... cov2:
#: token relation with covered flag + running kept index) — consumed by
#: d20's registered audit below AND p06's capstone chain
#: (pipelines.py), which keeps processing the surviving tokens.
_D20_CTES = f"""toks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+')
                         AS w
                  FROM documents),
    tok AS (SELECT doc_id, i AS q, w[i] AS tok
            FROM toks, range(1, 4096) t(i) WHERE i <= len(w)),
    occ AS (SELECT doc_id, i AS p,
                   array_to_string(w[i : i + {_D20_K - 1}], ' ') AS gram
            FROM toks, range(1, 4096) t(i) WHERE i + {_D20_K - 1} <= len(w)),
    mins AS (SELECT gram, min(doc_id) AS min_doc FROM occ GROUP BY gram),
    fl AS (SELECT DISTINCT o.doc_id, o.p
           FROM occ o JOIN mins m USING (gram) WHERE m.min_doc < o.doc_id),
    st AS (SELECT t.doc_id, t.q, t.tok,
                  CASE WHEN f.p IS NULL THEN 0 ELSE 1 END AS start_flag
           FROM tok t LEFT JOIN fl f ON f.doc_id = t.doc_id AND f.p = t.q),
    cov AS (SELECT doc_id, q, tok,
                   max(start_flag) OVER (PARTITION BY doc_id ORDER BY q
                     ROWS BETWEEN {_D20_K - 1} PRECEDING AND CURRENT ROW)
                     AS covered
            FROM st),
    cov2 AS (SELECT doc_id, tok, covered,
                    sum(1 - covered) OVER (PARTITION BY doc_id ORDER BY q
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS rn_kept
             FROM cov)"""


@_register(
    "d20_crossdoc_span_removal",
    f"""
    WITH {_D20_CTES}
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(covered) AS BIGINT) AS n_removed,
           CAST(sum(1 - covered) AS BIGINT) AS n_kept,
           CASE WHEN sum(1 - covered) > 0 THEN
             CAST(sum(CASE WHEN covered = 0 THEN length(tok) END)
                  + sum(1 - covered) - 1 AS BIGINT) END AS kept_len,
           CASE WHEN sum(1 - covered) > 0 THEN
             CAST(sum(CASE WHEN covered = 0 THEN rn_kept
                    * ('0x' || substr(md5(tok), 1, 8))::BIGINT END)
                  AS BIGINT) END AS kept_sig
    FROM cov2 GROUP BY doc_id
    UNION ALL
    -- poison sentinel (the d06 discipline): the unnest above caps each
    -- doc at 4095 tokens while the Spark engine is uncapped; a corpus
    -- with a longer doc must FAIL the driver hash loudly, not diverge
    -- silently.
    SELECT CAST(-1 AS BIGINT) AS doc_id, CAST(mx AS BIGINT) AS n_tokens,
           CAST(NULL AS BIGINT) AS n_removed, CAST(NULL AS BIGINT) AS n_kept,
           CAST(NULL AS BIGINT) AS kept_len, CAST(NULL AS BIGINT) AS kept_sig
    FROM (SELECT max(len(w)) AS mx FROM toks) WHERE mx >= 4096
    """,
    survey="north-star dedup completion: cross-document exact-substring "
    "REMOVAL — the actual Lee-et-al transform (d17 is the detector, t17 "
    "the within-doc cousin): every 8-token window whose gram occurs in "
    "a smaller doc_id is excised from the later doc and survivors are "
    "reassembled in order; first-occurrence-wins is deterministic "
    "(corpus-min doc_id keeps all its occurrences). Audit columns are "
    "pure bounded per-doc aggregates (n_tokens/n_removed/n_kept, "
    "derived reassembly length, position-weighted survivor signature — "
    "the d10/t17 oracle discipline, no reassembled text materialized). "
    "Plan: row-local gram assembly, min-doc-per-gram as ONE window "
    "exchange on gram (no self-join — a gram in m docs costs m rows, "
    "never m²), flagged starts equi-join back to the token relation, "
    "one per-doc sort window for trailing-k coverage + running kept "
    "index, map-side-combining rollup. O(tokens + windows) at any "
    "corpus size; gram_key='xxhash64' is the production wire knob "
    "(8-byte gram keys, collisions only ever over-remove).",
)
def d20_crossdoc_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc audit of cross-document duplicated-span excision +
    survivor reassembly (see functions.dedup.crossdoc_span_removal)."""
    from ..functions.dedup import crossdoc_span_removal

    (docs,) = _ctx(spark, sf_dir, "documents")
    return crossdoc_span_removal(docs, k=_D20_K, gram_key="raw")


# ---------------------------------------------------------------------------
# d21: quality-keeper dedup (argmax-quality keeper per closure group)
# ---------------------------------------------------------------------------
def _d21_oracle(pair_sql: str, rounds: int = 12) -> str:
    """d14's certified hash-min label chain (shared via
    _label_chain_ctes — string-identical to the d06/d14 oracles'
    chain) with a quality-keeper final: join the labels onto
    documents.n_chars, pick rn=1 of (n_chars DESC, doc_id ASC) per
    group — exactly argmax(quality, tie → smaller id), the window
    form of the engine's packed-decimal max aggregate (r12) — and
    emit the bounded audit with drop_sig over the DROPPED members.
    Same poison-sentinel convergence certificate as d06/d14."""
    ctes, last = _label_chain_ctes(pair_sql, rounds)
    ctes.append(
        f"bad AS (SELECT count(*) AS n FROM sym s\n"
        f"        JOIN {last} a ON a.doc_id = s.src\n"
        f"        JOIN {last} b ON b.doc_id = s.dst\n"
        f"        WHERE a.lbl <> b.lbl)"
    )
    ctes.append(
        f"q AS (SELECT l.lbl AS group_id, l.doc_id, d.n_chars,\n"
        f"             row_number() OVER (PARTITION BY l.lbl\n"
        f"                                ORDER BY d.n_chars DESC, l.doc_id)\n"
        f"               AS rn,\n"
        f"             ((l.doc_id % 2147483647) * 2654435761) % 2147483647\n"
        f"               AS mix\n"
        f"      FROM {last} l JOIN documents d ON d.doc_id = l.doc_id)"
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + """
    SELECT group_id, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(CASE WHEN rn = 1 THEN doc_id END) AS BIGINT)
             AS keeper_id,
           CAST(min(CASE WHEN rn = 1 THEN n_chars END) AS BIGINT)
             AS keeper_quality,
           CAST(sum(CASE WHEN rn > 1 THEN mix ELSE 0 END) AS BIGINT)
             AS drop_sig
    FROM q GROUP BY group_id
    UNION ALL
    SELECT CAST(-1 AS BIGINT) AS group_id, n AS n_docs,
           CAST(NULL AS BIGINT) AS keeper_id,
           CAST(NULL AS BIGINT) AS keeper_quality,
           CAST(NULL AS BIGINT) AS drop_sig
    FROM bad WHERE n > 0
    """
    )


@_register(
    "d21_quality_keeper_groups",
    _d21_oracle(QUERIES["d12_lsh_star_cap"].oracle),
    survey="north-star dedup completion: keeper-by-QUALITY selection — "
    "near_dup_groups labels groups by min doc_id (the hash-min "
    "invariant the closure needs), but the member a production "
    "pipeline KEEPS is the BEST one: d21 runs the full capped chain "
    "(d12 star-capped LSH emission → jaccard refine → hash-min "
    "closure) and then picks argmax(n_chars, tie → smaller id) per "
    "group, emitting (group_id, n_docs, keeper_id, keeper_quality, "
    "drop_sig) where drop_sig checksums exactly the DROPPED members — "
    "the reproducible kill-list a curation run logs. Engine shape: "
    "one id-keyed equi-join of the closure relation onto the quality "
    "column and ONE groupBy with map-side partials (argmax travels as "
    "max of one DECIMAL(38,0) pack q*2^63 + (2^63-1-id), hash-"
    "aggregable and strictly monotone in (quality, -id) — r12; "
    "drop_sig derives post-agg as "
    "Σmix − mix(keeper)) — no per-group window/sort anywhere; state "
    "O(#groups). Oracle: the d06/d14 certified label chain (shared "
    "builder, string-identity-verified) + a row_number keeper pick — "
    "the window form of the same argmax, identical on the int grid.",
    note="Keeper ≠ group label by construction wherever a longer "
    "member exists: tests/test_wave13.py pins a fixture where the "
    "min-id member is NOT the keeper, plus full pure-Python "
    "differential of all five columns over the real corpus.",
)
def d21_quality_keeper_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-keeper audit over the capped near-dup closure (see
    functions.dedup.quality_keeper_audit)."""
    from ..functions.dedup import (
        minhash_near_dup_pairs,
        near_dup_groups,
        quality_keeper_audit,
    )

    (docs,) = _ctx(spark, sf_dir, "documents")
    groups = near_dup_groups(
        minhash_near_dup_pairs(
            docs, threshold=0.8, bucket_cap=_D12_CAP, hash_fn="md5"
        )
    )
    return quality_keeper_audit(groups, docs, quality_col="n_chars")
