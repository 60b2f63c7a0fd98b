"""Similarity queries (``s*``): cosine/IVF/sign-LSH top-k, kNN joins,
k-means and centroids, int8 and product quantization, semantic dedup,
IVFADC, PCA and random projections, RRF fusion and MMR top-k.

Importing this module registers its queries; the driver-facing order is
``_registry.ORDER``.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.similarity import (
    SIGNLSH_BASE_N,
    SIGNLSH_BASE_PLANES,
    SIGNLSH_MAX_EXTRA,
    cosine_topk,
    ivf_topk,
)
from . import text  # noqa: F401  (s15's oracle reads the registered t18 oracle)
from ._registry import QUERIES, _ctx, _register


_COS = (
    "list_dot_product(embedding::DOUBLE[], qv)"
    " / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))"
    " * sqrt(list_dot_product(qv, qv)))"
)


@_register(
    "s01_cosine_topk",
    f"""
    WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
    SELECT vec_id, {_COS} AS cosine
    FROM embeddings, q
    WHERE vec_id <> 0
    ORDER BY cosine DESC, vec_id
    LIMIT 10
    """,
    survey="north-star similarity: brute-force cosine top-k baseline",
)
def s01_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    (emb,) = _ctx(spark, sf_dir, "embeddings")
    return cosine_topk(emb, query_vec_id=0, k=10)


@_register(
    "s02_ivf_topk",
    f"""
    WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
    dims AS (SELECT label, i AS dim, avg(embedding[i]::DOUBLE) AS m
             FROM embeddings, range(1, 65) t(i) GROUP BY label, i),
    cent AS (SELECT label, list(m ORDER BY dim) AS centroid FROM dims GROUP BY label),
    probe AS (SELECT label FROM (
        SELECT c.label,
               list_dot_product(c.centroid, q.qv)
                 / (sqrt(list_dot_product(c.centroid, c.centroid))
                    * sqrt(list_dot_product(q.qv, q.qv))) AS c_cos
        FROM cent c, q ORDER BY c_cos DESC, label LIMIT 2))
    SELECT vec_id, {_COS} AS cosine
    FROM embeddings JOIN probe USING (label), q
    WHERE vec_id <> 0
    ORDER BY cosine DESC, vec_id
    LIMIT 10
    """,
    survey="north-star similarity: IVF-bucketed ANN (probe nearest centroids, pruned scan)",
)
def s02_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    (emb,) = _ctx(spark, sf_dir, "embeddings")
    return ivf_topk(emb, query_vec_id=0, k=10, nprobe=2)


_SIGNLSH_W = (
    "(('0x' || substr(md5('{j}|' || CAST(dim AS VARCHAR)), 1, 8))::BIGINT"
    " / 2147483648.0 - 1.0)"
)


def _signlsh_planes_sql() -> str:
    """SQL twin of ``signlsh_adaptive_planes``: integer-threshold CASE
    ladder picking the plane count from count(*) — both engines derive
    the identical parameter from the same count (e08's contract)."""
    rungs = " ".join(
        f"WHEN n <= {SIGNLSH_BASE_N * 2**k} THEN {SIGNLSH_BASE_PLANES + k}"
        for k in range(SIGNLSH_MAX_EXTRA)
    )
    return f"CASE {rungs} ELSE {SIGNLSH_BASE_PLANES + SIGNLSH_MAX_EXTRA} END"


def _signlsh_oracle() -> str:
    # Compute the MAX-width bit string unconditionally, then take the
    # count-laddered PREFIX: plane j's bit is independent of the total
    # plane count, so substr() reproduces the adaptive bucket exactly.
    max_planes = SIGNLSH_BASE_PLANES + SIGNLSH_MAX_EXTRA
    dots = ",\n             ".join(
        f"sum(x * {_SIGNLSH_W.format(j=j)}) AS d{j}" for j in range(max_planes)
    )
    bits = " || ".join(
        f"CASE WHEN d{j} >= 0 THEN '1' ELSE '0' END" for j in range(max_planes)
    )
    return f"""
    WITH params AS (
      SELECT {_signlsh_planes_sql()} AS planes
      FROM (SELECT count(*) AS n FROM embeddings)),
    dims AS (
      SELECT vec_id, u.x, u.dim - 1 AS dim
      FROM embeddings,
           LATERAL (SELECT unnest(embedding::DOUBLE[]) AS x,
                           generate_subscripts(embedding, 1) AS dim) u),
    dots AS (
      SELECT vec_id,
             {dots}
      FROM dims GROUP BY vec_id),
    buckets AS (
      SELECT vec_id, substr({bits}, 1, planes) AS bucket
      FROM dots, params)
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.bucket
    FROM buckets a JOIN buckets b
      ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    """


@_register(
    "s03_signlsh_pairs",
    _signlsh_oracle(),
    survey="north-star similarity: sign-random-projection LSH (hyperplane "
    "SimHash buckets from md5-derived deterministic weights) candidate pairs — "
    "the bucket-join ANN scale path complementing IVF (s02). ADAPTIVE PLANE "
    "COUNT (e08's density-grid discipline applied to LSH): a fixed plane "
    "count puts n vectors in a fixed 2^p buckets, so occupancy grows with n "
    "and pairs grow as n²/2^p — at 100× the 8-plane table emitted ~78M pairs "
    "and OOM'd the compare. One extra plane per 2× corpus growth past the "
    "4096-vector base rung keeps occupancy and output degree constant; bit j "
    "is independent of total width, so the oracle reproduces the adaptive "
    "bucket as a substr() prefix of the max-width bit string, and both "
    "engines pick the identical integer plane count from the same count(*) — "
    "the compare stays tolerance-free",
    note="At sf<=0.1 (2k vectors) the count sits in the base rung, so "
    "results are identical to the classic fixed-8-plane form; the ladder "
    "only bites past 4096 vectors, where fixed-width LSH is the thing that "
    "does not survive scale.",
)
def s03_signlsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.similarity import signlsh_candidate_pairs

    (emb,) = _ctx(spark, sf_dir, "embeddings")
    return signlsh_candidate_pairs(emb)


@_register(
    "s04_knn_join",
    """
    WITH q AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
               WHERE label = 0
               ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT 512),
    c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
          WHERE label <> 0),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             list_dot_product(q.v, c.v) /
               (sqrt(list_dot_product(q.v, q.v)) *
                sqrt(list_dot_product(c.v, c.v))) AS cosine
      FROM q CROSS JOIN c),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id ASC)
                  AS rank
      FROM scored)
    SELECT query_id, neighbor_id, round(cosine, 9) AS cosine, rank
    FROM ranked WHERE rank <= 3
    """,
    survey="north-star similarity: exact k-NN JOIN (batch of queries × "
    "corpus, broadcast probe side, per-query window top-k) — the "
    "multi-query companion to s01's single-probe top-k. PROBE BOUND: "
    "brute-force probes × corpus work is quadratic when the probe set "
    "grows with the corpus, so the probe batch is capped to a "
    "deterministic md5 top-512 (not binding at sf<=0.1); an unbounded "
    "probe stream is what the IVF path (s02) exists for",
    note="ranking runs on the raw cosine (gaps between distinct vectors "
    "dwarf gemm-vs-fold ulp noise); the emitted score is round(,9) on "
    "both sides so the hash is partition-layout independent.",
)
def s04_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3 nearest label≠0 neighbors for every label-0 vector — the gemm
    kernel with per-batch partial top-k (knn_join is the all-built-ins
    fold variant; same results, ~15× slower at sf0.1 because
    higher-order-function lambdas don't codegen)."""
    from ..functions.similarity import knn_join_blas

    (emb,) = _ctx(spark, sf_dir, "embeddings")
    # probe bound: deterministic md5 top-512 (vec_id is unique at every
    # scale factor) — see the survey note; TakeOrdered, no full shuffle
    probes = (
        emb.filter(F.col("label") == 0)
        .orderBy(F.md5(F.col("vec_id").cast("string")))
        .limit(512)
    )
    out = knn_join_blas(probes, emb.filter(F.col("label") != 0), k=3)
    return out.withColumn("cosine", F.round("cosine", 9))


@_register(
    "s05_kmeans_iteration",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    cent AS (SELECT vec_id AS cluster, e AS c FROM e WHERE vec_id < 8),
    d AS (
      SELECT e.vec_id, cent.cluster,
             list_dot_product(e.e, e.e)
               - 2 * list_dot_product(e.e, cent.c)
               + list_dot_product(cent.c, cent.c) AS dist
      FROM e, cent),
    asg AS (
      SELECT vec_id, cluster FROM (
        SELECT vec_id, cluster,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY dist, cluster) AS rn
        FROM d) WHERE rn = 1)
    SELECT a.cluster, u.dim, avg(e.e[u.dim]) AS c_val, count(*) AS n
    FROM asg a JOIN e USING (vec_id),
         LATERAL (SELECT unnest(generate_series(1, 64)) AS dim) u
    GROUP BY a.cluster, u.dim
    """,
    survey="north-star similarity: exact Lloyd/k-means iteration "
    "(deterministic seeds, E-step as a join-free scan against broadcast "
    "literal centroids, M-step as one skinny (cluster,dim) mean shuffle) — "
    "the iterative-ML / IVF-training primitive; the driver loop re-collects "
    "only k·dim numbers per round",
)
def s05_kmeans_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd iteration over the embeddings table, k=8."""
    from ..functions.similarity import kmeans_lloyd_iteration

    (emb,) = _ctx(spark, sf_dir, "embeddings")
    return kmeans_lloyd_iteration(emb, k=8)


@_register(
    "s06_label_centroids",
    """
    WITH dims AS (
      SELECT e.label, i.i AS dim, e.embedding[i.i]::DOUBLE AS v
      FROM embeddings e,
           LATERAL (SELECT unnest(generate_series(1, 64)) AS i) i),
    cent AS (
      SELECT label, array_agg(c ORDER BY dim) AS centroid
      FROM (SELECT label, dim, avg(v) AS c FROM dims GROUP BY label, dim)
      GROUP BY label),
    scored AS (
      SELECT e.label,
             list_dot_product(e.embedding::DOUBLE[], c.centroid)
               / (sqrt(list_dot_product(e.embedding::DOUBLE[],
                                        e.embedding::DOUBLE[]))
                  * sqrt(list_dot_product(c.centroid, c.centroid))) AS cos
      FROM embeddings e JOIN cent c ON c.label = e.label)
    SELECT label, count(*) AS n_vecs, avg(cos) AS mean_cos, min(cos) AS min_cos
    FROM scored GROUP BY label
    """,
    survey="north-star similarity: per-label embedding mean-pooling "
    "(centroid via posexplode → (label, dim) aggregate — the per-dimension "
    "shuffle is (labels × dims) rows, never vectors × dims concentrated on "
    "one reducer) + per-vector cosine-to-own-centroid residuals (zip_with "
    "fold, same sequential order as the SQL dot product) — the class-"
    "compactness / outlier-screen primitive of embedding-corpus curation",
)
def s06_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid + cohesion stats (mean/min cosine of members
    to their centroid)."""
    (emb,) = _ctx(spark, sf_dir, "embeddings")
    dims = emb.select(
        "label", F.posexplode(F.col("embedding").cast("array<double>"))
    ).toDF("label", "dim", "v")
    cent = (
        dims.groupBy("label", "dim")
        .agg(F.avg("v").alias("c"))
        .groupBy("label")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("dim", "c"))),
                lambda s: s["c"],
            ).alias("centroid")
        )
    )
    v = F.col("embedding").cast("array<double>")
    dot = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    scored = emb.join(F.broadcast(cent), "label").select(
        "label",
        (
            dot(v, F.col("centroid"))
            / (F.sqrt(dot(v, v)) * F.sqrt(dot(F.col("centroid"), F.col("centroid"))))
        ).alias("cos"),
    )
    return scored.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.avg("cos").alias("mean_cos"),
        F.min("cos").alias("min_cos"),
    )


@_register(
    "s08_semdedup",
    """
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS x FROM embeddings),
    p AS (
      SELECT b.vec_id AS vb,
             round(list_dot_product(a.x, b.x)
               / (sqrt(list_dot_product(a.x, a.x))
                  * sqrt(list_dot_product(b.x, b.x))), 9) AS c
      FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id),
    m AS (SELECT vb, max(c) AS mx FROM p GROUP BY vb)
    SELECT e.vec_id, e.label, m.mx AS max_prior_cos,
           (m.mx IS NULL OR m.mx < 0.4) AS keep
    FROM e LEFT JOIN m ON m.vb = e.vec_id
    """,
    survey="north-star curation: SemDeDup — semantic deduplication of an "
    "embedding corpus: within each cluster (the k-means label s05 "
    "maintains), drop every vector whose max cosine to any EARLIER "
    "cluster member exceeds tau (first-occurrence-wins, the d10 "
    "scale-safe keeper rule). The prior-max reduces INSIDE a chunked "
    "BLAS gemm per cluster (semdedup_prior_max — O(n) rows out, worker "
    "memory bounded by gemm panels, never the n^2 pair triangle the "
    "pair-threshold kernel would materialize); FLOPs stay SemDeDup's "
    "inherent cluster_size^2 * dim, bounded by the clustering fan-out "
    "— at 100 TB cluster granularity is the knob (the paper runs "
    "k ~ sqrt(n)).",
    note="tau=0.4 is non-vacuous on the synthetic embeddings (max "
    "within-label cosine ~0.475); inclusion decisions compare "
    "1e-9-rounded cosines on both engines, the d04 discipline.",
)
def s08_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep/drop per vector: drop when cosine to some earlier same-label
    vector >= 0.4; max-prior-cosine emitted for threshold tuning."""
    from ..functions.similarity import semdedup_prior_max

    (emb,) = _ctx(spark, sf_dir, "embeddings")
    prior = semdedup_prior_max(emb)
    mx = F.round(F.col("max_prior_cos"), 9)
    return prior.select(
        "vec_id",
        "label",
        mx.alias("max_prior_cos"),
        (mx.isNull() | (mx < F.lit(0.4))).alias("keep"),
    )


@_register(
    "s07_int8_quantize",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS x FROM embeddings),
    p AS (SELECT vec_id, x,
                 list_max(list_transform(x, v -> abs(v))) / 127.0 AS s
          FROM e),
    m AS (SELECT vec_id, s,
                 CASE WHEN s = 0 THEN 0.0 ELSE
                   list_sum(list_transform(x,
                     v -> pow(v - floor(v / s + 0.5) * s, 2))) / len(x)
                 END AS mse,
                 CASE WHEN s = 0 THEN 0.0 ELSE
                   list_max(list_transform(x,
                     v -> abs(v - floor(v / s + 0.5) * s)))
                 END AS max_err
          FROM p)
    SELECT vec_id, round(s, 9) AS scale_r, round(mse, 12) AS mse_r,
           max_err <= s * 0.5 + 1e-12 AS err_ok
    FROM m
    """,
    survey="north-star similarity: symmetric int8 embedding quantization "
    "(per-vector scale = max|x|/127, q = floor(x/s + 0.5)) with "
    "reconstruction MSE and the |err| <= s/2 quantization bound verified "
    "in-query. Row-local array HOFs — zero shuffle, whole-stage codegen; "
    "at 100 TB this is the 4x index-compression pass before the IVF/LSH "
    "ANN stages (s02/d07), whose bucket probes then scan int8 codes. "
    "floor(x+0.5) not round(): IEEE-deterministic on both engines "
    "(round() half-even tie-breaking differs), the g01/e10 fixed-point "
    "idiom.",
    note="mse rounded to 1e-12 (64-element fold accumulation slack); "
    "scale rounded to 1e-9. Zero vectors quantize to mse 0 via the s=0 "
    "guard.",
)
def s07_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector int8 quantization of the embedding column: scale,
    reconstruction MSE, and the half-step error bound as a checked
    boolean — all row-local (no shuffle)."""
    (emb,) = _ctx(spark, sf_dir, "embeddings")
    x = F.transform(F.col("embedding"), lambda v: v.cast("double"))
    e = emb.select("vec_id", x.alias("x"))
    s = F.array_max(F.transform(F.col("x"), F.abs)) / F.lit(127.0)
    p = e.select("vec_id", "x", s.alias("s"))
    dq = F.transform(
        F.col("x"),
        lambda v: v - F.floor(v / F.col("s") + F.lit(0.5)) * F.col("s"),
    )
    m = p.select(
        "vec_id",
        "s",
        F.when(F.col("s") == 0, F.lit(0.0))
        .otherwise(
            F.aggregate(
                F.transform(dq, lambda d: d * d),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            / F.size(F.col("x"))
        )
        .alias("mse"),
        F.when(F.col("s") == 0, F.lit(0.0))
        .otherwise(F.array_max(F.transform(dq, F.abs)))
        .alias("max_err"),
    )
    return m.select(
        "vec_id",
        F.round(F.col("s"), 9).alias("scale_r"),
        F.round(F.col("mse"), 12).alias("mse_r"),
        (F.col("max_err") <= F.col("s") * F.lit(0.5) + F.lit(1e-12)).alias("err_ok"),
    )


# ---------------------------------------------------------------------------
# s09: matryoshka truncation + recall vs full-dimension ranking
# ---------------------------------------------------------------------------
_COS16 = (
    "list_dot_product(e.embedding[1:16]::DOUBLE[], q.qv16)"
    " / (sqrt(list_dot_product(e.embedding[1:16]::DOUBLE[],"
    " e.embedding[1:16]::DOUBLE[]))"
    " * sqrt(list_dot_product(q.qv16, q.qv16)))"
)
_COSF = (
    "list_dot_product(e.embedding::DOUBLE[], q.qv)"
    " / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))"
    " * sqrt(list_dot_product(q.qv, q.qv)))"
)


@_register(
    "s09_matryoshka_topk",
    f"""
    WITH q AS (SELECT embedding[1:16]::DOUBLE[] AS qv16,
                      embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id = 0),
    full_top AS (
      SELECT e.vec_id FROM embeddings e, q
      WHERE e.vec_id <> 0
      ORDER BY {_COSF} DESC, e.vec_id LIMIT 10)
    SELECT e.vec_id, {_COS16} AS cosine16,
           CASE WHEN e.vec_id IN (SELECT vec_id FROM full_top)
                THEN 1 ELSE 0 END AS in_full_topk
    FROM embeddings e, q
    WHERE e.vec_id <> 0
    ORDER BY cosine16 DESC, e.vec_id
    LIMIT 10
    """,
    survey="north-star similarity: matryoshka-truncation ANN — score "
    "on the FIRST 16 of 64 dimensions (the matryoshka-representation "
    "trick: prefix dims carry most signal, so truncation is the "
    "first cost knob every large ANN deployment turns: 4× less "
    "memory bandwidth and gemm work), and report per-hit whether the "
    "truncated ranking kept the full-dimension top-k member "
    "(in_full_topk — summing the column IS recall@10·k). Plan: both "
    "rankings are brute-force scans with a broadcast 1-row query "
    "vector and TakeOrdered — no shuffle keyed by vector; the "
    "truncated scan reads 4× fewer vector bytes, which is the point. "
    "Production path: rerank the truncated top-C candidates with "
    "full vectors (C ≫ k), same two building blocks.",
    note="Spark's slice() and DuckDB's [1:16] agree on 1-based "
    "inclusive semantics; the dot-product fold is sequential in both "
    "engines so the doubles are bit-identical (same property s01 "
    "already relies on at 64 dims).",
)
def s09_matryoshka_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 by 16-dim truncated cosine, flagged with membership in
    the full-64-dim top-10 (recall@10 = sum(in_full_topk)/10)."""
    from ..functions.similarity import cosine

    (emb,) = _ctx(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(
        F.slice("embedding", 1, 16).alias("_qv16"),
        F.col("embedding").alias("_qv"),
    )
    base = emb.filter(F.col("vec_id") != 0).crossJoin(F.broadcast(q))
    full_top = (
        base.select(
            "vec_id", cosine(F.col("embedding"), F.col("_qv")).alias("cf")
        )
        .orderBy(F.desc("cf"), F.asc("vec_id"))
        .limit(10)
        .select("vec_id")
    )
    trunc = base.select(
        "vec_id",
        cosine(F.slice("embedding", 1, 16), F.col("_qv16")).alias("cosine16"),
    )
    return (
        trunc.join(
            F.broadcast(full_top.withColumn("_hit", F.lit(1))), "vec_id", "left"
        )
        .select(
            "vec_id",
            "cosine16",
            F.coalesce(F.col("_hit"), F.lit(0)).cast("int").alias("in_full_topk"),
        )
        .orderBy(F.desc("cosine16"), F.asc("vec_id"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# s10: PCA top component via integer power iteration
# ---------------------------------------------------------------------------
@_register(
    "s10_pca_power",
    """
    WITH q AS (
      SELECT vec_id, u.i AS dim,
             CAST(floor(embedding[u.i]::DOUBLE * 1000.0 + 0.5) AS BIGINT)
               AS qv
      FROM embeddings,
           LATERAL (SELECT unnest(generate_series(1, 16)) AS i) u),
    cov AS (
      SELECT a.dim AS i, b.dim AS j, sum(a.qv * b.qv) AS c
      FROM q a JOIN q b USING (vec_id) GROUP BY 1, 2),
    v1 AS (SELECT i, sum(c) AS v1v FROM cov GROUP BY i),
    m1 AS (SELECT greatest(max(abs(v1v)), 1) AS mx FROM v1),
    w AS (SELECT i, CASE WHEN v1v < 0 THEN -((abs(v1v) * 100) // mx)
                         ELSE (abs(v1v) * 100) // mx END AS wv
          FROM v1, m1),
    v2 AS (SELECT cov.i, sum(cov.c * w.wv) AS v2v
           FROM cov JOIN w ON w.i = cov.j GROUP BY cov.i),
    m2 AS (SELECT greatest(max(abs(v2v)), 1) AS mx FROM v2)
    SELECT v1.i AS dim,
           CAST(v1.v1v AS BIGINT) AS v1,
           CAST(w.wv AS BIGINT) AS w,
           CAST(v2.v2v AS BIGINT) AS v2,
           CAST(CASE WHEN v2.v2v < 0 THEN -((abs(v2.v2v) * 10000) // m2.mx)
                     ELSE (abs(v2.v2v) * 10000) // m2.mx END AS BIGINT)
             AS dir_scaled
    FROM v1 JOIN w USING (i) JOIN v2 USING (i), m2
    """,
    survey="north-star similarity: PCA top-component TRAINING by two "
    "integer power-iteration rounds over the (uncentered) Gram matrix "
    "of the first 16 embedding dims — the dimensionality-reduction "
    "trainer whose output feeds the matryoshka/truncation inference "
    "path (s09): inputs quantize to milli-units, so the 16×16 Gram "
    "matrix is an EXACT integer aggregate (one (i,j)-keyed shuffle of "
    "per-vector products, map-side combined), and both iteration "
    "rounds stay in bounded int64 via magnitude rescaling between "
    "rounds (|w| ≤ 100). Explicit corpus bound for that claim: with "
    "|qv| ≤ 2000 milli-units, |cov| ≤ 4e6·n_vectors, so the deepest "
    "intermediate abs(v2)·10000 ≤ 16·100·10000·4e6·n ≈ 6.4e13·n and "
    "int64 holds for n_vectors up to ~1.4e5 (sf1-scale embeddings); "
    "past that, Spark wraps silently (non-ANSI) while DuckDB promotes "
    "to HUGEINT — divide cov by a corpus-size factor (both engines, "
    "same factor — the direction is scale-invariant) before the "
    "second multiply to recover headroom at larger corpora. No float "
    "op exists anywhere in the chain, so "
    "the eigenvector direction is bit-deterministic on any engine or "
    "partition layout. Negative-value floor division is sign-split "
    "(magnitude // positive) because Spark's div truncates toward "
    "zero while DuckDB's // floors — the one integer-op semantic the "
    "engines disagree on. At 100 TB: the Gram aggregate is one "
    "scan + a (dims²)-row shuffle; iterations touch only the 16×16 "
    "matrix — the classic distributed-covariance + driver-side-"
    "eigensolve split, here kept fully relational.",
    note="Uncentered second-moment PCA (Gram direction); mean-center "
    "first for classical PCA — same plan with one extra broadcast of "
    "per-dim means. Each round contracts the off-axis tangent by "
    "lambda2/lambda1 (strict per-round improvement pinned by test); "
    "the synthetic corpus is near-isotropic so production corpora "
    "with a real dominant direction converge far faster. More rounds "
    "unroll identically.",
)
def s10_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two integer power-iteration rounds on the 16-dim Gram matrix;
    emits v1, the rescaled iterate w, v2, and the scaled direction."""
    (emb,) = _ctx(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id", F.posexplode(F.slice("embedding", 1, 16)).alias("pos", "x")
    ).select(
        "vec_id",
        (F.col("pos") + 1).alias("dim"),
        F.floor(F.col("x").cast("double") * F.lit(1000.0) + F.lit(0.5))
        .cast("long")
        .alias("qv"),
    )
    a = q.alias("a")
    b = q.select(
        F.col("vec_id").alias("vid2"),
        F.col("dim").alias("j"),
        F.col("qv").alias("qv2"),
    ).alias("b")
    cov = (
        a.join(b, F.col("a.vec_id") == F.col("b.vid2"))
        .groupBy(F.col("a.dim").alias("i"), F.col("b.j").alias("j"))
        .agg(F.sum(F.col("a.qv") * F.col("b.qv2")).alias("c"))
    )
    v1 = cov.groupBy("i").agg(F.sum("c").alias("v1v"))
    m1 = v1.agg(F.greatest(F.max(F.abs("v1v")), F.lit(1)).alias("mx"))
    w = v1.crossJoin(F.broadcast(m1)).select(
        "i",
        F.when(
            F.col("v1v") < 0, -F.expr("(abs(v1v) * 100) div mx")
        )
        .otherwise(F.expr("(abs(v1v) * 100) div mx"))
        .alias("wv"),
    )
    v2 = (
        cov.join(F.broadcast(w.select(F.col("i").alias("j"), "wv")), "j")
        .groupBy("i")
        .agg(F.sum(F.col("c") * F.col("wv")).alias("v2v"))
    )
    m2 = v2.agg(F.greatest(F.max(F.abs("v2v")), F.lit(1)).alias("mx"))
    return (
        v1.join(w, "i")
        .join(v2, "i")
        .crossJoin(F.broadcast(m2))
        .select(
            F.col("i").alias("dim"),
            F.col("v1v").cast("long").alias("v1"),
            F.col("wv").cast("long").alias("w"),
            F.col("v2v").cast("long").alias("v2"),
            F.when(
                F.col("v2v") < 0, -F.expr("(abs(v2v) * 10000) div mx")
            )
            .otherwise(F.expr("(abs(v2v) * 10000) div mx"))
            .cast("long")
            .alias("dir_scaled"),
        )
    )


# ---------------------------------------------------------------------------
# s11: product-quantization code assignment (compressed ANN index)
# ---------------------------------------------------------------------------
@_register(
    "s11_pq_assign",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    cent AS (SELECT vec_id AS code, e AS c FROM e WHERE vec_id < 4),
    d AS (
      SELECT e.vec_id, s.s, cent.code,
             list_dot_product(e.e[s.s*16+1 : s.s*16+16],
                              e.e[s.s*16+1 : s.s*16+16])
             - 2 * list_dot_product(e.e[s.s*16+1 : s.s*16+16],
                                    cent.c[s.s*16+1 : s.s*16+16])
             + list_dot_product(cent.c[s.s*16+1 : s.s*16+16],
                                cent.c[s.s*16+1 : s.s*16+16]) AS dist
      FROM e, (SELECT unnest(generate_series(0, 3)) AS s) s, cent),
    a AS (SELECT vec_id, s, code, dist,
                 row_number() OVER (PARTITION BY vec_id, s
                                    ORDER BY dist, code) AS rn
          FROM d)
    SELECT vec_id,
           CAST(max(CASE WHEN s = 0 THEN code END) AS INTEGER) AS code_0,
           CAST(max(CASE WHEN s = 1 THEN code END) AS INTEGER) AS code_1,
           CAST(max(CASE WHEN s = 2 THEN code END) AS INTEGER) AS code_2,
           CAST(max(CASE WHEN s = 3 THEN code END) AS INTEGER) AS code_3,
           CAST(sum(CAST(round(dist * 1e9) AS BIGINT)) AS BIGINT) AS err_nanos
    FROM a WHERE rn = 1 GROUP BY vec_id
    """,
    survey="north-star similarity completion: product-quantization code "
    "assignment (Jégou et al., TPAMI 2011) — 4 subspaces × 16 dims, "
    "4-entry codebooks seeded from vec_id 0..3 (the s05 deterministic-"
    "seed discipline); every vector encodes as its per-subspace "
    "nearest-centroid tuple plus the exact int64 quantization-error "
    "audit (round(residual·1e9) summed). The compressed-ANN-index map "
    "stage: codebooks inline as broadcast literals, so assignment is a "
    "pure scan — no join, no shuffle, array HOFs in whole-stage "
    "codegen; distances expand dot(x,x)−2·dot(x,c)+dot(c,c) with "
    "sequential folds (the s05/d04 bit-reproducibility discipline), "
    "ties to the smaller code.",
)
def s11_pq_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ codes (m=4, k=4) + exact quantization-error audit per vector."""
    from ..functions.similarity import pq_assign

    (emb,) = _ctx(spark, sf_dir, "embeddings")
    return pq_assign(emb, m=4, k=4)


# ---------------------------------------------------------------------------
# s12: Johnson-Lindenstrauss random projection
# ---------------------------------------------------------------------------
_S12_OUT_DIM = 16
_S12_PIVOT = ",\n           ".join(
    f"max(CASE WHEN j = {j} THEN yn END) AS y{j}_nanos"
    for j in range(_S12_OUT_DIM)
)


@_register(
    "s12_random_projection",
    f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    sgn AS (SELECT j, list(CASE WHEN ((strpos('0123456789abcdef',
                 substr(md5(CAST(j AS VARCHAR) || '|' || CAST(i AS VARCHAR)),
                        1, 1)) - 1) & 1) = 1
                 THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END
                 ORDER BY i) AS s
            FROM range(0, {_S12_OUT_DIM}) tj(j), range(1, 65) ti(i)
            GROUP BY j),
    y AS (SELECT e.vec_id, sgn.j,
                 CAST(round(list_dot_product(e.e, sgn.s) * 0.25 * 1e9)
                      AS BIGINT) AS yn
          FROM e, sgn)
    SELECT vec_id,
           {_S12_PIVOT}
    FROM y GROUP BY vec_id
    """,
    survey="north-star similarity completion: Johnson-Lindenstrauss "
    "±1 random projection (Achlioptas 2003) 64→16 dims — the sign "
    "matrix derives deterministically from md5 (low bit of the first "
    "hex char of md5('j|i'), the simhash nibble discipline) so the "
    "projection is engine-reproducible with NO stored model; the "
    "1/√16 scale is exact (power of four). A pure scan: dim·out_dim "
    "literal signs inline into the plan, no join, no shuffle, "
    "sequential folds (s05/d04 discipline), exact int64 nanos audit "
    "per output dim — the dimensionality-reduction front end ahead of "
    "clustering/ANN, fused into the embedding scan at 100 TB.",
)
def s12_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64→16-dim JL sign projection with exact nanos audit columns."""
    from ..functions.similarity import random_projection

    (emb,) = _ctx(spark, sf_dir, "embeddings")
    return random_projection(emb, out_dim=_S12_OUT_DIM)


# ---------------------------------------------------------------------------
# s13: PQ ADC top-k retrieval (the compressed-ANN search stage)
# ---------------------------------------------------------------------------
_S13_M, _S13_K, _S13_TOPK = 4, 4, 10
#: fixture embedding dimensionality (TESTDATA.md: embeddings.embedding
#: is a 64-float array at every SF) — the oracle derives every
#: subspace constant from THIS + _S13_M/_S13_K (r10 ADVICE: the
#: constants were previously hardcoded in two places), exactly as the
#: engine derives sub = dim // m at runtime.
_S13_DIM = 64
_S13_SUB = _S13_DIM // _S13_M


def _s13_slice(expr: str, s: str = "s.s") -> str:
    """DuckDB 1-based inclusive slice of subspace ``s`` (width
    _S13_SUB) of a list expression."""
    return f"{expr}[{s}*{_S13_SUB}+1 : {s}*{_S13_SUB}+{_S13_SUB}]"


def _s13_sqdist(a: str, b: str, s: str = "s.s") -> str:
    """Expanded ||a_s − b_s||² over subspace ``s`` — dot(a,a) −
    2·dot(a,b) + dot(b,b), every term a sequential fold."""
    asl, bsl = _s13_slice(a, s), _s13_slice(b, s)
    return (
        f"list_dot_product({asl}, {asl})"
        f" - 2 * list_dot_product({asl}, {bsl})"
        f" + list_dot_product({bsl}, {bsl})"
    )


#: s11's code-assignment CTE fragment (verbatim semantics: per-subspace
#: expanded squared distance, ties to the smaller code), pivoted to one
#: row per vector — the query vector itself (vec_id 0) excluded from
#: the searched corpus.
_S13_CODES_PIVOT = ",\n                     ".join(
    f"max(CASE WHEN s = {s} THEN code END) AS c{s}" for s in range(_S13_M)
)
_S13_CODES_CTES = f"""
    e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    cent AS (SELECT vec_id AS code, e AS c FROM e WHERE vec_id < {_S13_K}),
    q AS (SELECT e AS qv FROM e WHERE vec_id = 0),
    d AS (
      SELECT e.vec_id, s.s, cent.code,
             {_s13_sqdist("e.e", "cent.c")} AS dist
      FROM e, (SELECT unnest(generate_series(0, {_S13_M - 1})) AS s) s, cent
      WHERE e.vec_id <> 0),
    a AS (SELECT vec_id, s, code,
                 row_number() OVER (PARTITION BY vec_id, s
                                    ORDER BY dist, code) AS rn
          FROM d),
    codes AS (SELECT vec_id,
                     {_S13_CODES_PIVOT}
              FROM a WHERE rn = 1 GROUP BY vec_id),
    lut AS (SELECT s.s, cent.code,
                   {_s13_sqdist("q.qv", "cent.c")} AS ld
            FROM q, (SELECT unnest(generate_series(0, {_S13_M - 1})) AS s) s,
                 cent)
"""

_S13_LUTP = ",\n                 ".join(
    f"max(CASE WHEN s = {s} AND code = {c} THEN ld END) AS l{s}_{c}"
    for s in range(_S13_M)
    for c in range(_S13_K)
)
# the 4-term ADC sum, parenthesized terms added left to right —
# mirrors the Spark t0+t1+t2+t3 fold exactly
_S13_ADC = " + ".join(
    "(CASE v.c%d %s ELSE l.l%d_%d END)"
    % (
        s,
        " ".join(f"WHEN {c} THEN l.l{s}_{c}" for c in range(_S13_K - 1)),
        s,
        _S13_K - 1,
    )
    for s in range(_S13_M)
)


@_register(
    "s13_pq_adc_topk",
    f"""
    WITH {_S13_CODES_CTES.strip()},
    lutp AS (SELECT {_S13_LUTP}
             FROM lut),
    adc AS (SELECT v.vec_id,
                   CAST(round(({_S13_ADC}) * 1e9) AS BIGINT) AS adc_nanos
            FROM codes v, lutp l),
    exact AS (SELECT e.vec_id,
                     CAST(round((list_dot_product(e.e, e.e)
                          - 2 * list_dot_product(e.e, q.qv)
                          + list_dot_product(q.qv, q.qv)) * 1e9) AS BIGINT)
                       AS l2_nanos,
                     CAST(round((list_dot_product(e.e, q.qv)
                       / (sqrt(list_dot_product(e.e, e.e))
                          * sqrt(list_dot_product(q.qv, q.qv)))) * 1e9)
                       AS BIGINT) AS cos_nanos
              FROM e, q WHERE e.vec_id <> 0),
    l2top AS (SELECT vec_id FROM exact ORDER BY l2_nanos, vec_id LIMIT 10),
    costop AS (SELECT vec_id FROM exact
               ORDER BY cos_nanos DESC, vec_id LIMIT 10)
    SELECT t.vec_id, t.adc_nanos,
           CASE WHEN t.vec_id IN (SELECT vec_id FROM l2top)
                THEN 1 ELSE 0 END AS in_exact_l2_topk,
           CASE WHEN t.vec_id IN (SELECT vec_id FROM costop)
                THEN 1 ELSE 0 END AS in_exact_cos_topk
    FROM (SELECT vec_id, adc_nanos FROM adc
          ORDER BY adc_nanos, vec_id LIMIT {_S13_TOPK}) t
    """,
    survey="north-star similarity completion: PQ asymmetric-distance "
    "(ADC) top-k retrieval — the SEARCH stage s11's code assignment "
    "was half of (Jégou et al., TPAMI 2011 §IV.A). A per-query lookup "
    "table lut[s][c] = ||q_s − centroid_{{s,c}}||² (m·k doubles, "
    "computed driver-side from the collected seeds + query and inlined "
    "as literals) turns every database vector's approximate distance "
    "into m element_at lookups over its code bytes plus 3 adds — a "
    "pure scan over the compressed codes, no vector arithmetic per "
    "row, then TakeOrdered top-k pushdown. Dual recall audit in-query "
    "(the s09 discipline): membership flags vs the exact squared-L2 "
    "top-k (the metric ADC approximates — isolates quantization loss; "
    "sum = recall@k·k) AND vs the exact cosine top-k (brackets metric "
    "mismatch). Exact rankings order on the round(·1e9) int64 grid "
    "with vec_id tie-breaks; every float fold is sequential "
    "left-to-right on both engines.",
    note="Plan pin (tests/test_plan_shapes.py): no join wider than the "
    "10-row membership broadcasts, TakeOrderedAndProject present, "
    "codes derived by the s11 pure-scan assignment.",
)
def s13_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC top-10 through the PQ codes with exact-L2 / exact-cosine
    recall flags (see functions.similarity.pq_adc_topk)."""
    from ..functions.similarity import pq_adc_topk

    (emb,) = _ctx(spark, sf_dir, "embeddings")
    return pq_adc_topk(
        emb, query_vec_id=0, m=_S13_M, k=_S13_K, topk=_S13_TOPK
    )


# ---------------------------------------------------------------------------
# s14: IVFADC — inverted-file search over PQ residual codes
# ---------------------------------------------------------------------------
_S14_KC, _S14_M, _S14_K, _S14_NPROBE, _S14_TOPK = 4, 4, 4, 2, 10
_S14_DIM = 64  # TESTDATA.md: embeddings.embedding is a 64-float array


def ivfadc_oracle_sql(
    kc: int = _S14_KC,
    m: int = _S14_M,
    k: int = _S14_K,
    nprobe: int = _S14_NPROBE,
    topk: int = _S14_TOPK,
    qid: int = 0,
    dim: int = _S14_DIM,
) -> str:
    """Generate the IVFADC oracle SQL for a parameter set — the s14
    registration uses the defaults; src07 (the materialized-index
    layout variant) re-derives the SAME relational semantics under its
    own constants, because the physical layout is invisible to the
    oracle. Kept as a builder so a constant change is a one-argument
    edit (the r10-ADVICE lesson on derived oracle constants)."""
    sub = dim // m

    def _slice(expr: str, s: str = "s.s") -> str:
        return f"{expr}[{s}*{sub}+1 : {s}*{sub}+{sub}]"

    def _sqdist(a: str, b: str) -> str:
        return (
            f"list_dot_product({a}, {a})"
            f" - 2 * list_dot_product({a}, {b})"
            f" + list_dot_product({b}, {b})"
        )

    def _sqdist_sub(a: str, b: str, s: str = "s.s") -> str:
        asl, bsl = _slice(a, s), _slice(b, s)
        return (
            f"list_dot_product({asl}, {asl})"
            f" - 2 * list_dot_product({asl}, {bsl})"
            f" + list_dot_product({bsl}, {bsl})"
        )

    codes_pivot = ",\n                   ".join(
        f"max(CASE WHEN s = {s} THEN code END) AS c{s}" for s in range(m)
    )
    lutp = ",\n                  ".join(
        f"max(CASE WHEN s = {s} AND code = {c} THEN ld END) AS l{s}_{c}"
        for s in range(m)
        for c in range(k)
    )
    adc = " + ".join(
        "(CASE v.c%d %s ELSE l.l%d_%d END)"
        % (
            s,
            " ".join(f"WHEN {c} THEN l.l{s}_{c}" for c in range(k - 1)),
            s,
            k - 1,
        )
        for s in range(m)
    )
    series = f"(SELECT unnest(generate_series(0, {m - 1})) AS s) s"
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    cc AS (SELECT vec_id AS list_id, e AS c FROM e WHERE vec_id < {kc}),
    q AS (SELECT e AS qv FROM e WHERE vec_id = {qid}),
    cd AS (SELECT e.vec_id, cc.list_id,
                  {_sqdist("e.e", "cc.c")} AS dist
           FROM e, cc),
    asg AS (SELECT vec_id, list_id FROM (
              SELECT vec_id, list_id,
                     row_number() OVER (PARTITION BY vec_id
                                        ORDER BY dist, list_id) AS rn
              FROM cd) WHERE rn = 1),
    resid AS (SELECT e.vec_id, a.list_id,
                     list_transform(range(1, {dim + 1}),
                                    i -> e.e[i] - cc.c[i]) AS r
              FROM e JOIN asg a USING (vec_id)
                     JOIN cc ON cc.list_id = a.list_id),
    pqc AS (SELECT vec_id - {kc} AS code, r AS p FROM resid
            WHERE vec_id >= {kc} AND vec_id < {kc + k}),
    probe AS (SELECT list_id, c FROM (
                SELECT cc.list_id, cc.c,
                       row_number() OVER (ORDER BY
                         {_sqdist("q.qv", "cc.c")}, cc.list_id) AS rn
                FROM cc, q) WHERE rn <= {nprobe}),
    corp AS (SELECT r.vec_id, r.list_id, r.r
             FROM resid r JOIN probe USING (list_id)
             WHERE r.vec_id <> {qid}),
    scd AS (SELECT corp.vec_id, corp.list_id, s.s, pqc.code,
                   {_sqdist_sub("corp.r", "pqc.p")} AS dist
            FROM corp, {series}, pqc),
    codes AS (SELECT vec_id, list_id,
                   {codes_pivot}
              FROM (SELECT *, row_number() OVER (PARTITION BY vec_id, s
                                                 ORDER BY dist, code) AS rn
                    FROM scd) WHERE rn = 1
              GROUP BY vec_id, list_id),
    rq AS (SELECT probe.list_id,
                  list_transform(range(1, {dim + 1}),
                                 i -> q.qv[i] - probe.c[i]) AS rq
           FROM probe, q),
    lut AS (SELECT rq.list_id, s.s, pqc.code,
                   {_sqdist_sub("rq.rq", "pqc.p")} AS ld
            FROM rq, {series}, pqc),
    lutp AS (SELECT list_id,
                  {lutp}
             FROM lut GROUP BY list_id),
    adc AS (SELECT v.vec_id, v.list_id,
                   CAST(round(({adc}) * 1e9) AS BIGINT) AS adc_nanos
            FROM codes v JOIN lutp l ON l.list_id = v.list_id),
    exact AS (SELECT e.vec_id,
                     CAST(round((list_dot_product(e.e, e.e)
                          - 2 * list_dot_product(e.e, q.qv)
                          + list_dot_product(q.qv, q.qv)) * 1e9) AS BIGINT)
                       AS l2_nanos,
                     CAST(round((list_dot_product(e.e, q.qv)
                       / (sqrt(list_dot_product(e.e, e.e))
                          * sqrt(list_dot_product(q.qv, q.qv)))) * 1e9)
                       AS BIGINT) AS cos_nanos
              FROM e, q WHERE e.vec_id <> {qid}),
    l2top AS (SELECT vec_id FROM exact ORDER BY l2_nanos, vec_id LIMIT {topk}),
    costop AS (SELECT vec_id FROM exact
               ORDER BY cos_nanos DESC, vec_id LIMIT {topk})
    SELECT t.vec_id, t.list_id, t.adc_nanos,
           CASE WHEN t.vec_id IN (SELECT vec_id FROM l2top)
                THEN 1 ELSE 0 END AS in_exact_l2_topk,
           CASE WHEN t.vec_id IN (SELECT vec_id FROM costop)
                THEN 1 ELSE 0 END AS in_exact_cos_topk
    FROM (SELECT vec_id, list_id, adc_nanos FROM adc
          ORDER BY adc_nanos, vec_id LIMIT {topk}) t
    """


@_register(
    "s14_ivfpq_residual_topk",
    ivfadc_oracle_sql(),
    survey="north-star similarity completion: IVF-PQ residual search "
    "(IVFADC, Jégou et al. TPAMI 2011 §IV.B — VERDICT r10 task 1): "
    "vectors route to their nearest of kc coarse centroids (inverted "
    "lists), RESIDUALS vector − centroid are PQ-encoded against a "
    "shared product codebook (seeded from the residuals of the k "
    "vectors past the coarse seeds — whose own residuals are "
    "identically zero), and the query probes only the nprobe nearest "
    "lists, scoring each list's codes with a per-list LUT built from "
    "the query's residual against that list's centroid. This is the "
    "structure that bounds compressed search at 100 TB: flat ADC "
    "(s13) reads every code; here the probed-list filter prunes the "
    "scan to nprobe/kc of the data (a written index would partition "
    "by list_id and the filter becomes partition pruning). Dual "
    "recall audit vs exact-L2 AND exact-cosine (both on the "
    "round(·1e9) int64 grid, the s13-as-amended discipline); "
    "assignment ties to the smaller id; all folds sequential "
    "left-to-right on both engines; residual subtraction a single "
    "IEEE op per lane.",
    note="Plan pin (tests/test_plan_shapes.py): pure scan — coarse "
    "assignment, probed-list filter, residual PQ encode, per-list LUT "
    "ADC all in one codegen pipeline over literals; TakeOrdered "
    "pushdown; no join wider than the two 10-row recall broadcasts; "
    "zero shuffle exchanges.",
)
def s14_ivfpq_residual_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC top-10 over probed residual-code lists with exact-L2 /
    exact-cosine recall flags (see functions.similarity
    .ivfpq_residual_topk)."""
    from ..functions.similarity import ivfpq_residual_topk

    (emb,) = _ctx(spark, sf_dir, "embeddings")
    return ivfpq_residual_topk(
        emb,
        query_vec_id=0,
        kc=_S14_KC,
        m=_S14_M,
        k=_S14_K,
        nprobe=_S14_NPROBE,
        topk=_S14_TOPK,
    )


# ---------------------------------------------------------------------------
# s15: hybrid retrieval fusion — reciprocal-rank fusion of BM25 + ANN
# ---------------------------------------------------------------------------

#: RRF constant (Cormack/Clarke/Buettcher, SIGIR 2009 use k=60) and the
#: exact common denominator: lcm(61..70) — every contribution
#: D // (60 + rank) is an EXACT integer for rank 1..10, so fused scores
#: and their ordering are integer arithmetic end to end.
_S15_K = 60
_S15_TOPK = 10
_S15_D = math.lcm(*range(_S15_K + 1, _S15_K + _S15_TOPK + 1))


@_register(
    "s15_rrf_hybrid_fusion",
    # splice the two verified retriever oracles in VERBATIM (one source of
    # truth — a t18/s01 oracle change propagates here automatically)
    f"""
    WITH lex0 AS (SELECT * FROM ({{t18}}) t),
    vec0 AS (SELECT * FROM ({{s01}}) t),
    lex AS (SELECT doc_id,
                   row_number() OVER (
                     ORDER BY CAST(round(bm25 * 1e9) AS BIGINT) DESC,
                              doc_id) AS lex_rank
            FROM lex0),
    vec AS (SELECT vec_id AS doc_id,
                   row_number() OVER (
                     ORDER BY CAST(round(cosine * 1e9) AS BIGINT) DESC,
                              vec_id) AS vec_rank
            FROM vec0),
    f AS (SELECT coalesce(l.doc_id, v.doc_id) AS doc_id,
                 l.lex_rank, v.vec_rank
          FROM lex l FULL OUTER JOIN vec v ON v.doc_id = l.doc_id)
    SELECT doc_id,
           CAST(coalesce(lex_rank, 0) AS BIGINT) AS lex_rank,
           CAST(coalesce(vec_rank, 0) AS BIGINT) AS vec_rank,
           CAST(coalesce({_S15_D} // (60 + lex_rank), 0)
                + coalesce({_S15_D} // (60 + vec_rank), 0) AS BIGINT)
             AS rrf_num
    FROM f
    """.format(
        t18=QUERIES["t18_bm25_topk"].oracle,
        s01=QUERIES["s01_cosine_topk"].oracle,
    ),
    survey="north-star retrieval completion: HYBRID fusion (VERDICT "
    "r10 task 3) — reciprocal-rank fusion of t18's BM25 lexical "
    "top-10 and s01's cosine vector top-10 over the aligned "
    "doc_id/vec_id space, score = Σ 1/(60+rank) (Cormack et al., "
    "SIGIR 2009: RRF outperforms Condorcet and individual-rank "
    "learning methods) — the ranking real RAG-curation pipelines "
    "compute from exactly these two retrievers. Both input rankings "
    "are RE-DERIVED IN-QUERY from their registered definitions "
    "(verbatim SQL composition on the oracle side; the registered "
    "query callables on the Spark side), ranks assigned on the "
    "round(·1e9) int64 grid with id tie-breaks, and the fused score "
    "is EXACT integer arithmetic: contributions are D // (60+rank) "
    f"with D = lcm(61..70) = {_S15_D} — divisible for every rank, so "
    "the fusion introduces zero float ops (rrf_num / D recovers the "
    "textbook score). Absent-from-a-list is rank 0 (contributes "
    "nothing), so the output is the UNION of both top-10 sets with "
    "full provenance (lex_rank, vec_rank, rrf_num).",
    note="Scale: both inputs are top-k relations (≤10 rows each) — "
    "the fusion is a broadcast-sized full outer join + row-local "
    "integer arithmetic; the corpus-sized work is entirely inside "
    "the two audited retrievers it composes. The 10-row rank windows "
    "are the quota-seed class of legitimately tiny single-partition "
    "sorts.",
)
def s15_rrf_hybrid_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union of the BM25 and cosine top-10s with int-grid ranks and
    the exact-integer RRF fused score."""
    from pyspark.sql import Window

    lex0 = QUERIES["t18_bm25_topk"].spark(spark, sf_dir)
    vec0 = QUERIES["s01_cosine_topk"].spark(spark, sf_dir)
    wl = Window.orderBy(
        F.desc(F.round(F.col("bm25") * 1e9).cast("long")), F.asc("doc_id")
    )
    wv = Window.orderBy(
        F.desc(F.round(F.col("cosine") * 1e9).cast("long")), F.asc("vec_id")
    )
    lex = lex0.select(
        "doc_id", F.row_number().over(wl).alias("lex_rank")
    )
    vec = vec0.select(
        F.col("vec_id").alias("doc_id"),
        F.row_number().over(wv).alias("vec_rank"),
    )
    f = lex.join(vec, "doc_id", "full_outer")
    z = F.lit(0).cast("long")
    return f.select(
        "doc_id",
        F.coalesce(F.col("lex_rank").cast("long"), z).alias("lex_rank"),
        F.coalesce(F.col("vec_rank").cast("long"), z).alias("vec_rank"),
        (
            F.coalesce(
                F.expr(f"{_S15_D} div (60 + lex_rank)").cast("long"), z
            )
            + F.coalesce(
                F.expr(f"{_S15_D} div (60 + vec_rank)").cast("long"), z
            )
        ).alias("rrf_num"),
    )


# ---------------------------------------------------------------------------
# src07: materialized IVF-PQ index, probed via partition pruning
# ---------------------------------------------------------------------------
_SRC07_KC, _SRC07_M, _SRC07_K = 8, 4, 4
_SRC07_NPROBE, _SRC07_TOPK = 3, 10


# ---------------------------------------------------------------------------
# s16: maximal-marginal-relevance diverse top-k
# ---------------------------------------------------------------------------
_S16_QID, _S16_CAND, _S16_N = 0, 30, 10


def _s16_oracle() -> str:
    """Unrolled n-round MMR selection: pick t = argmax over the
    remaining candidates of rel_nanos − max_sim_nanos (λ=1/2 — the
    common ×2 cancels in an argmax, so the objective is already pure
    int64), then fold the pick's similarity into every survivor's
    running max. Each round is two tiny CTEs over the 30-row candidate
    relation — the relational mirror of the engine's per-round max()
    update. Every c/p CTE is AS MATERIALIZED: each level references
    its predecessor twice (once through p_t, once directly), so
    DuckDB's default inlining would re-evaluate the chain 2^rounds
    times (the d12/m12 lesson — measured here as 29.6s of oracle time
    at sf0.001 before materialization, milliseconds after)."""

    def _cosn(a: str, b: str) -> str:
        return (
            f"CAST(round((list_dot_product({a}, {b})"
            f" / (sqrt(list_dot_product({a}, {a}))"
            f" * sqrt(list_dot_product({b}, {b})))) * 1e9) AS BIGINT)"
        )

    ctes = [
        "e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)",
        f"q AS (SELECT e AS qv FROM e WHERE vec_id = {_S16_QID})",
        "rel AS (SELECT e.vec_id, e.e,\n"
        f"             {_cosn('e.e', 'q.qv')} AS rel_nanos\n"
        f"      FROM e, q WHERE e.vec_id <> {_S16_QID})",
        "c0 AS MATERIALIZED (SELECT vec_id, e, rel_nanos,"
        " CAST(0 AS BIGINT) AS msim\n"
        f"       FROM rel ORDER BY rel_nanos DESC, vec_id LIMIT {_S16_CAND})",
    ]
    return _mmr_rounds_sql(ctes, _S16_N)


def _mmr_rounds_sql(prefix_ctes: list[str], n: int) -> str:
    """The unrolled MMR round CTEs + final trace select over an
    existing ``c0(vec_id, e, rel_nanos, msim)`` candidate CTE — shared
    by s16 (exact top-k candidates) and s17 (IVFADC-probed
    candidates); the s16 output is string-identity-pinned across this
    refactor."""

    def _cosn(a: str, b: str) -> str:
        return (
            f"CAST(round((list_dot_product({a}, {b})"
            f" / (sqrt(list_dot_product({a}, {a}))"
            f" * sqrt(list_dot_product({b}, {b})))) * 1e9) AS BIGINT)"
        )

    ctes = list(prefix_ctes)
    for t in range(1, n + 1):
        ctes.append(
            f"p{t} AS MATERIALIZED (SELECT * FROM c{t - 1}\n"
            f"        ORDER BY rel_nanos - msim DESC, vec_id LIMIT 1)"
        )
        if t < n:
            ctes.append(
                f"c{t} AS MATERIALIZED (SELECT c.vec_id, c.e, c.rel_nanos,\n"
                f"               greatest(c.msim, {_cosn('c.e', 'p.e')}) AS msim\n"
                f"        FROM c{t - 1} c, p{t} p WHERE c.vec_id <> p.vec_id)"
            )
    sel = "\n    UNION ALL ".join(
        f"SELECT CAST({t} AS BIGINT) AS sel_rank, vec_id, rel_nanos,\n"
        f"           msim AS max_sim_nanos,\n"
        f"           rel_nanos - msim AS mmr_nanos FROM p{t}"
        for t in range(1, n + 1)
    )
    return (
        "\n    WITH "
        + ",\n    ".join(ctes)
        + "\n    "
        + sel
        + "\n    ORDER BY sel_rank\n    "
    )


@_register(
    "s16_mmr_diverse_topk",
    _s16_oracle(),
    survey="north-star curation completion: DIVERSE selection — "
    "maximal marginal relevance (Carbonell & Goldstein, SIGIR 1998) "
    "over the top-30 cosine candidates of query vec 0: round t picks "
    "argmax of λ·relevance − (1−λ)·max-similarity-to-already-selected "
    "(λ=1/2), so the 10-exemplar budget spreads across embedding "
    "modes instead of returning near-duplicates of one mode — the "
    "pass RAG/exemplar-curation pipelines run AFTER retrieval (s01/"
    "s13/s14/s15 rank; s16 diversifies). Tolerance-free by "
    "construction: relevance and pairwise similarity live on the "
    "round(·1e9) int64 cosine grid (sequential-fold dots, the s13/s14 "
    "discipline) and at λ=1/2 the objective is ALREADY pure integer "
    "(mmr_nanos = rel_nanos − max_sim_nanos; the common ×2 cancels in "
    "an argmax — a 2·rel−sim form is λ=2/3 and was rejected by its "
    "own fixture: at 2:1 weighting an exact clone of the top pick "
    "still beats every diverse candidate); ties break to the smaller "
    "vec_id everywhere. Scale: the only corpus-scale stage is the "
    "candidate top-k scan (TakeOrderedAndProject — at 100 TB the "
    "candidates come from the s14 index probe instead); the "
    "inherently sequential selection is driver arithmetic over the "
    "quota-seed-sized collected candidates (the s13/s14 seed/LUT "
    "class — a lazy per-round DataFrame loop was measured first: 35s "
    "of Catalyst recompiles for a 30-row selection), with one int of "
    "running-max state per survivor — never a pairwise matrix.",
    note="Output (sel_rank, vec_id, rel_nanos, max_sim_nanos, "
    "mmr_nanos) exposes the full selection trace, so the oracle "
    "re-proves WHY each pick won its round, not just which ids "
    "survived. Oracle CTEs are AS MATERIALIZED — each level is "
    "referenced twice, and default inlining re-evaluates the chain "
    "2^rounds times (measured 29.6s → ms at sf0.001).",
)
def s16_mmr_diverse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR-diverse 10-of-30 selection trace for query vec 0 (see
    functions.similarity.mmr_diverse_topk)."""
    from ..functions.similarity import mmr_diverse_topk

    (emb,) = _ctx(spark, sf_dir, "embeddings")
    return mmr_diverse_topk(
        emb,
        query_vec_id=_S16_QID,
        n_candidates=_S16_CAND,
        n_select=_S16_N,
    )


# ---------------------------------------------------------------------------
# s17: MMR diversification over the IVFADC index probe
# ---------------------------------------------------------------------------
_S17_CAND, _S17_N = 30, 10


def _s17_oracle() -> str:
    """s16's MMR round chain over candidates produced by the IVFADC
    probe instead of the exact top-k: the s14 oracle SQL (src07
    constants, topk widened to 30) nests as a subquery — DuckDB scopes
    its inner WITH locally — and its vec_ids become c0. Relevance and
    diversity stay exact cosine over the probed set, so the selection
    layer is shared verbatim (_mmr_rounds_sql)."""

    def _cosn(a: str, b: str) -> str:
        return (
            f"CAST(round((list_dot_product({a}, {b})"
            f" / (sqrt(list_dot_product({a}, {a}))"
            f" * sqrt(list_dot_product({b}, {b})))) * 1e9) AS BIGINT)"
        )

    inner = ivfadc_oracle_sql(
        kc=_SRC07_KC,
        m=_SRC07_M,
        k=_SRC07_K,
        nprobe=_SRC07_NPROBE,
        topk=_S17_CAND,
    )
    prefix = [
        "e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)",
        "q AS (SELECT e AS qv FROM e WHERE vec_id = 0)",
        f"cand AS MATERIALIZED (SELECT vec_id FROM ({inner}) t)",
        "rel AS (SELECT e.vec_id, e.e,\n"
        f"             {_cosn('e.e', 'q.qv')} AS rel_nanos\n"
        "      FROM e JOIN cand USING (vec_id), q WHERE e.vec_id <> 0)",
        "c0 AS MATERIALIZED (SELECT vec_id, e, rel_nanos,"
        " CAST(0 AS BIGINT) AS msim\n       FROM rel)",
    ]
    return _mmr_rounds_sql(prefix, _S17_N)


@_register(
    "s17_mmr_over_ivfadc",
    _s17_oracle(),
    survey="north-star retrieval capstone: ANN-prefiltered "
    "diversification — s16's survey line claims 'at 100 TB the "
    "candidates come from the s14 index probe instead'; s17 IS that "
    "composition, registered: candidate GENERATION is the IVFADC "
    "probe (src07 constants kc=8/nprobe=3, top-30 by ADC distance — "
    "sub-scan: only probed lists are read), and the SELECTION is "
    "exact-cosine λ=1/2 MMR over those 30 (the s16 machinery, shared "
    "verbatim — engine via candidate_ids, oracle via the shared "
    "_mmr_rounds_sql builder with the s14 SQL nested as the candidate "
    "subquery). The full modern retrieval stack in one oracle-backed "
    "query: compressed index probe → exact re-rank → diversity "
    "selection, each stage exact-integer-pinned.",
    note="The selection trace differs from s16's wherever the probe's "
    "top-30 differs from the exact top-30 (quantization loss surfaces "
    "as candidate-set drift — tests pin both the equality of the "
    "shared machinery and the existence of drift on the real corpus).",
)
def s17_mmr_over_ivfadc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR-diverse 10 over the IVFADC probe's top-30 (see
    functions.similarity.mmr_diverse_topk, candidate_ids path)."""
    from ..functions.similarity import ivfpq_residual_topk, mmr_diverse_topk

    (emb,) = _ctx(spark, sf_dir, "embeddings")
    hits = ivfpq_residual_topk(
        emb,
        query_vec_id=0,
        kc=_SRC07_KC,
        m=_SRC07_M,
        k=_SRC07_K,
        nprobe=_SRC07_NPROBE,
        topk=_S17_CAND,
    ).collect()
    return mmr_diverse_topk(
        emb,
        query_vec_id=0,
        n_select=_S17_N,
        candidate_ids=[int(r["vec_id"]) for r in hits],
    )
