"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``: brute-force exact top-k — the correctness baseline.
  All math JVM-side (``aggregate``/``zip_with`` in whole-stage codegen,
  double precision); the query vector rides along as a broadcast
  single-row cross join, so the scan stays embarrassingly parallel.
- ``ivf_topk``: IVF-style scale path — per-bucket centroids (here the
  pre-assigned ``label`` plays the role of the coarse quantizer cell),
  probe the closest ``nprobe`` centroids, search only those buckets.
  At 100 TB this turns a full scan into a pruned scan of
  nprobe/nlist of the data; bucketing the table by ``label`` makes the
  probe a partition-pruned read.
- ``embedding_near_dup_pairs_blas``: blocked pairwise cosine for
  near-dup detection (block = label bucket), never all-pairs.
"""

from __future__ import annotations

import decimal
import math

from pyspark.sql import Column, DataFrame, Window, functions as F

from ..operators._sql import double


def _dlit(vals) -> Column:
    """Literal ``array<double>`` as ONE parsed SQL expression
    (optimization r11): the Column-API form ``F.array(*[F.lit(x) ...])``
    costs one py4j round trip per element — measured 672 ms for a
    64-float array vs 7.6 ms for this form — and the seed/LUT-literal
    queries (s13/s14/src07/s17) build dozens of them per invocation."""
    return F.expr(_dlit_sql(vals))


def _dlit_sql(vals) -> str:
    """The SQL-string form of :func:`_dlit`, for embedding literal
    arrays inside larger single-parse expressions."""
    return "array(" + ",".join(map(double, vals)) + ")"


def _sq_sql(arr: str) -> str:
    """Σ v² over an array expression — the same sequential
    left-to-right fold as the Column-API ``F.aggregate`` form."""
    return f"aggregate({arr}, 0.0D, (acc, v) -> acc + v * v)"


def _dotp_sql(a: str, b: str) -> str:
    """Sequential-fold dot product of two array expressions —
    identical op order to the Column-API zip_with/aggregate form."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D,"
        f" (acc, v) -> acc + v)"
    )


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def cosine_topk(
    embeddings: DataFrame,
    query_vec_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact brute-force top-k by cosine against one stored vector."""
    q = embeddings.filter(F.col(id_col) == query_vec_id).select(
        F.col(vec_col).alias("_qvec")
    )
    scored = (
        embeddings.filter(F.col(id_col) != query_vec_id)
        .crossJoin(F.broadcast(q))
        .select(
            F.col(id_col),
            cosine(F.col(vec_col), F.col("_qvec")).alias("cosine"),
        )
    )
    return scored.orderBy(F.desc("cosine"), F.asc(id_col)).limit(k)


def label_centroids(
    embeddings: DataFrame, vec_col: str = "embedding", label_col: str = "label"
) -> DataFrame:
    """Per-bucket mean vector via posexplode + per-dimension avg (no
    UDF; one shuffle keyed by (label, dim))."""
    dims = embeddings.select(
        label_col, F.posexplode(F.col(vec_col)).alias("dim", "x")
    )
    per_dim = dims.groupBy(label_col, "dim").agg(
        F.avg(F.col("x").cast("double")).alias("m")
    )
    return (
        per_dim.groupBy(label_col)
        .agg(F.array_sort(F.collect_list(F.struct("dim", "m"))).alias("_dm"))
        .select(
            label_col,
            F.transform(F.col("_dm"), lambda s: s.getField("m")).alias("centroid"),
        )
    )


def ivf_topk(
    embeddings: DataFrame,
    query_vec_id: int,
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """IVF-bucketed ANN: probe the nprobe closest centroids, brute-force
    only within those buckets."""
    cents = label_centroids(embeddings, vec_col, label_col)
    q = embeddings.filter(F.col(id_col) == query_vec_id).select(
        F.col(vec_col).alias("_qvec")
    )
    probed = (
        cents.crossJoin(F.broadcast(q))
        .select(label_col, cosine(F.col("centroid"), F.col("_qvec")).alias("_c"))
        .orderBy(F.desc("_c"), F.asc(label_col))
        .limit(nprobe)
        .select(label_col)
    )
    bucketed = embeddings.join(F.broadcast(probed), label_col)
    return (
        bucketed.filter(F.col(id_col) != query_vec_id)
        .crossJoin(F.broadcast(q))
        .select(F.col(id_col), cosine(F.col(vec_col), F.col("_qvec")).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def embedding_near_dup_pairs_blas(
    embeddings: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str = "label",
) -> DataFrame:
    """Blocked pairwise cosine via per-block matrix multiply.

    Pairs a < b within a block with cosine ≥ threshold. The O(n²·d)
    inner work runs as ONE BLAS gemm per block inside an Arrow-batched
    grouped-map kernel instead of per-pair SQL lambda folds (``cosine``)
    — measured ~5× faster at sf0.1, and the gap widens with block size.
    Cosine differs from the SQL fold only at ulp level (summation
    order), far inside the oracle tolerance. The gemm runs in STRIPS (~128 MB of scores at a time):
    a full n×n score matrix plus triu index arrays is O(n²) worker
    memory — at the 100× block size (21.8k vectors) that was ~8 GB per
    group and 32 concurrent groups OOM-killed the workers. Strips
    bound the peak at strip×n doubles plus the surviving pairs, at
    identical values (each score is the same single dot product).
    """
    import sys as _sys

    import numpy as _np
    import pandas as _pd

    from .._serde import register_self as _register_self

    _register_self(_sys.modules[__name__])

    def pairs(pdf: "_pd.DataFrame") -> "_pd.DataFrame":
        ids = pdf[id_col].to_numpy()
        x = _np.array(list(pdf[vec_col]), dtype=_np.float64)
        order = _np.argsort(ids, kind="stable")
        ids, x = ids[order], x[order]
        nrm = _np.sqrt((x * x).sum(axis=1))
        nrm[nrm == 0.0] = _np.inf  # zero vectors match nothing
        xn = x / nrm[:, None]
        n = len(ids)
        # ~16M scores (128 MB) per strip bounds peak worker memory
        strip = max(1, 16_000_000 // max(n, 1))
        out_a, out_b, out_s = [], [], []
        for i0 in range(0, n, strip):
            s = xn[i0 : i0 + strip] @ xn.T  # (k, n) score strip
            # pre-filter with a margin below threshold: the exact
            # inclusion decision happens JVM-side on the rounded score,
            # so a gemm-vs-fold ulp wobble at the threshold cannot flip
            # membership
            rows, cols = _np.nonzero(s >= threshold - 1e-6)
            keep = cols > rows + i0  # strict upper triangle (a < b)
            rows, cols = rows[keep], cols[keep]
            out_a.append(ids[rows + i0])
            out_b.append(ids[cols])
            out_s.append(s[rows, cols])
        return _pd.DataFrame(
            {
                "vec_a": _np.concatenate(out_a) if out_a else _np.array([], dtype=ids.dtype),
                "vec_b": _np.concatenate(out_b) if out_b else _np.array([], dtype=ids.dtype),
                "cosine": _np.concatenate(out_s) if out_s else _np.array([], dtype=_np.float64),
            }
        )

    return (
        embeddings.select(block_col, id_col, vec_col)
        .groupBy(block_col)
        .applyInPandas(pairs, schema="vec_a long, vec_b long, cosine double")
        # round(,9): cosine ∈ [-1,1] so 9dp is far above ulp noise;
        # rounding + thresholding on the rounded value is reproducible
        # across engines and partition layouts
        .withColumn("cosine", F.round("cosine", 9))
        .filter(F.col("cosine") >= threshold)
    )


def semdedup_prior_max(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str = "label",
    col_chunk: int = 1024,
) -> DataFrame:
    """Per-vector max cosine to any EARLIER (smaller id) vector in the
    same block — the SemDeDup primitive: drop a vector when this
    exceeds tau (first-occurrence-wins keeper rule).

    Pair-free formulation: where ``embedding_near_dup_pairs_blas``
    materializes the O(n²) intra-block pair triangle (right for
    pair-threshold outputs, ruinous for a prior-max at scale — a 20k
    cluster is 2·10⁸ pairs), this kernel reduces the triangle to the
    per-column max INSIDE the gemm and emits exactly ONE row per
    vector. FLOPs stay the inherent n²·d of SemDeDup (bounded by the
    clustering fan-out, the paper's k ≈ √n knob), but shuffle output
    is O(n) and worker memory is bounded by ``col_chunk`` gemm panels
    (n × col_chunk doubles), never the full n×n score matrix.

    Returns ``(id_col, block_col, max_prior_cos)`` with NULL for each
    block's first vector. Cosine ulp-differs from a SQL fold only in
    summation order (same caveat as the blas pair kernel); consumers
    should round before thresholding, the d04 discipline.
    """
    import sys as _sys

    import numpy as _np
    import pandas as _pd

    from .._serde import register_self as _register_self

    _register_self(_sys.modules[__name__])

    def prior_max(pdf: "_pd.DataFrame") -> "_pd.DataFrame":
        ids = pdf[id_col].to_numpy()
        blk = pdf[block_col].to_numpy()
        x = _np.array(list(pdf[vec_col]), dtype=_np.float64)
        order = _np.argsort(ids, kind="stable")
        ids, blk, x = ids[order], blk[order], x[order]
        n = len(ids)
        nrm = _np.sqrt((x * x).sum(axis=1))
        nrm[nrm == 0.0] = _np.inf  # zero vectors match nothing
        xn = x / nrm[:, None]
        mx = _np.full(n, _np.nan)
        for j0 in range(1, n, col_chunk):
            j1 = min(j0 + col_chunk, n)
            panel = xn @ xn[j0:j1].T  # n × chunk
            # mask rows i >= j (self and later vectors)
            cols = _np.arange(j0, j1)
            panel[_np.arange(n)[:, None] >= cols[None, :]] = -_np.inf
            mx[j0:j1] = panel.max(axis=0)
        return _pd.DataFrame(
            {id_col: ids, block_col: blk, "max_prior_cos": mx}
        )

    out_schema = f"{id_col} long, {block_col} int, max_prior_cos double"
    return (
        embeddings.select(block_col, id_col, vec_col)
        .groupBy(block_col)
        .applyInPandas(prior_max, schema=out_schema)
    )


def knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact k-NN join: for every query vector, its k nearest corpus
    vectors by cosine (ties broken by corpus id — total order).

    Norms are folded once per side BEFORE the pair join (O(n+m), not
    O(n·m)); the per-pair work is a single dot-product fold inside
    whole-stage codegen, then a per-query window top-k (rank, not a
    global sort). The query side broadcasts when small — the usual ANN
    batch-lookup shape (probe set ≪ corpus). At 100 TB the corpus scan
    stays embarrassingly parallel and shuffle-free: broadcast queries ×
    partition-local scoring, one shuffle keyed by query for the top-k.
    The scale path when the query side is also huge is s02 (IVF) /
    s03 (sign-LSH) candidate generation feeding this same scorer.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qv"),
        _norm(F.col(vec_col)).alias("_qn"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cv"),
        _norm(F.col(vec_col)).alias("_cn"),
    )
    scored = c.join(F.broadcast(q)).select(
        "query_id",
        "neighbor_id",
        (_dot(F.col("_qv"), F.col("_cv")) / (F.col("_qn") * F.col("_cn"))).alias(
            "cosine"
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def knn_join_blas(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """``knn_join`` with the O(n·m·d) scoring as BLAS gemm.

    The fold formulation's ``aggregate``/``zip_with`` lambdas evaluate
    interpreted (higher-order functions don't codegen) — measured ~15×
    slower than this at sf0.1. Here the query side (the small probe
    batch) ships to every executor as a broadcast numpy matrix; each
    Arrow batch of the corpus scores against ALL queries in one
    ``Q @ X.T`` and emits only its per-query partial top-k, so the
    final exact top-k window sees n_batches·|Q|·k candidate rows, not
    |Q|·|corpus| — the partial-top-k pushdown that makes the shuffle
    independent of corpus size. Cosine differs from the per-pair fold
    only at ulp (summation order), far inside oracle tolerance and ~9
    orders below observed rank-boundary gaps; zero-norm vectors score
    0 (excluded), as in the d04 kernel.
    """
    import sys as _sys

    import numpy as _np
    import pandas as _pd

    from .._serde import register_self as _register_self

    _register_self(_sys.modules[__name__])

    q_pd = queries.select(id_col, vec_col).toPandas()
    out_schema = "query_id long, neighbor_id long, cosine double"
    if len(q_pd) == 0:
        return (
            corpus.sparkSession.createDataFrame([], out_schema)
            .withColumn("rank", F.lit(1).cast("int"))
        )
    q_ids = q_pd[id_col].to_numpy()
    qm = _np.array(list(q_pd[vec_col]), dtype=_np.float64)
    qn = _np.sqrt((qm * qm).sum(axis=1))
    qn[qn == 0.0] = _np.inf
    qmn = qm / qn[:, None]
    bq = corpus.sparkSession.sparkContext.broadcast((q_ids, qmn))

    def score(it):
        ids_q, qx = bq.value
        for pdf in it:
            if len(pdf) == 0:
                continue
            c_ids = pdf[id_col].to_numpy()
            x = _np.array(list(pdf[vec_col]), dtype=_np.float64)
            nrm = _np.sqrt((x * x).sum(axis=1))
            nrm[nrm == 0.0] = _np.inf
            s = qx @ (x / nrm[:, None]).T  # |Q| × batch
            kk = min(k, s.shape[1])
            # keep everything >= the kth-largest score so exact ties at
            # the cut survive to the global (cosine, neighbor_id)
            # tie-break — the batch cut never decides among equals
            kth = -_np.partition(-s, kk - 1, axis=1)[:, kk - 1]
            rows_q, cols_c = _np.nonzero(s >= kth[:, None])
            yield _pd.DataFrame(
                {
                    "query_id": ids_q[rows_q],
                    "neighbor_id": c_ids[cols_c],
                    "cosine": s[rows_q, cols_c],
                }
            )

    cand = corpus.select(id_col, vec_col).mapInPandas(score, schema=out_schema)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def signlsh_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.9,
    n_planes: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_tables: int | None = None,
    n_vectors: int | None = None,
) -> DataFrame:
    """Embedding near-dup at corpus scale: sign-LSH bucket-join
    candidates (``signlsh_candidate_pairs``) refined by exact cosine ≥
    threshold. The unblocked companion to ``embedding_near_dup_pairs_blas``
    (which needs a pre-existing blocking key): candidate volume tracks
    bucket occupancy — (1 − θ/π)^n_planes per-table collision
    probability — not corpus², and the refine join fetches vectors for
    candidates only.

    Recall is SCALE-INDEPENDENT by default: ``n_planes=None`` widens
    the bucket key with the corpus (constant occupancy), which alone
    would multiply single-table recall by ~(1 − θ/π) per extra plane
    — a finder that keeps its output degree constant by missing an
    ever-larger fraction of true near-dups. ``n_tables=None``
    compensates with the standard band-OR construction
    (``signlsh_adaptive_tables``): t independent plane tables, a pair
    is a candidate if it collides in ANY table, t chosen so OR-recall
    at cosine ≥ 0.9 never drops below the 8-plane base rung. Total
    candidate volume stays O(t·n) with t growing ~+1 per 2 extra
    planes. Pass explicit ``n_planes``/``n_tables`` to pin a classic
    fixed-geometry form; ``n_vectors`` skips the sizing ``count()``
    when the caller already knows it.
    """
    cand = signlsh_candidate_pairs(
        embeddings, n_planes, id_col, vec_col, n_tables=n_tables,
        n_vectors=n_vectors,
    )
    if "bucket" in cand.columns:
        cand = cand.select("vec_a", "vec_b")
    withv = embeddings.select(
        F.col(id_col), F.col(vec_col), _norm(F.col(vec_col)).alias("_nrm")
    )
    a = withv.select(
        F.col(id_col).alias("vec_a"),
        F.col(vec_col).alias("_va"),
        F.col("_nrm").alias("_na"),
    )
    b = withv.select(
        F.col(id_col).alias("vec_b"),
        F.col(vec_col).alias("_vb"),
        F.col("_nrm").alias("_nb"),
    )
    return (
        cand.join(a, "vec_a")
        .join(b, "vec_b")
        .select(
            "vec_a",
            "vec_b",
            (_dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb"))).alias(
                "cosine"
            ),
        )
        .filter(F.col("cosine") >= threshold)
    )


def _hyperplane_weight(seed: int | str, dim_col: Column) -> Column:
    """Deterministic pseudo-random hyperplane weight in [-1, 1):
    md5("seed|dim") first 8 hex chars → uniform int → scaled. Engine-
    portable (any SQL engine with md5 reproduces it bit-for-bit)."""
    h = F.conv(
        F.substring(F.md5(F.concat_ws("|", F.lit(str(seed)), dim_col)), 1, 8),
        16,
        10,
    ).cast("double")
    return h / F.lit(2147483648.0) - F.lit(1.0)


def _plane_seed(table: int, plane: int) -> str:
    """Seed string for plane ``plane`` of OR-table ``table``. Table 0
    keeps the historical bare-integer seeds (so its buckets — and every
    registered oracle built on them — are byte-identical to the
    single-table form); additional tables draw from a disjoint seed
    namespace."""
    return str(plane) if table == 0 else f"t{table}p{plane}"


#: sign-LSH adaptive-plane ladder — the e08 density-grid discipline
#: applied to hyperplane LSH: one extra plane per 2× vector-count growth
#: past the base rung, so expected bucket occupancy — and with it
#: per-vector candidate work AND candidate-pair output degree — stays
#: constant at any corpus size. A FIXED plane count is the thing that
#: does not survive scale: occupancy grows linearly with n, pairs grow
#: as n²/2^planes (at 100× the 8-plane table put 200k vectors in 256
#: buckets ≈ 78M pairs). Thresholds are INTEGER comparisons and the
#: plane count is an integer, so the Spark driver and a SQL oracle pick
#: identical parameters from the same count(*); bucket bit j is
#: independent of the total plane count (each plane is its own
#: md5-seeded hyperplane), so the adaptive bucket is an exact PREFIX of
#: the max-width bit string — a substr() on the oracle side.
SIGNLSH_BASE_N = 4096
SIGNLSH_BASE_PLANES = 8
SIGNLSH_MAX_EXTRA = 16


def signlsh_adaptive_planes(n_vectors: int) -> int:
    """Plane count for ``n_vectors``: base 8, +1 per 2× past 4096."""
    planes, thr = SIGNLSH_BASE_PLANES, SIGNLSH_BASE_N
    for _ in range(SIGNLSH_MAX_EXTRA):
        if n_vectors <= thr:
            break
        thr *= 2
        planes += 1
    return planes


#: Reference collision probability per plane at the recall-contract
#: similarity (cosine ≥ 0.9): s = 1 − θ/π with θ = acos(0.9). A pair
#: this similar shares one p-plane bucket with probability s^p.
_SIGNLSH_REF_S = 1.0 - math.acos(0.9) / math.pi
SIGNLSH_MAX_TABLES = 16


def signlsh_adaptive_tables(n_planes: int) -> int:
    """Band-OR table count compensating the adaptive width's recall
    decay: the smallest t with 1 − (1 − s^p)^t ≥ s^8 (the single-table
    base-rung recall at cosine ≥ 0.9). Each extra plane multiplies
    single-table recall by ~s ≈ 0.857, so a count-adaptive width alone
    finds a vanishing fraction of true near-dups as the corpus grows;
    OR-ing t independent tables restores it while per-table occupancy
    stays constant — total candidate volume O(t·n), t ≈ +1 per 2
    planes. Pure integer/driver-side math: both engines derive the
    identical t from the identical plane count."""
    base_recall = _SIGNLSH_REF_S**SIGNLSH_BASE_PLANES
    miss = 1.0 - _SIGNLSH_REF_S**n_planes
    t = 1
    while 1.0 - miss**t < base_recall and t < SIGNLSH_MAX_TABLES:
        t += 1
    return t


def signlsh_buckets(
    embeddings: DataFrame,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    table: int = 0,
) -> DataFrame:
    """Random-hyperplane (SimHash-for-vectors) LSH bucket per vector.

    Bucket bit j = sign(v · h_j) with h_j a deterministic pseudo-random
    hyperplane. Cosine-similar vectors agree on most bits, so exact
    bucket equality is a candidate filter whose collision probability
    is (1 - θ/π)^n_planes. One posexplode + one groupBy — linear, and
    the bucket column is a join/partition key at any scale (the scale
    path for near-dup: bucket-join instead of all-pairs).
    """
    dims = embeddings.select(
        id_col, F.posexplode(F.col(vec_col)).alias("dim", "x")
    )
    dots = [
        F.sum(
            F.col("x").cast("double")
            * _hyperplane_weight(_plane_seed(table, j), F.col("dim").cast("string"))
        ).alias(f"d{j}")
        for j in range(n_planes)
    ]
    agg = dims.groupBy(id_col).agg(*dots)
    bits = F.concat(
        *[F.when(F.col(f"d{j}") >= 0, "1").otherwise("0") for j in range(n_planes)]
    )
    return agg.select(id_col, bits.alias("bucket"))


def signlsh_candidate_pairs(
    embeddings: DataFrame,
    n_planes: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_tables: int | None = 1,
    n_vectors: int | None = None,
) -> DataFrame:
    """Candidate pairs (a < b) sharing a sign-LSH bucket — the ANN
    candidate generator whose work tracks bucket occupancy, not n².

    ``n_planes=None`` (the default) sizes the bucket table adaptively
    from the corpus count (``signlsh_adaptive_planes``): occupancy and
    output degree stay constant as the corpus grows. NOTE the recall
    tradeoff: each extra adaptive plane multiplies the probability
    that a truly-similar pair collides by ~(1 − θ/π) (≈0.86 at cosine
    0.9), so a single adaptive table's recall DECAYS with corpus size
    — it keeps constant output degree by finding a shrinking fraction
    of true near-dups. ``n_tables=None`` applies the band-OR
    compensation (``signlsh_adaptive_tables``): candidates collide in
    ANY of t independent plane tables, with t sized so recall at
    cosine ≥ 0.9 stays at the base rung (this is what
    ``signlsh_near_dup_pairs`` defaults to). ``n_tables=1`` (this
    function's default) pins the classic single-table form whose
    output carries the shared ``bucket``; with multiple tables the
    output is the distinct ``(vec_a, vec_b)`` union. Pass
    ``n_vectors`` to skip the sizing ``count()`` (a full Spark job
    over the input, not free) when the caller already knows it."""
    if n_planes is None:
        # driver-side scalar: one count() job over the input picks the
        # ladder rung (bounded-collect discipline, same as e08's grid).
        # On a bare parquet scan this folds to footer metadata; on a
        # derived input it is a real job — pass n_vectors to skip it.
        n_planes = signlsh_adaptive_planes(
            n_vectors if n_vectors is not None else embeddings.count()
        )
    if n_tables is None:
        n_tables = signlsh_adaptive_tables(n_planes)
    if n_tables == 1:
        b = signlsh_buckets(embeddings, n_planes, id_col, vec_col)
        a_side = b.select(F.col(id_col).alias("vec_a"), "bucket")
        b_side = b.select(F.col(id_col).alias("vec_b"), "bucket")
        return (
            a_side.join(b_side, "bucket")
            .filter(F.col("vec_a") < F.col("vec_b"))
            .select("vec_a", "vec_b", "bucket")
        )
    # Fused multi-table build: ALL t·p plane dot products in ONE
    # posexplode + ONE groupBy over the vectors (t separate
    # signlsh_buckets calls would scan and shuffle the wide vector
    # table t times), then one posexplode of the per-vector bucket
    # array and one self-join keyed (table, bucket) — identical pair
    # set to t independent bucket joins OR'd, at 1× the build cost.
    dims = embeddings.select(
        id_col, F.posexplode(F.col(vec_col)).alias("dim", "x")
    )
    dots = [
        F.sum(
            F.col("x").cast("double")
            * _hyperplane_weight(_plane_seed(t, j), F.col("dim").cast("string"))
        ).alias(f"d_{t}_{j}")
        for t in range(n_tables)
        for j in range(n_planes)
    ]
    agg = dims.groupBy(id_col).agg(*dots)
    per_table_bits = [
        F.concat(
            *[
                F.when(F.col(f"d_{t}_{j}") >= 0, "1").otherwise("0")
                for j in range(n_planes)
            ]
        )
        for t in range(n_tables)
    ]
    multi = agg.select(
        id_col, F.posexplode(F.array(*per_table_bits)).alias("tbl", "bucket")
    )
    a_side = multi.select(F.col(id_col).alias("vec_a"), "tbl", "bucket")
    b_side = multi.select(F.col(id_col).alias("vec_b"), "tbl", "bucket")
    # a pair colliding in several tables is one candidate — the
    # distinct is a shuffle over O(t·n) candidate rows, not n².
    return (
        a_side.join(b_side, ["tbl", "bucket"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .distinct()
    )


def kmeans_lloyd_iteration(
    emb: DataFrame, k: int = 8, vec_col: str = "embedding"
) -> DataFrame:
    """One exact Lloyd (k-means) iteration with deterministic seeding:
    centroids start as the embeddings of vec_id 0..k-1, every vector is
    assigned to its nearest centroid by squared L2, and the new
    centroids are the per-cluster dimension means — the IVF-training /
    clustering primitive behind s02's inverted-file ANN.

    Spark-first shape: the k seed vectors collect to the driver
    (k·dim doubles) and inline into the assignment expression as
    literals — the E-step is a scan with NO join and no shuffle; the
    M-step is one posexplode + (cluster, dim) groupBy — one shuffle of
    n·dim skinny rows with map-side partial means. Iterating = a
    driver loop re-collecting k·dim numbers per round; data never
    leaves executors. Distances expand as dot(a,a) − 2·dot(a,c) +
    dot(c,c) so every term is a sequential fold (bit-reproducible
    cross-engine, unlike a subtract-then-square lambda whose
    intermediate array order DuckDB folds differently).

    Returns (cluster, dim, c_val, n): the updated centroid matrix in
    long form plus cluster sizes.
    """
    e = emb.select("vec_id", F.col(vec_col).cast("array<double>").alias("e"))
    seeds = {
        int(r["vec_id"]): list(r["e"])
        for r in e.filter(F.col("vec_id") < k).collect()
    }
    if len(seeds) < k:
        raise ValueError(f"need vec_id 0..{k-1} present as seeds")

    def dot(a: Column, b: Column) -> Column:
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    da = dot(F.col("e"), F.col("e"))
    cand = []
    for c in range(k):
        cvec = seeds[c]
        clit = _dlit(cvec)
        dcc = 0.0
        for x in cvec:  # same left-to-right fold as list_dot_product
            dcc = dcc + float(x) * float(x)
        dist = da - 2 * dot(F.col("e"), clit) + F.lit(dcc)
        cand.append(F.struct(dist.alias("dist"), F.lit(c).alias("cluster")))
    assigned = e.select(
        "vec_id", "e", F.array_min(F.array(*cand))["cluster"].alias("cluster")
    )
    return (
        assigned.select("cluster", F.posexplode("e").alias("dim0", "v"))
        .groupBy("cluster", (F.col("dim0") + 1).alias("dim"))
        .agg(F.avg("v").alias("c_val"), F.count(F.lit(1)).alias("n"))
    )


def pq_assign(
    emb: DataFrame,
    m: int = 4,
    k: int = 4,
    vec_col: str = "embedding",
    seeds: dict[int, list[float]] | None = None,
) -> DataFrame:
    """Product-quantization code assignment (Jégou et al., "Product
    Quantization for Nearest Neighbor Search", TPAMI 2011): the vector
    is split into ``m`` contiguous subspaces, each subspace has its own
    ``k``-entry codebook, and every vector is encoded as the tuple of
    nearest-centroid ids — dim·4 bytes compress to m·log2(k) bits, the
    memory trick that lets billion-vector ANN indexes fit in RAM.
    Codebooks here are seeded deterministically from the embeddings of
    vec_id 0..k-1 (the s05 k-means discipline — a production trainer
    would run Lloyd per subspace first; assignment, the corpus-sized
    step, is identical either way). Returns one row per vector:
    ``code_0..code_{m-1}`` plus ``err_nanos``, the exact int64 sum of
    each subspace's round(squared-residual·1e9) — the quantization
    error audit.

    Scale design: the k seed vectors collect once (k·dim doubles) and
    inline as LITERALS, so assignment is a pure scan — no join, no
    shuffle, nothing but per-row array HOFs in whole-stage codegen; the
    operator output is one narrow row per vector. Distances expand as
    dot(x,x) − 2·dot(x,c) + dot(c,c) with every term a sequential fold
    (bit-reproducible cross-engine — the s05/d04 discipline), ties
    break to the smaller code via struct array_min. At 100 TB this is
    the map stage that writes the compressed index; the only data
    movement is the written codes.
    """
    e = emb.select("vec_id", F.col(vec_col).cast("array<double>").alias("e"))
    # ONE seed-collect job (optimization r11): dim derives from the
    # collected seeds instead of a separate first() job, and a caller
    # that already holds the seeds (pq_adc_topk) passes them through
    if seeds is None:
        seeds = {
            int(r["vec_id"]): list(r["e"])
            for r in e.filter(F.col("vec_id") < k).collect()
        }
    if len(seeds) < k:
        raise ValueError(f"need vec_id 0..{k-1} present as codebook seeds")
    dim = len(seeds[0])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m

    # Whole-column expressions are built as single-parse SQL strings
    # (optimization r11): the Column-API form cost one py4j round trip
    # per node — hundreds per invocation for the m·k candidate trees.
    # The SQL mirrors the previous Column tree exactly (same sequential
    # folds, same expansion, same tie-break via struct array_min).
    cols = [F.col("vec_id")]
    err_terms = []
    for s in range(m):
        xs = f"slice(e, {s * sub + 1}, {sub})"
        dxx = _sq_sql(xs)
        cand = []
        for c in range(k):
            cvec = seeds[c][s * sub : (s + 1) * sub]
            dcc = 0.0
            for x in cvec:  # same left-to-right fold as list_dot_product
                dcc = dcc + float(x) * float(x)
            dxc = _dotp_sql(xs, _dlit_sql(cvec))
            cand.append(
                f"struct(({dxx}) - 2 * ({dxc}) + {double(dcc)} AS dist,"
                f" {c} AS code)"
            )
        mn = f"array_min(array({', '.join(cand)}))"
        cols.append(
            F.expr(f"CAST(({mn}).code AS INT)").alias(f"code_{s}")
        )
        err_terms.append(f"CAST(round(({mn}).dist * 1e9) AS BIGINT)")
    total = " + ".join(err_terms)
    cols.append(F.expr(total).alias("err_nanos"))
    return e.select(*cols)


def random_projection(
    emb: DataFrame, out_dim: int = 16, vec_col: str = "embedding"
) -> DataFrame:
    """Johnson-Lindenstrauss random projection with a ±1 sign matrix
    (Achlioptas, "Database-friendly random projections", JACM 2003):
    y_j = (1/√out_dim) · Σ_i x_i·s_{i,j}, with the sign matrix derived
    deterministically from md5 — s_{i,j} = +1 iff the low bit of the
    first hex char of md5("j|i") is set — so the projection is
    reproducible on any engine with md5 and needs NO stored model.
    Pairwise distances are preserved within (1±ε) w.h.p. — the cheap
    dimensionality-reduction front end for clustering/ANN when even PQ
    (s11) is too lossy. Returns ``vec_id`` plus ``y{j}_nanos``, the
    exact int64 of round(y_j·1e9) per output dimension.

    Scale design: the sign matrix is dim·out_dim literals inlined into
    the plan (here 64×16 — a few KB), so the operator is a PURE SCAN:
    no join, no shuffle, one narrow output row per vector; every fold
    is sequential in index order (the s05/d04 bit-reproducibility
    discipline) and the 1/√out_dim scale is applied as one multiply
    AFTER the fold (out_dim a power of four → the factor is exact).
    At 100 TB this is a map stage fused into the embedding scan.
    """
    import hashlib

    e = emb.select("vec_id", F.col(vec_col).cast("array<double>").alias("e"))
    dim = len(e.select("e").first()["e"])
    scale = 1.0 / math.sqrt(out_dim)

    def sign(i: int, j: int) -> float:
        # low bit of the first hex char of md5("j|i") — mirrored by the
        # oracle's strpos-over-hex form, same scheme as simhash bits
        ch = hashlib.md5(f"{j}|{i}".encode()).hexdigest()[0]
        return 1.0 if int(ch, 16) & 1 else -1.0

    cols = [F.col("vec_id")]
    for j in range(out_dim):
        slit = _dlit([sign(i, j) for i in range(1, dim + 1)])
        fold = F.aggregate(
            F.zip_with(F.col("e"), slit, lambda x, s: x * s),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        cols.append(
            F.round(fold * F.lit(scale) * 1e9).cast("long").alias(f"y{j}_nanos")
        )
    return e.select(*cols)


def pq_adc_topk(
    emb: DataFrame,
    query_vec_id: int = 0,
    m: int = 4,
    k: int = 4,
    topk: int = 10,
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ asymmetric-distance (ADC) top-k retrieval — the SEARCH stage
    completing ``pq_assign``'s map stage (Jégou et al., TPAMI 2011,
    §IV.A): the query vector is never quantized; instead a per-query
    lookup table ``lut[s][c] = ||q_s − centroid_{s,c}||²`` (m·k
    doubles) is built once, and every database vector's approximate
    distance is the sum of m table lookups indexed by its stored code
    bytes — the scan that makes billion-vector search run from RAM:
    compressed codes in, no vector arithmetic per row.

    Returns the ADC top-``topk`` (ties → smaller vec_id on the exact
    int64 nanos grid) with two recall-audit flags per hit, the s09
    discipline: ``in_exact_l2_topk`` — membership in the EXACT
    squared-L2 top-k (the metric ADC approximates, so this column
    isolates pure quantization loss; summing it is recall@k·k) — and
    ``in_exact_cos_topk`` — membership in the exact cosine top-k (the
    ranking the corpus-side queries s01/s09 report, so the two audits
    bracket metric mismatch as well).

    Scale design: codes come from ``pq_assign`` (a pure scan over
    literal codebooks); the LUT is m·k python floats computed
    driver-side from the same collected seeds + query vector (tiny by
    construction) and inlined as LITERAL arrays, so ADC scoring is a
    pure scan — ``element_at(lut_s, code_s + 1)`` per subspace, four
    adds, no join, no shuffle — followed by TakeOrdered top-k pushdown.
    The exact-ranking audits are brute-force scans with the query
    inlined (no broadcast even), and the membership flags join 10-row
    relations. Every float path follows the s05/d04 bit-reproducibility
    discipline: sequential left-to-right folds mirrored by the oracle's
    list_dot_product, final ordering on the round(·1e9) int64 grid.
    """
    e = emb.select("vec_id", F.col(vec_col).cast("array<double>").alias("e"))
    # ONE driver job collects seeds + query together (optimization
    # r11: was first() + seeds collect + query collect + pq_assign's
    # own seeds collect — four jobs per invocation); dim derives from
    # the collected rows
    rows = e.filter(
        (F.col("vec_id") < k) | (F.col("vec_id") == query_vec_id)
    ).collect()
    seeds = {
        int(r["vec_id"]): list(r["e"]) for r in rows if int(r["vec_id"]) < k
    }
    if len(seeds) < k:
        raise ValueError(f"need vec_id 0..{k-1} present as codebook seeds")
    qrows = [r for r in rows if int(r["vec_id"]) == query_vec_id]
    if not qrows:
        raise ValueError(f"query vec_id {query_vec_id} not present")
    qv = list(qrows[0]["e"])
    dim = len(qv)
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m

    def _dot_seq(a: list, b: list) -> float:
        # same left-to-right fold as DuckDB list_dot_product / the
        # F.aggregate folds below (the pq_assign dcc discipline)
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    # per-query ADC lookup table: lut[s][c] = ||q_s - c_{s,c}||^2,
    # expanded dot(q,q) - 2 dot(q,c) + dot(c,c) like the oracle
    lut: list[list[float]] = []
    for s in range(m):
        qs = qv[s * sub : (s + 1) * sub]
        dqq = _dot_seq(qs, qs)
        row = []
        for c in range(k):
            cs = seeds[c][s * sub : (s + 1) * sub]
            row.append(dqq - 2 * _dot_seq(qs, cs) + _dot_seq(cs, cs))
        lut.append(row)

    codes = pq_assign(emb, m=m, k=k, vec_col=vec_col, seeds=seeds).filter(
        F.col("vec_id") != query_vec_id
    )
    terms = [
        F.element_at(
            _dlit(lut[s]),
            F.col(f"code_{s}") + 1,
        )
        for s in range(m)
    ]
    adc = terms[0]
    for t in terms[1:]:
        adc = adc + t
    adc_top = (
        codes.select(
            "vec_id", F.round(adc * 1e9).cast("long").alias("adc_nanos")
        )
        .orderBy(F.asc("adc_nanos"), F.asc("vec_id"))
        .limit(topk)
    )

    qlit = _dlit(qv)
    dqq_full = _dot_seq(qv, qv)
    dxx = F.aggregate(F.col("e"), F.lit(0.0), lambda a, v: a + v * v)
    dxq = F.aggregate(
        F.zip_with(F.col("e"), qlit, lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    exact = e.filter(F.col("vec_id") != query_vec_id).select(
        "vec_id",
        F.round((dxx - 2 * dxq + F.lit(dqq_full)) * 1e9)
        .cast("long")
        .alias("l2_nanos"),
        # ranked on the round(·1e9) int64 grid like l2_nanos (r10
        # ADVICE): a near-cutoff top-k tie must not depend on
        # bit-identical double division/sqrt across engines
        F.round(
            (dxq / (F.sqrt(dxx) * F.lit(math.sqrt(dqq_full)))) * 1e9
        )
        .cast("long")
        .alias("cos_nanos"),
    )
    l2_top = (
        exact.orderBy(F.asc("l2_nanos"), F.asc("vec_id"))
        .limit(topk)
        .select("vec_id", F.lit(1).alias("_l2"))
    )
    cos_top = (
        exact.orderBy(F.desc("cos_nanos"), F.asc("vec_id"))
        .limit(topk)
        .select("vec_id", F.lit(1).alias("_cos"))
    )
    return (
        adc_top.join(F.broadcast(l2_top), "vec_id", "left")
        .join(F.broadcast(cos_top), "vec_id", "left")
        .select(
            "vec_id",
            "adc_nanos",
            F.coalesce(F.col("_l2"), F.lit(0)).alias("in_exact_l2_topk"),
            F.coalesce(F.col("_cos"), F.lit(0)).alias("in_exact_cos_topk"),
        )
    )


def ivfpq_residual_topk(
    emb: DataFrame,
    query_vec_id: int = 0,
    kc: int = 4,
    m: int = 4,
    k: int = 4,
    nprobe: int = 2,
    topk: int = 10,
    vec_col: str = "embedding",
    materialize_dir: str | None = None,
) -> DataFrame:
    """IVFADC — inverted-file search over PQ RESIDUAL codes (Jégou et
    al., "Product Quantization for Nearest Neighbor Search", TPAMI
    2011, §IV.B): the composition that makes compressed ANN *sub-scan*
    where flat ADC (``pq_adc_topk``) still reads every code. Every
    vector is routed to its nearest of ``kc`` coarse centroids (its
    inverted list), and what gets PQ-encoded is the RESIDUAL
    ``e − c_list`` — residuals concentrate near the origin, so a shared
    product codebook quantizes them far better than raw vectors. At
    query time only the ``nprobe`` nearest lists are probed, scoring
    each list's codes with a per-list lookup table built from the
    query's OWN residual against that list's centroid — the FAISS
    IVFADC index shape used for billion-vector search.

    Determinism/seeding (the s05/s11/s13 discipline): coarse centroids
    are the embeddings of vec_id 0..kc-1; the product codebook is
    seeded from the RESIDUALS of vec_id kc..kc+k-1 (each against its
    own nearest coarse centroid — offset past the coarse seeds, whose
    own residuals are identically zero). Assignment ties break to the
    smaller id; final ordering on the round(·1e9) int64 nanos grid
    with vec_id tie-breaks; every float path is a sequential
    left-to-right fold mirrored by the oracle's list_dot_product, and
    elementwise residual subtraction is a single IEEE op per lane on
    both engines.

    Returns the ADC top-``topk`` over the probed lists as
    ``(vec_id, list_id, adc_nanos, in_exact_l2_topk,
    in_exact_cos_topk)`` — the dual recall audit brackets quantization
    loss (vs exact L2, the metric ADC approximates) and metric
    mismatch (vs exact cosine), both ranked on the int64 grid.

    Scale design: the kc + k seed vectors and the query collect once
    (tiny by construction) and EVERYTHING derived from them — coarse
    centroids, product codebook, probed list ids, the nprobe·m·k LUT —
    inlines as literals. The corpus-side plan is: scan → coarse-assign
    (kc expanded-fold candidates, pure codegen) → **filter to the
    probed lists** → residual-encode + ADC-score only the survivors →
    TakeOrdered. No join, no shuffle; the only exchanges are the two
    10-row recall-flag broadcasts (plan-pinned). At 100 TB the codes
    and list ids are a written index partitioned by list_id, and the
    probed-list filter becomes partition pruning — the scan reads
    nprobe/kc of the data; the expression pipeline here IS that
    index's build + search fused, which is why the filter sits below
    the encode in the optimized plan (Catalyst pushes it: the filter
    needs only list_id).

    ``materialize_dir`` makes that written index REAL instead of
    rhetorical: the full codes table (EVERY list — an index stores all
    lists; pruning happens at query time) is written
    ``partitionBy("list_id")`` as hive-layout parquet, re-read, and
    the probed-list filter is applied to the re-read scan — where it
    resolves as PartitionFilters (directory pruning: non-probed lists
    are never LISTED, let alone scanned; asserted by plan pin). The
    returned rows are identical to the fused in-query form by
    construction — same codes, same LUTs, same grid — so the oracle
    is the same SQL; what changes is the physical access path, which
    is exactly the claim worth proving.
    """
    e = emb.select("vec_id", F.col(vec_col).cast("array<double>").alias("e"))
    n_seed = kc + k
    # ONE driver job collects seeds + query together (optimization
    # r11: was first() + seeds collect + query collect — three jobs)
    rows = e.filter(
        (F.col("vec_id") < n_seed) | (F.col("vec_id") == query_vec_id)
    ).collect()
    seeds = {
        int(r["vec_id"]): list(r["e"])
        for r in rows
        if int(r["vec_id"]) < n_seed
    }
    if len(seeds) < n_seed:
        raise ValueError(f"need vec_id 0..{n_seed - 1} present as seeds")
    qrows = [r for r in rows if int(r["vec_id"]) == query_vec_id]
    if not qrows:
        raise ValueError(f"query vec_id {query_vec_id} not present")
    qv = list(qrows[0]["e"])
    dim = len(qv)
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m

    def _dot_seq(a: list, b: list) -> float:
        # left-to-right fold == DuckDB list_dot_product == F.aggregate
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    def _sqdist_seq(a: list, b: list) -> float:
        # expanded dot(a,a) - 2 dot(a,b) + dot(b,b) — NOT a
        # subtract-then-square fold (the s05 cross-engine rule)
        return _dot_seq(a, a) - 2 * _dot_seq(a, b) + _dot_seq(b, b)

    coarse = [seeds[c] for c in range(kc)]

    def _assign(v: list) -> int:
        best, best_d = 0, _sqdist_seq(v, coarse[0])
        for c in range(1, kc):
            d = _sqdist_seq(v, coarse[c])
            if d < best_d:  # strict: ties keep the smaller id
                best, best_d = c, d
        return best

    # product codebook: residuals of the k seed vectors PAST the
    # coarse seeds, each against its own nearest coarse centroid
    pq: list[list[float]] = []
    for j in range(kc, kc + k):
        sv = seeds[j]
        cv = coarse[_assign(sv)]
        pq.append([x - y for x, y in zip(sv, cv)])

    probed = sorted(range(kc), key=lambda c: (_sqdist_seq(qv, coarse[c]), c))[
        :nprobe
    ]
    # per-list LUT over the QUERY's residual against that list's
    # centroid: lut[l][s][c] = ||(q - C_l)_s - pq_c_s||^2
    lut: dict[int, list[list[float]]] = {}
    for li in probed:
        rq = [x - y for x, y in zip(qv, coarse[li])]
        lut[li] = [
            [
                _sqdist_seq(
                    rq[s * sub : (s + 1) * sub],
                    pq[c][s * sub : (s + 1) * sub],
                )
                for c in range(k)
            ]
            for s in range(m)
        ]

    # ---- corpus plan (one lazy expression pipeline) ----
    da = _dot(F.col("e"), F.col("e"))
    cand = []
    for c in range(kc):
        clit = _dlit(coarse[c])
        dcc = _dot_seq(coarse[c], coarse[c])
        dist = da - 2 * _dot(F.col("e"), clit) + F.lit(dcc)
        cand.append(F.struct(dist.alias("dist"), F.lit(c).alias("list_id")))
    assigned = e.filter(F.col("vec_id") != query_vec_id).select(
        "vec_id", "e", F.array_min(F.array(*cand))["list_id"].alias("list_id")
    )
    # fused form: only the probed lists are ever encoded (filter below
    # the encode). Materialized form: the index stores EVERY list, so
    # all kc lists encode at build time and pruning moves to the read.
    enc_lists = list(range(kc)) if materialize_dir else [int(x) for x in probed]
    pruned = (
        assigned
        if materialize_dir
        else assigned.filter(F.col("list_id").isin([int(x) for x in probed]))
    )

    # residual of each survivor against its list centroid
    res = F.lit(None).cast("array<double>")
    for li in enc_lists:
        clit = _dlit(coarse[li])
        res = F.when(
            F.col("list_id") == li,
            F.zip_with(F.col("e"), clit, lambda x, y: x - y),
        ).otherwise(res)
    enc = pruned.select("vec_id", "list_id", res.alias("r"))

    # PQ residual codes: per-subspace argmin over the shared codebook
    code_cols = []
    for s in range(m):
        rs = F.slice(F.col("r"), s * sub + 1, sub)
        drr = F.aggregate(rs, F.lit(0.0), lambda acc, v: acc + v * v)
        cands = []
        for c in range(k):
            ps = pq[c][s * sub : (s + 1) * sub]
            plit = _dlit(ps)
            dpp = _dot_seq(ps, ps)
            drp = F.aggregate(
                F.zip_with(rs, plit, lambda a, b: a * b),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            dist = drr - 2 * drp + F.lit(dpp)
            cands.append(F.struct(dist.alias("dist"), F.lit(c).alias("code")))
        code_cols.append(
            F.array_min(F.array(*cands))["code"].cast("int").alias(f"code_{s}")
        )
    coded = enc.select("vec_id", "list_id", *code_cols)

    if materialize_dir:
        # write the FULL index hive-partitioned by list_id, then read
        # it back with the probe filter — the filter resolves as
        # PartitionFilters on the re-read scan (directory pruning:
        # the physical realization of "the probe reads nprobe/kc of
        # the data"). mode=overwrite keeps the call idempotent.
        coded.write.mode("overwrite").partitionBy("list_id").parquet(
            materialize_dir
        )
        coded = (
            emb.sparkSession.read.parquet(materialize_dir)
            .filter(F.col("list_id").isin([int(x) for x in probed]))
            .select("vec_id", "list_id", *[f"code_{s}" for s in range(m)])
        )

    # ADC: per-list LUT lookup selected by list_id — m element_at + adds
    terms = []
    for s in range(m):
        t = F.lit(None).cast("double")
        for li in probed:
            llit = _dlit(lut[li][s])
            t = F.when(
                F.col("list_id") == li, F.element_at(llit, F.col(f"code_{s}") + 1)
            ).otherwise(t)
        terms.append(t)
    adc = terms[0]
    for t in terms[1:]:
        adc = adc + t
    adc_top = (
        coded.select(
            "vec_id",
            "list_id",
            F.round(adc * 1e9).cast("long").alias("adc_nanos"),
        )
        .orderBy(F.asc("adc_nanos"), F.asc("vec_id"))
        .limit(topk)
    )

    # dual exact audits over the FULL corpus (int64 grid, s13 form)
    qlit = _dlit(qv)
    dqq_full = _dot_seq(qv, qv)
    dxx = F.aggregate(F.col("e"), F.lit(0.0), lambda a, v: a + v * v)
    dxq = F.aggregate(
        F.zip_with(F.col("e"), qlit, lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    exact = e.filter(F.col("vec_id") != query_vec_id).select(
        "vec_id",
        F.round((dxx - 2 * dxq + F.lit(dqq_full)) * 1e9)
        .cast("long")
        .alias("l2_nanos"),
        F.round(
            (dxq / (F.sqrt(dxx) * F.lit(math.sqrt(dqq_full)))) * 1e9
        )
        .cast("long")
        .alias("cos_nanos"),
    )
    l2_top = (
        exact.orderBy(F.asc("l2_nanos"), F.asc("vec_id"))
        .limit(topk)
        .select("vec_id", F.lit(1).alias("_l2"))
    )
    cos_top = (
        exact.orderBy(F.desc("cos_nanos"), F.asc("vec_id"))
        .limit(topk)
        .select("vec_id", F.lit(1).alias("_cos"))
    )
    return (
        adc_top.join(F.broadcast(l2_top), "vec_id", "left")
        .join(F.broadcast(cos_top), "vec_id", "left")
        .select(
            "vec_id",
            "list_id",
            "adc_nanos",
            F.coalesce(F.col("_l2"), F.lit(0)).alias("in_exact_l2_topk"),
            F.coalesce(F.col("_cos"), F.lit(0)).alias("in_exact_cos_topk"),
        )
    )


def mmr_diverse_topk(
    emb: DataFrame,
    query_vec_id: int = 0,
    n_candidates: int = 30,
    n_select: int = 10,
    vec_col: str = "embedding",
    candidate_ids: list[int] | None = None,
) -> DataFrame:
    """Maximal-marginal-relevance selection (Carbonell & Goldstein,
    SIGIR 1998): pick ``n_select`` vectors that are RELEVANT to the
    query but mutually DIVERSE — round t selects
    ``argmax_c λ·rel(c) − (1−λ)·max_{s∈S} sim(c, s)`` over the not-yet
    -selected candidates. This is the exemplar/diverse-subset pass
    real curation pipelines run after retrieval: pure top-k returns
    near-duplicates of one mode; MMR spends the budget across modes.

    Exactness (λ = 1/2, equal weights): relevance and pairwise
    similarity live on the round(·1e9) int64 cosine grid (the s13/s14
    discipline — every dot a sequential left-to-right fold, mirrored
    by DuckDB's list_dot_product), so the objective is already pure
    integer arithmetic: ``mmr_nanos = rel_nanos − max_sim_nanos``
    (the common ×2 of λ=(1−λ)=1/2 cancels in an argmax). The first
    pick maximizes relevance (max_sim starts at 0), ties break to the
    smaller vec_id everywhere — so engine and oracle agree
    bit-for-bit and the driver compare is tolerance-free.

    ``candidate_ids`` swaps the exact top-k candidate generation for a
    caller-provided set — the s17 path, where the candidates come from
    the IVFADC index probe (:func:`ivfpq_residual_topk`) so generation
    is sub-scan while selection stays exact-cosine MMR. (A 2·rel−sim
    form was tried first and rejected by its own fixture: that is
    λ=2/3, and at 2:1 relevance weighting an exact clone of the top
    pick — penalty rel−1 ≈ −5e−5 — still beats any genuinely diverse
    candidate; equal weights is the form that actually diversifies.)

    Scale design: the ONLY corpus-scale stage is the candidate top-k
    (one scan → TakeOrderedAndProject, exactly s01's shape; at 100 TB
    the candidate source would be the s14 index probe instead). The
    selection itself is inherently sequential in t (each round's
    objective depends on the previous pick) over a relation that is
    quota-seed sized BY CONSTRUCTION (n_candidates rows · dim
    doubles), so it runs as driver arithmetic on the collected
    candidates — the same class as s13/s14 collecting PQ seeds and
    building LUTs driver-side. A lazy per-round DataFrame loop was
    measured first: 10 rounds of nested greatest()/literal-array
    expressions made Catalyst recompile a deepening codegen tree,
    35.3s at sf0.001 for a 30-row selection (vs ~2s total this way) —
    plan-compile cost, not data cost; the corpus never participates
    after the top-k scan either way. Selection state is one int per
    surviving candidate updated by max() — O(candidates), never a
    pairwise matrix.
    """
    e = emb.select("vec_id", F.col(vec_col).cast("array<double>").alias("e"))

    def _dot_seq(a: list, b: list) -> float:
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    def _cosn(a: list, b: list) -> int:
        # the int64 cosine grid: sequential-fold dots, sqrt, round —
        # IEEE-identical to the oracle's list_dot_product expression
        # AND to the JVM rel expression below (same fold order, same
        # IEEE ops). Round half-AWAY-from-zero on the EXACT binary
        # double via decimal.Decimal (r12, ADVICE fix). Spark F.round
        # is BigDecimal HALF_UP on the double's shortest decimal repr
        # (Double.toString), not its exact binary value; the two agree
        # here because |x| <= 1e9 < 2^52 keeps every n.5 exactly
        # representable, so no shortest repr crosses a half. floor(x+0.5)
        # disagrees when x+0.5 is inexact at ~1e9 magnitude (the
        # 0.49999999999999994 class of cases)
        x = (
            _dot_seq(a, b)
            / (math.sqrt(_dot_seq(a, a)) * math.sqrt(_dot_seq(b, b)))
            * 1e9
        )
        return int(
            decimal.Decimal(x).quantize(
                decimal.Decimal(1), rounding=decimal.ROUND_HALF_UP
            )
        )

    if candidate_ids is not None:
        # the ANN-prefiltered path (s17): the candidate set comes from
        # an index probe (e.g. ivfpq_residual_topk) instead of the
        # exact top-k scan — sub-scan generation, same exact selection.
        # ONE driver job collects query + candidates together
        # (optimization r11: was a query collect + a candidate collect);
        # rel_nanos derives driver-side through _cosn, which is
        # bit-identical to the JVM expression of the exact path (same
        # sequential folds, same half-away round).
        ids = [int(x) for x in candidate_ids]
        rows = e.filter(
            F.col("vec_id").isin(ids + [int(query_vec_id)])
        ).collect()
        byid = {int(r["vec_id"]): list(r["e"]) for r in rows}
        if int(query_vec_id) not in byid:
            raise ValueError(f"query vec_id {query_vec_id} not present")
        qv = byid[int(query_vec_id)]
        cand = [
            (i, byid[i], _cosn(byid[i], qv))
            for i in sorted(set(ids))
            if i != int(query_vec_id) and i in byid
        ]
        vecs = {i: v for (i, v, _r) in cand}
        relv = {i: r for (i, _v, r) in cand}
    else:
        qrow = e.filter(F.col("vec_id") == query_vec_id).collect()
        if not qrow:
            raise ValueError(f"query vec_id {query_vec_id} not present")
        qv = list(qrow[0]["e"])
        qlit = _dlit(qv)
        nq = math.sqrt(_dot_seq(qv, qv))
        dxx = F.aggregate(F.col("e"), F.lit(0.0), lambda a, v: a + v * v)
        dxq = F.aggregate(
            F.zip_with(F.col("e"), qlit, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        rel = F.round((dxq / (F.sqrt(dxx) * F.lit(nq))) * 1e9).cast("long")
        rows = (
            e.filter(F.col("vec_id") != query_vec_id)
            .select("vec_id", "e", rel.alias("rel_nanos"))
            .orderBy(F.desc("rel_nanos"), F.asc("vec_id"))
            .limit(n_candidates)
            .collect()  # quota-seed sized by construction (the s13/s14
            # seed/LUT class): n_candidates rows · dim doubles
        )
        vecs = {int(r["vec_id"]): list(r["e"]) for r in rows}
        relv = {int(r["vec_id"]): int(r["rel_nanos"]) for r in rows}

    msim = {i: 0 for i in vecs}
    remaining = sorted(vecs)
    rows: list[tuple[int, int, int, int, int]] = []
    for t in range(1, n_select + 1):
        if not remaining:
            break
        pick = min(remaining, key=lambda i: (-(relv[i] - msim[i]), i))
        rows.append(
            (t, pick, relv[pick], msim[pick], relv[pick] - msim[pick])
        )
        remaining = [i for i in remaining if i != pick]
        for i in remaining:
            s = _cosn(vecs[i], vecs[pick])
            if s > msim[i]:
                msim[i] = s
    return emb.sparkSession.createDataFrame(
        rows,
        "sel_rank bigint, vec_id bigint, rel_nanos bigint, "
        "max_sim_nanos bigint, mmr_nanos bigint",
    )
