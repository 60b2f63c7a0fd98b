"""Extension family, wave 4 part A (round 4; round 5 split the
module's second half into q_extensions5, round 6 split the codec pair
into q_wave4_codecs and the text pair into q_wave4_text along family
lines): a mergeable fixed-bin histogram quantile sketch (a27) plus
its live-on-stream form (st10), matryoshka embedding truncation with
measured recall (s09), triangle counting with clustering coefficient
(g03), and SCD Type-2 interval builds from a change stream (e15).
Part B (q_extensions5): a28, src05, p05, s10, e16, a29.

North-star additions (no reference counterpart): the
histogram sketches are the mergeable (map-side-combinable) shapes
that replace exact median counting at fact scale, matryoshka
truncation is the dimension-reduction knob every 100 TB ANN
deployment turns first, g03 completes the graph family
(centrality/components/local structure), and e15 is the
CDC-to-warehouse history build.
"""

from __future__ import annotations

from ..checkpoint import durable_checkpoint
from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ._registry import _ctx, _register  # noqa: F401

# ---------------------------------------------------------------------------
# a27: mergeable fixed-bin histogram quantile sketch
# ---------------------------------------------------------------------------


@_register(
    "a27_histogram_quantile",
    """
    WITH b AS (
      SELECT l_returnflag AS flag,
             CAST(floor(l_extendedprice / 100.0) AS BIGINT) AS bin,
             count(*) AS c
      FROM lineitem GROUP BY 1, 2),
    tot AS (SELECT flag, sum(c) AS n FROM b GROUP BY flag),
    cum AS (
      SELECT b.flag, b.bin, t.n,
             sum(b.c) OVER (PARTITION BY b.flag ORDER BY b.bin) AS cum
      FROM b JOIN tot t USING (flag))
    SELECT flag,
           CAST(max(n) AS BIGINT) AS n,
           CAST(min(CASE WHEN cum >= (n + 1) // 2 THEN bin END) * 100
                AS BIGINT) AS p50_bin_lo,
           CAST(min(CASE WHEN cum >= (95 * n + 99) // 100 THEN bin END) * 100
                AS BIGINT) AS p95_bin_lo
    FROM cum GROUP BY flag
    """,
    survey="extension agg: mergeable fixed-bin histogram quantile "
    "sketch — the production quantile shape at fact scale: per-bin "
    "counts combine map-side and MERGE BY ADDITION across partitions, "
    "days, or streaming batches (the property exact median lacks — "
    "compare a17's two-pass exact and a25's percentile_approx bound; "
    "a26 is the same mergeability story for distinct counts). "
    "Thresholds are all-integer (ceil via (q·n + d-1) // d) and the "
    "estimate is the bin lower edge — no float anywhere, "
    "bit-deterministic on any engine or partition layout. Plan: one "
    "map-side-combined groupBy to ~price_range/100 bins per flag, a "
    "window over the tiny binned relation; at 100 TB the heavy "
    "exchange carries only (flag, bin, count) partials.",
)
def a27_histogram_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p50/p95 estimates per returnflag from a width-100 histogram of
    l_extendedprice; estimates are exact bin lower edges."""
    (li,) = _ctx(spark, sf_dir, "lineitem")
    binned = (
        li.select(
            F.col("l_returnflag").alias("flag"),
            F.floor(F.col("l_extendedprice") / F.lit(100.0))
            .cast("long")
            .alias("bin"),
        )
        .groupBy("flag", "bin")
        .agg(F.count("*").alias("c"))
    )
    tot = binned.groupBy("flag").agg(F.sum("c").alias("n"))
    cum = binned.join(tot, "flag").withColumn(
        "cum",
        F.sum("c").over(Window.partitionBy("flag").orderBy("bin")),
    )
    thr50 = F.expr("(n + 1) div 2")
    thr95 = F.expr("(95 * n + 99) div 100")
    return cum.groupBy("flag").agg(
        F.max("n").cast("long").alias("n"),
        (F.min(F.when(F.col("cum") >= thr50, F.col("bin"))) * 100)
        .cast("long")
        .alias("p50_bin_lo"),
        (F.min(F.when(F.col("cum") >= thr95, F.col("bin"))) * 100)
        .cast("long")
        .alias("p95_bin_lo"),
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
# g03: triangle counting + global clustering coefficient
# ---------------------------------------------------------------------------


@_register(
    "g03_triangle_count",
    """
    WITH e AS (
      SELECT DISTINCT least(o.o_custkey, l.l_suppkey) AS a,
             greatest(o.o_custkey, l.l_suppkey) AS b
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE l.l_quantity >= 48 AND o.o_custkey <> l.l_suppkey),
    tri AS (
      SELECT count(*) AS n_triangles
      FROM e e1 JOIN e e2 ON e2.a = e1.b
                JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
    deg AS (
      SELECT v, count(*) AS d FROM (
        SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e)
      GROUP BY v),
    w AS (SELECT sum(d * (d - 1) // 2) AS n_wedges FROM deg),
    m AS (SELECT count(*) AS n_edges FROM e)
    SELECT CAST(m.n_edges AS BIGINT) AS n_edges,
           CAST(w.n_wedges AS BIGINT) AS n_wedges,
           CAST(tri.n_triangles AS BIGINT) AS n_triangles,
           CAST(CASE WHEN w.n_wedges > 0
                     THEN 3 * tri.n_triangles * 1000000 // w.n_wedges
                END AS BIGINT) AS clustering_micro
    FROM m, w, tri
    """,
    survey="extension graph: triangle counting + global clustering "
    "coefficient over the high-quantity trade graph (edges thinned to "
    "l_quantity >= 48 co-purchases — completes the graph family: g01 "
    "centrality, g02 components, g03 local structure). The ordered "
    "orientation a < b < c makes each triangle count exactly once and "
    "bounds the wedge join's fan-out by the FORWARD degree — the "
    "standard trick that keeps triangle enumeration near-linear on "
    "power-law graphs (orient low-degree -> high-degree in production; "
    "here id order stands in, same join shape). Clustering coefficient "
    "3T/W is emitted as an exact integer micro-ratio — no float "
    "anywhere. Plan: one distinct-edge shuffle, one wedge join keyed "
    "on the pivot vertex, one edge-probe join (AQE handles residual "
    "skew); at 100 TB the thinning predicate is the density knob and "
    "the wedge join is the cost center, tracked by sum(fwd_deg^2).",
)
def g03_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle count, wedge count, and global clustering
    coefficient (micro-units) on the thinned trade graph."""
    li, orders = _ctx(spark, sf_dir, "lineitem", "orders")
    e = (
        li.filter(F.col("l_quantity") >= 48)
        .join(orders, orders["o_orderkey"] == li["l_orderkey"])
        .filter(F.col("o_custkey") != F.col("l_suppkey"))
        .select(
            F.least("o_custkey", "l_suppkey").alias("a"),
            F.greatest("o_custkey", "l_suppkey").alias("b"),
        )
        .distinct()
        .persist()
    )
    # The edge list feeds FIVE subplans (wedge join twice, probe join,
    # degree union both sides, edge count); without persist each one
    # rescans lineitem⋈orders and repeats the distinct exchange (plan
    # audit: three hashpartitioning(a,b) exchanges). Persisting makes
    # them all read the deduped partitions. Materialize eagerly so the
    # storage can be released as soon as the one-row result exists,
    # g01's leak-free idiom.
    e.count()
    e1 = e.alias("e1")
    e2 = e.select(F.col("a").alias("b2a"), F.col("b").alias("c")).alias("e2")
    e3 = e.select(F.col("a").alias("a3"), F.col("b").alias("c3")).alias("e3")
    tri = (
        e1.join(e2, F.col("e2.b2a") == F.col("e1.b"))
        .join(
            e3,
            (F.col("e3.a3") == F.col("e1.a")) & (F.col("e3.c3") == F.col("e2.c")),
        )
        .agg(F.count("*").alias("n_triangles"))
    )
    deg = (
        e.select(F.col("a").alias("v"))
        .unionAll(e.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("d"))
    )
    wedges = deg.agg(
        F.sum(F.expr("d * (d - 1) div 2")).alias("n_wedges")
    )
    m = e.agg(F.count("*").alias("n_edges"))
    out = (
        m.crossJoin(wedges)
        .crossJoin(tri)
        .select(
            F.col("n_edges").cast("long").alias("n_edges"),
            F.col("n_wedges").cast("long").alias("n_wedges"),
            F.col("n_triangles").cast("long").alias("n_triangles"),
            # guard: an empty/wedge-free graph would make the integer
            # division throw under ANSI instead of yielding NULL
            F.expr(
                "CASE WHEN n_wedges > 0"
                " THEN 3 * n_triangles * 1000000 div n_wedges END"
            )
            .cast("long")
            .alias("clustering_micro"),
        )
    )
    # one-row result: checkpoint it eagerly, then release the edge cache
    out = durable_checkpoint(out)
    e.unpersist()
    return out


# ---------------------------------------------------------------------------
# e15: SCD Type-2 validity intervals from an event stream (CDC shape)
# ---------------------------------------------------------------------------


@_register(
    "e15_scd2_intervals",
    """
    WITH s AS (
      SELECT user_id, event_type, epoch_us(ts) AS us, event_id,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev
      FROM events),
    chg AS (
      SELECT user_id, event_type, us, event_id FROM s
      WHERE prev IS NULL OR prev <> event_type)
    SELECT user_id, event_type,
           us AS valid_from_us,
           lead(us) OVER w AS valid_to_us,
           CAST(row_number() OVER w AS BIGINT) AS version,
           CASE WHEN lead(us) OVER w IS NULL THEN 1 ELSE 0 END AS is_current
    FROM chg
    WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
    """,
    survey="extension events: SCD Type-2 dimension build from a change "
    "stream — collapse consecutive identical states per key (lag "
    "compare), then emit one validity interval per state run "
    "(valid_from/valid_to as half-open epoch-micros, version number, "
    "is_current flag on the open row). This is the CDC-to-warehouse "
    "materialization every lakehouse runs: o07's latest-by-key keeps "
    "only the current row, SCD2 keeps the full history queryable by "
    "as-of joins (e01/e12 consume exactly this shape). Plan: ONE "
    "shuffle keyed by user_id feeds both windows — lag and "
    "lead/row_number share the partitioning AND the textually "
    "identical (us, event_id) sort key, so the physical plan is one "
    "Exchange + ONE Sort (audited) — so history "
    "rebuild is a single exchange of the change stream; at 100 TB run "
    "it incrementally per partition-day with o07's upsert as the "
    "current-row fast path. Tie-break (ts, event_id) makes the run "
    "collapse and interval edges bit-deterministic.",
)
def e15_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 validity intervals per user: one row per state run with
    half-open [valid_from, valid_to) epoch-micros and version."""
    (events,) = _ctx(spark, sf_dir, "events")
    # both windows order by (us, event_id): us is a monotone bijection
    # of ts, and the TEXTUALLY identical sort key lets Catalyst reuse
    # one sort for both window operators (ordering carries through the
    # filter) — sorting the lag window by ts instead leaves a second
    # SortExec in the plan (audited)
    pre = events.select(
        "user_id", "event_type", F.unix_micros(F.col("ts")).alias("us"),
        "event_id",
    )
    w_lag = Window.partitionBy("user_id").orderBy("us", "event_id")
    s = pre.select(
        "user_id",
        "event_type",
        "us",
        "event_id",
        F.lag("event_type").over(w_lag).alias("prev"),
    )
    chg = s.filter(F.col("prev").isNull() | (F.col("prev") != F.col("event_type")))
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    return chg.select(
        "user_id",
        "event_type",
        F.col("us").alias("valid_from_us"),
        F.lead("us").over(w).alias("valid_to_us"),
        F.row_number().over(w).cast("long").alias("version"),
        F.when(F.lead("us").over(w).isNull(), 1).otherwise(0).alias("is_current"),
    )


# ---------------------------------------------------------------------------
# st10: streaming histogram-sketch maintenance (a27 run live on a stream)
# ---------------------------------------------------------------------------


@_register(
    "st10_stream_histogram",
    """
    WITH b AS (
      SELECT event_type,
             CAST(floor(value / 10.0) AS BIGINT) AS bin,
             count(*) AS c
      FROM events GROUP BY 1, 2),
    tot AS (SELECT event_type, sum(c) AS n FROM b GROUP BY event_type),
    cum AS (
      SELECT b.event_type, b.bin, t.n,
             sum(b.c) OVER (PARTITION BY b.event_type ORDER BY b.bin) AS cum
      FROM b JOIN tot t USING (event_type))
    SELECT event_type,
           CAST(max(n) AS BIGINT) AS n,
           CAST(min(CASE WHEN cum >= (n + 1) // 2 THEN bin END) * 10
                AS BIGINT) AS p50_bin_lo,
           CAST(min(CASE WHEN cum >= (95 * n + 99) // 100 THEN bin END) * 10
                AS BIGINT) AS p95_bin_lo
    FROM cum GROUP BY event_type
    """,
    survey="streaming: incremental quantile-sketch maintenance — the "
    "a27 mergeable fixed-bin histogram run LIVE on a stream: the event "
    "feed is replayed as 4 micro-batches through a foreachBatch loop "
    "that merges per-(type, bin) counts into a persisted histogram "
    "snapshot BY ADDITION, then p50/p95 are answered from the stored "
    "counts alone. All-integer state makes the merged histogram "
    "bit-identical to the one-pass batch histogram for ANY micro-batch "
    "split — which is exactly what the batch-SQL oracle checks. At "
    "100 TB this is how percentile dashboards stay current: O(keys × "
    "bins) state, no feed rescans, any quantile on demand (contrast "
    "st04's per-session state and a17's exact two-pass).",
)
def st10_stream_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay events as 4 micro-batches maintaining a per-type
    histogram snapshot; derive p50/p95 from the final stored counts."""
    import os
    import tempfile

    from ..streaming.run import replay_feed
    from ..streaming.snapshot import run_stream_histogram_snapshot

    (events,) = _ctx(spark, sf_dir, "events")
    tmp = tempfile.mkdtemp(prefix="st10_")
    snap = os.path.join(tmp, "hist")
    run_stream_histogram_snapshot(
        replay_feed(events, tmp),
        snap,
        key="event_type",
        value_col="value",
        bin_width=10.0,
    )
    hist = spark.read.parquet(snap)
    tot = hist.groupBy("event_type").agg(F.sum("c").alias("n"))
    cum = hist.join(tot, "event_type").withColumn(
        "cum",
        F.sum("c").over(Window.partitionBy("event_type").orderBy("bin")),
    )
    thr50 = F.expr("(n + 1) div 2")
    thr95 = F.expr("(95 * n + 99) div 100")
    return cum.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n"),
        (F.min(F.when(F.col("cum") >= thr50, F.col("bin"))) * 10)
        .cast("long")
        .alias("p50_bin_lo"),
        (F.min(F.when(F.col("cum") >= thr95, F.col("bin"))) * 10)
        .cast("long")
        .alias("p95_bin_lo"),
    )
