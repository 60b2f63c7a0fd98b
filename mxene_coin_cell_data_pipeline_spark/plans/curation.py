"""Curation queries (``o*``): top-k, hash splits, stratified and weighted
samples, latest-by-key, Z-order layout, table profiles, compaction,
cohorts, winsorizing, gaps and islands, sequence packing, mixture
construction, MERGE upserts and epoch schedules.

Importing this module registers its queries; the driver-facing order is
``_registry.ORDER``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ._registry import _ctx, _register


@_register(
    "o03_topk_orders",
    """
    SELECT o_orderkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
    survey="O3 (top-k: TakeOrdered, no full sort)",
)
def o03_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = _ctx(spark, sf_dir, "orders")
    return (
        orders.select("o_orderkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
    )


@_register(
    "o05_hash_split",
    """
    WITH h AS (
      SELECT o_orderkey, o_totalprice,
             (('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT)
               % 100 AS hb
      FROM orders)
    SELECT CASE WHEN hb < 80 THEN 'train'
                WHEN hb < 90 THEN 'valid'
                ELSE 'test' END AS split,
           count(*) AS n,
           sum(o_totalprice) AS sum_price
    FROM h GROUP BY 1
    """,
    survey="extension: deterministic hash-based train/valid/test split "
    "(md5 bucket per key — reproducible across runs/engines/partitionings, "
    "per-key stable under corpus growth; rand()/TABLESAMPLE give none of "
    "these) + per-split rollup",
)
def o05_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80/10/10 split of orders by hashed orderkey, verified by
    per-split counts and sums — bit-identical in any engine with md5."""
    from ..functions.sampling import hash_split

    (orders,) = _ctx(spark, sf_dir, "orders")
    return (
        hash_split(orders, key="o_orderkey")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("o_totalprice").alias("sum_price"),
        )
    )


@_register(
    "o06_stratified_sample",
    """
    WITH r AS (
      SELECT c_custkey, c_mktsegment, c_acctbal,
             row_number() OVER (
               PARTITION BY c_mktsegment
               ORDER BY md5(CAST(c_custkey AS VARCHAR)), c_custkey) AS rank
      FROM customer)
    SELECT c_custkey, c_mktsegment, c_acctbal, rank
    FROM r WHERE rank <= 50
    """,
    survey="extension: exact-n-per-stratum deterministic sample (md5-ordered "
    "row_number per stratum — engine/run/partitioning-reproducible where "
    "sampleBy is fraction-approximate and seed-bound; rank retained so "
    "nested sub-samples need no resampling)",
)
def o06_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly 50 customers per market segment, chosen by deterministic
    hash order — the balanced-eval-set construction."""
    from ..functions.sampling import stratified_sample

    (cust,) = _ctx(spark, sf_dir, "customer")
    return stratified_sample(cust, stratum="c_mktsegment", key="c_custkey", n_per_stratum=50).select(
        "c_custkey", "c_mktsegment", "c_acctbal", "rank"
    )


@_register(
    "o07_latest_by_key",
    """
    SELECT user_id, event_type, value AS last_value, epoch_us(ts) AS ts_us
    FROM (SELECT user_id, event_type, value, ts,
                 row_number() OVER (PARTITION BY user_id, event_type
                                    ORDER BY ts DESC, event_id DESC) AS rn
          FROM events)
    WHERE rn = 1
    """,
    survey="extension: latest-version-wins compaction (CDC/upsert "
    "materialization — one row_number window per key, newest record "
    "survives; the changelog→snapshot primitive every lakehouse table "
    "maintenance loop runs) with a total tie-break",
)
def o07_latest_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot of the newest event per (user, event_type): one
    key-partitioned window, newest-first rank 1. At scale this is the
    MERGE/compaction inner loop — the window shuffle partitions by the
    upsert key, so output partitioning matches the table's bucketing
    and the write needs no extra exchange."""
    (ev,) = _ctx(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_type",
            F.col("value").alias("last_value"),
            F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        )
    )


@_register(
    "o08_weighted_sample",
    """
    WITH h AS (
      SELECT o_orderpriority, o_orderkey, o_totalprice,
             (('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT
              + 1.0) / 4294967296.0 AS u
      FROM orders
      WHERE o_totalprice IS NOT NULL AND o_totalprice > 0),
    s AS (
      SELECT o_orderpriority, o_orderkey, o_totalprice,
             -ln(u) / o_totalprice AS skey,
             row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY -ln(u) / o_totalprice ASC,
                                         o_orderkey ASC) AS rank
      FROM h)
    SELECT o_orderpriority, rank, o_orderkey, o_totalprice, skey
    FROM s WHERE rank <= 10
    """,
    survey="extension: deterministic weighted sampling without replacement "
    "(Efraimidis–Spirakis exponential keys, u drawn from md5 of the row "
    "key instead of rand()) — inclusion probability tracks the weight, yet "
    "the sample reproduces across runs/engines/partitionings; one window "
    "per stratum, no collect",
)
def o08_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 weighted sample per order priority, weight=o_totalprice.
    See functions.sampling.weighted_sample_per_group."""
    from ..functions.sampling import weighted_sample_per_group

    (orders,) = _ctx(spark, sf_dir, "orders")
    return weighted_sample_per_group(
        orders, key="o_orderkey", weight="o_totalprice", group="o_orderpriority", n=10
    ).select("o_orderpriority", "rank", "o_orderkey", "o_totalprice", "skey")


_ZO_TMIN = 1704067200000000  # epoch_us('2024-01-01')
_ZO_TSPAN = 2678400000000  # 31 days in microseconds
_ZO_QX = (
    "greatest(least(CAST(floor(value / 500.0 * 65536.0) AS BIGINT), 65535), 0)"
)
_ZO_QY = (
    "greatest(least(CAST(floor((epoch_us(ts) - {t0}) / {span}.0 * 65536.0)"
    " AS BIGINT), 65535), 0)".format(t0=_ZO_TMIN, span=_ZO_TSPAN)
)
_ZO_Z = " + ".join(
    "(((qx >> {b}) & 1) << {ox}) + (((qy >> {b}) & 1) << {oy})".format(
        b=b, ox=2 * b + 1, oy=2 * b
    )
    for b in range(16)
)


@_register(
    "o09_zorder_layout",
    """
    WITH q AS (
      SELECT event_id, value, epoch_us(ts) AS ts_us,
             {qx} AS qx, {qy} AS qy
      FROM events),
    z AS (
      SELECT event_id, value, ts_us, ({z}) AS zkey FROM q)
    SELECT zkey >> 22 AS bucket, count(*) AS n,
           min(value) AS min_v, max(value) AS max_v,
           min(ts_us) AS min_t, max(ts_us) AS max_t
    FROM z GROUP BY 1
    """.format(qx=_ZO_QX, qy=_ZO_QY, z=_ZO_Z),
    survey="physical-layout extension: Z-order (Morton) clustering key — "
    "bit-interleave of two quantized dimensions (value × event time) so "
    "range-partitioning by ONE key clusters BOTH columns; the per-bucket "
    "min/max output is exactly the file-statistics footprint a scan would "
    "prune against (the multi-dimensional data-skipping layout of "
    "lakehouse OPTIMIZE ZORDER); pure integer bit arithmetic in codegen",
)
def o09_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1024 Z-buckets (top 10 bits of the 32-bit Morton key) with the
    min/max envelope of each dimension per bucket — small envelopes in
    both dims at once are the whole point vs a single-column sort."""
    from ..sources.layout import zorder_key_2d

    (events,) = _ctx(spark, sf_dir, "events")
    z = zorder_key_2d(
        F.col("value"),
        F.unix_micros(F.col("ts")).cast("double"),
        0.0,
        500.0,
        float(_ZO_TMIN),
        float(_ZO_TMIN + _ZO_TSPAN),
        bits=16,
    )
    return (
        events.select(
            F.unix_micros(F.col("ts")).alias("ts_us"),
            "value",
            z.alias("zkey"),
        )
        .groupBy(F.shiftright("zkey", 22).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("value").alias("min_v"),
            F.max("value").alias("max_v"),
            F.min("ts_us").alias("min_t"),
            F.max("ts_us").alias("max_t"),
        )
    )


@_register(
    "o10_table_profile",
    """
    WITH s AS (SELECT * FROM orders)
    SELECT 'o_orderkey' AS col, count(*) AS n,
           count(*) - count(o_orderkey) AS n_null,
           count(DISTINCT o_orderkey) AS n_distinct,
           min(o_orderkey)::DOUBLE AS min_v, max(o_orderkey)::DOUBLE AS max_v
    FROM s
    UNION ALL
    SELECT 'o_custkey', count(*), count(*) - count(o_custkey),
           count(DISTINCT o_custkey),
           min(o_custkey)::DOUBLE, max(o_custkey)::DOUBLE FROM s
    UNION ALL
    SELECT 'o_totalprice', count(*), count(*) - count(o_totalprice),
           count(DISTINCT o_totalprice),
           min(o_totalprice), max(o_totalprice) FROM s
    """,
    survey="extension: one-pass table profiling (per-column null count, "
    "distinct count, min/max envelope — the stats layer every lakehouse "
    "maintenance/data-quality loop runs) — all columns profiled in a "
    "SINGLE aggregate over one scan, then unpivoted to the long "
    "(column, stats) shape; never one scan per column",
)
def o10_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profile three orders columns in one scan: the wide single-row
    aggregate computes every per-column stat at once (mergeable,
    map-side partial), and the long output shape comes from stacking
    the struct per column — the inverse-of-pivot trick (w07) applied
    to profiling."""
    (orders,) = _ctx(spark, sf_dir, "orders")
    cols = ["o_orderkey", "o_custkey", "o_totalprice"]
    aggs = []
    for c in cols:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__n"),
            (F.count(F.lit(1)) - F.count(c)).alias(f"{c}__n_null"),
            F.count_distinct(F.col(c)).alias(f"{c}__n_distinct"),
            F.min(c).cast("double").alias(f"{c}__min"),
            F.max(c).cast("double").alias(f"{c}__max"),
        ]
    wide = orders.agg(*aggs)
    stacked = wide.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("col"),
                        F.col(f"{c}__n").alias("n"),
                        F.col(f"{c}__n_null").alias("n_null"),
                        F.col(f"{c}__n_distinct").alias("n_distinct"),
                        F.col(f"{c}__min").alias("min_v"),
                        F.col(f"{c}__max").alias("max_v"),
                    )
                    for c in cols
                ]
            )
        ).alias("p")
    )
    return stacked.select("p.*")


@_register(
    "o11_compaction_bins",
    """
    WITH f AS (
      SELECT source, doc_id, n_chars,
             coalesce(sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior
      FROM documents),
    b AS (
      SELECT source, doc_id, n_chars,
             CAST(floor(prior / 4000.0) AS BIGINT) AS bin_id
      FROM f)
    SELECT source, bin_id, count(*) AS n_files,
           CAST(sum(n_chars) AS BIGINT) AS bytes,
           min(doc_id) AS first_doc, max(doc_id) AS last_doc
    FROM b GROUP BY source, bin_id
    """,
    survey="extension: small-file compaction planning (the OPTIMIZE/"
    "bin-packing pass of lakehouse table maintenance) — files assigned to "
    "~target-size compaction groups by exclusive running size within each "
    "partition (floor(cumsum/target): deterministic, one window, no "
    "driver-side loop; true first-fit is sequential and gains little), "
    "emitting per-bin manifests a rewrite job would execute",
)
def o11_compaction_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plan ~4000-char compaction bins per source over the documents
    'file listing'. One shuffle on source; the manifest (first/last
    doc, file count, total bytes) is exactly what the rewrite tasks
    consume."""
    (docs,) = _ctx(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prior = F.coalesce(F.sum("n_chars").over(w), F.lit(0))
    return (
        docs.select(
            "source",
            "doc_id",
            "n_chars",
            F.floor(prior / F.lit(4000.0)).alias("bin_id"),
        )
        .groupBy("source", "bin_id")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("n_chars").alias("bytes"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


@_register(
    "o12_cohort_retention",
    """
    WITH firsts AS (
      SELECT user_id, date_trunc('day', min(ts)) AS cohort_day
      FROM events GROUP BY user_id),
    activity AS (
      SELECT DISTINCT e.user_id, date_trunc('day', e.ts) AS activity_day
      FROM events e)
    SELECT epoch_us(f.cohort_day) AS cohort_us,
           date_diff('day', f.cohort_day, a.activity_day) AS day_offset,
           count(*) AS n_active
    FROM activity a JOIN firsts f ON f.user_id = a.user_id
    GROUP BY 1, 2
    """,
    survey="extension: cohort retention matrix (users bucketed by first-"
    "seen day × activity-day offset — the standard product-analytics "
    "retention triangle) — one distinct per (user, day), cohort label "
    "broadcast back onto activity, one (cohort, offset) aggregate",
)
def o12_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention triangle: active-user counts per cohort × day offset."""
    (ev,) = _ctx(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("cohort_day")
    )
    activity = ev.select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("activity_day")
    ).distinct()
    return (
        activity.join(F.broadcast(firsts), "user_id")
        .groupBy(
            F.unix_micros(F.col("cohort_day")).alias("cohort_us"),
            F.datediff(F.col("activity_day"), F.col("cohort_day")).alias(
                "day_offset"
            ),
        )
        .agg(F.count(F.lit(1)).alias("n_active"))
    )


@_register(
    "o13_winsorize",
    """
    WITH q AS (
      SELECT event_type,
             quantile_cont(value, 0.05) AS p05,
             quantile_cont(value, 0.95) AS p95
      FROM events GROUP BY event_type)
    SELECT e.event_type,
           count(*) AS n,
           CAST(sum(CASE WHEN e.value < q.p05 OR e.value > q.p95
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped,
           avg(CASE WHEN e.value < q.p05 THEN q.p05
                    WHEN e.value > q.p95 THEN q.p95
                    ELSE e.value END) AS mean_winsorized,
           avg(e.value) AS mean_raw
    FROM events e JOIN q ON q.event_type = e.event_type
    GROUP BY e.event_type
    """,
    survey="extension: winsorization (clip at per-key exact p05/p95 and "
    "compare trimmed vs raw means — the outlier-robust normalization pass "
    "of feature pipelines) — quantiles computed once per key, broadcast "
    "back onto the fact, clip + re-aggregate in one pass",
)
def o13_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type winsorized means with clip counts."""
    (ev,) = _ctx(spark, sf_dir, "events")
    q = ev.groupBy("event_type").agg(
        F.percentile("value", 0.05).alias("p05"),
        F.percentile("value", 0.95).alias("p95"),
    )
    j = ev.join(F.broadcast(q), "event_type")
    clipped = (
        F.when(F.col("value") < F.col("p05"), F.col("p05"))
        .when(F.col("value") > F.col("p95"), F.col("p95"))
        .otherwise(F.col("value"))
    )
    return j.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when(
                (F.col("value") < F.col("p05")) | (F.col("value") > F.col("p95")), 1
            ).otherwise(0)
        ).alias("n_clipped"),
        F.avg(clipped).alias("mean_winsorized"),
        F.avg("value").alias("mean_raw"),
    )


@_register(
    "o14_gaps_islands",
    """
    WITH ids AS (
      SELECT event_id,
             event_id - row_number() OVER (ORDER BY event_id) AS grp
      FROM events WHERE event_id % 97 <> 0),
    islands AS (
      SELECT min(event_id) AS island_start, max(event_id) AS island_end,
             count(*) AS island_len
      FROM ids GROUP BY grp)
    SELECT island_start, island_end, island_len FROM islands
    """,
    survey="extension: gaps-and-islands (maximal consecutive-id runs via "
    "the id − row_number() constant-per-run trick — one sort, one "
    "aggregate; the completeness/missing-range audit for sequenced "
    "ingest). The global row_number is the documented single-sort cost; "
    "at 100 TB the id space is range-bucketed first and the trick runs "
    "per bucket with boundary stitching",
)
def o14_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Islands of consecutive event_ids after deleting every 97th —
    finds the deletions as island boundaries."""
    (ev,) = _ctx(spark, sf_dir, "events")
    ids = ev.filter(F.col("event_id") % 97 != 0).select("event_id")
    w = Window.orderBy("event_id")
    grp = (F.col("event_id") - F.row_number().over(w)).alias("grp")
    return (
        ids.select("event_id", grp)
        .groupBy("grp")
        .agg(
            F.min("event_id").alias("island_start"),
            F.max("event_id").alias("island_end"),
            F.count(F.lit(1)).alias("island_len"),
        )
        .drop("grp")
    )


@_register(
    "o15_sequence_pack",
    """
    WITH t AS (
      SELECT doc_id, source,
             len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_tok
      FROM documents),
    c AS (
      SELECT doc_id, source, n_tok,
             sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id) AS cum
      FROM t)
    SELECT doc_id, source, n_tok,
           CAST(floor((cum - n_tok) / 512.0) AS BIGINT) AS pack_id,
           CAST((cum - n_tok) % 512 AS BIGINT) AS pack_offset,
           floor((cum - 1) / 512.0) > floor((cum - n_tok) / 512.0)
             AS crosses_boundary
    FROM c
    """,
    survey="north-star curation: concat-and-chunk sequence packing — "
    "assign every document a (pack_id, offset) inside fixed 512-token "
    "context windows via a per-source cumulative token sum (the GPT-style "
    "pack-then-split layout; crosses_boundary marks docs a trainer would "
    "split across windows). Plan: one window cumsum PER SOURCE SHARD, not "
    "a global sort — at 100 TB each shard packs independently in "
    "parallel (pack ids are per-shard, exactly like per-file packing in "
    "a real tokenizer pipeline), so the only exchange is the hash "
    "partition by source; no global coordination point exists.",
    note="Deterministic: doc_id is the intra-shard order. n_tok >= 1 "
    "for every generated doc, so cum-1 >= cum-n_tok and the boundary "
    "flag is well-defined.",
)
def o15_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack documents into 512-token context windows per source shard:
    cumulative token count -> pack_id/offset, flagging boundary
    crossers. Per-shard windows keep packing embarrassingly parallel."""
    (docs,) = _ctx(spark, sf_dir, "documents")
    n_tok = F.size(F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z0-9]+"), 0))
    w = Window.partitionBy("source").orderBy("doc_id")
    c = docs.select("doc_id", "source", n_tok.alias("n_tok")).withColumn(
        "cum", F.sum("n_tok").over(w)
    )
    start = F.col("cum") - F.col("n_tok")
    pack = F.floor(start / F.lit(512.0))
    return c.select(
        "doc_id",
        "source",
        "n_tok",
        pack.cast("long").alias("pack_id"),
        (start % F.lit(512)).alias("pack_offset"),
        (F.floor((F.col("cum") - F.lit(1)) / F.lit(512.0)) > pack).alias(
            "crosses_boundary"
        ),
    )


@_register(
    "o16_domain_mixture",
    """
    WITH cnt AS (SELECT lang, count(*) AS n_before FROM documents GROUP BY lang),
    tgt AS (SELECT min(n_before) AS m FROM cnt),
    r AS (SELECT lang, n_before, m * 1.0 / n_before AS rate FROM cnt, tgt),
    u AS (
      SELECT d.doc_id, d.lang,
             (('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT)
               / 4294967296.0 AS uni
      FROM documents d),
    kept AS (
      SELECT u.doc_id, u.lang
      FROM u JOIN r ON r.lang = u.lang
      WHERE u.uni < r.rate)
    SELECT r.lang, r.n_before, r.rate,
           count(kept.doc_id) AS n_kept,
           CAST(coalesce(sum(kept.doc_id), 0) AS BIGINT) AS sum_kept_ids
    FROM r LEFT JOIN kept ON kept.lang = r.lang
    GROUP BY r.lang, r.n_before, r.rate
    """,
    survey="north-star curation: domain-mixture resampling — rebalance "
    "the per-language corpus shares to a target mixture (here: downsample "
    "every language to the rarest language's count) with DETERMINISTIC "
    "per-doc hash thresholds, so the kept set is reproducible across "
    "runs, engines, and partitionings (sum_kept_ids pins set identity, "
    "not just counts). Plan: tiny per-domain count aggregate -> rate "
    "table broadcast back over one corpus scan (map-side filter, no "
    "corpus shuffle) -> per-domain rollup. At 100 TB the rate table is "
    "O(#domains) and the resample is a single scan-filter.",
    note="uni = first-8-hex-of-md5 / 2^32 in [0,1) — identical doubles "
    "on both engines; rate = exact integer-ratio double. The expected "
    "kept count is rate*n (binomial, not exact-n); o06 is the exact-n "
    "variant when hard guarantees are needed.",
)
def o16_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Downsample every language to the min-language count via
    deterministic md5 thresholds; emit per-lang before/after and an
    identity-pinning checksum of kept doc_ids."""
    (docs,) = _ctx(spark, sf_dir, "documents")
    cnt = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_before"))
    tgt = cnt.agg(F.min("n_before").alias("m"))
    rates = cnt.crossJoin(F.broadcast(tgt)).select(
        "lang", "n_before", (F.col("m") * F.lit(1.0) / F.col("n_before")).alias("rate")
    )
    uni = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("double")
        / F.lit(4294967296.0)
    )
    kept = (
        docs.select("doc_id", "lang", uni.alias("uni"))
        .join(F.broadcast(rates.select("lang", "rate")), "lang")
        .filter(F.col("uni") < F.col("rate"))
    )
    per_kept = kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("doc_id").alias("sum_kept_ids"),
    )
    return (
        rates.join(per_kept, "lang", "left")
        .select(
            "lang",
            "n_before",
            "rate",
            F.coalesce(F.col("n_kept"), F.lit(0)).alias("n_kept"),
            F.coalesce(F.col("sum_kept_ids"), F.lit(0)).alias("sum_kept_ids"),
        )
    )


# ---------------------------------------------------------------------------
# o17: MERGE upsert/delete (the lakehouse MERGE INTO shape)
# ---------------------------------------------------------------------------
@_register(
    "o17_merge_upsert",
    """
    WITH base AS (
      SELECT user_id, value AS b_value, epoch_us(ts) AS b_ts_us
      FROM (SELECT user_id, value, ts,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts DESC, event_id DESC) AS rn
            FROM events WHERE ts < TIMESTAMP '2024-06-01')
      WHERE rn = 1),
    chg AS (
      SELECT user_id, value AS c_value, epoch_us(ts) AS c_ts_us,
             CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op
      FROM (SELECT user_id, value, ts, event_type,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts DESC, event_id DESC) AS rn
            FROM events WHERE ts >= TIMESTAMP '2024-06-01')
      WHERE rn = 1)
    SELECT coalesce(b.user_id, c.user_id) AS user_id,
           CASE WHEN c.user_id IS NULL THEN b.b_value ELSE c.c_value END
             AS value,
           CASE WHEN c.user_id IS NULL THEN b.b_ts_us ELSE c.c_ts_us END
             AS ts_us,
           CASE WHEN c.user_id IS NULL THEN 'base'
                WHEN b.user_id IS NULL THEN 'insert'
                ELSE 'update' END AS src
    FROM base b FULL OUTER JOIN chg c ON b.user_id = c.user_id
    WHERE c.op IS NULL OR c.op <> 'D'
    """,
    survey="O-family completion: MERGE upsert/delete — the lakehouse "
    "MERGE INTO shape (Delta/Iceberg's daily pattern): a per-key base "
    "snapshot (last pre-cutoff state, deterministic ties by "
    "(ts,event_id)) full-outer-merged with a change feed reduced to "
    "last-writer-wins ops (last post-cutoff event per key; "
    "event_type='error' plays the DELETE). Matched+op=U rewrites, "
    "matched+op=D drops, unmatched change inserts, untouched base "
    "survives — the full WHEN MATCHED/NOT MATCHED matrix in one "
    "declarative plan. Both sides reduce per-key BEFORE the join "
    "(max-by struct per key — map-side combining; the join carries one "
    "row per key per side, never raw events), and the merge key "
    "partitioning is exactly what a bucketed 100 TB base table "
    "pre-provides, so at scale the join is co-located and only the "
    "(small) change feed shuffles; AQE's skew split covers hot keys.",
)
def o17_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Base snapshot + change feed -> merged state (upsert/delete,
    last-writer-wins)."""
    (ev,) = _ctx(spark, sf_dir, "events")
    cutoff = F.lit("2024-06-01").cast("timestamp")
    pick = F.max(
        F.struct("ts", "event_id", "value", "event_type")
    ).alias("_last")
    base = (
        ev.filter(F.col("ts") < cutoff)
        .groupBy("user_id")
        .agg(pick)
        .select(
            "user_id",
            F.col("_last.value").alias("b_value"),
            F.unix_micros("_last.ts").alias("b_ts_us"),
            # explicit presence marker: NULL-valued base columns must
            # not read as "no base row" after the outer join
            F.lit(1).alias("b_present"),
        )
    )
    chg = (
        ev.filter(F.col("ts") >= cutoff)
        .groupBy("user_id")
        .agg(pick)
        .select(
            "user_id",
            F.col("_last.value").alias("c_value"),
            F.unix_micros("_last.ts").alias("c_ts_us"),
            F.when(F.col("_last.event_type") == "error", "D")
            .otherwise("U")
            .alias("op"),
        )
    )
    b, c = base.alias("b"), chg.alias("c")
    merged = b.join(c, "user_id", "full_outer")
    return merged.filter(
        F.col("op").isNull() | (F.col("op") != "D")
    ).select(
        "user_id",
        F.when(F.col("op").isNull(), F.col("b_value"))
        .otherwise(F.col("c_value"))
        .alias("value"),
        F.when(F.col("op").isNull(), F.col("b_ts_us"))
        .otherwise(F.col("c_ts_us"))
        .alias("ts_us"),
        F.when(F.col("op").isNull(), "base")
        .when(F.col("b_present").isNull(), "insert")
        .otherwise("update")
        .alias("src"),
    )


# ---------------------------------------------------------------------------
# o18: quota-exact temperature-scaled source mixing
# ---------------------------------------------------------------------------

#: skewed source carve (shares 8/4/2/1/1 of 16) so sqrt-temperature
#: rebalancing is non-trivial: the big source is down-weighted
#: relative to its share, the tail sources up-weighted
_O18_SRC_SQL = """CASE WHEN doc_id % 16 < 8 THEN 0
             WHEN doc_id % 16 < 12 THEN 1
             WHEN doc_id % 16 < 14 THEN 2
             WHEN doc_id % 16 < 15 THEN 3
             ELSE 4 END"""


@_register(
    "o18_source_mix_quota",
    f"""
    WITH rows_ AS (SELECT doc_id AS k, {_O18_SRC_SQL} AS source
                   FROM documents),
    counts AS (SELECT source, count(*) AS n_source FROM rows_
               GROUP BY source),
    w AS (SELECT source, CAST(n_source AS BIGINT) AS n_source,
                 CAST(floor(sqrt(CAST(n_source AS DOUBLE))) AS BIGINT) AS w
          FROM counts),
    tot AS (SELECT CAST(sum(n_source) AS BIGINT) AS N,
                   CAST(sum(w) AS BIGINT) AS S FROM w),
    q0 AS (SELECT w.source, w.n_source, w.w, (t.N // 5) AS B,
                  ((t.N // 5) * w.w) // t.S AS base,
                  ((t.N // 5) * w.w) % t.S AS rem
           FROM w CROSS JOIN tot t),
    q AS (SELECT source, n_source, w,
                 base + CASE WHEN row_number()
                                  OVER (ORDER BY rem DESC, source)
                             <= B - CAST(sum(base) OVER () AS BIGINT)
                        THEN 1 ELSE 0 END AS quota
          FROM q0),
    rk AS (SELECT r.source, r.k,
                  row_number() OVER (PARTITION BY r.source
                    ORDER BY md5(CAST(r.k AS VARCHAR)), r.k) AS rank
           FROM rows_ r),
    sel AS (SELECT rk.source, rk.rank, rk.k
            FROM rk JOIN q USING (source) WHERE rk.rank <= q.quota)
    SELECT q.source, q.n_source, q.w, q.quota,
           CAST(count(*) AS BIGINT) AS n_selected,
           CAST(sum(sel.rank
                * ('0x' || substr(md5(CAST(sel.k AS VARCHAR)), 1, 8))::BIGINT)
                AS BIGINT) AS sel_sig
    FROM sel JOIN q USING (source)
    GROUP BY q.source, q.n_source, q.w, q.quota
    """,
    survey="north-star sampling completion: quota-EXACT temperature-"
    "scaled source mixing — the training-mix epoch plan (sample N/5 "
    "rows at temperature 1/2 across skewed sources). Integer-only "
    "allocation (w=floor(sqrt(n)), base=(B·w) DIV S, largest-remainder "
    "completion) so Σ quota == B is an identity on both engines — no "
    "float-boundary risk anywhere in the quota math; selection is the "
    "o06 md5-ranked deterministic machinery with per-source quotas "
    "broadcast onto the row relation. Output is a bounded per-source "
    "audit (n_source, w, quota, n_selected, position-weighted "
    "selection signature). Completes o06 (fixed n per stratum) and "
    "o08 (per-row weights): a source-LEVEL policy hitting an exact "
    "global budget.",
)
def o18_source_mix_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-1/2 mixture over the 5 skewed sources with exact
    integer quotas summing to N DIV 5 (see
    functions.sampling.source_mix_quota)."""
    from ..functions.sampling import source_mix_quota

    (docs,) = _ctx(spark, sf_dir, "documents")
    m = F.col("doc_id") % 16
    src = (
        F.when(m < 8, 0)
        .when(m < 12, 1)
        .when(m < 14, 2)
        .when(m < 15, 3)
        .otherwise(4)
    )
    return source_mix_quota(
        docs, src, key="doc_id", budget_den=5, weighting="sqrt"
    )


# ---------------------------------------------------------------------------
# o19: deterministic fractional epoch upsampling
# ---------------------------------------------------------------------------
_O19_CAP = 4


@_register(
    "o19_epoch_upsample",
    f"""
    WITH cnt AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_g
                 FROM documents GROUP BY lang),
    mx AS (SELECT max(n_g) AS m FROM cnt),
    fac AS (SELECT lang, n_g,
                   CASE WHEN m >= {_O19_CAP} * n_g
                        THEN CAST({_O19_CAP} AS BIGINT)
                        ELSE m // n_g END AS whole,
                   CASE WHEN m >= {_O19_CAP} * n_g THEN CAST(0 AS BIGINT)
                        ELSE ((m % n_g) * 4294967296) // n_g END AS thresh
            FROM cnt, mx),
    u AS (SELECT d.doc_id, d.lang,
                 ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
                   AS u32
          FROM documents d),
    r AS (SELECT u.doc_id, u.lang,
                 f.whole + CASE WHEN u.u32 < f.thresh THEN 1 ELSE 0 END AS reps
          FROM u JOIN fac f USING (lang)),
    em AS (SELECT r.doc_id, r.lang, g.copy_idx
           FROM r, LATERAL (SELECT unnest(generate_series(1, r.reps))
                            AS copy_idx) g)
    SELECT f.lang, f.n_g AS n_before,
           f.whole AS whole_epochs, f.thresh AS extra_thresh,
           CAST(count(*) AS BIGINT) AS n_emitted,
           CAST(sum(em.doc_id) AS BIGINT) AS sum_ids,
           CAST(sum(em.doc_id * em.copy_idx) AS BIGINT) AS emit_sig
    FROM fac f JOIN em ON em.lang = f.lang
    GROUP BY f.lang, f.n_g, f.whole, f.thresh
    """,
    survey="north-star mixture completion: fractional EPOCH upsampling "
    "— o16 downsamples toward the rarest group; this is the other "
    "half of mixture construction (repeat small high-quality sources "
    "~f epochs, f non-integer, the way LLM pretrain mixtures run "
    "books at 2.x epochs while crawl runs <1): every group (lang "
    "here — the generator's sources are uniform, languages are "
    "skewed) repeats toward the LARGEST group's count with factor "
    "f = min(4, M/n) "
    "realized per row as whole = M div n epochs for everyone plus one "
    "extra copy iff the row's md5-uniform u32 < ((M mod n)·2³²) div n "
    "— ALL int64 arithmetic, no float rate anywhere, so the realized "
    "multiset (not just its size) is stable across runs, engines, and "
    "partition layouts. The audit row pins that multiset: emit_sig = "
    "Σ doc_id·copy_idx changes if any copy of any document appears or "
    "vanishes. Plan: O(#sources) count aggregate broadcast back over "
    "one corpus scan → explode(sequence(1, reps)) — linear in OUTPUT "
    "rows, the inherent cost of upsampling — → per-source rollup.",
    note="reps ≥ 1 always (M ≥ n ⇒ whole ≥ 1): upsampling never drops "
    "a row, so the audit join is inner. The binomial-in-count trade "
    "vs exact-n is o16's documented one; o06/o18 are the exact-quota "
    "paths when hard counts are required.",
)
def o19_epoch_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language epoch-upsampling audit (see
    functions.sampling.epoch_upsample). Grouped by lang, not source:
    the generator's sources are uniform-25 (every factor would be
    exactly 1 — the fractional path dead), while languages are skewed
    (en dominates), so whole-epoch, fractional-threshold and
    realized-extra-copy paths all exercise on the driver data."""
    from ..functions.sampling import epoch_upsample

    (docs,) = _ctx(spark, sf_dir, "documents")
    return epoch_upsample(docs, key="doc_id", group="lang", cap=_O19_CAP)


# ---------------------------------------------------------------------------
# o20: deterministic epoch shard shuffle
# ---------------------------------------------------------------------------

_O20_SHARDS = 8
_O20_EPOCHS = (1, 2)


@_register(
    "o20_epoch_shard_shuffle",
    f"""
    WITH x AS (
      SELECT e.epoch, d.doc_id,
             ('0x' || substr(md5(CAST(e.epoch AS VARCHAR) || ':'
                || CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT AS u32
      FROM documents d,
           (SELECT unnest([{", ".join(str(x) for x in _O20_EPOCHS)}])
            AS epoch) e),
    s AS (SELECT epoch, doc_id, u32,
                 CAST(u32 % {_O20_SHARDS} AS INTEGER) AS shard FROM x),
    r AS (SELECT epoch, shard, doc_id, u32,
                 row_number() OVER (PARTITION BY epoch, shard
                                    ORDER BY u32, doc_id) AS rnk
          FROM s)
    SELECT epoch, shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(doc_id * rnk) AS BIGINT) AS order_sig,
           CAST(min(CASE WHEN rnk = 1 THEN doc_id END) AS BIGINT) AS head_id
    FROM r GROUP BY epoch, shard
    """,
    survey="north-star training-prep completion: deterministic EPOCH "
    "shard shuffle — the dataloader pass every LLM training pipeline "
    "runs between curation and consumption: each epoch needs a "
    "DIFFERENT pseudo-random permutation of the corpus materialized "
    "as ordered shards, reproducible enough to resume a crashed epoch "
    "or re-derive what batch N contained. rand() gives neither; a "
    "per-epoch keyed hash gives both: u32 = md5_u32(epoch||':'||key) "
    "drives BOTH shard (u32 mod 8) and within-shard order (u32, key), "
    "so a new epoch reshuffles membership AND order while the same "
    "epoch is bit-stable across runs, engines, partition layouts. The "
    "audit row per (epoch, shard) pins the full permutation: "
    "order_sig = Σ doc_id·rank changes if ANY row moves position; "
    "head_id pins the shard's first element; both epochs' audits come "
    "from ONE corpus scan (the epoch axis is an explode). Scale: hash "
    "and shard are map-side; the within-shard rank is the one genuine "
    "shuffle — which IS the output (materializing shuffled shards is "
    "a repartition+sort by construction), expressed as one exchange "
    "with n_shards-way independent sorts instead of a global orderBy.",
    note="Epoch-variation is part of the contract: "
    "tests/test_wave13.py pins that epoch 1 and epoch 2 produce "
    "different order_sigs (different permutations) with identical "
    "corpus totals, and a pure-Python differential re-derives every "
    "audit column.",
)
def o20_epoch_shard_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(epoch, shard) permutation audit over two epochs (see
    functions.sampling.epoch_shard_shuffle)."""
    from ..functions.sampling import epoch_shard_shuffle

    (docs,) = _ctx(spark, sf_dir, "documents")
    sh = epoch_shard_shuffle(
        docs, key="doc_id", n_shards=_O20_SHARDS, epochs=_O20_EPOCHS
    )
    return sh.groupBy("epoch", "shard").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.col("doc_id") * F.col("rank")).cast("long").alias("order_sig"),
        F.min(F.when(F.col("rank") == 1, F.col("doc_id")))
        .cast("long")
        .alias("head_id"),
    )
