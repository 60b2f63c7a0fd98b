"""Extensions1 queries (split from the former monolithic plans/queries.py).

Importing this module REGISTERS its queries (oracle SQL inline) into
the shared registry — plans/queries.py imports every family module in
the original definition order, so driver-facing ordering is unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..sources.tables import load_table
from ._registry import QUERIES, _ctx, _dsum6, _fsum6_micro, _register


def _rev_micro(col: F.Column) -> F.Column:
    """Per-row int64 micro-units of a <=6-decimal money expression —
    the addend form behind _fsum6/_fsum6_micro (see _registry)."""
    return F.floor(col * F.lit(1000000.0) + F.lit(0.5)).cast("long")

# =====================================================================
# TPC-H completion shapes: group-vs-global, max-over-agg, nested semi,
# conditional-ratio aggregates, returned-item top-k
# =====================================================================


@_register(
    "j09_group_vs_global",
    """
    SELECT l_partkey, sum(l_extendedprice * (1 - l_discount)) AS part_rev
    FROM lineitem
    GROUP BY l_partkey
    HAVING sum(l_extendedprice * (1 - l_discount)) >
           (SELECT sum(l_extendedprice * (1 - l_discount)) * 0.0005
            FROM lineitem)
    """,
    survey="J-family extension: HAVING against an uncorrelated scalar "
    "subquery (TPC-H Q11 shape) — the global total is a one-row aggregate "
    "cross-joined (broadcast) onto the per-key aggregate, so the fact is "
    "scanned twice but shuffled once per aggregate; the threshold is a "
    "FRACTION of the total, scale-invariant at any SF",
)
def j09_group_vs_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parts whose revenue exceeds 0.05% of global revenue. The scalar
    side is a 1-row DataFrame cross-joined with a broadcast hint —
    Catalyst plans BroadcastNestedLoopJoin over one row (free), never a
    shuffle; the alternative window-over-no-partition would funnel the
    whole per-part aggregate through a single task."""
    (li,) = _ctx(spark, sf_dir, "lineitem")
    rev = F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    per_part = li.groupBy("l_partkey").agg(rev.alias("part_rev"))
    total = li.agg((rev * F.lit(0.0005)).alias("_thresh"))
    return (
        per_part.join(F.broadcast(total))
        .filter(F.col("part_rev") > F.col("_thresh"))
        .select("l_partkey", "part_rev")
    )


@_register(
    "j10_max_over_agg",
    """
    WITH srev AS (
      SELECT l_suppkey,
             sum(CAST(floor(l_extendedprice * (1 - l_discount)
                            * 1000000.0 + 0.5) AS BIGINT)) AS rev_micro
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey)
    SELECT s.s_suppkey, s.s_name,
           CAST(r.rev_micro AS DOUBLE) / 1000000.0 AS total_rev
    FROM supplier s JOIN srev r ON s.s_suppkey = r.l_suppkey
    WHERE r.rev_micro = (SELECT max(rev_micro) FROM srev)
    """,
    survey="J-family extension: select the group(s) attaining the maximum "
    "of an aggregate (TPC-H Q15 shape) — the per-supplier aggregate is "
    "computed once and reused for both the scalar max and the probe "
    "(self-referencing view decorrelated to one agg + broadcast scalar)",
)
def j10_max_over_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top revenue supplier(s) for 1996Q1. srev is computed once; the
    scalar max is a 1-row broadcast cross join back onto it (NOT a
    global Window.orderBy, which would single-task the sort; NOT a
    second scan of lineitem, which would double the fact I/O).

    The attained-max equality compares EXACT int64 micro-unit totals:
    a double-sum equality is order-dependent — at 100x DuckDB's own two
    parallel evaluations of srev disagreed in the last ulp and its
    oracle returned ZERO rows (equality never matched)."""
    li, sup = _ctx(spark, sf_dir, "lineitem", "supplier")
    srev = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(
            _fsum6_micro(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "rev_micro"
            )
        )
    )
    mx = srev.agg(F.max("rev_micro").alias("_mx"))
    return (
        srev.join(F.broadcast(mx))
        .filter(F.col("rev_micro") == F.col("_mx"))
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            (F.col("rev_micro").cast("double") / F.lit(1000000.0)).alias("total_rev"),
        )
    )


@_register(
    "j11_nested_semi",
    """
    SELECT s.s_suppkey, s.s_name
    FROM supplier s
    WHERE s.s_suppkey IN (
      SELECT l.l_suppkey
      FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey
      WHERE p.p_brand = 'Brand#11'
        AND l.l_shipdate >= TIMESTAMP '1997-01-01'
      GROUP BY l.l_suppkey, l.l_partkey
      HAVING sum(l.l_quantity) > 50)
    """,
    survey="J-family extension: nested IN over a grouped-HAVING subquery "
    "(TPC-H Q20 shape) — part filter broadcast into lineitem, aggregate "
    "per (supplier, part), HAVING, then left-semi into supplier; the semi "
    "join deduplicates suppliers without a DISTINCT pass",
)
def j11_nested_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers who moved >50 units of some Brand#11 part since 1997.
    The IN-subquery chain stays a chain of hash joins: broadcast the
    filtered part dim, one shuffle on (l_suppkey, l_partkey) for the
    HAVING aggregate, then a left-semi join (no row duplication, no
    distinct) against the supplier dim."""
    li, part, sup = _ctx(spark, sf_dir, "lineitem", "part", "supplier")
    qualifying = (
        li.filter(F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        .join(
            F.broadcast(part.filter(F.col("p_brand") == "Brand#11")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("_qty"))
        .filter(F.col("_qty") > 50)
        .select("l_suppkey")
    )
    return sup.join(
        qualifying, sup["s_suppkey"] == qualifying["l_suppkey"], "left_semi"
    ).select("s_suppkey", "s_name")


@_register(
    "a18_promo_ratio",
    """
    SELECT 100.0 * sum(CASE WHEN p.p_type = 'PROMO'
                            THEN CAST(floor(l.l_extendedprice * (1 - l.l_discount)
                                            * 1000000.0 + 0.5) AS BIGINT)
                            ELSE 0 END)
                / sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount)
                                 * 1000000.0 + 0.5) AS BIGINT)) AS promo_pct,
           count(*) AS n
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-06-01'
      AND l.l_shipdate < TIMESTAMP '1996-07-01'
    """,
    survey="A-family extension: conditional-ratio aggregate (TPC-H Q14 "
    "shape) — two sums over one scan with a CASE routing rows, divided in "
    "the same agg; no second pass, no join back",
)
def a18_promo_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share of June-1996 revenue from PROMO parts. One broadcast join,
    one scan, both sums map-side-combined in a single aggregate — the
    canonical conditional-aggregation shape (never two filtered scans
    joined back together)."""
    li, part = _ctx(spark, sf_dir, "lineitem", "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-06-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-07-01").cast("timestamp"))
        )
        .join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .agg(
            # exact micro-unit sums; the pct is 100.0 * long / long —
            # identical IEEE ops on identical operands in both engines
            (
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", _rev_micro(rev)).otherwise(F.lit(0)))
                / F.sum(_rev_micro(rev))
            ).alias("promo_pct"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@_register(
    "a19_priority_counts",
    """
    SELECT l.l_returnflag,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
      AND l.l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY l.l_returnflag
    """,
    survey="A-family extension: CASE-routed dual counters per group "
    "(TPC-H Q12 shape) — fact×fact equi-join on the order key with the "
    "date filter pushed below the join, priorities split by CASE inside "
    "one aggregate",
)
def a19_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """High/low-priority line counts per return flag for 1997. The
    ship-date predicate prunes lineitem BEFORE the join (visible as
    PushedFilters on the scan); orders joins on its key — at 100 TB both
    sides shuffle on o_orderkey unless pre-bucketed, so this query is
    the bucketing-layout candidate (sources/layout.py)."""
    li, orders = _ctx(spark, sf_dir, "lineitem", "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@_register(
    "q10_returned_revenue",
    """
    SELECT c.c_custkey, c.c_name, n.n_name,
           sum(l.l_extendedprice * (1 - l.l_discount)) AS revenue
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1996-07-01'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
    survey="J1-shape S4 A1 O3 extension: returned-item revenue top-k "
    "(TPC-H Q10 shape) — fact×fact join + two broadcast dims + "
    "TakeOrderedAndProject(20), never a global sort",
)
def q10_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 customers by returned revenue, 1996H1. The returnflag
    and orderdate filters push to the scans; customer and nation
    broadcast; the single big shuffle is lineitem⋈orders on the order
    key; LIMIT after orderBy plans as TakeOrderedAndProject (top-k
    heap per partition + driver merge of 20-row heads, not a sort)."""
    cust, orders, li, nat = _ctx(
        spark, sf_dir, "customer", "orders", "lineitem", "nation"
    )
    j = (
        li.filter(F.col("l_returnflag") == "R")
        .join(
            orders.filter(
                (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
    )
    return (
        j.groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


# =====================================================================
# Training-data text screens: repetition metrics, PII redaction
# =====================================================================


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


# =====================================================================
# Time-series extensions: EWMA, interval-overlap sweep line
# =====================================================================


@_register(
    "e05_ewma",
    """
    WITH ord AS (
      SELECT user_id, event_id, epoch_us(ts) AS ts_us, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) - 1 AS i,
             count(*) OVER (PARTITION BY user_id) AS n_key,
             max(abs(value)) OVER (PARTITION BY user_id) AS vmax
      FROM events),
    acc AS (
      SELECT user_id, event_id, ts_us, value, i, n_key, vmax,
             CAST(sum(CAST(value * pow(0.8, -i) AS DECIMAL(38,12)))
               OVER (PARTITION BY user_id ORDER BY i
                     ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS s,
             first_value(value) OVER (PARTITION BY user_id ORDER BY i
               ROWS UNBOUNDED PRECEDING) AS x0
      FROM ord)
    SELECT user_id, event_id, ts_us, value,
           CASE WHEN pow(1.25, CAST(n_key - 1 AS DOUBLE))
                     >= 1e26 / greatest(vmax, 1e-300) THEN NULL
                ELSE round(pow(0.8, i) * (0.2 * s + 0.8 * x0), 6)
           END AS ewma
    FROM acc
    """,
    survey="extension: per-key EWMA in event-time order (pandas "
    "ewm(adjust=False) recurrence unrolled to a closed-form prefix-sum "
    "window — one cumulative window per key, no Python, no iteration; "
    "the documented trade is the DECIMAL(38,12) addend range, with a "
    "whole-key NULL guard past n ≈ 246 at a=0.2 → the applyInPandas "
    "recurrence is the unbounded-history fallback)",
)
def e05_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA (alpha=0.2) of event values per user. Both engines compute
    the identical closed form with the identical accumulation order, so
    floats agree to ~1e-15 relative."""
    from ..functions.events import ewma

    (events,) = _ctx(spark, sf_dir, "events")
    return ewma(events, alpha=0.2)


@_register(
    "e06_interval_coverage",
    """
    WITH iv AS (
      SELECT event_type, epoch_us(ts) AS t0,
             epoch_us(ts) + (60 + event_id % 240) * 1000000 AS t1
      FROM events),
    pts AS (
      SELECT event_type, t0 AS t, 1 AS delta FROM iv
      UNION ALL
      SELECT event_type, t1 AS t, -1 AS delta FROM iv),
    sw AS (
      SELECT event_type, t, delta,
             sum(delta) OVER (PARTITION BY event_type ORDER BY t, delta
                              ROWS UNBOUNDED PRECEDING) AS conc,
             lead(t) OVER (PARTITION BY event_type
                           ORDER BY t, delta) AS nxt
      FROM pts)
    SELECT event_type,
           CAST(max(conc) AS BIGINT) AS max_concurrency,
           CAST(sum(CASE WHEN conc > 0 THEN nxt - t ELSE 0 END) AS BIGINT)
             AS covered_us,
           CAST(sum(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_intervals
    FROM sw GROUP BY event_type
    """,
    survey="extension: sweep-line interval overlap (max concurrency + "
    "covered union time per key over [ts, ts+dur) intervals) — boundary "
    "explode + one keyed window; the running sum IS the concurrency; "
    "never the quadratic interval×interval self-join",
)
def e06_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concurrency/occupancy per event_type via the sweep line. Ends
    sort before starts at the same instant (half-open intervals); tie
    groups contribute zero-width segments so the result is
    deterministic under any within-tie order."""
    from ..functions.events import interval_coverage

    (events,) = _ctx(spark, sf_dir, "events")
    return interval_coverage(events)


# =====================================================================
# Deterministic weighted sampling, Z-order clustering layout
# =====================================================================


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
    "st06_stream_upsert_snapshot",
    """
    SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type, value
    FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                    ORDER BY ts DESC, event_id DESC) AS rn
          FROM events)
    WHERE rn = 1
    """,
    survey="streaming: incremental latest-per-key snapshot maintenance "
    "(foreachBatch upsert — each micro-batch MERGEs into a persisted "
    "parquet snapshot via window-dedup + rename-aside dir swap; the streaming "
    "form of o07's CDC compaction, and the foreachBatch surface itself: "
    "batch joins against storage state, no streaming state store). The "
    "feed is split into 4 time-ranged files replayed one per micro-batch, "
    "so the merge loop really runs 4 times; the total version order makes "
    "the final snapshot independent of batching — oracle-checked against "
    "the batch latest-by-key over the whole feed",
)
def st06_stream_upsert_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay events as 4 micro-batches through the foreachBatch
    upsert, then read back the final snapshot."""
    import os
    import tempfile

    from ..streaming.run import replay_feed
    from ..streaming.snapshot import run_stream_latest_snapshot

    (events,) = _ctx(spark, sf_dir, "events")
    tmp = tempfile.mkdtemp(prefix="st06_")
    snap = os.path.join(tmp, "snapshot")
    run_stream_latest_snapshot(
        replay_feed(events, tmp), snap, key="user_id", order_cols=["ts", "event_id"]
    )
    return spark.read.parquet(snap).select(
        "user_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        "event_id",
        "event_type",
        "value",
    )


