"""Aggregate queries (``a*``) and the QC query (``qc01``): cycler-operator
analogs over events, distinct, ordered and statistical aggregates,
quantiles, pandas UDF aggregates and mergeable sketches (HLL, histogram,
count-min, join size).

Importing this module registers its queries; the driver-facing order is
``_registry.ORDER``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ._registry import _ctx, _dsum6, _fsum6_micro, _register


@_register(
    "a02_last_non_null",
    """
    WITH ranked AS (
      SELECT user_id, value, epoch_us(ts) AS ts_us,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events)
    SELECT user_id, value AS last_value, ts_us AS last_ts_us
    FROM ranked WHERE rn = 1
    """,
    survey="A2 (last-in-order via max_by; explicit ordered aggregation)",
)
def a02_last_non_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    (ev,) = _ctx(spark, sf_dir, "events")
    ts_us = F.unix_micros(F.col("ts"))
    ordkey = F.array(ts_us.cast("double"), F.col("event_id").cast("double"))
    return ev.groupBy("user_id").agg(
        F.max_by("value", ordkey).alias("last_value"),
        F.max_by(ts_us, ordkey).alias("last_ts_us"),
    )


@_register(
    "a03_guarded_ratio",
    """
    WITH s AS (
      SELECT user_id,
             sum(CASE WHEN event_type = 'purchase'
                      THEN CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) END) AS n_micro,
             sum(CASE WHEN event_type = 'view'
                      THEN CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) END) AS d_micro
      FROM events GROUP BY user_id)
    SELECT user_id,
           CASE WHEN coalesce(d_micro, 0) = 0 THEN NULL
                ELSE CAST(n_micro AS DOUBLE) / CAST(d_micro AS DOUBLE)
           END AS purchase_view_ratio
    FROM s
    """,
    survey="A3 C9 (guarded ratio; NULL on zero/absent denominator)",
    note="micro-unit integer sums (see _fsum6_micro): the r05 100x sweep "
    "caught the raw double-sum form hash-diverging once per-user event "
    "counts grew 100x — the ratio of two EXACT int64 sums (cast to "
    "double, one division) is bit-identical on both engines at any "
    "group size, and the scale factor 1e6 cancels in the ratio.",
)
def a03_guarded_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    (ev,) = _ctx(spark, sf_dir, "events")
    num = _fsum6_micro(F.when(F.col("event_type") == "purchase", F.col("value")))
    den = _fsum6_micro(F.when(F.col("event_type") == "view", F.col("value")))
    agg = ev.groupBy("user_id").agg(num.alias("_n"), den.alias("_d"))
    return agg.select(
        "user_id",
        F.when(
            F.coalesce(F.col("_d"), F.lit(0)) == 0, F.lit(None).cast("double")
        )
        .otherwise(F.col("_n").cast("double") / F.col("_d").cast("double"))
        .alias("purchase_view_ratio"),
    )


@_register(
    "a04_first_norm",
    """
    SELECT event_id, user_id,
           value / first_value(value) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_norm
    FROM events
    """,
    survey="A4 (first-row normalization window, q_norm shape)",
)
def a04_first_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    (ev,) = _ctx(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id", "user_id", (F.col("value") / F.first("value").over(w)).alias("v_norm")
    )


@_register(
    "a05_trapezoid",
    """
    WITH e AS (
      SELECT user_id, value,
             epoch_us(ts) / 1000000.0 AS t,
             lag(value)              OVER w AS pv,
             lag(epoch_us(ts) / 1000000.0) OVER w AS pt
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
    SELECT user_id,
           CASE WHEN count(*) >= 2
                THEN abs(CAST(sum(CAST(floor(0.5 * (value + pv) * (t - pt)
                       * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
                     / 1000000.0) / 3600.0 END AS area_vh
    FROM e GROUP BY user_id
    """,
    survey="A5 C8 F3 (lag-window trapezoid, np.trapz algebra)",
)
def a05_trapezoid(spark: SparkSession, sf_dir: str) -> DataFrame:
    (ev,) = _ctx(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = F.unix_micros(F.col("ts")) / F.lit(1000000.0)
    v = F.col("value")
    seg = 0.5 * (v + F.lag(v).over(w)) * (t - F.lag(t).over(w))
    # segments quantized to integer micro-units (floor(x*1e6+0.5) is
    # IEEE-deterministic; the int64 sum is exact and associative) so
    # the group sum is partition-layout and engine independent — plain
    # double sums differ in the last ulp at sf0.1 group sizes
    seg_u = F.floor(seg * F.lit(1000000.0) + F.lit(0.5)).cast("long")
    return (
        ev.select("user_id", seg_u.alias("_seg_u"))
        .groupBy("user_id")
        .agg(
            F.when(
                F.count(F.lit(1)) >= 2,
                F.abs(F.sum("_seg_u").cast("double") / F.lit(1000000.0))
                / F.lit(3600.0),
            ).alias("area_vh")
        )
    )


@_register(
    "a06_argmin_nearest",
    """
    WITH e AS (
      SELECT user_id, event_id, abs(value - 100.0) AS ad,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pos
      FROM events),
    sel AS (
      SELECT user_id, event_id, ad,
             row_number() OVER (PARTITION BY user_id ORDER BY ad, pos) AS rn
      FROM e),
    mins AS (SELECT user_id, min(ad) AS min_absdiff FROM e GROUP BY user_id)
    SELECT s.user_id, s.event_id AS nearest_event_id, m.min_absdiff
    FROM sel s JOIN mins m ON s.user_id = m.user_id
    WHERE s.rn = 1
    """,
    survey="A6 (first-occurrence argmin via min_by struct ordering)",
)
def a06_argmin_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    (ev,) = _ctx(spark, sf_dir, "events")
    pos_w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    e = ev.withColumn("pos", F.row_number().over(pos_w))
    absdiff = F.abs(F.col("value") - 100.0)
    return e.groupBy("user_id").agg(
        F.min_by(
            "event_id", F.array(absdiff, F.col("pos").cast("double"))
        ).alias("nearest_event_id"),
        F.min(absdiff).alias("min_absdiff"),
    )


@_register(
    "a07_neighbor_median_delta",
    """
    WITH e AS (
      SELECT user_id, value,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pos
      FROM events),
    sel AS (
      SELECT user_id, pos AS idx FROM (
        SELECT user_id, pos,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY abs(value - 100.0), pos) AS rn
        FROM e) WHERE rn = 1)
    SELECT e.user_id,
           median(CASE WHEN e.pos BETWEEN s.idx - 2 AND s.idx - 1 THEN e.value END)
             AS pre_med,
           median(CASE WHEN e.pos BETWEEN s.idx AND s.idx + 2 THEN e.value END)
             AS post_med
    FROM e JOIN sel s ON e.user_id = s.user_id
    GROUP BY e.user_id
    """,
    survey="A7 (neighbor-window exact medians around argmin row, IR shape)",
)
def a07_neighbor_median_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    (ev,) = _ctx(spark, sf_dir, "events")
    pos_w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    e = ev.select(
        "user_id", "value", F.row_number().over(pos_w).alias("pos"),
        F.abs(F.col("value") - 100.0).alias("_ad"),
    )
    sel = e.groupBy("user_id").agg(
        F.min_by("pos", F.array(F.col("_ad"), F.col("pos").cast("double"))).alias("idx")
    )
    j = e.join(F.broadcast(sel), "user_id")
    return j.groupBy("user_id").agg(
        F.median(
            F.when(F.col("pos").between(F.col("idx") - 2, F.col("idx") - 1), F.col("value"))
        ).alias("pre_med"),
        F.median(
            F.when(F.col("pos").between(F.col("idx"), F.col("idx") + 2), F.col("value"))
        ).alias("post_med"),
    )


@_register(
    "a08_min_subtract",
    """
    SELECT event_id, user_id,
           value - min(value) OVER (PARTITION BY user_id) AS v_rel
    FROM events
    """,
    survey="A8 (per-group min broadcast window)",
)
def a08_min_subtract(spark: SparkSession, sf_dir: str) -> DataFrame:
    (ev,) = _ctx(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    return ev.select(
        "event_id", "user_id", (F.col("value") - F.min("value").over(w)).alias("v_rel")
    )


@_register(
    "a10_running_first_shift",
    """
    SELECT event_id, user_id,
           CASE WHEN value IS NOT NULL THEN
             (value - first_value(CASE WHEN event_type = 'purchase' THEN value END
                                  IGNORE NULLS)
                      OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) * 1000.0
           END AS shift_milli
    FROM events
    """,
    survey="A10 (running first-valid reference + shift, dQdV-shift shape)",
)
def a10_running_first_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    (ev,) = _ctx(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ref = F.first(
        F.when(F.col("event_type") == "purchase", F.col("value")), ignorenulls=True
    ).over(w)
    return ev.select(
        "event_id",
        "user_id",
        F.when(F.col("value").isNotNull(), (F.col("value") - ref) * 1000.0).alias(
            "shift_milli"
        ),
    )


@_register(
    "a11_regr_fade",
    """
    WITH e AS (
      -- x centered at the per-group origin: raw epoch-seconds (~1.7e9,
      -- x^2 ~ 3e18) eat double precision and make slope/intercept
      -- summation-order-sensitive across engines; centered x is small
      -- and exact (integer microsecond delta / 1e6)
      SELECT user_id, value,
             (epoch_us(ts) - min(epoch_us(ts)) OVER (PARTITION BY user_id))
               / 1000000.0 AS x
      FROM events)
    SELECT user_id,
           -- round(.,9): regr_* internal summation order still differs in
           -- the last ulp across engines; 9 decimals is far inside both
           -- engines' agreement and the rounded doubles are bit-identical.
           -- t_to_80 is derived from the ROUNDED slope/intercept so the
           -- final division sees identical operands on both sides.
           CASE WHEN count(*) >= 2 THEN round(regr_slope(value, x), 9) END
             AS slope,
           CASE WHEN count(*) >= 2 THEN round(regr_intercept(value, x), 9) END
             AS intercept,
           CASE WHEN count(*) >= 2 AND round(regr_slope(value, x), 9) <> 0
                THEN (80.0 - round(regr_intercept(value, x), 9))
                     / round(regr_slope(value, x), 9) END
             AS t_to_80
    FROM e GROUP BY user_id
    """,
    survey="A11 A12 (OLS fade fit via regr_slope/regr_intercept + RUL arithmetic; "
    "x centered per group for cross-engine bit-stability)",
)
def a11_regr_fade(spark: SparkSession, sf_dir: str) -> DataFrame:
    (ev,) = _ctx(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    ev = ev.withColumn("_x0", F.min(us).over(Window.partitionBy("user_id")))
    x = (us - F.col("_x0")) / F.lit(1000000.0)
    y = F.col("value")
    agg = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("_n"),
        F.round(F.regr_slope(y, x), 9).alias("_m"),
        F.round(F.regr_intercept(y, x), 9).alias("_b"),
    )
    ok = F.col("_n") >= 2
    m, b = F.col("_m"), F.col("_b")
    return agg.select(
        "user_id",
        F.when(ok, m).alias("slope"),
        F.when(ok, b).alias("intercept"),
        F.when(ok & (m != 0), (F.lit(80.0) - b) / m).alias("t_to_80"),
    )


@_register(
    "qc01_aggregate_checks",
    """
    SELECT count(*)                                   AS n_rows,
           count(DISTINCT l_orderkey)                 AS n_orders,
           CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                                                      AS null_qty,
           min(l_discount)                            AS disc_min,
           max(l_discount)                            AS disc_max,
           median(l_extendedprice)                    AS price_median,
           (SELECT l_extendedprice FROM lineitem
            ORDER BY l_shipdate, l_orderkey, l_linenumber LIMIT 1) AS first_price,
           (SELECT l_extendedprice FROM lineitem
            ORDER BY l_shipdate DESC, l_orderkey DESC, l_linenumber DESC LIMIT 1)
             AS last_price,
           CAST(sum(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END) AS BIGINT)
                                                                    AS n_nonpos
    FROM lineitem
    """,
    survey="Q1-Q7 (single one-row QC aggregate: null counts, range, exact median, ordered first/last)",
)
def qc01_aggregate_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    (li,) = _ctx(spark, sf_dir, "lineitem")
    order_key = F.array(
        F.unix_micros(F.col("l_shipdate").cast("timestamp")).cast("double"),
        F.col("l_orderkey").cast("double"),
        F.col("l_linenumber").cast("double"),
    )
    # Two plan-shape fixes over the naive single agg (measured 3.0s →
    # 1.4s bench-style at sf0.1, and the only shapes that survive
    # 100 TB):
    # - count(distinct) split into its own aggregate: fused, it forces
    #   Catalyst to key EVERY function — including the median buffer
    #   and the min_by/max_by state — by l_orderkey first (one
    #   percentile buffer per order, double exchange). Decomposed, the
    #   distinct count is a codegen'd two-stage hash agg and the 1-row
    #   crossJoin is free.
    # - exact median via the a17 bucketed-selection helper (1.9s of
    #   the original time was F.median's TypedImperativeAggregate
    #   collecting the whole column into one final merge; the 2-pass
    #   selection is three codegen'd scans with O(buckets) driver
    #   state, bit-compatible with quantile_cont — pinned by a17).
    from ..functions.stats import exact_quantiles_2pass

    median = exact_quantiles_2pass(li, "l_extendedprice", [0.5])[0.5]
    stats = li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("l_quantity").isNull(), 1).otherwise(0)).alias("null_qty"),
        F.min("l_discount").alias("disc_min"),
        F.max("l_discount").alias("disc_max"),
        F.min_by("l_extendedprice", order_key).alias("first_price"),
        F.max_by("l_extendedprice", order_key).alias("last_price"),
        F.sum(F.when(F.col("l_extendedprice") <= 0, 1).otherwise(0)).alias("n_nonpos"),
    ).withColumn("price_median", F.lit(median))
    n_orders = li.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    return stats.crossJoin(n_orders).select(
        "n_rows",
        "n_orders",
        "null_qty",
        "disc_min",
        "disc_max",
        "price_median",
        "first_price",
        "last_price",
        "n_nonpos",
    )


@_register(
    "a14_distinct_agg",
    """
    SELECT event_type,
           count(DISTINCT user_id) AS n_users,
           count(*) AS n_events,
           CAST(sum(CAST(round(value, 6) AS DECIMAL(38,6)))
                AS DOUBLE) AS sum_value
    FROM events
    GROUP BY event_type
    """,
    survey="A-family extension: mixed distinct + plain aggregates in one "
    "groupBy (two-phase partial-distinct expansion, not a second scan)",
    note="Exact distinct is the oracle-checkable form; approx_count_distinct "
    "(HLL++, one pass, mergeable sketch) is the documented 100 TB trade "
    "when ±2% is acceptable.",
)
def a14_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users + plain rollups per event type in one aggregate.
    Spark expands the distinct into a two-level aggregation (partial
    per (type, user), then final) — one scan, map-side combine on
    both levels, no driver-side distinct."""
    (ev,) = _ctx(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
        # 2dp addends → exact decimal accumulation (see _dsum6)
        _dsum6(F.col("value")).alias("sum_value"),
    )


@_register(
    "a15_listagg",
    """
    SELECT o_orderpriority,
           string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus)
             AS statuses,
           count(*) AS n
    FROM orders GROUP BY o_orderpriority
    """,
    survey="A-family extension: ordered string aggregation (sorted distinct "
    "collect_list → array_join; explicit ORDER BY makes the concatenation "
    "deterministic — unordered listagg is a cross-engine trap)",
)
def a15_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted distinct status list per priority as a CSV string. The
    sort is explicit (array_sort before join) — aggregation order is
    never guaranteed in a distributed groupBy, so any listagg without
    an ORDER BY is nondeterministic by construction."""
    (orders,) = _ctx(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.array_join(
            F.array_sort(F.collect_set("o_orderstatus")), ","
        ).alias("statuses"),
        F.count(F.lit(1)).alias("n"),
    )


@_register(
    "a16_stats_agg",
    """
    WITH m AS (
      SELECT l_returnflag,
             CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(CAST(round(l_quantity, 4) AS DECIMAL(38,4)))
                  AS DOUBLE) AS sx,
             CAST(sum(CAST(round(l_extendedprice, 4) AS DECIMAL(38,4)))
                  AS DOUBLE) AS sy,
             CAST(sum(CAST(round(l_quantity * l_extendedprice, 4)
                  AS DECIMAL(38,4))) AS DOUBLE) AS sxy,
             CAST(sum(CAST(round(l_quantity * l_quantity, 4)
                  AS DECIMAL(38,4))) AS DOUBLE) AS sxx,
             CAST(sum(CAST(round(l_extendedprice * l_extendedprice, 4)
                  AS DECIMAL(38,4))) AS DOUBLE) AS syy
      FROM lineitem GROUP BY l_returnflag)
    SELECT l_returnflag,
           round((sxy - sx * sy / n)
             / sqrt((sxx - sx * sx / n) * (syy - sy * sy / n)), 12)
             AS corr_qty_price,
           round((sxy - sx * sy / n) / (n - 1), 2) AS covar_qty_price,
           round(sqrt((sxx - sx * sx / n) / (n - 1)), 6) AS sd_qty,
           round((syy - sy * sy / n) / (n - 1), 2) AS var_price
    FROM m
    """,
    survey="A-family extension: statistical aggregates (corr / covar_samp / "
    "stddev_samp / var_samp) from mergeable moments — the moments are "
    "summed in DECIMAL(38,6) (exact, associative, so partition-layout and "
    "engine independent: the per-row doubles are IEEE-identical on both "
    "engines, the decimal sum has no order sensitivity), then combined "
    "with one shared closed form; map-side partials throughout",
)
def a16_stats_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """corr/covar/stddev/var per return flag via exact decimal moments.

    The built-in single-pass moment sketches (F.corr &c) accumulate in
    doubles, so their last ulp depends on partition layout — fine for
    analytics, fatal for a tolerance-free cross-engine hash. Decimal
    moments cost one extra expression per column and are bit-stable."""
    (li,) = _ctx(spark, sf_dir, "lineitem")

    # round at the data's INTRINSIC decimal count (quantity integer,
    # price 2dp → every product ≤ 4dp) before the decimal cast: the
    # per-row doubles sit within ~ulp of the 1e-4 grid and never near a
    # rounding boundary, so both engines quantize to the same exact
    # decimal; the decimal sum is then exact and associative
    def mom(c):
        return F.sum(F.round(c, 4).cast("decimal(38,4)")).cast("double")

    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        mom(F.col("l_quantity")).alias("sx"),
        mom(F.col("l_extendedprice")).alias("sy"),
        mom(F.col("l_quantity") * F.col("l_extendedprice")).alias("sxy"),
        mom(F.col("l_quantity") * F.col("l_quantity")).alias("sxx"),
        mom(F.col("l_extendedprice") * F.col("l_extendedprice")).alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    return m.select(
        "l_returnflag",
        # |corr| ≤ 1: round(,12) absorbs the ≤ few-ulp disagreement the
        # two engines' decimal→double conversion chains leave behind
        F.round(
            (sxy - sx * sy / n)
            / F.sqrt((sxx - sx * sx / n) * (syy - sy * sy / n)),
            12,
        ).alias("corr_qty_price"),
        # output grids sit far above the ~1-ulp slack the two engines'
        # decimal→double conversions leave on 1e13-scale moments
        # (DuckDB double-rounds via int128→double→/10^scale)
        F.round((sxy - sx * sy / n) / (n - 1), 2).alias("covar_qty_price"),
        F.round(F.sqrt((sxx - sx * sx / n) / (n - 1)), 6).alias("sd_qty"),
        F.round((syy - sy * sy / n) / (n - 1), 2).alias("var_price"),
    )


@_register(
    "a13_percentiles",
    """
    SELECT user_id,
           quantile_cont(value, 0.5)  AS p50,
           quantile_cont(value, 0.9)  AS p90,
           quantile_cont(value, 0.99) AS p99,
           count(*) AS n
    FROM events
    GROUP BY user_id
    """,
    survey="A-family exact percentiles: interpolated p50/p90/p99 per key "
    "(F.percentile — exact, matches quantile_cont; percentile_approx is the "
    "documented 100TB trade when exactness is negotiable)",
)
def a13_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    (ev,) = _ctx(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.percentile("value", 0.5).alias("p50"),
        F.percentile("value", 0.9).alias("p90"),
        F.percentile("value", 0.99).alias("p99"),
        F.count(F.lit(1)).alias("n"),
    )


@_register(
    "a17_quantile_2pass",
    """
    SELECT quantile_cont(l_extendedprice, 0.25) AS p25,
           quantile_cont(l_extendedprice, 0.5)  AS p50,
           quantile_cont(l_extendedprice, 0.9)  AS p90,
           count(l_extendedprice) AS n
    FROM lineitem
    """,
    survey="A-family scale path: EXACT global quantiles via two-pass "
    "bucketed selection (histogram scan locates the rank's bucket, a "
    "bucket-pruned scan yields ~n/4096 candidates, percentile_cont "
    "interpolation driver-side) — no single-node value buffer, unlike "
    "F.median/F.percentile whose TypedImperativeAggregate collects the "
    "whole column into one final merge; the only exact-quantile plan "
    "shape that survives 100 TB",
)
def a17_quantile_2pass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p25/p50/p90 of lineitem prices by distributed bucketed
    selection (three parallel scans, kilobytes on the driver)."""
    from ..functions.stats import exact_quantiles_2pass

    (li,) = _ctx(spark, sf_dir, "lineitem")
    qs = exact_quantiles_2pass(li, "l_extendedprice", [0.25, 0.5, 0.9])
    n = li.filter(F.col("l_extendedprice").isNotNull()).count()
    return spark.range(1).select(
        F.lit(qs[0.25]).alias("p25"),
        F.lit(qs[0.5]).alias("p50"),
        F.lit(qs[0.9]).alias("p90"),
        F.lit(n).alias("n"),
    )


def _rev_micro(col: F.Column) -> F.Column:
    """Per-row int64 micro-units of a <=6-decimal money expression —
    the addend form behind _fsum6/_fsum6_micro (see _registry)."""
    return F.floor(col * F.lit(1000000.0) + F.lit(0.5)).cast("long")


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
    "a20_approx_distinct_bound",
    """
    SELECT event_type, count(DISTINCT user_id) AS n_exact, TRUE AS approx_ok
    FROM events GROUP BY event_type
    """,
    survey="A-family extension: sketch-based approximate distinct "
    "(HyperLogLog++ approx_count_distinct) validated against the exact "
    "count in the same aggregate — the query RETURNS the exact count plus "
    "a bound check (relative error < 3·rsd), so the oracle stays "
    "hash-comparable while the sketch path is genuinely executed; at "
    "100 TB the sketch is the only mergeable constant-memory distinct",
)
def a20_approx_distinct_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ distinct vs exact distinct per event_type. approx is
    deterministic (hash-based, no RNG); the emitted boolean asserts
    |approx − exact| < 3·rsd·exact with rsd=0.05."""
    (ev,) = _ctx(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count_distinct(F.col("user_id")).alias("n_exact"),
        (
            F.abs(
                F.approx_count_distinct("user_id", rsd=0.05).cast("double")
                - F.count_distinct(F.col("user_id")).cast("double")
            )
            < F.lit(0.15) * F.count_distinct(F.col("user_id")).cast("double")
        ).alias("approx_ok"),
    )


@_register(
    "a26_hll_sketch_merge",
    """
    SELECT event_type, count(DISTINCT user_id) AS n_exact, TRUE AS merge_ok
    FROM events GROUP BY event_type
    """,
    survey="A-family completion: MERGEABLE sketch rollup (Datasketches "
    "HllSketch via hll_sketch_agg / hll_union_agg) — per-day partial "
    "sketches are union-merged into the per-type estimate WITHOUT "
    "rescanning raw events; the emitted boolean validates the two-level "
    "merge against the exact distinct, so the oracle stays "
    "hash-comparable while the sketch build+merge path genuinely "
    "executes. This is the incremental-rollup shape at 100 TB: persist "
    "the daily sketch bytes (O(2^lgK) each), answer any date-range "
    "distinct by unioning stored partials — raw-data rescans and exact "
    "distinct shuffles both drop out of the steady state",
    note="a20 validates the one-shot HLL++ estimate; a26 validates "
    "sketch MERGE associativity — partials built independently per day "
    "must union to (approximately) the direct estimate.",
)
def a26_hll_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily HLL sketches per event_type, union-merged to a per-type
    distinct-user estimate, validated within 10% of the exact count
    (default lgConfigK=12 -> rsd ~1.6%; merge adds no bias). The daily
    sketch table is what a production pipeline would PERSIST — the
    merge query never touches raw events."""
    (ev,) = _ctx(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.hll_sketch_agg(F.col("user_id").cast("string")).alias("sk"))
    merged = daily.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg(F.col("sk"))).alias("est")
    )
    exact = ev.groupBy("event_type").agg(
        F.count_distinct(F.col("user_id")).alias("n_exact")
    )
    return exact.join(F.broadcast(merged), "event_type").select(
        "event_type",
        "n_exact",
        (
            F.abs(F.col("est").cast("double") - F.col("n_exact").cast("double"))
            < F.lit(0.10) * F.col("n_exact").cast("double")
        ).alias("merge_ok"),
    )


@_register(
    "a21_sliding_median",
    """
    SELECT user_id, event_id, epoch_us(ts) AS ts_us,
           quantile_cont(value, 0.5) OVER (PARTITION BY user_id
             ORDER BY ts, event_id
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS med7,
           count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS n_win
    FROM events
    """,
    survey="A-family completion: EXACT sliding median (7-row trailing "
    "frame per key) — the robust-smoothing companion to e05's EWMA; frame "
    "size bounds the per-row work so the window is O(n·w log w) per key, "
    "no global buffer (contrast a17's two-pass global quantiles)",
)
def a21_sliding_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-sample exact median of event values per user
    (interpolating median — matches quantile_cont)."""
    (ev,) = _ctx(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-6, Window.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        F.percentile("value", 0.5).over(w).alias("med7"),
        F.count(F.lit(1)).over(w).alias("n_win"),
    )


@_register(
    "a22_zscore",
    """
    WITH stats AS (
      SELECT event_type,
             CAST(sum(CAST(round(value, 6) AS DECIMAL(38,6)))
                  AS DOUBLE) / count(*) AS mu,
             sqrt((CAST(sum(CAST(round(value * value, 6) AS DECIMAL(38,6)))
                        AS DOUBLE)
                   - CAST(sum(CAST(round(value, 6) AS DECIMAL(38,6)))
                          AS DOUBLE)
                     * CAST(sum(CAST(round(value, 6) AS DECIMAL(38,6)))
                            AS DOUBLE) / count(*))
                  / (count(*) - 1)) AS sigma
      FROM events GROUP BY event_type)
    SELECT e.event_id, e.event_type,
           round((e.value - s.mu) / s.sigma, 9) AS z
    FROM events e JOIN stats s ON s.event_type = e.event_type
    """,
    survey="A-family extension: per-key z-score normalization (the "
    "standard feature-scaling pass) — group moments computed once, "
    "broadcast back onto the fact, one scan each way; the window "
    "formulation (avg/stddev OVER key) is equivalent but re-sorts the "
    "fact — the join-back is the scale shape",
)
def a22_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standardized event values per event_type. Moments come from
    grid-rounded sums (2dp data) combined with the same closed form as
    the oracle — deterministic across engines and partition layouts;
    the emitted z rounds at 9dp (O(1) magnitude)."""
    (ev,) = _ctx(spark, sf_dir, "events")
    n = F.count(F.lit(1))
    s1 = _dsum6(F.col("value"))
    s2 = _dsum6(F.col("value") * F.col("value"))
    stats = ev.groupBy("event_type").agg(
        (s1 / n).alias("mu"),
        F.sqrt((s2 - s1 * s1 / n) / (n - 1)).alias("sigma"),
    )
    return ev.join(F.broadcast(stats), "event_type").select(
        "event_id",
        "event_type",
        F.round((F.col("value") - F.col("mu")) / F.col("sigma"), 9).alias("z"),
    )


@_register(
    "a23_scalar_pandas_udf",
    """
    WITH stats AS (
      SELECT event_type,
             CAST(sum(CAST(round(value, 6) AS DECIMAL(38,6)))
                  AS DOUBLE) / count(*) AS mu,
             sqrt((CAST(sum(CAST(round(value * value, 6) AS DECIMAL(38,6)))
                        AS DOUBLE)
                   - CAST(sum(CAST(round(value, 6) AS DECIMAL(38,6)))
                          AS DOUBLE)
                     * CAST(sum(CAST(round(value, 6) AS DECIMAL(38,6)))
                            AS DOUBLE) / count(*))
                  / (count(*) - 1)) AS sigma
      FROM events GROUP BY event_type)
    SELECT e.event_id,
           round(1.0 / (1.0 + exp(-((e.value - s.mu) / s.sigma))), 9)
             AS sigmoid_z
    FROM events e JOIN stats s ON s.event_type = e.event_type
    """,
    survey="UDF-surface completion: SCALAR Arrow-vectorized pandas_udf "
    "(sigmoid scoring over z-scores — numpy on Arrow batches, ~10-100× "
    "a row-at-a-time Python UDF; the JVM expression would be faster "
    "still, used here to verify the vectorized scalar path end to end "
    "against the SQL formula)",
)
def a23_scalar_pandas_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized scalar UDF over the broadcast-normalized value."""
    from ..functions.pyudf import sigmoid

    (ev,) = _ctx(spark, sf_dir, "events")
    # mu/sigma from grid-rounded sums (2dp data) with the same closed
    # form as the oracle — deterministic inputs to the UDF; the output
    # rounds at 9dp to absorb numpy-vs-libm exp() ulp differences
    n = F.count(F.lit(1))
    s1 = _dsum6(F.col("value"))
    s2 = _dsum6(F.col("value") * F.col("value"))
    stats = ev.groupBy("event_type").agg(
        (s1 / n).alias("mu"),
        F.sqrt((s2 - s1 * s1 / n) / (n - 1)).alias("sigma"),
    )
    return ev.join(F.broadcast(stats), "event_type").select(
        "event_id",
        F.round(
            sigmoid((F.col("value") - F.col("mu")) / F.col("sigma")), 9
        ).alias("sigmoid_z"),
    )


@_register(
    "a24_grouped_agg_pandas_udf",
    """
    SELECT event_type,
           round(exp(CAST(sum(CAST(floor(ln(value) * 1000000.0 + 0.5)
                                   AS BIGINT)) AS DOUBLE)
                     / 1000000.0 / count(*)), 9) AS geo_mean
    FROM events WHERE value > 0 GROUP BY event_type
    """,
    survey="UDF-surface completion: GROUPED_AGG pandas_udf (per-key "
    "geometric mean — a whole group's values arrive as one pandas "
    "Series, reduced in numpy; the custom-aggregate escape hatch when "
    "no built-in composition exists). CAVEAT encoded in the docstring: "
    "grouped-agg UDFs have no partial aggregation — every raw value "
    "shuffles to its reducer, unlike built-in aggs; prefer "
    "exp(avg(ln)) composition where it exists",
)
def a24_grouped_agg_pandas_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometric mean per event_type via a grouped-agg pandas UDF,
    verified against the exp(avg(ln)) SQL identity with both engines
    summing the SAME int64 micro-unit log addends (order-free; see
    functions/pyudf.py geo_mean — the raw float mean drifted on the
    9th decimal at 100x group sizes)."""
    from ..functions.pyudf import geo_mean

    (ev,) = _ctx(spark, sf_dir, "events")
    return (
        ev.filter(F.col("value") > 0)
        .groupBy("event_type")
        # grouped-agg pandas UDFs cannot mix with built-in aggregates in
        # one agg (INVALID_PANDAS_UDF_PLACEMENT) — single-UDF aggregate
        .agg(F.round(geo_mean(F.col("value")), 9).alias("geo_mean"))
    )


@_register(
    "a25_approx_percentile_bound",
    """
    WITH ranked AS (
      SELECT event_type, value,
             percent_rank() OVER (PARTITION BY event_type ORDER BY value)
               AS pr
      FROM events)
    SELECT event_type,
           quantile_cont(value, 0.5) AS p50_exact,
           TRUE AS approx_in_bounds
    FROM events GROUP BY event_type
    """,
    survey="A-family completion: mergeable approximate percentile "
    "(percentile_approx / GK sketch) validated in-query — the sketch's "
    "p50 must land within the value range whose exact percent_rank is "
    "0.5 ± accuracy; the emitted boolean keeps the oracle hash-"
    "comparable while the sketch path genuinely executes. The sketch is "
    "the 100 TB shape: bounded memory, mergeable partials (contrast "
    "a17's exact two-pass)",
)
def a25_approx_percentile_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percentile_approx(0.5, accuracy=1000) vs exact median: assert
    the approx value's true rank is within 0.5 ± 1/1000 (the GK
    guarantee), emit exact p50 + the bound check."""
    (ev,) = _ctx(spark, sf_dir, "events")
    approx = ev.groupBy("event_type").agg(
        F.percentile_approx("value", 0.5, 1000).alias("p50_approx")
    )
    j = ev.join(F.broadcast(approx), "event_type")
    # true rank of the approx value = fraction of values strictly below
    rank_of_approx = F.sum(
        F.when(F.col("value") < F.col("p50_approx"), 1).otherwise(0)
    ) / F.count(F.lit(1))
    return j.groupBy("event_type").agg(
        F.percentile("value", 0.5).alias("p50_exact"),
        (F.abs(rank_of_approx - 0.5) < 0.01).alias("approx_in_bounds"),
    )


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
# a28: count-min-sketch frequency estimation (mergeable heavy-hitters)
# ---------------------------------------------------------------------------
_CMS_D = 3   # hash rows
_CMS_W = 32  # buckets per row


@_register(
    "a28_countmin_freq",
    f"""
    WITH vocab AS (
      SELECT u.tok AS token, count(*) AS n
      FROM documents,
           LATERAL (SELECT unnest(regexp_extract_all(lower(text),
                    '[a-z0-9]+')) AS tok) u
      GROUP BY u.tok),
    tb AS (
      SELECT v.token, v.n, j.j,
             (('0x' || substr(md5(CAST(j.j AS VARCHAR) || ':' || v.token),
                1, 8))::BIGINT) % {_CMS_W} AS bucket
      FROM vocab v, LATERAL (SELECT unnest(generate_series(0, {_CMS_D - 1}))
                             AS j) j),
    cells AS (
      SELECT j, bucket, sum(n) AS cell_n
      FROM tb GROUP BY j, bucket)
    SELECT t.token,
           CAST(max(t.n) AS BIGINT) AS exact_n,
           CAST(min(c.cell_n) AS BIGINT) AS est_n,
           CAST(min(c.cell_n) - max(t.n) AS BIGINT) AS over_by,
           CASE WHEN min(c.cell_n) >= max(t.n) THEN 1 ELSE 0 END AS ge_ok
    FROM tb t JOIN cells c USING (j, bucket)
    GROUP BY t.token
    """,
    survey="A-family completion: count-min-sketch frequency estimation "
    "— the mergeable HEAVY-HITTERS sketch closing the sketch lineup "
    "(a20/a26 distinct counts, a25 GK percentile, a27 histogram "
    "quantiles, a28 frequencies). d=3 md5-derived hash rows × w=32 "
    "buckets; every token's estimate is the min over its d cells, the "
    "one-sided CMS guarantee (est ≥ exact, overshoot bounded by "
    "colliding mass) is verified in-query per token (ge_ok), and the "
    "overshoot is emitted so the compare pins the exact collision "
    "pattern. Cells merge BY ADDITION across partitions, days, or "
    "streaming batches — answer any key's frequency from O(d·w) ints "
    "without rescanning the corpus. md5 buckets are the cross-engine "
    "oracle configuration; xxhash64 is the faster production knob "
    "(t07's discipline). Plan: one token aggregate (the only corpus "
    "shuffle), then vocab-sized joins; at 100 TB the sketch build "
    "folds into the scan as a map-side d·w-cell partial.",
    note="The sketch here is derived from the per-token counts (the "
    "demo also outputs exact_n); the production build skips the exact "
    "aggregate and adds each occurrence straight into its d cells — "
    "identical cell contents, pure map-side.",
)
def a28_countmin_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CMS estimates vs exact counts for every corpus token, with the
    one-sided error guarantee checked per row."""
    (docs,) = _ctx(spark, sf_dir, "documents")
    # NOT scale_out-rebalanced: the explode+count stage is too cheap at
    # this corpus for the extra exchange to pay (A/B: 0.48s -> 1.49s)
    vocab = (
        docs.select(
            F.explode(
                F.regexp_extract_all(F.lower("text"), F.lit(r"[a-z0-9]+"), 0)
            ).alias("token")
        )
        .groupBy("token")
        .agg(F.count("*").alias("n"))
    )
    from ..functions.stats import cms_bucket

    js = spark.range(_CMS_D).select(F.col("id").cast("int").alias("j"))
    # hash_fn="md5" is the oracle knob; the library default is the
    # xxhash64 production path (functions/stats.py cms_bucket).
    tb = vocab.crossJoin(F.broadcast(js)).withColumn(
        "bucket",
        cms_bucket(F.col("token"), F.col("j"), _CMS_W, hash_fn="md5"),
    )
    cells = tb.groupBy("j", "bucket").agg(F.sum("n").alias("cell_n"))
    return (
        tb.join(F.broadcast(cells), ["j", "bucket"])
        .groupBy("token")
        .agg(
            F.max("n").cast("long").alias("exact_n"),
            F.min("cell_n").cast("long").alias("est_n"),
            (F.min("cell_n") - F.max("n")).cast("long").alias("over_by"),
            F.when(F.min("cell_n") >= F.max("n"), 1).otherwise(0).alias("ge_ok"),
        )
    )


# ---------------------------------------------------------------------------
# a29: join-cardinality estimation via count-min inner product
# ---------------------------------------------------------------------------
@_register(
    "a29_join_size_sketch",
    """
    WITH n AS (
      SELECT user_id, count(*) AS c FROM events GROUP BY user_id),
    truth AS (SELECT sum(c * c) AS true_size FROM n),
    cells AS (
      SELECT j.j,
             (('0x' || substr(md5(CAST(j.j AS VARCHAR) || ':'
                || CAST(n.user_id AS VARCHAR)), 1, 8))::BIGINT) % 64
               AS bucket,
             sum(n.c) AS cm
      FROM n, LATERAL (SELECT unnest(generate_series(0, 2)) AS j) j
      GROUP BY 1, 2),
    est AS (
      SELECT min(s) AS est_size
      FROM (SELECT j, sum(cm * cm) AS s FROM cells GROUP BY j))
    SELECT CAST(truth.true_size AS BIGINT) AS true_size,
           CAST(est.est_size AS BIGINT) AS est_size,
           CAST(est.est_size - truth.true_size AS BIGINT) AS over_by,
           CASE WHEN est.est_size >= truth.true_size THEN 1 ELSE 0 END
             AS ge_ok,
           CAST(est.est_size * 1000000 // truth.true_size AS BIGINT)
             AS ratio_micro
    FROM truth, est
    """,
    survey="A-family completion: JOIN-SIZE estimation by the count-min "
    "inner product — the shuffle-planning primitive behind cost-based "
    "join reordering and skew detection: the self-join cardinality on "
    "a key (sum of per-key count²) is estimated as min over d hash "
    "rows of sum(cm²), which upper-bounds the truth (colliding keys "
    "only ADD cross terms) without ever materializing the join. Both "
    "sides all-integer; the guarantee (est ≥ true) and the exact "
    "overshoot ratio are emitted in-query. At 100 TB: each side's "
    "sketch is one map-side-combined scan into d·w cells, sketches "
    "of DIFFERENT tables combine by the same inner product (cmA·cmB), "
    "and partial sketches merge by addition (a26/a27/a28's "
    "mergeability) — estimate any join's output volume from kilobytes "
    "of state before committing to a shuffle strategy.",
    note="Demonstrated on the self-join (events × events on user_id) "
    "so truth is cheaply exact for the oracle; two-table estimation "
    "is the identical expression over two cell sets.",
)
def a29_join_size_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CM-inner-product estimate of the user_id self-join size vs the
    exact value, with the one-sided bound checked in-query."""
    (events,) = _ctx(spark, sf_dir, "events")
    n = events.groupBy("user_id").agg(F.count("*").alias("c"))
    truth = n.agg(F.sum(F.col("c") * F.col("c")).alias("true_size"))
    from ..functions.stats import cms_bucket

    js = spark.range(3).select(F.col("id").cast("int").alias("j"))
    # hash_fn="md5" is the oracle knob, same discipline as a28
    cells = (
        n.crossJoin(F.broadcast(js))
        .withColumn(
            "bucket",
            cms_bucket(
                F.col("user_id").cast("string"), F.col("j"), 64, hash_fn="md5"
            ),
        )
        .groupBy("j", "bucket")
        .agg(F.sum("c").alias("cm"))
    )
    est = (
        cells.groupBy("j")
        .agg(F.sum(F.col("cm") * F.col("cm")).alias("s"))
        .agg(F.min("s").alias("est_size"))
    )
    return (
        truth.crossJoin(est)
        .select(
            F.col("true_size").cast("long").alias("true_size"),
            F.col("est_size").cast("long").alias("est_size"),
            (F.col("est_size") - F.col("true_size")).cast("long").alias("over_by"),
            F.when(F.col("est_size") >= F.col("true_size"), 1)
            .otherwise(0)
            .alias("ge_ok"),
            F.expr("CAST(est_size * 1000000 div true_size AS BIGINT)").alias(
                "ratio_micro"
            ),
        )
    )
