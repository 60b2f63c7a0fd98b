"""Window queries (``w*``): ranking, pivot/unpivot, rolling and range
frames, navigation functions, rollup, cube and grouping sets.

Importing this module registers its queries; the driver-facing order is
``_registry.ORDER``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ._registry import _ctx, _fsum6, _register


@_register(
    "w01_rank_per_group",
    """
    SELECT * FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders)
    WHERE rn <= 3
    """,
    survey="O2 window-rank (per-group top-k)",
)
def w01_rank_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = _ctx(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )


@_register(
    "w07_unpivot",
    """
    WITH a AS (
      SELECT l_returnflag,
             sum(l_quantity) AS sum_qty,
             CAST(sum(CAST(floor(l_extendedprice * 1000000.0 + 0.5) AS BIGINT))
                  AS DOUBLE) / 1000000.0 AS sum_price,
             CAST(sum(CAST(floor(l_discount * 1000000.0 + 0.5) AS BIGINT))
                  AS DOUBLE) / CAST(count(l_discount) AS DOUBLE) / 1000000.0
               AS avg_disc
      FROM lineitem GROUP BY l_returnflag)
    SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM a
    UNION ALL
    SELECT l_returnflag, 'sum_price', sum_price FROM a
    UNION ALL
    SELECT l_returnflag, 'avg_disc', avg_disc FROM a
    """,
    survey="P-family extension: UNPIVOT wide→long (df.unpivot — one Expand "
    "pass over the input, the inverse of w02's pivot) over a grouped "
    "aggregate",
)
def w07_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-flag metrics unpivoted to (key, metric, value) long format —
    the feature-store/metrics-table interchange shape. Spark plans one
    Expand (each input row emitted once per metric), not N self-unions:
    the input aggregate is computed once however many metrics unpivot."""
    (li,) = _ctx(spark, sf_dir, "lineitem")
    # exact micro-unit sums (see _registry._fsum6): the r05 100x sweep
    # caught the raw double sum/avg drifting once per-flag row counts
    # hit 15M — sum_qty's addends are integers (exact at any order)
    # but sum_price/avg_disc need order-independent accumulation
    micro = lambda c: F.sum(  # noqa: E731
        F.floor(F.col(c) * F.lit(1000000.0) + F.lit(0.5)).cast("long")
    )
    agg = li.groupBy("l_returnflag").agg(
        F.sum("l_quantity").alias("sum_qty"),
        (micro("l_extendedprice").cast("double") / F.lit(1000000.0)).alias(
            "sum_price"
        ),
        (
            micro("l_discount").cast("double")
            / F.count("l_discount").cast("double")
            / F.lit(1000000.0)
        ).alias("avg_disc"),
    )
    return agg.unpivot(
        ["l_returnflag"],
        ["sum_qty", "sum_price", "avg_disc"],
        "metric",
        "value",
    )


@_register(
    "w02_pivot_step_counts",
    """
    WITH ts AS (
      SELECT (epoch_us(ts) // 86400000000) // 7 AS cycle_index,
             CASE WHEN event_type IN ('purchase','view') THEN 'CC_DIS'
                  WHEN event_type IN ('click','signup') THEN 'CC_CHG'
                  ELSE 'REST' END AS step_type
      FROM events)
    SELECT cycle_index,
           CAST(sum(CASE WHEN step_type = 'CC_CHG' THEN 1 ELSE 0 END) AS BIGINT)
             AS CC_CHG,
           CAST(sum(CASE WHEN step_type = 'CC_DIS' THEN 1 ELSE 0 END) AS BIGINT)
             AS CC_DIS,
           CAST(sum(CASE WHEN step_type = 'REST'   THEN 1 ELSE 0 END) AS BIGINT)
             AS REST
    FROM ts GROUP BY cycle_index
    """,
    survey="pivot: step_type distribution per cycle (groupBy().pivot() with "
    "explicit value list → no extra pass to discover categories)",
)
def w02_pivot_step_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    (ev,) = _ctx(spark, sf_dir, "events")
    step_type = (
        F.when(F.col("event_type").isin("purchase", "view"), "CC_DIS")
        .when(F.col("event_type").isin("click", "signup"), "CC_CHG")
        .otherwise("REST")
    )
    return (
        ev.select(
            F.expr("(unix_micros(ts) div 86400000000) div 7").alias("cycle_index"),
            step_type.alias("step_type"),
        )
        .groupBy("cycle_index")
        .pivot("step_type", ["CC_CHG", "CC_DIS", "REST"])
        .count()
        .na.fill(0, ["CC_CHG", "CC_DIS", "REST"])
    )


@_register(
    "w03_rolling_capacity",
    """
    WITH weekly AS (
      SELECT user_id,
             (epoch_us(ts) // 86400000000) // 7 AS week,
             CAST(sum(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT))
                  AS DOUBLE) / 1000000.0 AS wsum
      FROM events WHERE event_type = 'purchase'
      GROUP BY user_id, week)
    SELECT user_id, week, wsum,
           avg(wsum) OVER (PARTITION BY user_id ORDER BY week
                           ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
             AS wsum_ma4
    FROM weekly
    """,
    survey="A4-family rolling frame: 4-week moving average per key "
    "(rowsBetween(-3, 0) window over a keyed aggregate)",
)
def w03_rolling_capacity(spark: SparkSession, sf_dir: str) -> DataFrame:
    (ev,) = _ctx(spark, sf_dir, "events")
    weekly = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(
            "user_id",
            F.expr("(unix_micros(ts) div 86400000000) div 7").alias("week"),
        )
        # _fsum6: a raw double sum drifted in the last place at 100x —
        # Spark's partial-agg split of a group's addends vs DuckDB's
        # sequential order. Exact micro-units also make the downstream
        # window avg bit-stable: 4 exact 1e-6-grid doubles sum exactly.
        .agg(_fsum6(F.col("value")).alias("wsum"))
    )
    w = Window.partitionBy("user_id").orderBy("week").rowsBetween(-3, 0)
    return weekly.select(
        "user_id", "week", "wsum", F.avg("wsum").over(w).alias("wsum_ma4")
    )


@_register(
    "w04_rollup",
    """
    SELECT l_returnflag, l_linestatus,
           grouping(l_returnflag) AS g_rf,
           grouping(l_linestatus) AS g_ls,
           sum(l_quantity) AS sum_qty,
           count(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    survey="A-family extension: ROLLUP hierarchical grouping sets with "
    "grouping() indicators (one Expand + one aggregate, not N passes)",
)
def w04_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity totals at (flag, status), per-flag subtotal, and grand
    total in ONE pass: rollup plans a single Expand node feeding one
    hash aggregate — the data is read once however many grouping
    levels are requested. grouping() disambiguates real NULL keys
    from subtotal rows."""
    (li,) = _ctx(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.grouping("l_returnflag").cast("long").alias("g_rf"),
        F.grouping("l_linestatus").cast("long").alias("g_ls"),
        F.sum("l_quantity").alias("sum_qty"),
        F.count(F.lit(1)).alias("n"),
    )


@_register(
    "w05_ntile_cume",
    """
    SELECT o_orderkey, o_custkey,
           ntile(4)       OVER w AS quartile,
           cume_dist()    OVER w AS cd,
           percent_rank() OVER w AS pr
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)
    """,
    survey="O-family extension: distribution window functions (ntile / "
    "cume_dist / percent_rank) over one shared partitioning",
    note="Total order (price, orderkey) makes all three deterministic; "
    "cd/pr are exact small-integer ratios — bit-identical across engines.",
)
def w05_ntile_cume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer spend quartiles + distribution stats. All three
    functions share ONE window spec, so Spark sorts each partition
    once and evaluates them in a single Window node — adding functions
    to the same spec is free; a second spec would be a second sort."""
    (orders,) = _ctx(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.asc("o_totalprice"), F.asc("o_orderkey")
    )
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.ntile(4).over(w).alias("quartile"),
        F.cume_dist().over(w).alias("cd"),
        F.percent_rank().over(w).alias("pr"),
    )


@_register(
    "w06_range_frame",
    """
    SELECT event_id, user_id, epoch_us(ts) AS ts_us,
           count(*)   OVER w AS n_1h,
           sum(value) OVER w AS sum_1h
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                 RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
    """,
    survey="O-family extension: RANGE window frame over event-time "
    "microseconds (value-based frame bounds, peers included) — the window "
    "formulation of e03's band join: one sort per key partition, no join, "
    "when every row needs its trailing-window aggregate",
)
def w06_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-1h event count/sum per user at every event — RANGE
    frame on the microsecond axis. Use this shape when all rows need
    the rolling value; use e03's bucketed band join when only sparse
    probes do (no per-key sort of the full stream)."""
    (ev,) = _ctx(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(us)
        .rangeBetween(-3_600_000_000, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        us.alias("ts_us"),
        F.count(F.lit(1)).over(w).alias("n_1h"),
        F.sum("value").over(w).alias("sum_1h"),
    )


@_register(
    "w08_grouping_sets",
    """
    SELECT l_returnflag, l_linestatus,
           grouping(l_returnflag) AS g_rf,
           grouping(l_linestatus) AS g_ls,
           sum(l_quantity) AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus),
                            (l_returnflag, l_linestatus))
    """,
    survey="A-family extension: arbitrary (non-hierarchical) GROUPING SETS "
    "via the engine's SQL surface — one Expand + one aggregate for any set "
    "combination, complementing w04's ROLLUP",
)
def w08_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-flag, per-status, and per-(flag,status) totals in one pass —
    grouping-set combinations ROLLUP can't express (it only nests).
    Runs through spark.sql: the engine exposes the full SQL surface
    over the same tables the DataFrame API uses."""
    (li,) = _ctx(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("_w08_lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               grouping(l_returnflag) AS g_rf,
               grouping(l_linestatus) AS g_ls,
               sum(l_quantity) AS sum_qty
        FROM _w08_lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus),
                                (l_returnflag, l_linestatus))
        """
    ).select(
        "l_returnflag",
        "l_linestatus",
        F.col("g_rf").cast("long").alias("g_rf"),
        F.col("g_ls").cast("long").alias("g_ls"),
        "sum_qty",
    )


@_register(
    "w09_cube",
    """
    SELECT o_orderstatus, o_orderpriority,
           grouping(o_orderstatus) AS g_status,
           grouping(o_orderpriority) AS g_prio,
           count(*) AS n, sum(o_totalprice) AS sum_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    survey="A-family extension: CUBE grouping sets (all 2^k dimension "
    "subsets in one Expand + one aggregate pass — completes the "
    "ROLLUP (w04) / GROUPING SETS (w08) family) with grouping() "
    "indicators disambiguating NULL-as-total from NULL data",
)
def w09_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All four aggregation granularities of status × priority in one
    pass: Expand replicates each row once per grouping set BEFORE the
    exchange, so partial aggregation still combines map-side — one
    shuffle regardless of how many sets the cube implies."""
    (orders,) = _ctx(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping("o_orderstatus").alias("g_status"),
            F.grouping("o_orderpriority").alias("g_prio"),
            F.count(F.lit(1)).alias("n"),
            F.sum("o_totalprice").alias("sum_price"),
        )
    )


@_register(
    "w10_navigation_functions",
    """
    SELECT user_id, event_id, epoch_us(ts) AS ts_us,
           lead(value, 1, -1.0) OVER w AS next_value,
           lag(value, 2, 0.0) OVER w AS prev2_value,
           nth_value(value, 3) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS third_value,
           last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS last_purchase_value
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    survey="O-family completion: navigation window functions — lead/lag "
    "with explicit defaults, nth_value over a running frame, and "
    "last_value IGNORE NULLS as a conditional carry-forward (the "
    "last-observation pattern under one shared partition sort)",
)
def w10_navigation_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All four navigation functions over ONE (user, time) sort — the
    planner runs a single window exchange+sort for the lot."""
    (ev,) = _ctx(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return ev.select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        F.lead("value", 1, -1.0).over(w).alias("next_value"),
        F.lag("value", 2, 0.0).over(w).alias("prev2_value"),
        F.nth_value("value", 3).over(run).alias("third_value"),
        F.last(
            F.when(F.col("event_type") == "purchase", F.col("value")),
            ignorenulls=True,
        ).over(run).alias("last_purchase_value"),
    )
