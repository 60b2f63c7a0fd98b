"""TPC-H queries (``q*``) over the star schema.

Importing this module registers its queries; the driver-facing order is
``_registry.ORDER``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ._registry import _ctx, _dsum6, _fsum6, _register


@_register(
    "q01_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           sum_qty, sum_base_price, sum_disc_price, sum_charge,
           sum_qty        / count_order AS avg_qty,
           sum_base_price / count_order AS avg_price,
           sum_disc       / count_order AS avg_disc,
           count_order
    FROM (
      SELECT l_returnflag, l_linestatus,
             CAST(sum(CAST(floor(l_quantity * 1000000.0 + 0.5) AS BIGINT))
                  AS DOUBLE) / 1000000.0                          AS sum_qty,
             CAST(sum(CAST(floor(l_extendedprice * 1000000.0 + 0.5)
                           AS BIGINT)) AS DOUBLE) / 1000000.0     AS sum_base_price,
             CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount)
                                 * 1000000.0 + 0.5)
                           AS BIGINT)) AS DOUBLE) / 1000000.0     AS sum_disc_price,
             CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount)
                                 * (1 + l_tax) * 1000000.0 + 0.5)
                           AS BIGINT)) AS DOUBLE) / 1000000.0     AS sum_charge,
             CAST(sum(CAST(floor(l_discount * 1000000.0 + 0.5) AS BIGINT))
                  AS DOUBLE) / 1000000.0                          AS sum_disc,
             count(*)                                             AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      GROUP BY l_returnflag, l_linestatus)
    """,
    survey="S4 A1 O2 (flagship: TPC-H Q1 shape)",
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All money sums accumulate exactly in int64 micro-units (_fsum6):
    every addend has <= 6 intrinsic decimals (2dp price x 2dp discount x
    2dp tax), so floor(x*1e6+0.5) recovers the exact integer per row and
    the sum is exact and associative at ANY scale factor — the plain
    double sum verified green at sf0.1 flipped its last ulp at 100x
    (sum_charge ~2.8e11), and even _dsum6's decimal->double final cast
    diverged there (DuckDB double-rounds int128/1e6). The avgs divide
    the identically-derived double sum by the count (one IEEE division
    on identical operands in both engines) instead of avg()'s own
    order-dependent double accumulation."""
    (li,) = _ctx(spark, sf_dir, "lineitem")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    cnt = F.col("count_order")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _fsum6(F.col("l_quantity")).alias("sum_qty"),
            _fsum6(F.col("l_extendedprice")).alias("sum_base_price"),
            _fsum6(disc).alias("sum_disc_price"),
            _fsum6(disc * (1 + F.col("l_tax"))).alias("sum_charge"),
            _fsum6(F.col("l_discount")).alias("sum_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .select(
            "l_returnflag",
            "l_linestatus",
            "sum_qty",
            "sum_base_price",
            "sum_disc_price",
            "sum_charge",
            (F.col("sum_qty") / cnt).alias("avg_qty"),
            (F.col("sum_base_price") / cnt).alias("avg_price"),
            (F.col("sum_disc") / cnt).alias("avg_disc"),
            "count_order",
        )
    )


@_register(
    "q03_top_revenue_orders",
    """
    SELECT o_orderkey,
           CAST(sum(CAST(round(l_extendedprice * (1 - l_discount), 6)
                         AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
           epoch_us(o_orderdate)                   AS orderdate_us
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
    GROUP BY o_orderkey, o_orderdate
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """,
    survey="J1-shape S4 A1 O3 (TPC-H Q3 shape; broadcast dim join)",
)
def q03_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust, orders, li = _ctx(spark, sf_dir, "customer", "orders", "lineitem")
    return (
        li.join(
            orders.join(
                F.broadcast(cust.filter(F.col("c_mktsegment") == "BUILDING")),
                F.col("o_custkey") == F.col("c_custkey"),
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_orderkey", "o_orderdate")
        .agg(
            # addends have exactly 4 intrinsic decimals (2dp price ×
            # 2dp discount): the per-row round recovers the exact value
            # and the decimal accumulation is exact at ANY n — see _dsum6
            _dsum6(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue")
        )
        .select(
            "o_orderkey",
            "revenue",
            F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("orderdate_us"),
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


@_register(
    "q05_nation_volume",
    """
    SELECT n_name,
           CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount)
                               * 1000000.0 + 0.5) AS BIGINT))
                AS DOUBLE) / 1000000.0 AS revenue,
           count(*) AS n_items
    FROM region JOIN nation   ON n_regionkey = r_regionkey
                JOIN customer ON c_nationkey = n_nationkey
                JOIN orders   ON o_custkey = c_custkey
                JOIN lineitem ON l_orderkey = o_orderkey
    WHERE r_name IN ('ASIA', 'EUROPE')
    GROUP BY n_name
    """,
    survey="J1-shape S4 A1 (snowflake join chain; broadcast dims)",
)
def q05_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    region, nation, cust, orders, li = _ctx(
        spark, sf_dir, "region", "nation", "customer", "orders", "lineitem"
    )
    dims = (
        cust.join(
            F.broadcast(
                nation.join(
                    F.broadcast(region.filter(F.col("r_name").isin("ASIA", "EUROPE"))),
                    F.col("n_regionkey") == F.col("r_regionkey"),
                )
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
    )
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(dims), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("n_name")
        .agg(
            # nation-level totals pass 1e11 at 100x — exact micro-unit
            # accumulation (_fsum6), not an order-dependent double sum
            _fsum6(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@_register(
    "q18_having",
    """
    SELECT o.o_orderkey, o.o_custkey, o.o_totalprice, t.sum_qty
    FROM orders o
    JOIN (SELECT l_orderkey, sum(l_quantity) AS sum_qty
          FROM lineitem GROUP BY l_orderkey
          HAVING sum(l_quantity) > 200) t
      ON o.o_orderkey = t.l_orderkey
    """,
    survey="A-family extension: HAVING (post-aggregation filter) + join back "
    "to the fact's parent (TPC-H Q18 shape)",
)
def q18_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-volume orders: aggregate lineitem per order, filter ON THE
    AGGREGATE (having), then hash-join the survivors back to orders.
    The having filter runs before the join, so the join build side is
    only the qualifying keys — the selective side drives the plan."""
    orders, li = _ctx(spark, sf_dir, "orders", "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 200)
    )
    return orders.join(
        big, orders["o_orderkey"] == big["l_orderkey"]
    ).select("o_orderkey", "o_custkey", "o_totalprice", "sum_qty")


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


@_register(
    "q07_nation_pair_volume",
    """
    SELECT n1.n_name AS cust_nation, n2.n_name AS supp_nation,
           year(l.l_shipdate) AS ship_year,
           CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount), 6)
                         AS DECIMAL(38,6))) AS DOUBLE) AS volume,
           count(*) AS n
    FROM lineitem l
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n1  ON n1.n_nationkey = c.c_nationkey
    JOIN nation n2  ON n2.n_nationkey = s.s_nationkey
    WHERE n1.n_name < n2.n_name
      AND l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY 1, 2, 3
    """,
    survey="J-family extension: bidirectional nation-pair trade volume "
    "(TPC-H Q7 shape) — the SAME dimension broadcast twice under two "
    "aliases (customer-side and supplier-side nation), an asymmetric "
    "pair filter, and a year rollup; one fact shuffle, four broadcasts",
)
def q07_nation_pair_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trade volume between nation pairs by ship year. nation enters
    the plan twice (aliased) — both copies broadcast; customer and
    supplier broadcast too, so the only shuffle is lineitem⋈orders and
    the final pair-year aggregate."""
    li, orders, cust, sup, nat = _ctx(
        spark, sf_dir, "lineitem", "orders", "customer", "supplier", "nation"
    )
    n1 = nat.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("cust_nation")
    )
    n2 = nat.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation")
    )
    j = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(cust), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(sup), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n1), F.col("n1_key") == F.col("c_nationkey"))
        .join(F.broadcast(n2), F.col("n2_key") == F.col("s_nationkey"))
        .filter(F.col("cust_nation") < F.col("supp_nation"))
    )
    return j.groupBy(
        "cust_nation", "supp_nation", F.year("l_shipdate").alias("ship_year")
    ).agg(
        _dsum6(
            F.col("l_extendedprice") * (1 - F.col("l_discount"))
        ).alias("volume"),
        F.count(F.lit(1)).alias("n"),
    )


@_register(
    "q06_forecast_revenue",
    """
    SELECT CAST(sum(CAST(floor(l_extendedprice * l_discount * 1000000.0 + 0.5)
                         AS BIGINT)) AS DOUBLE) / 1000000.0 AS revenue,
           count(*) AS n
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    survey="TPC-H Q6 shape: pure scan-filter-aggregate — every predicate "
    "pushes to the parquet scan (PushedFilters on shipdate/discount/"
    "quantity), zero joins, one partial+final agg; the I/O-bound floor of "
    "the benchmark suite",
)
def q06_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-revenue-change: the canonical pushdown showcase."""
    (li,) = _ctx(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            # _fsum6: raw double sum drifted on the last digit at 100x
            # (60M-row partial-agg tree vs DuckDB's order — measured
            # 3855839400.2000766 vs ...076); micro-unit int64 is exact
            # and engine-identical at any layout. Total ~3.9e15 micro
            # at 100x — 2400x int64 headroom.
            _fsum6(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@_register(
    "q08_market_share",
    """
    WITH vol AS (
      SELECT year(o.o_orderdate) AS yr,
             l.l_extendedprice * (1 - l.l_discount) AS volume,
             n2.n_name AS supp_nation
      FROM lineitem l
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n1  ON n1.n_nationkey = c.c_nationkey
      JOIN nation n2  ON n2.n_nationkey = s.s_nationkey
      JOIN region r   ON r.r_regionkey = n1.n_regionkey
      WHERE r.r_name = 'ASIA'
        AND o.o_orderdate >= TIMESTAMP '1996-01-01'
        AND o.o_orderdate < TIMESTAMP '1998-01-01')
    SELECT yr,
           sum(CASE WHEN supp_nation = 'NATION_3'
                    THEN CAST(floor(volume * 1000000.0 + 0.5) AS BIGINT)
                    ELSE 0 END)
             / sum(CAST(floor(volume * 1000000.0 + 0.5) AS BIGINT))
             AS mkt_share,
           count(*) AS n
    FROM vol GROUP BY yr
    """,
    survey="TPC-H Q8 shape: market-share ratio — snowflake join (two "
    "nation aliases + region filter on the customer side), then a "
    "CASE-routed share-of-total per year in ONE aggregate; the region "
    "filter prunes the broadcast dim chain before it touches the fact",
)
def q08_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NATION_3's share of ASIA-customer trade volume per order year."""
    li, orders, cust, sup, nat, reg = _ctx(
        spark, sf_dir, "lineitem", "orders", "customer", "supplier", "nation", "region"
    )
    n1 = nat.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region")
    )
    n2 = nat.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation")
    )
    j = (
        li.join(
            orders.filter(
                (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
            ),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .join(F.broadcast(cust), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(sup), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n1), F.col("n1_key") == F.col("c_nationkey"))
        .join(F.broadcast(n2), F.col("n2_key") == F.col("s_nationkey"))
        .join(
            F.broadcast(reg.filter(F.col("r_name") == "ASIA")),
            F.col("r_regionkey") == F.col("n1_region"),
        )
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    # ratio of exact int64 micro-unit sums (_fsum6_micro): the share is
    # ONE long/long division on identical operands in both engines —
    # a ratio of order-dependent double sums flipped at 100x
    vol_micro = F.floor(vol * F.lit(1000000.0) + F.lit(0.5)).cast("long")
    return j.groupBy(F.year("o_orderdate").alias("yr")).agg(
        (
            F.sum(F.when(F.col("supp_nation") == "NATION_3", vol_micro).otherwise(F.lit(0)))
            / F.sum(vol_micro)
        ).alias("mkt_share"),
        F.count(F.lit(1)).alias("n"),
    )


@_register(
    "q09_product_profit",
    """
    SELECT n.n_name AS nation, year(o.o_orderdate) AS yr,
           CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount)
               - 0.01 * p.p_retailprice * l.l_quantity, 6)
               AS DECIMAL(38,6))) AS DOUBLE) AS profit
    FROM lineitem l
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN part p     ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n   ON n.n_nationkey = s.s_nationkey
    WHERE contains(lower(p.p_name), 'a')
    GROUP BY 1, 2
    """,
    survey="TPC-H Q9 shape: product-type profit — substring filter on the "
    "part dim pushed into the broadcast build side, fact joined to three "
    "dims + orders, profit expression mixing columns of two tables inside "
    "the aggregate, nation×year rollup (the reference has no partsupp "
    "table; supplycost is modeled as a retail-price fraction)",
)
def q09_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profit by supplier nation × order year over name-matched parts."""
    li, orders, part, sup, nat = _ctx(
        spark, sf_dir, "lineitem", "orders", "part", "supplier", "nation"
    )
    j = (
        li.join(
            F.broadcast(part.filter(F.lower(F.col("p_name")).contains("a"))),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(sup), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(nat), F.col("n_nationkey") == F.col("s_nationkey"))
    )
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.lit(
        0.01
    ) * F.col("p_retailprice") * F.col("l_quantity")
    return j.groupBy(
        F.col("n_name").alias("nation"), F.year("o_orderdate").alias("yr")
    ).agg(_dsum6(profit).alias("profit"))


@_register(
    "q16_supplier_cnt",
    """
    SELECT p.p_brand, p.p_size,
           count(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand <> 'Brand#11'
      AND p.p_size IN (1, 4, 9, 14, 19, 24, 29, 34)
      AND l.l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p.p_brand, p.p_size
    """,
    survey="TPC-H Q16 shape: NOT IN exclusion subquery (planned as a "
    "null-aware anti join against the blacklist) + count(DISTINCT) per "
    "group over the surviving join — the distinct expands map-side under "
    "partial aggregation, never a second scan",
)
def q16_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct suppliers per (brand, size) excluding negative-balance
    suppliers. The NOT IN blacklist (no NULL keys by construction)
    becomes a broadcast left-anti join; count_distinct rides the same
    (brand, size) shuffle."""
    li, part, sup = _ctx(spark, sf_dir, "lineitem", "part", "supplier")
    bad = sup.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        li.join(
            F.broadcast(bad), li["l_suppkey"] == bad["s_suppkey"], "left_anti"
        )
        .join(
            F.broadcast(
                part.filter(
                    (F.col("p_brand") != "Brand#11")
                    & F.col("p_size").isin(1, 4, 9, 14, 19, 24, 29, 34)
                )
            ),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        .groupBy("p_brand", "p_size")
        .agg(F.count_distinct(F.col("l_suppkey")).alias("supplier_cnt"))
    )
