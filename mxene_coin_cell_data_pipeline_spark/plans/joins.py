"""Join queries (``j*``): semi/anti/outer joins, correlated and nested
subqueries, disjunctive and null-safe joins, salted skew aggregation,
parameter grids and dynamic partition pruning.

Importing this module registers its queries; the driver-facing order is
``_registry.ORDER``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ._registry import _ctx, _dsum6, _fsum6_micro, _register


@_register(
    "j01_semi_join",
    """
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1997-01-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority
    """,
    survey="J-family extension: EXISTS decorrelated to a left-semi hash join "
    "(TPC-H Q4 shape; mixed equi + band condition, no row duplication)",
)
def j01_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders from 1996 with at least one line shipped >60 days after
    the order date, counted by priority. EXISTS compiles to a
    left-semi join — probe side never duplicates, so the post-join
    aggregate sees each order once regardless of match multiplicity."""
    orders, li = _ctx(spark, sf_dir, "orders", "lineitem")
    o = orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
    )
    cond = (F.col("l_orderkey") == F.col("o_orderkey")) & (
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    )
    return (
        o.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@_register(
    "j02_anti_join",
    """
    SELECT c_mktsegment,
           count(*) AS n_customers,
           CAST(sum(CAST(round(c_acctbal, 6) AS DECIMAL(38,6)))
                AS DOUBLE) AS sum_acctbal
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
    GROUP BY c_mktsegment
    """,
    survey="J-family extension: NOT EXISTS decorrelated to a left-anti hash "
    "join (TPC-H Q22 shape; the filter pushes into the build side)",
)
def j02_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers who never placed an URGENT order, rolled up by market
    segment. The priority filter is applied to the build side BEFORE
    the anti join — at scale that shrinks the hash table 5×, and the
    anti join itself streams the probe side."""
    cust, orders = _ctx(spark, sf_dir, "customer", "orders")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_custkey"
    )
    return (
        cust.join(urgent, cust["c_custkey"] == urgent["o_custkey"], "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            # 2dp addends → exact decimal accumulation (see _dsum6)
            _dsum6(F.col("c_acctbal")).alias("sum_acctbal"),
        )
    )


@_register(
    "j03_min_per_group",
    """
    WITH first_date AS (
      SELECT o_custkey, min(o_orderdate) AS fd FROM orders GROUP BY o_custkey)
    SELECT o.o_custkey,
           epoch_us(o.o_orderdate) AS first_orderdate_us,
           min(o.o_orderkey) AS first_orderkey,
           min(o.o_totalprice) AS first_totalprice
    FROM orders o JOIN first_date f
      ON o.o_custkey = f.o_custkey AND o.o_orderdate = f.fd
    GROUP BY o.o_custkey, o.o_orderdate
    """,
    survey="J-family extension: correlated scalar-subquery shape (earliest "
    "row per key) decorrelated to agg + self-equi-join on the aggregate "
    "value (TPC-H Q2 shape), deterministic tie-break",
    note="first_totalprice = min over the tied earliest orders (orderkey "
    "min independently) — both engines aggregate the tie set identically, "
    "so the result is total-order deterministic.",
)
def j03_min_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each customer's earliest order (Q2's 'supplier with min cost'
    shape): groupBy-min then join back on (key, min-value). The
    re-aggregation collapses date ties deterministically. The join-back
    is shuffle-on-custkey both sides — co-partitioned, no broadcast
    needed even when the key count is huge."""
    (orders,) = _ctx(spark, sf_dir, "orders")
    first = orders.groupBy(F.col("o_custkey").alias("_fk")).agg(
        F.min("o_orderdate").alias("fd")
    )
    return (
        orders.join(
            first,
            (F.col("o_custkey") == F.col("_fk"))
            & (F.col("o_orderdate") == F.col("fd")),
        )
        .groupBy("o_custkey", "o_orderdate")
        .agg(
            F.min("o_orderkey").alias("first_orderkey"),
            F.min("o_totalprice").alias("first_totalprice"),
        )
        .select(
            "o_custkey",
            F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias(
                "first_orderdate_us"
            ),
            "first_orderkey",
            "first_totalprice",
        )
    )


@_register(
    "j04_outer_custdist",
    """
    SELECT c_count, count(*) AS custdist
    FROM (SELECT c.c_custkey, count(o.o_orderkey) AS c_count
          FROM customer c LEFT OUTER JOIN orders o
            ON c.c_custkey = o.o_custkey
           AND o.o_orderpriority <> '1-URGENT'
          GROUP BY c.c_custkey) per_cust
    GROUP BY c_count
    """,
    survey="J-family extension: left outer join with a non-key residual "
    "predicate + null-skipping count + re-aggregation (TPC-H Q13 shape)",
)
def j04_outer_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of non-urgent order counts per customer. The
    priority predicate is part of the JOIN (not a WHERE — that would
    turn the outer join inner); count(col) skips the NULLs produced
    for orderless customers, putting them in the c_count=0 bin."""
    cust, orders = _ctx(spark, sf_dir, "customer", "orders")
    cond = (cust["c_custkey"] == orders["o_custkey"]) & (
        orders["o_orderpriority"] != "1-URGENT"
    )
    per_cust = (
        cust.join(orders, cond, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@_register(
    "j05_correlated_avg",
    """
    SELECT CAST(sum(CAST(round(l_extendedprice, 6) AS DECIMAL(38,6)))
                AS DOUBLE) / 7.0 AS avg_yearly
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#23' AND p.p_size < 15
      AND l.l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
                          FROM lineitem l2
                          WHERE l2.l_partkey = p.p_partkey)
    """,
    survey="J-family extension: correlated scalar AVG subquery (TPC-H Q17 "
    "shape) decorrelated to a partition window over the joined fact — one "
    "shuffle, no self-join re-scan of lineitem",
)
def j05_correlated_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-quantity revenue below a per-part average threshold. The
    correlated `avg per p_partkey` never re-scans lineitem: after the
    selective part join (broadcast — 25-brand dim filter), EVERY
    lineitem of a qualifying part is present, so a window AVG over
    l_partkey computes the exact correlated threshold in the same
    shuffle that the decorrelated join would need, minus the join.
    l_quantity is integer-valued so the 0.2*avg threshold is exact in
    both engines (no boundary-flip risk on the comparison)."""
    li, part = _ctx(spark, sf_dir, "lineitem", "part")
    pf = part.filter((F.col("p_brand") == "Brand#23") & (F.col("p_size") < 15))
    joined = li.join(F.broadcast(pf), li["l_partkey"] == pf["p_partkey"])
    w = Window.partitionBy("l_partkey")
    thr = (F.lit(0.2) * F.avg("l_quantity").over(w)).alias("_thr")
    return (
        joined.select("l_extendedprice", "l_quantity", thr)
        .filter(F.col("l_quantity") < F.col("_thr"))
        .agg(
            # exact decimal sum (see _dsum6): the cast-to-double sums
            # are bit-identical across engines, and IEEE division of
            # identical doubles is deterministic
            (_dsum6(F.col("l_extendedprice")) / 7.0).alias("avg_yearly")
        )
    )


@_register(
    "j06_disjunctive_join",
    """
    SELECT CAST(sum(CAST(round(l_extendedprice * (1 - l_discount), 6)
                         AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
           count(*) AS n
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
    survey="J-family extension: disjunctive OR-of-ANDs join predicate "
    "(TPC-H Q19 shape) — equi-key extracted so the OR residual rides a "
    "broadcast hash join; the part-side disjunction union is pushed to the "
    "build side scan",
)
def j06_disjunctive_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OR-of-ANDs revenue. The common p_partkey = l_partkey conjunct is
    the join key; the per-branch part filter (union of the three
    part-side conditions) prunes the broadcast build side BEFORE the
    join, and the mixed part×lineitem residual evaluates post-probe —
    Catalyst does exactly this given the single declarative OR, no
    manual union-of-three-joins needed."""
    li, part = _ctx(spark, sf_dir, "lineitem", "part")
    j = li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
    b = F.col("p_brand")
    s = F.col("p_size")
    q = F.col("l_quantity")
    cond = (
        ((b == "Brand#12") & s.between(1, 5) & q.between(1, 11))
        | ((b == "Brand#23") & s.between(1, 10) & q.between(10, 20))
        | ((b == "Brand#34") & s.between(1, 15) & q.between(20, 30))
    )
    return j.filter(cond).agg(
        _dsum6(
            F.col("l_extendedprice") * (1 - F.col("l_discount"))
        ).alias("revenue"),
        F.count(F.lit(1)).alias("n"),
    )


@_register(
    "j07_waiting_supplier",
    """
    SELECT s.s_name, count(*) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
    JOIN orders o ON o.o_orderkey = l1.l_orderkey
    WHERE l1.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
    GROUP BY s.s_name
    """,
    survey="J-family extension: correlated EXISTS + NOT-EXISTS self-joins "
    "(TPC-H Q21 shape, lateness = shipped >90 days after order) decorrelated "
    "to per-order distinct-supplier window sets — one orderkey shuffle "
    "replaces two lineitem self-join re-scans",
)
def j07_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers who were the SOLE late shipper on multi-supplier
    orders. Both correlated subqueries (another supplier exists /
    no OTHER supplier was late) collapse into two distinct-count
    windows over the same l_orderkey partition: n_supp > 1 replaces
    EXISTS, n_late_supp == 1 replaces NOT EXISTS (the current row is
    itself late, so the single late supplier is necessarily it). The
    lineitem is scanned once; the two self-joins of the literal SQL
    never materialize."""
    sup, li, orders = _ctx(spark, sf_dir, "supplier", "lineitem", "orders")
    lo = li.join(
        orders.select("o_orderkey", "o_orderdate"),
        li["l_orderkey"] == F.col("o_orderkey"),
    ).withColumn(
        "_late", F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 90)
    )
    w = Window.partitionBy("l_orderkey")
    lo = lo.select(
        "l_orderkey",
        "l_suppkey",
        "_late",
        F.size(F.collect_set("l_suppkey").over(w)).alias("_n_supp"),
        F.size(
            F.collect_set(F.when(F.col("_late"), F.col("l_suppkey"))).over(w)
        ).alias("_n_late"),
    )
    hits = lo.filter(
        F.col("_late") & (F.col("_n_supp") > 1) & (F.col("_n_late") == 1)
    )
    return (
        hits.join(F.broadcast(sup), hits["l_suppkey"] == sup["s_suppkey"])
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


@_register(
    "j08_salted_skew_agg",
    """
    SELECT event_type, count(*) AS n,
           CAST(sum(CAST(round(value, 6) AS DECIMAL(38,6)))
                AS DOUBLE) AS sum_value,
           min(value) AS min_value, max(value) AS max_value
    FROM events GROUP BY event_type
    """,
    survey="physical-layout extension: salted two-phase aggregation over a "
    "pathologically skewed key (a handful of event_type values = a handful "
    "of reducers in the naive plan; the salt spreads each hot key over 16 "
    "partial reducers, the second phase combines 16 partials per key) — "
    "result provably identical to the direct GROUP BY",
)
def j08_salted_skew_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe rollup by event_type (~5 distinct values over the whole
    fact — the worst-case hot-key layout). count is combined as sum of
    partial counts; min/max/sum combine as themselves. At local scale
    the salt costs one extra (tiny) shuffle; at 1000 executors it is
    the difference between 5 busy reducers and 80."""
    from ..sources.layout import salted_two_phase

    (ev,) = _ctx(spark, sf_dir, "events")
    return salted_two_phase(
        ev,
        ["event_type"],
        {
            "n": F.count(F.lit(1)),
            # decimal partials: the salt-phase partial sums AND the
            # combine-phase re-sum are both exact and associative, so
            # the salted plan is bit-identical to the direct GROUP BY
            # at any n (see _dsum6)
            "sum_value": F.sum(
                F.round(F.col("value"), 6).cast("decimal(38,6)")
            ),
            "min_value": F.min("value"),
            "max_value": F.max("value"),
        },
    ).select(
        "event_type",
        "n",
        F.col("sum_value").cast("double").alias("sum_value"),
        "min_value",
        "max_value",
    )


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
    "j12_nullsafe_join",
    """
    WITH k AS (
      SELECT event_id, user_id,
             CASE WHEN value < 50 THEN NULL
                  ELSE CAST(floor(value / 50) AS BIGINT) END AS band
      FROM events),
    agg AS (SELECT band, count(*) AS band_n FROM k GROUP BY band)
    SELECT k.band, agg.band_n, count(*) AS n_rows,
           count(DISTINCT k.user_id) AS n_users
    FROM k JOIN agg ON k.band IS NOT DISTINCT FROM agg.band
    GROUP BY k.band, agg.band_n
    """,
    survey="J-family extension: null-safe equality join (<=> / IS NOT "
    "DISTINCT FROM) — NULL keys match each other in the hash join instead "
    "of silently dropping (the classic inner-join data-loss trap when the "
    "key is derived and partially NULL); same hash-join plan, NULL hashes "
    "to a regular bucket",
)
def j12_nullsafe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join rows back to their band rollup where band is NULL for low
    values — the NULL band keeps its rows under <=> (an equi-join would
    lose them)."""
    (ev,) = _ctx(spark, sf_dir, "events")
    k = ev.select(
        "event_id",
        "user_id",
        F.when(F.col("value") < 50, F.lit(None).cast("bigint"))
        .otherwise(F.floor(F.col("value") / 50).cast("bigint"))
        .alias("band"),
    )
    agg = (
        k.groupBy("band")
        .agg(F.count(F.lit(1)).alias("band_n"))
        .withColumnRenamed("band", "band_r")
    )
    return (
        k.join(F.broadcast(agg), F.col("band").eqNullSafe(F.col("band_r")))
        .select("band", "band_n", "user_id")
        .groupBy("band", "band_n")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count_distinct(F.col("user_id")).alias("n_users"),
        )
    )


@_register(
    "j13_param_grid",
    """
    SELECT r.r_name, p.g_priority AS o_orderpriority, count(x.o_orderkey) AS n
    FROM region r
    CROSS JOIN (SELECT DISTINCT o_orderpriority AS g_priority FROM orders) p
    LEFT JOIN (
      SELECT o.o_orderkey, o.o_orderpriority, n.n_regionkey
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey) x
      ON x.o_orderpriority = p.g_priority AND x.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, p.g_priority
    """,
    survey="J-family completion: explicit CROSS JOIN (small dim × small "
    "dim parameter grid, every combination present even at zero count — "
    "the dense-report/experiment-grid shape an inner join silently "
    "drops) followed by left joins back onto the fact; the cartesian is "
    "|regions|×|priorities| rows, never fact-sized",
)
def j13_param_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense region × priority grid with order counts (zero-count
    cells retained)."""
    orders, cust, nat, reg = _ctx(
        spark, sf_dir, "orders", "customer", "nation", "region"
    )
    prios = (
        orders.select(F.col("o_orderpriority").alias("g_priority")).distinct()
    )
    grid = reg.crossJoin(prios)
    enriched = (
        orders.join(F.broadcast(cust), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(nat), F.col("n_nationkey") == F.col("c_nationkey"))
        .select(
            F.col("o_orderkey").alias("e_orderkey"),
            F.col("o_orderpriority").alias("e_priority"),
            F.col("n_regionkey").alias("e_regionkey"),
        )
    )
    j = grid.join(
        enriched,
        (F.col("g_priority") == F.col("e_priority"))
        & (F.col("r_regionkey") == F.col("e_regionkey")),
        "left",
    )
    return j.groupBy(
        "r_name", F.col("g_priority").alias("o_orderpriority")
    ).agg(F.count("e_orderkey").alias("n"))


# ---------------------------------------------------------------------------
# j14: dynamic partition pruning (runtime dim-filter -> fact scan prune)
# ---------------------------------------------------------------------------
@_register(
    "j14_dynamic_partition_pruning",
    """
    WITH dim AS (
      SELECT DISTINCT event_type FROM events
      WHERE event_type IN ('click', 'purchase')),
    fact AS (SELECT event_type, user_id, value FROM events)
    SELECT f.event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT f.user_id) AS BIGINT) AS n_users,
           CAST(sum(CAST(floor(f.value * 1000000.0 + 0.5) AS BIGINT))
                AS BIGINT) AS sum_value_micro
    FROM fact f JOIN dim d ON d.event_type = f.event_type
    GROUP BY f.event_type
    """,
    survey="J-family completion: DYNAMIC partition pruning — the fact "
    "side is written hive-partitioned by event_type and joined to a "
    "FILTERED dim whose qualifying keys are only known at runtime, so "
    "Catalyst injects a dynamicpruning subquery into the fact scan's "
    "partition filters: the broadcast of the dim side doubles as the "
    "list of partitions the fact scan is allowed to LIST. src05 pins "
    "the static cousin (a literal predicate in PartitionFilters); this "
    "is the shape that matters on a 100 TB star schema, where the "
    "pruning predicate comes from a dimension filter, not a literal — "
    "without DPP the fact scan reads every partition and the join "
    "discards 3/5 of the I/O after the fact. The plan-shape test pins "
    "the dynamicpruning expression in the scan.",
    note="The dim is derived from the same events table (DISTINCT "
    "event_type under an IN filter) so the oracle needs no second "
    "table; Spark sees it as a genuine runtime-valued relation.",
)
def j14_dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned fact ⋈ filtered dim with runtime partition
    pruning, proven by aggregate equality vs the unpartitioned oracle."""
    import os
    import tempfile

    (events,) = _ctx(spark, sf_dir, "events")
    tmp = os.path.join(tempfile.mkdtemp(prefix="j14_"), "events_part")
    events.write.mode("overwrite").partitionBy("event_type").parquet(tmp)
    fact = spark.read.parquet(tmp)
    dim = (
        events.filter(F.col("event_type").isin("click", "purchase"))
        .select("event_type")
        .distinct()
    )
    return (
        fact.join(dim.hint("broadcast"), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.sum(
                F.floor(F.col("value") * F.lit(1000000.0) + F.lit(0.5)).cast(
                    "long"
                )
            )
            .cast("long")
            .alias("sum_value_micro"),
        )
    )
