"""Set-operation and UDTF queries (``u*``): union, intersect/except, bag
semantics and a Python table-valued function.

Importing this module registers its queries; the driver-facing order is
``_registry.ORDER``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ._registry import _ctx, _register


@_register(
    "u01_union_slices",
    """
    SELECT o_orderkey, o_totalprice, 'high' AS slice
    FROM orders WHERE o_totalprice > 400000
    UNION ALL
    SELECT o_orderkey, o_totalprice, 'urgent' AS slice
    FROM orders WHERE o_orderpriority = '1-URGENT'
    """,
    survey="U1 (unionByName collation)",
)
def u01_union_slices(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = _ctx(spark, sf_dir, "orders")
    a = (
        orders.filter(F.col("o_totalprice") > 400000)
        .select("o_orderkey", "o_totalprice")
        .withColumn("slice", F.lit("high"))
    )
    b = (
        orders.filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey", "o_totalprice")
        .withColumn("slice", F.lit("urgent"))
    )
    return a.unionByName(b)


@_register(
    "u02_intersect_except",
    """
    SELECT c_custkey FROM (
      (SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'F'
       INTERSECT
       SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
      EXCEPT
      SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
    """,
    survey="U-family extension: INTERSECT + EXCEPT set semantics "
    "(hash-aggregate distinct + null-safe left-semi/anti under the hood)",
)
def u02_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with both a finished and an open order but no urgent
    one: INTERSECT then EXCEPT, each a distinct-then-filter — Spark
    plans them as aggregate + semi/anti joins; set (not bag) semantics
    match ANSI INTERSECT/EXCEPT."""
    (orders,) = _ctx(spark, sf_dir, "orders")
    fin = orders.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("c_custkey")
    )
    opn = orders.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("c_custkey")
    )
    urg = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("c_custkey")
    )
    return fin.intersect(opn).exceptAll(urg.distinct())


@_register(
    "u03_udtf_sentences",
    """
    WITH seg AS (
      SELECT doc_id, i, trim(parts[i]) AS s
      FROM (SELECT doc_id,
                   regexp_split_to_array(text, '[.!?]+') AS parts
            FROM documents) t,
           LATERAL (SELECT unnest(generate_series(1, len(parts))) AS i) u
      WHERE trim(parts[i]) <> ''),
    numbered AS (
      SELECT doc_id,
             row_number() OVER (PARTITION BY doc_id ORDER BY i) AS sent_idx,
             s
      FROM seg)
    SELECT doc_id, sent_idx,
           length(array_to_string(
             regexp_extract_all(lower(s), '[a-z0-9]+'), ' ')) AS norm_len,
           len(regexp_extract_all(lower(s), '[a-z0-9]+')) AS n_words
    FROM numbered
    """,
    survey="U-family extension: Python UDTF (one row in → many typed rows "
    "out through a LATERAL table function — Spark 4's user-defined table "
    "function surface; the per-row generator form complements m03's "
    "Arrow-batched mapInPandas one-to-many) splitting documents into "
    "numbered sentences with token stats",
)
def u03_udtf_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence segmentation via a registered UDTF applied LATERAL per
    document row. UDTFs run row-at-a-time Python — correct for
    low-fanout structural expansion like this; for byte-heavy decode
    fanout the Arrow-batched mapInPandas (m03) is the fast shape."""
    import re

    from pyspark.sql.functions import udtf

    @udtf(returnType="sent_idx int, norm_len int, n_words int")
    class SplitSentences:
        def eval(self, text: str):
            if text is None:
                return
            idx = 0
            for seg in re.split(r"[.!?]+", text):
                s = seg.strip()
                if not s:
                    continue
                idx += 1
                toks = re.findall(r"[a-z0-9]+", s.lower())
                yield idx, len(" ".join(toks)), len(toks)

    (docs,) = _ctx(spark, sf_dir, "documents")
    spark.udtf.register("split_sentences", SplitSentences)
    docs.createOrReplaceTempView("_u03_docs")
    return spark.sql(
        "SELECT doc_id, s.sent_idx, s.norm_len, s.n_words "
        "FROM _u03_docs, LATERAL split_sentences(text) s"
    )


@_register(
    "u04_bag_set_ops",
    """
    WITH a AS (SELECT l_orderkey, l_partkey FROM lineitem
               WHERE l_quantity >= 10),
    b AS (SELECT l_orderkey, l_partkey FROM lineitem
          WHERE l_returnflag = 'R')
    SELECT 'except_all' AS op, count(*) AS n FROM
      (SELECT * FROM a EXCEPT ALL SELECT * FROM b)
    UNION ALL
    SELECT 'intersect_all', count(*) FROM
      (SELECT * FROM a INTERSECT ALL SELECT * FROM b)
    """,
    survey="U-family completion: EXCEPT ALL / INTERSECT ALL bag "
    "semantics (multiplicity-preserving difference/intersection via "
    "count-matching hash aggregate — duplicates survive per the SQL "
    "standard, unlike u02's set forms which collapse them); the "
    "reconciliation primitive for row-level table diffs",
)
def u04_bag_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag difference and intersection between two overlapping lineitem
    projections (duplicates on (orderkey, partkey) preserved)."""
    (li,) = _ctx(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_quantity") >= 10).select("l_orderkey", "l_partkey")
    b = li.filter(F.col("l_returnflag") == "R").select("l_orderkey", "l_partkey")
    return (
        a.exceptAll(b)
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("except_all").alias("op"), "n")
        .unionByName(
            a.intersectAll(b)
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.lit("intersect_all").alias("op"), "n")
        )
    )


@_register(
    "u05_bag_counts_derived",
    """
    WITH a AS (SELECT l_orderkey, l_partkey FROM lineitem
               WHERE l_quantity >= 10),
    b AS (SELECT l_orderkey, l_partkey FROM lineitem
          WHERE l_returnflag = 'R')
    SELECT 'except_all' AS op, count(*) AS n FROM
      (SELECT * FROM a EXCEPT ALL SELECT * FROM b)
    UNION ALL
    SELECT 'intersect_all', count(*) FROM
      (SELECT * FROM a INTERSECT ALL SELECT * FROM b)
    """,
    survey="U-family scale path: bag-op multiplicities WITHOUT row "
    "replication — per-key counts on each side, one full-outer join, "
    "Σ greatest(cnt_a−cnt_b, 0) / Σ least(cnt_a, cnt_b); verified "
    "against the SAME EXCEPT ALL / INTERSECT ALL oracle as u04, proving "
    "the derivation exact while replacing u04's 4 wide shuffles + "
    "count-replication Generate (12× superlinear at 10×, see SCALING) "
    "with one narrow count shuffle per side",
)
def u05_bag_counts_derived(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production formulation of u04's result: multiplicity algebra
    on grouped counts instead of materializing replicated rows."""
    (li,) = _ctx(spark, sf_dir, "lineitem")
    keys = ["l_orderkey", "l_partkey"]
    ca = (
        li.filter(F.col("l_quantity") >= 10)
        .groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("ca"))
    )
    cb = (
        li.filter(F.col("l_returnflag") == "R")
        .groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("cb"))
    )
    j = ca.join(cb, keys, "full_outer").select(
        F.coalesce(F.col("ca"), F.lit(0)).alias("ca"),
        F.coalesce(F.col("cb"), F.lit(0)).alias("cb"),
    )
    return (
        j.agg(F.sum(F.greatest(F.col("ca") - F.col("cb"), F.lit(0))).alias("n"))
        .select(F.lit("except_all").alias("op"), "n")
        .unionByName(
            j.agg(F.sum(F.least(F.col("ca"), F.col("cb"))).alias("n")).select(
                F.lit("intersect_all").alias("op"), "n"
            )
        )
    )
