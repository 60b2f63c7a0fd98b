"""Cast and expression queries (``c*``): casts, label mapping, substring
filters, JSON extraction, variant shredding, calendar rollups and map
columns.

Importing this module registers its queries; the driver-facing order is
``_registry.ORDER``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ._registry import _ctx, _dsum6, _register


@_register(
    "c05_c06_labels",
    """
    SELECT event_id,
           CASE upper(event_type)
             WHEN 'PURCHASE' THEN 'CC_DIS' WHEN 'VIEW' THEN 'CC_CHG'
             WHEN 'ERROR' THEN 'REST' ELSE upper(event_type) END AS label,
           CASE WHEN value < 50 THEN 'LOW' WHEN value > 150 THEN 'HIGH'
                ELSE 'MID' END AS band
    FROM events
    """,
    survey="C5 C6 (dictionary replace with passthrough + sign-style conditional)",
)
def c05_c06_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    (ev,) = _ctx(spark, sf_dir, "events")
    up = F.upper(F.col("event_type"))
    mapping = F.create_map(
        F.lit("PURCHASE"), F.lit("CC_DIS"),
        F.lit("VIEW"), F.lit("CC_CHG"),
        F.lit("ERROR"), F.lit("REST"),
    )
    return ev.select(
        "event_id",
        F.coalesce(F.element_at(mapping, up), up).alias("label"),
        F.when(F.col("value") < 50, "LOW")
        .when(F.col("value") > 150, "HIGH")
        .otherwise("MID")
        .alias("band"),
    )


@_register(
    "c07_substring_filter",
    """
    SELECT event_id, user_id, event_type
    FROM events WHERE contains(event_type, 'rror') OR contains(event_type, 'chase')
    """,
    survey="C7 F1 (NULL-safe substring predicate filter)",
)
def c07_substring_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    (ev,) = _ctx(spark, sf_dir, "events")
    pred = F.coalesce(
        F.col("event_type").contains("rror") | F.col("event_type").contains("chase"),
        F.lit(False),
    )
    return ev.filter(pred).select("event_id", "user_id", "event_type")


@_register(
    "c04_c08_casts",
    """
    SELECT event_id,
           value / 1000.0     AS value_kilo,
           epoch_us(ts)       AS ts_us,
           CAST(TRY_CAST(json_extract_string(props, '$.k') AS DOUBLE) AS BIGINT)
             AS props_k
    FROM events
    """,
    survey="C3 C4 C8 (unit rescale, epoch cast, lenient numeric cast)",
)
def c04_c08_casts(spark: SparkSession, sf_dir: str) -> DataFrame:
    (ev,) = _ctx(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        (F.col("value") / 1000.0).alias("value_kilo"),
        F.unix_micros(F.col("ts")).alias("ts_us"),
        F.get_json_object("props", "$.k")
        .try_cast("double")
        .try_cast("long")
        .alias("props_k"),
    )


@_register(
    "c12_json_extract",
    """
    SELECT event_type,
           count(*) AS n,
           CAST(sum(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
           max(CAST(props->>'k' AS BIGINT)) AS max_k
    FROM events
    WHERE CAST(props->>'k' AS BIGINT) IS NOT NULL
    GROUP BY event_type
    """,
    survey="C-family extension: semi-structured JSON path extraction + cast "
    "+ aggregate (get_json_object on a string column, JVM-side)",
)
def c12_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate over a JSON property of the events payload column.
    get_json_object evaluates in the JVM inside codegen — no Python,
    no schema inference pass; for hot paths with a fixed shape,
    from_json with an explicit schema is the columnar upgrade."""
    (ev,) = _ctx(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        ev.select("event_type", k.alias("_k"))
        .filter(F.col("_k").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("_k").alias("sum_k"),
            F.max("_k").alias("max_k"),
        )
    )


@_register(
    "c13_variant_shred",
    """
    SELECT user_id, avg(CAST(props->>'k' AS BIGINT)) AS avg_k,
           count(*) AS n
    FROM events GROUP BY user_id
    """,
    survey="C-family extension: VARIANT semi-structured shredding "
    "(parse_json once into Spark 4's binary VARIANT encoding, "
    "variant_get typed path access — vs c12's get_json_object which "
    "re-parses the JSON text per expression; with multiple extractions "
    "per row the parse happens once, and Parquet variant shredding "
    "pushes typed subcolumns to the scan at rest)",
)
def c13_variant_shred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user aggregate over a VARIANT-parsed property. parse_json →
    variant_get::long extracts through the binary encoding, not the
    text — the Spark-4-native semi-structured path."""
    (ev,) = _ctx(spark, sf_dir, "events")
    k = F.try_variant_get(F.parse_json(F.col("props")), "$.k", "long")
    return (
        ev.select("user_id", k.alias("_k"))
        .groupBy("user_id")
        .agg(F.avg("_k").alias("avg_k"), F.count(F.lit(1)).alias("n"))
    )


@_register(
    "c14_calendar_rollup",
    """
    SELECT date_part('week', ts) AS iso_week,
           date_part('dow', ts) + 1 AS dow,
           count(*) AS n,
           CAST(sum(CAST(round(value, 6) AS DECIMAL(38,6)))
                AS DOUBLE) AS sum_value
    FROM events GROUP BY 1, 2
    """,
    survey="C-family extension: calendar-hierarchy rollup (ISO week × "
    "day-of-week) — engine date-part semantics reconciled across engines "
    "(Spark dayofweek is 1=Sunday, DuckDB dow is 0=Sunday; ISO week "
    "agrees), the off-by-one traps of every cross-engine date pipeline",
)
def c14_calendar_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events by ISO week and day-of-week with value totals."""
    (ev,) = _ctx(spark, sf_dir, "events")
    return ev.groupBy(
        F.weekofyear("ts").cast("bigint").alias("iso_week"),
        F.dayofweek("ts").cast("bigint").alias("dow"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        _dsum6(F.col("value")).alias("sum_value"),
    )


@_register(
    "c15_map_column_ops",
    """
    WITH pairs AS (
      SELECT user_id, event_type, count(*) AS n
      FROM events GROUP BY user_id, event_type)
    SELECT user_id, event_type, n,
           CAST(sum(n) OVER (PARTITION BY user_id) AS BIGINT) AS user_total
    FROM pairs
    """,
    survey="C-family extension: MapType column surface — per-user counts "
    "collected into a map<string,bigint> (map_from_entries over "
    "collect_list of structs), totals computed ON the map with array "
    "HOFs (aggregate over map_values), then exploded back to rows; the "
    "map is the wire format for per-entity feature bundles, the oracle "
    "checks the relational image of the same content",
)
def c15_map_column_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build map columns, compute on them, explode them back — the
    row-wise map surface end to end. At scale the map bundle rides ONE
    user_id shuffle; the window in the oracle is the relational
    equivalent."""
    (ev,) = _ctx(spark, sf_dir, "events")
    bundled = (
        ev.groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("user_id")
        .agg(
            F.map_from_entries(
                F.sort_array(F.collect_list(F.struct("event_type", "n")))
            ).alias("counts")
        )
        .withColumn(
            "user_total",
            F.aggregate(
                F.map_values("counts"), F.lit(0).cast("bigint"), lambda a, x: a + x
            ),
        )
    )
    return bundled.select(
        "user_id", F.explode("counts").alias("event_type", "n"), "user_total"
    )
