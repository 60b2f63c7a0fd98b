"""Api surface queries (split from the former monolithic plans/queries.py).

Importing this module REGISTERS its queries (oracle SQL inline) into
the shared registry — plans/queries.py imports every family module in
the original definition order, so driver-facing ordering is unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..sources.tables import load_table
from ._registry import QUERIES, _ctx, _dsum6, _register

# =====================================================================
# API-surface completion: MapType, null-safe equality join, bag set ops
# =====================================================================


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
    "st08_stream_incremental_agg",
    """
    SELECT event_type, count(*) AS n,
           CAST(sum(CAST(round(value, 6) AS DECIMAL(38,6)))
                AS DOUBLE) AS sum_value
    FROM events GROUP BY event_type
    """,
    survey="streaming: incremental aggregate maintenance (foreachBatch "
    "merges each micro-batch's PARTIAL count/sum into stored per-key "
    "totals by addition — the mergeable-partial pattern behind every "
    "incremental rollup; state is O(keys), independent of history, and "
    "additive merge makes the final totals batching-invariant) replayed "
    "over 4 micro-batches, oracle-checked against the batch GROUP BY",
)
def st08_stream_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-batch replay through the partial-merge rollup; read back the
    final totals."""
    import os
    import tempfile

    from ..streaming.run import replay_feed
    from ..streaming.snapshot import run_stream_agg_snapshot

    (ev,) = _ctx(spark, sf_dir, "events")
    tmp = tempfile.mkdtemp(prefix="st08_")
    snap = os.path.join(tmp, "snapshot")
    run_stream_agg_snapshot(
        replay_feed(ev, tmp), snap, key="event_type", agg_cols={"value": "sum"}
    )
    return spark.read.parquet(snap).select(
        "event_type",
        "n",
        # the snapshot stores exact DECIMAL(38,6) partial-merge totals
        # (batching-invariant); surface as double for the oracle schema
        F.col("sum_value").cast("double").alias("sum_value"),
    )


# =====================================================================
# Spatial bucketed proximity join, running distinct, cohort retention
# =====================================================================


#: e08 adaptive-density grid ladder: cell (= radius) halves for every
#: 4× growth in point count past the base rung, so expected per-cell
#: occupancy — and with it per-point candidate work AND output degree —
#: stays constant at any scale. Thresholds are INTEGER comparisons and
#: every cell value is an exact power-of-two scaling of the same 0.1
#: double literal (halving only touches the exponent), so the Spark
#: driver and the DuckDB oracle pick bit-identical parameters from the
#: same count.
_E08_BASE_N = 100_000
_E08_MAX_HALVINGS = 14


def _e08_cell(n_pts: int) -> float:
    cell, thr = 0.1, _E08_BASE_N
    for _ in range(_E08_MAX_HALVINGS):
        if n_pts <= thr:
            break
        thr *= 4
        cell /= 2
    return cell


def _e08_cell_sql() -> str:
    rungs = " ".join(
        f"WHEN n <= {_E08_BASE_N * 4**k} THEN 0.1/{2**k}"
        for k in range(_E08_MAX_HALVINGS)
    )
    return f"CASE {rungs} ELSE 0.1/{2**_E08_MAX_HALVINGS} END"


@_register(
    "e08_spatial_join",
    f"""
    WITH params AS (
      SELECT {_e08_cell_sql()} AS cell
      FROM (SELECT count(*) AS n FROM events)),
    pts AS (
      SELECT event_id,
             value % 10 AS lat,
             (event_id % 1000) / 100.0 AS lon
      FROM events),
    cells AS (
      SELECT event_id, lat, lon,
             CAST(floor(lon / cell) AS BIGINT) AS cx,
             CAST(floor(lat / cell) AS BIGINT) AS cy
      FROM pts, params),
    probes AS (
      SELECT c.event_id, c.lat, c.lon, c.cx + dx.i AS px, c.cy + dy.i AS py
      FROM cells c,
           (SELECT unnest(range(-1, 2)) AS i) dx,
           (SELECT unnest(range(-1, 2)) AS i) dy),
    pairs AS (
      SELECT p.event_id AS a, b.event_id AS b
      FROM probes p JOIN cells b ON b.cx = p.px AND b.cy = p.py, params
      WHERE p.event_id < b.event_id
        AND (p.lon - b.lon) * (p.lon - b.lon)
            + (p.lat - b.lat) * (p.lat - b.lat) < cell * cell)
    SELECT a % 16 AS bucket, count(*) AS n_pairs
    FROM pairs GROUP BY 1
    """,
    survey="extension: spatial proximity join via grid bucketing — points "
    "hashed to square cells, each probe exploded to its 3×3 neighborhood, "
    "equi-join on cell, exact squared-distance residual post-join (the "
    "2-D generalization of e03's band join; the PostGIS/Sedona "
    "grid-partitioned join shape in pure DataFrame ops). ADAPTIVE "
    "DENSITY GRID (the spatial analogue of the d12 star cap, applied "
    "as a resolution knob instead of an input cap): a fixed-radius "
    "all-pairs join grows as density² — at 100x that is 9e10 pairs "
    "(measured: the fixed-grid oracle alone exceeds an hour) — so the "
    "cell size AND the join radius halve for every 4× point growth "
    "(r ~ sqrt(C·A/N), the natural nearest-neighbor scale used by "
    "KNN-graph construction and DBSCAN eps heuristics). ALL points are "
    "kept at every scale; per-point candidate work and output degree "
    "stay constant, total work O(N). The ladder is integer-threshold + "
    "exact power-of-two halvings of one shared 0.1 literal, so both "
    "engines derive bit-identical cell/radius from the same count and "
    "the compare stays tolerance-free. Distance kept in "
    "squared-euclidean form: +,*,sqrt are IEEE-exact across engines, "
    "sin/cos (haversine) are not — a boundary-membership trap for any "
    "cross-engine spatial comparison",
    note="At sf<=0.1 the count sits in the base rung (cell=0.1), the "
    "same grid parameters as the classic fixed-0.1° form (not claimed "
    "bit-identical to the r04/r05 query: the radius predicate is now "
    "cell*cell = double(0.1)^2, which exceeds the old 0.01 literal by "
    "2 ulp, so a pair whose squared distance lands in that sliver "
    "would classify differently — both engines share the new "
    "predicate, so the compare is unaffected); the ladder only bites "
    "past 100k points, where fixed-radius semantics are the thing "
    "that does not survive scale.",
)
def e08_spatial_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All point pairs within one adaptive cell-width (synthetic
    lat/lon derived from the events table; radius tracks the natural
    neighbor scale as density grows), bucketed pair counts as the
    stable output."""
    (ev,) = _ctx(spark, sf_dir, "events")
    # driver-side scalar: one parquet-metadata count picks the grid
    # rung (bounded-collect discipline, same as d16's bloom sizing) —
    # replaces round-5's md5 top-200k TakeOrdered input cap.
    cell = _e08_cell(ev.count())
    pts = ev.select(
        "event_id",
        (F.col("value") % 10).alias("lat"),
        ((F.col("event_id") % 1000) / 100.0).alias("lon"),
    )
    cells = pts.select(
        "event_id",
        "lat",
        "lon",
        F.floor(F.col("lon") / cell).alias("cx"),
        F.floor(F.col("lat") / cell).alias("cy"),
    )
    off = F.explode(F.sequence(F.lit(-1), F.lit(1)))
    probes = (
        cells.select("event_id", "lat", "lon", "cx", "cy", off.alias("dx"))
        .select("event_id", "lat", "lon", "cx", "cy", "dx", off.alias("dy"))
        .select(
            F.col("event_id").alias("a_id"),
            F.col("lat").alias("a_lat"),
            F.col("lon").alias("a_lon"),
            (F.col("cx") + F.col("dx")).alias("px"),
            (F.col("cy") + F.col("dy")).alias("py"),
        )
    )
    # both sides of a spatial self-join grow together — broadcast is
    # never the 100-TB shape (Catalyst would otherwise broadcast the
    # 9×-exploded probe side and stream the scan on ONE task). A
    # shuffle hash join on the cell keys partitions both sides by
    # cell: full cluster-width parallelism, no sort. The hint sits on
    # CELLS so the per-partition hash map is built from the
    # un-exploded side (hinting the 9×-exploded probes instead built
    # 3× the map and OOM'd the 8g driver_check subprocess at 100×);
    # per-task build memory is N/shuffle_partitions rows — the
    # standard SHJ sizing contract, spill-safe via AQE partition
    # splitting as partitions are scaled with data.
    j = probes.join(
        cells.hint("shuffle_hash"),
        (F.col("px") == F.col("cx")) & (F.col("py") == F.col("cy")),
    ).filter(
        (F.col("a_id") < F.col("event_id"))
        & (
            (F.col("a_lon") - F.col("lon")) * (F.col("a_lon") - F.col("lon"))
            + (F.col("a_lat") - F.col("lat")) * (F.col("a_lat") - F.col("lat"))
            < cell * cell
        )
    )
    return j.groupBy((F.col("a_id") % 16).alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_pairs")
    )


@_register(
    "e09_running_distinct",
    """
    WITH firsts AS (
      SELECT user_id, min(ts) AS first_ts FROM events GROUP BY user_id),
    days AS (
      SELECT epoch_us(date_trunc('day', first_ts)) AS day_us,
             count(*) AS n_new
      FROM firsts GROUP BY 1)
    SELECT day_us, n_new,
           CAST(sum(n_new) OVER (ORDER BY day_us
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS n_cum
    FROM days
    """,
    survey="extension: running distinct count (cumulative unique users "
    "by day) — the naive per-day COUNT(DISTINCT) over a growing window "
    "rescans history quadratically; the first-occurrence decomposition "
    "(min ts per user → new-users per day → cumsum) is one user shuffle "
    "+ one tiny day window, linear at any scale",
)
def e09_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily new-user and cumulative-user counts via first-occurrence
    decomposition (the day-level window runs over ~30 rows — the
    single-partition window is on the AGGREGATE, never the fact)."""
    (ev,) = _ctx(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(F.min("ts").alias("first_ts"))
    days = firsts.groupBy(
        F.unix_micros(F.date_trunc("day", F.col("first_ts"))).alias("day_us")
    ).agg(F.count(F.lit(1)).alias("n_new"))
    w = Window.orderBy("day_us").rowsBetween(Window.unboundedPreceding, 0)
    return days.select("day_us", "n_new", F.sum("n_new").over(w).alias("n_cum"))


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
    "s06_label_centroids",
    """
    WITH dims AS (
      SELECT e.label, i.i AS dim, e.embedding[i.i]::DOUBLE AS v
      FROM embeddings e,
           LATERAL (SELECT unnest(generate_series(1, 64)) AS i) i),
    cent AS (
      SELECT label, array_agg(c ORDER BY dim) AS centroid
      FROM (SELECT label, dim, avg(v) AS c FROM dims GROUP BY label, dim)
      GROUP BY label),
    scored AS (
      SELECT e.label,
             list_dot_product(e.embedding::DOUBLE[], c.centroid)
               / (sqrt(list_dot_product(e.embedding::DOUBLE[],
                                        e.embedding::DOUBLE[]))
                  * sqrt(list_dot_product(c.centroid, c.centroid))) AS cos
      FROM embeddings e JOIN cent c ON c.label = e.label)
    SELECT label, count(*) AS n_vecs, avg(cos) AS mean_cos, min(cos) AS min_cos
    FROM scored GROUP BY label
    """,
    survey="north-star similarity: per-label embedding mean-pooling "
    "(centroid via posexplode → (label, dim) aggregate — the per-dimension "
    "shuffle is (labels × dims) rows, never vectors × dims concentrated on "
    "one reducer) + per-vector cosine-to-own-centroid residuals (zip_with "
    "fold, same sequential order as the SQL dot product) — the class-"
    "compactness / outlier-screen primitive of embedding-corpus curation",
)
def s06_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid + cohesion stats (mean/min cosine of members
    to their centroid)."""
    (emb,) = _ctx(spark, sf_dir, "embeddings")
    dims = emb.select(
        "label", F.posexplode(F.col("embedding").cast("array<double>"))
    ).toDF("label", "dim", "v")
    cent = (
        dims.groupBy("label", "dim")
        .agg(F.avg("v").alias("c"))
        .groupBy("label")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("dim", "c"))),
                lambda s: s["c"],
            ).alias("centroid")
        )
    )
    v = F.col("embedding").cast("array<double>")
    dot = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    scored = emb.join(F.broadcast(cent), "label").select(
        "label",
        (
            dot(v, F.col("centroid"))
            / (F.sqrt(dot(v, v)) * F.sqrt(dot(F.col("centroid"), F.col("centroid"))))
        ).alias("cos"),
    )
    return scored.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.avg("cos").alias("mean_cos"),
        F.min("cos").alias("min_cos"),
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
    "e10_twap",
    """
    WITH s AS (
      SELECT user_id, value,
             epoch_us(ts) AS t,
             lead(epoch_us(ts)) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS nxt
      FROM events)
    SELECT user_id,
           (CAST(sum(CAST(floor(value * (nxt - t) * 100.0 + 0.5) AS BIGINT))
                 AS DOUBLE) / 100.0)
             / CAST(sum(nxt - t) AS DOUBLE) AS twap,
           CAST(sum(CAST(round(value, 6) AS DECIMAL(38,6)))
                AS DOUBLE) / count(*) AS mean_unweighted,
           count(*) AS n_intervals
    FROM s WHERE nxt IS NOT NULL
    GROUP BY user_id
    """,
    survey="extension: time-weighted average over irregular samples "
    "(each sample weighted by its holding interval to the next — the "
    "TWAP/step-function integral; the unweighted mean is biased wherever "
    "sampling density correlates with level) — one lead window + one "
    "keyed aggregate",
)
def e10_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user TWAP vs naive mean (last open-ended sample excluded)."""
    (ev,) = _ctx(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = F.unix_micros(F.col("ts"))
    s = ev.select(
        "user_id", "value", t.alias("t"), F.lead(t).over(w).alias("nxt")
    ).filter(F.col("nxt").isNotNull())
    dt = F.col("nxt") - F.col("t")
    # value·dt quantized to integer centi-units with floor(x*100+0.5):
    # the per-row double is IEEE-identical on both engines and the
    # int64 sum is exact and associative (value·µs reaches ~1e13 where
    # plain double sums differ by >1e-3 across partition layouts);
    # the interval sum is already an exact integer sum.
    # Magnitude bound (same discipline as operators/energy.py): the
    # int64 sum wraps silently in non-ANSI mode past ~9.2e18 centi-units,
    # i.e. Σ|value|·dt_µs < 9.2e16 per key — at |value| ≤ 1e3 that is
    # ~2.9 key-years of continuously-held µs intervals; a corpus past it
    # should move this sum to DECIMAL(38,0) (exact, unbounded for any
    # realistic horizon) at ~2× aggregate cost.
    vdt_c = F.floor(F.col("value") * dt * 100.0 + 0.5).cast("long")
    return s.groupBy("user_id").agg(
        (
            (F.sum(vdt_c).cast("double") / 100.0)
            / F.sum(dt).cast("double")
        ).alias("twap"),
        (_dsum6(F.col("value")) / F.count(F.lit(1))).alias(
            "mean_unweighted"
        ),
        F.count(F.lit(1)).alias("n_intervals"),
    )


@_register(
    "e11_ohlc_bars",
    """
    SELECT user_id,
           epoch_us(date_trunc('day', ts)) AS bar_us,
           min_by(value, printf('%020d-%012d', epoch_us(ts), event_id)) AS open,
           max(value) AS high,
           min(value) AS low,
           max_by(value, printf('%020d-%012d', epoch_us(ts), event_id)) AS close,
           count(*) AS n_ticks
    FROM events
    GROUP BY 1, 2
    """,
    survey="extension: OHLC bar aggregation (open/high/low/close per "
    "key × day) — open/close are ordered firsts/lasts expressed as "
    "min_by/max_by on a composite (time, id) key, so the whole bar is ONE "
    "hash aggregate with map-side partials; never a sort or window over "
    "the tick stream",
)
def e11_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily OHLC bars per user from the event tick stream."""
    (ev,) = _ctx(spark, sf_dir, "events")
    # composite order key as a zero-padded string: lexicographic ==
    # (time, id) numeric order, and portable to engines whose
    # min_by/max_by lack array/struct keys
    okey = F.format_string(
        "%020d-%012d", F.unix_micros(F.col("ts")), F.col("event_id")
    )
    return ev.groupBy(
        "user_id",
        F.unix_micros(F.date_trunc("day", F.col("ts"))).alias("bar_us"),
    ).agg(
        F.min_by("value", okey).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max_by("value", okey).alias("close"),
        F.count(F.lit(1)).alias("n_ticks"),
    )


