"""Event and time-series queries (``e*``): as-of and range joins,
sessions, resampling, EWMA, interval coverage, funnels, spatial joins,
TWAP/OHLC bars, interpolation, SCD2 intervals and a seasonal backtest.

Importing this module registers its queries; the driver-facing order is
``_registry.ORDER``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ._registry import _ctx, _dsum6, _register


@_register(
    "e01_asof_join",
    """
    SELECT p.event_id, p.user_id,
           epoch_us(p.ts) AS ts_us,
           p.value,
           c.click_value
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT user_id, ts, value AS click_value
                    FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
    survey="extension: backward as-of join (union + last_value ignorenulls, one "
    "shuffle — Spark has no native ASOF JOIN) vs DuckDB's native ASOF JOIN",
)
def e01_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each purchase aligned with the user's latest prior-or-equal
    click value."""
    from ..functions.events import asof_join_backward

    (ev,) = _ctx(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("value").alias("click_value")
    )
    out = asof_join_backward(
        purchases, clicks, on="ts", by=["user_id"], value_cols=["click_value"]
    )
    return out.select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        "value",
        "click_value",
    )


@_register(
    "e02_sessionize",
    """
    WITH s AS (
      SELECT user_id, ts, event_id,
             -- BIGINT cast: DuckDB window sums of integers return
             -- HUGEINT which pandas widens to float64 ("1.0" vs "1")
             CAST(sum(CASE WHEN prev_us IS NULL
                       OR epoch_us(ts) - prev_us > 1800 * 1000000
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS session_id
      FROM (SELECT user_id, ts, event_id,
                   lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                           ORDER BY ts, event_id) AS prev_us
            FROM events))
    SELECT user_id, session_id,
           count(*) AS n_events,
           max(epoch_us(ts)) - min(epoch_us(ts)) AS duration_us
    FROM s GROUP BY user_id, session_id
    """,
    survey="extension: gap-based sessionization (lag boundary + running-sum "
    "numbering over one shuffle) + per-session rollup",
)
def e02_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-minute-gap sessions per user with count/duration rollup —
    integer microsecond arithmetic end to end, bit-exact across
    engines."""
    from ..functions.events import session_stats, sessionize

    (ev,) = _ctx(spark, sf_dir, "events")
    return session_stats(sessionize(ev, gap_seconds=1800))


@_register(
    "e04_resample_ffill",
    """
    WITH bounds AS (
      SELECT user_id, date_trunc('day', min(ts)) AS d0,
             date_trunc('day', max(ts)) AS d1
      FROM events GROUP BY user_id),
    grid AS (
      SELECT user_id, unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS step
      FROM bounds),
    daily AS (
      SELECT user_id, step, day_value FROM (
        SELECT user_id, date_trunc('day', ts) AS step, value AS day_value,
               row_number() OVER (PARTITION BY user_id, date_trunc('day', ts)
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events) WHERE rn = 1)
    SELECT g.user_id, epoch_us(g.step) AS step_us,
           last_value(d.day_value IGNORE NULLS)
             OVER (PARTITION BY g.user_id ORDER BY g.step
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS value_ffill
    FROM grid g LEFT JOIN daily d
      ON g.user_id = d.user_id AND g.step = d.step
    """,
    survey="extension: regular-grid resampling + forward fill (sequence() "
    "grid explode per key, max_by last-observation per step, last "
    "ignorenulls gap fill) — the downsample/align primitive; grid rows "
    "generated per key, never a global-calendar cross join",
)
def e04_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily per-user resample of the last observed event value,
    forward-filled across days with no events."""
    from ..functions.events import resample_ffill

    (ev,) = _ctx(spark, sf_dir, "events")
    out = resample_ffill(ev, every="1 day")
    return out.select(
        "user_id",
        F.unix_micros(F.col("step_start")).alias("step_us"),
        "value_ffill",
    )


@_register(
    "e03_range_join",
    """
    SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us,
           count(c.utc) AS n_in_range
    FROM (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'purchase') p
    LEFT JOIN (SELECT user_id, ts AS utc FROM events
               WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND c.utc >= p.ts - INTERVAL 1 HOUR
     AND c.utc <  p.ts
    GROUP BY 1, 2, 3
    """,
    survey="extension: band (range) join via bucketed equi-join — each event "
    "quantized to one window-width bucket, probes exploded to their 2 "
    "candidate buckets, exact band predicate post-join (vs DuckDB's native "
    "inequality join). The theta-join would plan as BroadcastNestedLoop.",
)
def e03_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clicks in the hour before each purchase, per user — the banded
    self-join every attribution/feature pipeline needs, in its
    shuffle-bounded formulation (see functions.events.range_join_count)."""
    from ..functions.events import range_join_count

    (ev,) = _ctx(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    out = range_join_count(
        purchases, clicks, window_seconds=3600, by=["user_id"]
    )
    return out.select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        "n_in_range",
    )


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


@_register(
    "e07_funnel",
    """
    WITH v AS (
      SELECT user_id, min(ts) AS t_view
      FROM events WHERE event_type = 'view' GROUP BY user_id),
    c AS (
      SELECT e.user_id, min(e.ts) AS t_click
      FROM events e JOIN v ON v.user_id = e.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t_view
      GROUP BY e.user_id),
    p AS (
      SELECT e.user_id, min(e.ts) AS t_purchase
      FROM events e JOIN c ON c.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t_click
      GROUP BY e.user_id)
    SELECT v.user_id,
           epoch_us(v.t_view) AS view_us,
           epoch_us(c.t_click) AS click_us,
           epoch_us(p.t_purchase) AS purchase_us,
           epoch_us(p.t_purchase) - epoch_us(v.t_view) AS view_to_purchase_us
    FROM v LEFT JOIN c ON c.user_id = v.user_id
           LEFT JOIN p ON p.user_id = v.user_id
    """,
    survey="extension: ordered funnel analysis (first view → first click "
    "after it → first purchase after that, per user) — the SQL literal is "
    "three grouped self-joins; the Spark plan is three chained conditional "
    "window minima over ONE user_id partitioning (the exchange is planned "
    "once and reused — zero extra shuffles, no self-join rescans)",
)
def e07_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage timestamps + end-to-end latency per funnel user. Each
    stage's 'earliest event after the previous stage' is a conditional
    min window over the same user partition; rows collapse to one per
    user at the end. Users who never viewed are out (inner semantics on
    the first stage); later stages are NULL when unreached."""
    (ev,) = _ctx(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    us = F.unix_micros(F.col("ts"))
    s1 = ev.select(
        "user_id",
        "event_type",
        us.alias("ts_us"),
        F.min(F.when(F.col("event_type") == "view", us)).over(w).alias("view_us"),
    )
    s2 = s1.withColumn(
        "click_us",
        F.min(
            F.when(
                (F.col("event_type") == "click") & (F.col("ts_us") > F.col("view_us")),
                F.col("ts_us"),
            )
        ).over(w),
    )
    s3 = s2.withColumn(
        "purchase_us",
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("ts_us") > F.col("click_us")),
                F.col("ts_us"),
            )
        ).over(w),
    )
    return (
        s3.filter(F.col("view_us").isNotNull())
        .groupBy("user_id")
        .agg(
            F.first("view_us").alias("view_us"),
            F.first("click_us").alias("click_us"),
            F.first("purchase_us").alias("purchase_us"),
            (F.first("purchase_us") - F.first("view_us")).alias(
                "view_to_purchase_us"
            ),
        )
    )


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


@_register(
    "e12_asof_forward",
    """
    WITH probes AS (
      SELECT user_id, epoch_us(ts) AS probe_us, event_id AS probe_id
      FROM events WHERE event_type = 'view'),
    readings AS (
      SELECT user_id, epoch_us(ts) AS r_us, value AS next_value
      FROM events WHERE event_type = 'purchase')
    SELECT p.user_id, p.probe_id, p.probe_us,
           (SELECT min(r.r_us) FROM readings r
            WHERE r.user_id = p.user_id AND r.r_us >= p.probe_us) AS next_us,
           (SELECT min(r.next_value) FROM readings r
            WHERE r.user_id = p.user_id
              AND r.r_us = (SELECT min(r2.r_us) FROM readings r2
                            WHERE r2.user_id = p.user_id
                              AND r2.r_us >= p.probe_us)) AS next_value
    FROM probes p
    """,
    survey="extension: FORWARD as-of join (earliest right row at-or-after "
    "each probe — the mirror of e01's backward form; next-reading / "
    "time-to-next-event alignment) — same union trick, descending sort, "
    "one shuffle; the correlated-subquery SQL literal would rescan "
    "readings per probe",
)
def e12_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Next purchase value at-or-after each view, per user."""
    from ..functions.events import asof_join_forward

    (ev,) = _ctx(spark, sf_dir, "events")
    probes = ev.filter(F.col("event_type") == "view").select(
        "user_id",
        F.unix_micros(F.col("ts")).alias("probe_us"),
        F.col("event_id").alias("probe_id"),
    )
    readings = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.unix_micros(F.col("ts")).alias("probe_us"),
        F.unix_micros(F.col("ts")).alias("next_us"),
        F.col("value").alias("next_value"),
    )
    out = asof_join_forward(
        probes,
        readings.select("user_id", "probe_us", "next_us", "next_value"),
        on="probe_us",
        by=["user_id"],
        value_cols=["next_us", "next_value"],
    )
    return out.select("user_id", "probe_id", "probe_us", "next_us", "next_value")


@_register(
    "e13_interarrival_histogram",
    """
    WITH gaps AS (
      SELECT event_type,
             epoch_us(ts) - lag(epoch_us(ts)) OVER
               (PARTITION BY event_type ORDER BY ts, event_id) AS gap_us
      FROM events)
    SELECT event_type,
           CAST(floor(gap_us / 60000000.0) AS BIGINT) AS gap_minutes,
           count(*) AS n
    FROM gaps WHERE gap_us IS NOT NULL
    GROUP BY 1, 2
    """,
    survey="extension: inter-arrival-time histogram (lag gap per key → "
    "fixed-width minute buckets → counts; the burstiness/heartbeat "
    "diagnostic for event feeds) — one keyed window + one aggregate, "
    "bucket id by integer floor so the histogram is engine-exact",
)
def e13_interarrival_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of gaps between consecutive same-type events."""
    (ev,) = _ctx(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    t = F.unix_micros(F.col("ts"))
    gaps = ev.select(
        "event_type", (t - F.lag(t).over(w)).alias("gap_us")
    ).filter(F.col("gap_us").isNotNull())
    return gaps.groupBy(
        "event_type",
        F.floor(F.col("gap_us") / 60000000.0).alias("gap_minutes"),
    ).agg(F.count(F.lit(1)).alias("n"))


@_register(
    "e14_linear_interp",
    """
    WITH bounds AS (
      SELECT user_id, date_trunc('day', min(ts)) AS d0,
             date_trunc('day', max(ts)) AS d1
      FROM events GROUP BY user_id),
    grid AS (
      SELECT user_id, unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS step
      FROM bounds),
    daily AS (
      SELECT user_id, step, day_value FROM (
        SELECT user_id, date_trunc('day', ts) AS step, value AS day_value,
               row_number() OVER (PARTITION BY user_id, date_trunc('day', ts)
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events) WHERE rn = 1),
    j AS (
      SELECT g.user_id, epoch_us(g.step) AS step_us, d.day_value
      FROM grid g LEFT JOIN daily d
        ON g.user_id = d.user_id AND g.step = d.step),
    w AS (
      SELECT user_id, step_us, day_value,
             last_value(day_value IGNORE NULLS) OVER
               (PARTITION BY user_id ORDER BY step_us
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
             last_value(CASE WHEN day_value IS NOT NULL THEN step_us END
                        IGNORE NULLS) OVER
               (PARTITION BY user_id ORDER BY step_us
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pu,
             first_value(day_value IGNORE NULLS) OVER
               (PARTITION BY user_id ORDER BY step_us
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
             first_value(CASE WHEN day_value IS NOT NULL THEN step_us END
                         IGNORE NULLS) OVER
               (PARTITION BY user_id ORDER BY step_us
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nu
      FROM j)
    SELECT user_id, step_us,
           CASE WHEN nu = pu THEN pv
                ELSE pv + (nv - pv) * (CAST(step_us - pu AS DOUBLE)
                                       / CAST(nu - pu AS DOUBLE))
           END AS value_interp
    FROM w
    """,
    survey="extension: regular-grid resample + LINEAR interpolation gap "
    "fill (e04's forward-fill sibling — the other half of the pandas "
    "interpolate/resample surface). Per-key daily grid via sequence() "
    "explode, last-observation-per-day, then prev/next anchor windows "
    "(last/first IGNORE NULLS) and the time-weighted blend "
    "pv + (nv-pv)·(t-pu)/(nu-pu). Grid endpoints are observation days by "
    "construction, so anchors never miss. One shuffle per key for the "
    "windows; the blend is a fixed IEEE op chain (sub/div/mul/add in "
    "declared order), bit-identical across engines with NO rounding "
    "step. At 100 TB identical to e04: grid rows generated per key, "
    "never a global calendar cross join.",
)
def e14_linear_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily per-user grid with linear interpolation between the
    nearest observed values (time-weighted by µs offsets)."""
    (ev,) = _ctx(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts"))
    rn = F.row_number().over(
        Window.partitionBy("user_id", day.alias("_d")).orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
    )
    # last observation of each (user, day)
    daily = (
        ev.select("user_id", day.alias("step"), F.col("value").alias("day_value"),
                  "ts", "event_id")
        .withColumn("rn", rn)
        .filter(F.col("rn") == 1)
        .select("user_id", "step", "day_value")
    )
    bounds = ev.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("d0"),
        F.date_trunc("day", F.max("ts")).alias("d1"),
    )
    grid = bounds.select(
        "user_id",
        F.explode(
            F.sequence(F.col("d0"), F.col("d1"), F.expr("INTERVAL 1 DAY"))
        ).alias("step"),
    )
    j = grid.join(daily, ["user_id", "step"], "left").select(
        "user_id", F.unix_micros("step").alias("step_us"), "day_value"
    )
    back = (
        Window.partitionBy("user_id")
        .orderBy("step_us")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    fwd = (
        Window.partitionBy("user_id")
        .orderBy("step_us")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_us = F.when(F.col("day_value").isNotNull(), F.col("step_us"))
    w = j.select(
        "user_id",
        "step_us",
        F.last("day_value", ignorenulls=True).over(back).alias("pv"),
        F.last(obs_us, ignorenulls=True).over(back).alias("pu"),
        F.first("day_value", ignorenulls=True).over(fwd).alias("nv"),
        F.first(obs_us, ignorenulls=True).over(fwd).alias("nu"),
    )
    # fixed IEEE op chain, mirrored operator-for-operator in the oracle
    blend = F.col("pv") + (F.col("nv") - F.col("pv")) * (
        (F.col("step_us") - F.col("pu")).cast("double")
        / (F.col("nu") - F.col("pu")).cast("double")
    )
    return w.select(
        "user_id",
        "step_us",
        F.when(F.col("nu") == F.col("pu"), F.col("pv"))
        .otherwise(blend)
        .alias("value_interp"),
    )


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
# e16: seasonal-naive forecast backtest (lag-24h, integer MAE)
# ---------------------------------------------------------------------------
@_register(
    "e16_seasonal_backtest",
    """
    WITH h AS (
      SELECT event_type,
             epoch_us(ts) // 3600000000 AS hr,
             sum(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)) AS v
      FROM events GROUP BY 1, 2),
    f AS (
      SELECT event_type, hr, v,
             lag(v, 24) OVER (PARTITION BY event_type ORDER BY hr) AS fc
      FROM h)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_hours,
           CAST(count(fc) AS BIGINT) AS n_scored,
           CAST(sum(abs(v - fc)) AS BIGINT) AS abs_err_micro_sum,
           CAST(sum(abs(v - fc)) // greatest(count(fc), 1) AS BIGINT)
             AS mae_micro
    FROM f GROUP BY event_type
    """,
    survey="extension events: seasonal-naive forecast BACKTEST — "
    "hourly value totals per event type, forecast each hour with the "
    "value 24 hours earlier (the canonical seasonal-naive baseline "
    "every production forecast must beat), score by mean absolute "
    "error. The whole chain is integer micro-units (per-row "
    "fixed-point totals, integer |v - fc| sums, floor-divided MAE) — "
    "bit-deterministic on any engine/partition layout. Plan: one "
    "map-side-combined (type, hour) aggregate, then ONE window lag "
    "and the scoring aggregate on the same type-keyed exchange; at "
    "100 TB the raw stream reduces to O(types × hours) rows before "
    "any window state exists. Completes the time-series family "
    "(e05 EWMA smoothing, e14 interpolation, e11 OHLC, a27 "
    "histogram) with the evaluation primitive.",
    note="Hours with no 24h-earlier bucket score NULL and are "
    "excluded by count(fc) — the warm-up day. lag(v, 24) indexes "
    "OBSERVED hours (rows), which coincides with wall-clock 24h only "
    "where the hourly grid is dense (sf0.01+ here; sf0.001 is "
    "sparse, making this the observed-row seasonal baseline there) — "
    "production feeds densify first via e04/e14's grid explode, "
    "after which row-lag and time-lag agree by construction.",
)
def e16_seasonal_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly seasonal-naive (t-24h) backtest per event type with
    integer micro-unit MAE."""
    (events,) = _ctx(spark, sf_dir, "events")
    h = (
        events.select(
            "event_type",
            F.expr("unix_micros(ts) div 3600000000").alias("hr"),
            F.floor(F.col("value") * F.lit(1000000.0) + F.lit(0.5))
            .cast("long")
            .alias("vm"),
        )
        .groupBy("event_type", "hr")
        .agg(F.sum("vm").alias("v"))
    )
    w = Window.partitionBy("event_type").orderBy("hr")
    f = h.withColumn("fc", F.lag("v", 24).over(w))
    return f.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_hours"),
        F.count("fc").cast("long").alias("n_scored"),
        F.sum(F.abs(F.col("v") - F.col("fc"))).cast("long").alias(
            "abs_err_micro_sum"
        ),
        F.expr(
            "CAST(sum(abs(v - fc)) div greatest(count(fc), 1) AS BIGINT)"
        ).alias("mae_micro"),
    )
