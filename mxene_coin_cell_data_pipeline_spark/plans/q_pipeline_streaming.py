"""Pipeline streaming queries (split from the former monolithic plans/queries.py).

Importing this module REGISTERS its queries (oracle SQL inline) into
the shared registry — plans/queries.py imports every family module in
the original definition order, so driver-facing ordering is unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..sources.tables import load_table
from ._registry import QUERIES, _ctx, _dsum6, _register

# =====================================================================
# Flagship: the cycler feature pipeline over events-mapped timeseries
# =====================================================================

from .flagship import events_as_timeseries, flagship_features  # noqa: E402


@_register(
    "p01_cycler_pipeline",
    """
    WITH ts AS (
      SELECT CAST(user_id AS VARCHAR) AS cell_id,
             ts AS t, event_id,
             (epoch_us(ts) // 86400000000) // 7 AS cycle_index,
             CASE WHEN event_type IN ('purchase','view') THEN 'CC_DIS'
                  WHEN event_type IN ('click','signup') THEN 'CC_CHG'
                  ELSE 'REST' END AS step_type,
             value AS v
      FROM events),
    w AS (
      SELECT *,
             sum(CASE WHEN step_type = 'CC_CHG'
                      THEN CAST(round(v * 100) AS BIGINT) ELSE 0 END)
               OVER win / 100000.0 AS charge_ah,
             sum(CASE WHEN step_type = 'CC_DIS'
                      THEN CAST(round(v * 100) AS BIGINT) ELSE 0 END)
               OVER win / 100000.0 AS discharge_ah
      FROM ts
      WINDOW win AS (PARTITION BY cell_id, cycle_index ORDER BY t, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    cap AS (
      SELECT cell_id, cycle_index,
             max(discharge_ah) AS Q_dis_Ah,
             max(charge_ah)    AS Q_chg_Ah
      FROM w GROUP BY cell_id, cycle_index),
    cap2 AS (
      SELECT cell_id, cycle_index, Q_dis_Ah, Q_chg_Ah,
             CASE WHEN Q_chg_Ah IS NULL OR Q_chg_Ah = 0 THEN NULL
                  ELSE Q_dis_Ah / Q_chg_Ah END AS CE,
             Q_dis_Ah / first_value(Q_dis_Ah) OVER
               (PARTITION BY cell_id ORDER BY cycle_index
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS q_norm
      FROM cap),
    dis AS (
      SELECT cell_id, cycle_index, t,
             (3.0 + v % 1.5) * (- v / 100.0) AS p,
             epoch_us(t) / 1000000.0 AS tsec
      FROM ts WHERE contains(step_type, 'DIS')),
    seg AS (
      SELECT cell_id, cycle_index,
             0.5 * (p + lag(p) OVER win) * (tsec - lag(tsec) OVER win) AS s
      FROM dis
      WINDOW win AS (PARTITION BY cell_id, cycle_index ORDER BY t)),
    en AS (
      SELECT cell_id, cycle_index,
             CASE WHEN count(*) >= 2
                  THEN abs(CAST(sum(CAST(floor(s * 1000000000.0 + 0.5)
                         AS BIGINT)) AS DOUBLE) / 1000000000.0) / 3600.0
             END AS E_dis_Wh
      FROM seg GROUP BY cell_id, cycle_index),
    m AS (
      SELECT cell_id, cycle_index, t, step_type,
             (3.0 + v % 1.5) AS voltage_v,
             CASE WHEN step_type = 'CC_DIS' THEN - v / 100.0
                  WHEN step_type = 'CC_CHG' THEN v / 100.0
                  ELSE 0.0 END AS current_a
      FROM ts),
    pos AS (
      SELECT *, row_number() OVER (PARTITION BY cell_id ORDER BY t) AS p
      FROM m),
    dis_ir AS (
      SELECT cell_id, cycle_index, p, voltage_v, current_a,
             abs(abs(current_a) - 1.0) AS absdiff
      FROM pos
      WHERE contains(step_type, 'DIS') AND cycle_index IS NOT NULL),
    sel_ir AS (
      SELECT cell_id, cycle_index, p AS idx FROM (
        SELECT cell_id, cycle_index, p,
               row_number() OVER (PARTITION BY cell_id, cycle_index
                                  ORDER BY absdiff, p) AS rn
        FROM dis_ir WHERE absdiff IS NOT NULL)
      WHERE rn = 1),
    band AS (
      SELECT d.cell_id, d.cycle_index, d.p, d.voltage_v, d.current_a, s.idx
      FROM dis_ir d JOIN sel_ir s USING (cell_id, cycle_index)
      WHERE d.p BETWEEN s.idx - 1 AND s.idx + 1),
    ir_agg AS (
      SELECT cell_id, cycle_index,
             median(voltage_v) FILTER (WHERE p <  idx) AS pre_v,
             median(voltage_v) FILTER (WHERE p >= idx) AS post_v,
             median(current_a) FILTER (WHERE p <  idx) AS pre_i,
             median(current_a) FILTER (WHERE p >= idx) AS post_i,
             count(*)          FILTER (WHERE p <  idx) AS n_pre,
             count(*)          FILTER (WHERE p >= idx) AS n_post
      FROM band GROUP BY cell_id, cycle_index),
    ir AS (
      SELECT cell_id, cycle_index,
             CASE WHEN n_pre = 0 OR n_post = 0
                       OR (post_i - pre_i) IS NULL
                       OR (post_i - pre_i) = 0 THEN NULL
                  ELSE abs((post_v - pre_v) / (post_i - pre_i)) + 0.0
             END AS IR_C2_ohm
      FROM ir_agg),
    qsrc AS (  -- dQ/dV input: the CUMULATIVE integer-accumulated
               -- discharge_ah (exact decimals — the cumsum is
               -- association-independent, so argmax ties are safe)
      SELECT cell_id, cycle_index, (3.0 + v % 1.5) AS vv,
             row_number() OVER (PARTITION BY cell_id, cycle_index
                                ORDER BY t, event_id) AS ord,
             discharge_ah - min(discharge_ah)
               OVER (PARTITION BY cell_id, cycle_index) AS qq
      FROM w WHERE contains(step_type, 'DIS')),
    qd AS (
      SELECT cell_id, cycle_index, vv,
             arg_max(qq, ord) AS q_last, arg_min(qq, ord) AS q_first
      FROM qsrc GROUP BY cell_id, cycle_index, vv),
    st AS (
      SELECT cell_id, cycle_index, min(vv) AS v0, max(vv) AS v1, count(*) AS n
      FROM qsrc GROUP BY cell_id, cycle_index),
    valid AS (
      SELECT cell_id, cycle_index, v0,
             CAST(ceil((v1 - v0) / 0.05) AS BIGINT) AS ng
      FROM st
      WHERE n >= 3 AND (v1 - v0) >= 0.05
            AND CAST(ceil((v1 - v0) / 0.05) AS BIGINT) >= 2),
    grid AS (
      SELECT v.cell_id, v.cycle_index, v.ng, gs.k AS k,
             CASE WHEN gs.k = 0 THEN v.v0
                  WHEN gs.k = 1 THEN v.v0 + 0.05
                  ELSE v.v0 + gs.k * ((v.v0 + 0.05) - v.v0) END AS gv
      FROM valid v,
           LATERAL (SELECT unnest(generate_series(0, v.ng - 1)) AS k) gs),
    br AS (
      SELECT g.cell_id, g.cycle_index, g.ng, g.k, g.gv,
             max(s.vv)               FILTER (WHERE s.vv <= g.gv) AS v_lo,
             arg_max(s.q_last, s.vv) FILTER (WHERE s.vv <= g.gv) AS q_lo,
             min(s.vv)               FILTER (WHERE s.vv >  g.gv) AS v_hi,
             arg_min(s.q_first, s.vv) FILTER (WHERE s.vv > g.gv) AS q_hi
      FROM grid g JOIN qd s USING (cell_id, cycle_index)
      GROUP BY ALL),
    qg AS (
      SELECT cell_id, cycle_index, ng, k, gv,
             CASE WHEN v_hi IS NULL THEN q_lo
                  ELSE q_lo + ((q_hi - q_lo) / (v_hi - v_lo)) * (gv - v_lo)
             END AS qgv
      FROM br),
    gr AS (
      SELECT cell_id, cycle_index, k, gv,
             CASE WHEN k = 0      THEN (lead(qgv) OVER wg - qgv) / 0.05
                  WHEN k = ng - 1 THEN (qgv - lag(qgv) OVER wg) / 0.05
                  ELSE (lead(qgv) OVER wg - lag(qgv) OVER wg) / (2 * 0.05)
             END AS grad
      FROM qg
      WINDOW wg AS (PARTITION BY cell_id, cycle_index ORDER BY k)),
    pk AS (
      SELECT cell_id, cycle_index, arg_min(gv, k) AS gv
      FROM gr g
      WHERE grad = (SELECT max(grad) FROM gr m2
                    WHERE m2.cell_id = g.cell_id
                      AND m2.cycle_index = g.cycle_index)
      GROUP BY cell_id, cycle_index),
    shifts AS (
      SELECT c.cell_id, c.cycle_index, p.gv AS dQdV_peak_V,
             CASE WHEN p.gv IS NOT NULL THEN
               (p.gv - first_value(p.gv IGNORE NULLS)
                  OVER (PARTITION BY c.cell_id ORDER BY c.cycle_index
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
               * 1000.0
             END AS dQdV_shift_mV
      FROM cap2 c LEFT JOIN pk p
        ON c.cell_id = p.cell_id AND c.cycle_index = p.cycle_index)
    SELECT c.cell_id, c.cycle_index, c.Q_dis_Ah, c.Q_chg_Ah, c.CE, c.q_norm,
           e.E_dis_Wh, i.IR_C2_ohm, s.dQdV_peak_V, s.dQdV_shift_mV
    FROM cap2 c
    LEFT JOIN en e ON c.cell_id = e.cell_id AND c.cycle_index = e.cycle_index
    LEFT JOIN ir i ON c.cell_id = i.cell_id AND c.cycle_index = i.cycle_index
    LEFT JOIN shifts s
      ON c.cell_id = s.cell_id AND c.cycle_index = s.cycle_index
    """,
    survey="full domain pipeline: A1-A12 over events-mapped timeseries, "
    "oracle-checked END TO END — the composition of the p02 (capacity/"
    "CE/q_norm/energy), p04 (IR argmin + neighbor medians), and p03 "
    "(dQ/dV arange/interp/gradient/argmax re-derivation) oracles on the "
    "flagship's integer-accumulated cumulative capacities; the numpy "
    "kernel's input here is exact decimals, so the SQL re-derivation is "
    "bit-stable including argmax tie resolution",
)
def p01_cycler_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    return flagship_features(spark, sf_dir)


@_register(
    "p02_cycler_features_sql",
    """
    WITH ts AS (
      SELECT CAST(user_id AS VARCHAR) AS cell_id,
             ts AS t, event_id,
             (epoch_us(ts) // 86400000000) // 7 AS cycle_index,
             CASE WHEN event_type IN ('purchase','view') THEN 'CC_DIS'
                  WHEN event_type IN ('click','signup') THEN 'CC_CHG'
                  ELSE 'REST' END AS step_type,
             value AS v
      FROM events),
    w AS (
      -- integer centi-unit accumulation (exact under any association),
      -- one float division at the end — matches the Spark side and is
      -- immune to DuckDB's segment-tree window summation order
      SELECT *,
             sum(CASE WHEN step_type = 'CC_CHG'
                      THEN CAST(round(v * 100) AS BIGINT) ELSE 0 END)
               OVER win / 100000.0 AS charge_ah,
             sum(CASE WHEN step_type = 'CC_DIS'
                      THEN CAST(round(v * 100) AS BIGINT) ELSE 0 END)
               OVER win / 100000.0 AS discharge_ah
      FROM ts
      WINDOW win AS (PARTITION BY cell_id, cycle_index ORDER BY t, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    cap AS (
      SELECT cell_id, cycle_index,
             max(discharge_ah) AS Q_dis_Ah,
             max(charge_ah)    AS Q_chg_Ah
      FROM w GROUP BY cell_id, cycle_index),
    cap2 AS (
      SELECT cell_id, cycle_index, Q_dis_Ah, Q_chg_Ah,
             CASE WHEN Q_chg_Ah IS NULL OR Q_chg_Ah = 0 THEN NULL
                  ELSE Q_dis_Ah / Q_chg_Ah END AS CE,
             Q_dis_Ah / first_value(Q_dis_Ah) OVER
               (PARTITION BY cell_id ORDER BY cycle_index
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS q_norm
      FROM cap),
    dis AS (
      SELECT cell_id, cycle_index, t,
             (3.0 + v % 1.5) * (- v / 100.0) AS p,
             epoch_us(t) / 1000000.0 AS tsec
      FROM ts WHERE contains(step_type, 'DIS')),
    seg AS (
      SELECT cell_id, cycle_index,
             0.5 * (p + lag(p) OVER win) * (tsec - lag(tsec) OVER win) AS s
      FROM dis
      WINDOW win AS (PARTITION BY cell_id, cycle_index ORDER BY t)),
    en AS (
      SELECT cell_id, cycle_index,
             CASE WHEN count(*) >= 2
                  THEN abs(CAST(sum(CAST(floor(s * 1000000000.0 + 0.5)
                         AS BIGINT)) AS DOUBLE) / 1000000000.0) / 3600.0
             END AS E_dis_Wh
      FROM seg GROUP BY cell_id, cycle_index)
    SELECT c.cell_id, c.cycle_index, c.Q_dis_Ah, c.Q_chg_Ah, c.CE, c.q_norm,
           e.E_dis_Wh
    FROM cap2 c LEFT JOIN en e
      ON c.cell_id = e.cell_id AND c.cycle_index = e.cycle_index
    """,
    survey="A1-A5 oracle-checked end-to-end: normalize-map + capacity/CE/q_norm "
    "+ trapezoid energy on events-mapped timeseries",
)
def p02_cycler_features_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.features import per_cycle_features

    ts = events_as_timeseries(spark, sf_dir)
    return per_cycle_features(ts, features=("capacity", "energy"))


# =====================================================================
# Structured Streaming (engine extension; SURVEY.md §2.12)
# =====================================================================


@_register(
    "st01_stream_window_rollup",
    """
    SELECT (epoch_us(ts) // 604800000000) * 604800000000 AS window_start_us,
           event_type,
           count(*) AS n_events,
           CAST(sum(CAST(round(value, 6) AS DECIMAL(38,6)))
                AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
    survey="streaming: watermark + tumbling event-time window aggregation "
    "(readStream parquet → window(ts) groupBy → availableNow memory sink), "
    "oracle-checked against the equivalent batch bucketing",
)
def st01_stream_window_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A real Structured Streaming execution: the events table replayed
    through the file-stream source, aggregated over 7-day tumbling
    event-time windows, run to completion with an availableNow trigger
    into a memory sink. Complete output mode → the sink holds the exact
    final aggregate, so the result is deterministic and oracle-equal to
    batch bucketing (epoch-aligned windows, UTC session)."""
    from ..streaming import read_events_stream, run_stream_to_memory, windowed_event_rollup

    rolled = windowed_event_rollup(read_events_stream(spark, sf_dir))
    out = run_stream_to_memory(rolled, output_mode="complete")
    return out.select(
        F.unix_micros(F.col("window_start")).alias("window_start_us"),
        "event_type",
        "n_events",
        "sum_value",
    )


@_register(
    "st02_stream_static_join",
    """
    SELECT c.c_mktsegment, count(*) AS n_events,
           CAST(sum(CAST(round(e.value, 6) AS DECIMAL(38,6)))
                AS DOUBLE) AS sum_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
    survey="streaming: stream-static dimension-enrich join (stateless per "
    "micro-batch, broadcast dim, no watermark) + running segment rollup, "
    "run to completion via availableNow → memory sink, oracle-checked "
    "against the equivalent batch join",
)
def st02_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A real streaming execution of the dimension-enrich shape: the
    events replayed through the file-stream source, hash-joined per
    micro-batch against the static customer table, aggregated per
    market segment in complete mode — the final sink state equals the
    batch join bit-for-bit."""
    from ..streaming import read_events_stream, run_stream_to_memory
    from ..streaming.features import stream_segment_rollup

    cust = load_table(spark, sf_dir, "customer")
    rolled = stream_segment_rollup(read_events_stream(spark, sf_dir), cust)
    out = run_stream_to_memory(rolled, output_mode="complete")
    return out


@_register(
    "m03_frame_sample",
    """
    WITH d AS (
      SELECT doc_id, text, length(text) // 4 AS flen
      FROM documents WHERE text IS NOT NULL)
    SELECT doc_id, CAST(u.k AS INT) AS frame_idx,
           u.k * flen AS off,
           md5(substr(text, u.k * flen + 1, flen)) AS frame_md5
    FROM d, LATERAL (SELECT unnest(generate_series(0, 3)) AS k) u
    WHERE flen > 0
    """,
    survey="north-star multimodal: uniform frame sampling (one row per "
    "frame) via one-to-many mapInPandas — deterministic slicing decode, so "
    "the full Arrow-batched path is oracle-checked (vs LATERAL unnest + "
    "substr), unlike m02's rows-only stub",
)
def m03_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.multimodal import sample_frames

    (docs,) = _ctx(spark, sf_dir, "documents")
    return sample_frames(docs, n_frames=4)


@_register(
    "p03_dqdv_sql",
    """
    WITH ts AS (
      SELECT CAST(user_id AS VARCHAR) AS cell_id,
             ts AS t, event_id,
             (epoch_us(ts) // 86400000000) // 7 AS cycle_index,
             CASE WHEN event_type IN ('purchase','view') THEN 'CC_DIS'
                  WHEN event_type IN ('click','signup') THEN 'CC_CHG'
                  ELSE 'REST' END AS step_type,
             value AS v
      FROM events),
    q AS (
      SELECT cell_id, cycle_index, (3.0 + v % 1.5) AS vv,
             row_number() OVER (PARTITION BY cell_id, cycle_index
                                ORDER BY t, event_id) AS ord,
             v / 1000.0 - min(v / 1000.0)
               OVER (PARTITION BY cell_id, cycle_index) AS qq
      FROM ts WHERE contains(step_type, 'DIS')),
    qd AS (  -- collapse duplicate voltages: np.interp uses the LAST dup
             -- entering a segment and the FIRST dup leaving it
      SELECT cell_id, cycle_index, vv,
             arg_max(qq, ord) AS q_last, arg_min(qq, ord) AS q_first
      FROM q GROUP BY cell_id, cycle_index, vv),
    st AS (
      SELECT cell_id, cycle_index, min(vv) AS v0, max(vv) AS v1, count(*) AS n
      FROM q GROUP BY cell_id, cycle_index),
    valid AS (
      SELECT cell_id, cycle_index, v0,
             CAST(ceil((v1 - v0) / 0.05) AS BIGINT) AS ng
      FROM st
      WHERE n >= 3 AND (v1 - v0) >= 0.05
            AND CAST(ceil((v1 - v0) / 0.05) AS BIGINT) >= 2),
    grid AS (  -- np.arange fill rule, mirrored bit-for-bit:
               -- v[0]=v0, v[1]=v0+step, v[k]=v0+k*((v0+step)-v0)
      SELECT v.cell_id, v.cycle_index, v.ng, gs.k AS k,
             CASE WHEN gs.k = 0 THEN v.v0
                  WHEN gs.k = 1 THEN v.v0 + 0.05
                  ELSE v.v0 + gs.k * ((v.v0 + 0.05) - v.v0) END AS gv
      FROM valid v,
           LATERAL (SELECT unnest(generate_series(0, v.ng - 1)) AS k) gs),
    br AS (  -- np.interp bracket per grid point
      SELECT g.cell_id, g.cycle_index, g.ng, g.k, g.gv,
             max(s.vv)               FILTER (WHERE s.vv <= g.gv) AS v_lo,
             arg_max(s.q_last, s.vv) FILTER (WHERE s.vv <= g.gv) AS q_lo,
             min(s.vv)               FILTER (WHERE s.vv >  g.gv) AS v_hi,
             arg_min(s.q_first, s.vv) FILTER (WHERE s.vv > g.gv) AS q_hi
      FROM grid g JOIN qd s USING (cell_id, cycle_index)
      GROUP BY ALL),
    qg AS (  -- slope-first form mirrors np.interp rounding exactly
      SELECT cell_id, cycle_index, ng, k, gv,
             CASE WHEN v_hi IS NULL THEN q_lo
                  ELSE q_lo + ((q_hi - q_lo) / (v_hi - v_lo)) * (gv - v_lo)
             END AS qgv
      FROM br),
    gr AS (  -- np.gradient: central interior, one-sided edges
      SELECT cell_id, cycle_index, k, gv,
             CASE WHEN k = 0      THEN (lead(qgv) OVER wg - qgv) / 0.05
                  WHEN k = ng - 1 THEN (qgv - lag(qgv) OVER wg) / 0.05
                  ELSE (lead(qgv) OVER wg - lag(qgv) OVER wg) / (2 * 0.05)
             END AS grad
      FROM qg
      WINDOW wg AS (PARTITION BY cell_id, cycle_index ORDER BY k)),
    pk AS (  -- np.argmax: FIRST maximal grid point
      SELECT cell_id, cycle_index, arg_min(gv, k) AS gv
      FROM gr g
      WHERE grad = (SELECT max(grad) FROM gr m
                    WHERE m.cell_id = g.cell_id
                      AND m.cycle_index = g.cycle_index)
      GROUP BY cell_id, cycle_index),
    cycles AS (
      SELECT DISTINCT cell_id, cycle_index FROM ts
      WHERE cycle_index IS NOT NULL),
    peaks AS (
      SELECT c.cell_id, c.cycle_index, p.gv AS dQdV_peak_V
      FROM cycles c LEFT JOIN pk p
        ON c.cell_id = p.cell_id AND c.cycle_index = p.cycle_index)
    SELECT cell_id, cycle_index, dQdV_peak_V,
           CASE WHEN dQdV_peak_V IS NOT NULL THEN
             (dQdV_peak_V - first_value(dQdV_peak_V IGNORE NULLS)
                OVER (PARTITION BY cell_id ORDER BY cycle_index
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) * 1000.0
           END AS dQdV_shift_mV
    FROM peaks
    """,
    survey="A8-A10 oracle-checked: dQ/dV grid-interp/gradient/argmax kernel vs a "
    "full SQL reformulation (recursive-CTE arange, np.interp bracket algebra, "
    "np.gradient stencils, first-max argmax) + shift window",
    note="The engine runs the numpy kernel as Spark built-in array functions "
    "(operators/dqdv.py), verified bit-for-bit against both this oracle and "
    "the numpy reference. The mapped input avoids a windowed cumsum (engines "
    "associate long window sums differently at ulp scale, and argmax over "
    "gradients with exact ties cannot tolerate ulp noise); every remaining "
    "float op is order-identical in both engines, so raw np.argmax "
    "tie-resolution matches exactly.",
)
def p03_dqdv_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dQ/dV peak + shift over an events-mapped timeseries — the
    array-function kernel (operators/dqdv.py), oracle-checked against
    an exact SQL re-derivation of np.interp + np.gradient + first-max
    argmax (see the registered SQL)."""
    from ..operators.dqdv import dqdv_peak_per_cycle

    ev = load_table(spark, sf_dir, "events")
    step_type = (
        F.when(F.col("event_type").isin("purchase", "view"), "CC_DIS")
        .when(F.col("event_type").isin("click", "signup"), "CC_CHG")
        .otherwise("REST")
    )
    ts = ev.select(
        F.col("user_id").cast("string").alias("cell_id"),
        F.col("ts").alias("timestamp"),
        F.expr("(unix_micros(ts) div 86400000000) div 7").alias("cycle_index"),
        step_type.alias("step_type"),
        (3.0 + F.col("value") % 1.5).alias("voltage_v"),
        (F.col("value") / 1000.0).alias("discharge_ah"),
    )
    return dqdv_peak_per_cycle(ts).select(
        "cell_id", "cycle_index", "dQdV_peak_V", "dQdV_shift_mV"
    )


@_register(
    "p04_ir_sql",
    """
    WITH ts AS (
      SELECT CAST(user_id AS VARCHAR) AS cell_id,
             ts AS t, event_id,
             (epoch_us(ts) // 86400000000) // 7 AS cycle_index,
             CASE WHEN event_type IN ('purchase','view') THEN 'CC_DIS'
                  WHEN event_type IN ('click','signup') THEN 'CC_CHG'
                  ELSE 'REST' END AS step_type,
             value AS v
      FROM events),
    m AS (
      SELECT cell_id, cycle_index, t, step_type,
             (3.0 + v % 1.5) AS voltage_v,
             CASE WHEN step_type = 'CC_DIS' THEN - v / 100.0
                  WHEN step_type = 'CC_CHG' THEN v / 100.0
                  ELSE 0.0 END AS current_a
      FROM ts),
    pos AS (  -- row label in the globally time-sorted frame, per cell
      SELECT *, row_number() OVER (PARTITION BY cell_id ORDER BY t) AS p
      FROM m),
    dis AS (
      SELECT cell_id, cycle_index, p, voltage_v, current_a,
             abs(abs(current_a) - 1.0) AS absdiff
      FROM pos
      WHERE contains(step_type, 'DIS') AND cycle_index IS NOT NULL),
    sel AS (  -- first-occurrence argmin (pandas idxmin)
      SELECT cell_id, cycle_index, p AS idx FROM (
        SELECT cell_id, cycle_index, p,
               row_number() OVER (PARTITION BY cell_id, cycle_index
                                  ORDER BY absdiff, p) AS rn
        FROM dis WHERE absdiff IS NOT NULL)
      WHERE rn = 1),
    band AS (
      SELECT d.cell_id, d.cycle_index, d.p, d.voltage_v, d.current_a, s.idx
      FROM dis d JOIN sel s USING (cell_id, cycle_index)
      WHERE d.p BETWEEN s.idx - 1 AND s.idx + 1),
    agg AS (
      SELECT cell_id, cycle_index,
             median(voltage_v) FILTER (WHERE p <  idx) AS pre_v,
             median(voltage_v) FILTER (WHERE p >= idx) AS post_v,
             median(current_a) FILTER (WHERE p <  idx) AS pre_i,
             median(current_a) FILTER (WHERE p >= idx) AS post_i,
             count(*)          FILTER (WHERE p <  idx) AS n_pre,
             count(*)          FILTER (WHERE p >= idx) AS n_post
      FROM band GROUP BY cell_id, cycle_index),
    cycles AS (
      SELECT DISTINCT cell_id, cycle_index FROM ts
      WHERE cycle_index IS NOT NULL)
    SELECT c.cell_id, c.cycle_index,
           CASE WHEN a.n_pre = 0 OR a.n_post = 0
                     OR (a.post_i - a.pre_i) IS NULL
                     OR (a.post_i - a.pre_i) = 0 THEN NULL
                -- +0.0 canonicalizes -0.0: DuckDB's abs() preserves the
                -- sign bit of -0.0 while Spark's clears it
                ELSE abs((a.post_v - a.pre_v) / (a.post_i - a.pre_i)) + 0.0
           END AS IR_C2_ohm
    FROM cycles c LEFT JOIN agg a
      ON c.cell_id = a.cell_id AND c.cycle_index = a.cycle_index
    """,
    survey="A6-A7 oracle-checked on the real operator: ir_c2_per_cycle "
    "(first-occurrence argmin, positional neighbor-band exact medians, "
    "guarded |dV/dI|) over an events-mapped timeseries",
)
def p04_ir_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IR@C/2 — the production operator (operators/ir.py) on a mapped
    timeseries, hash-checked against a DuckDB re-derivation of the
    argmin + neighbor-median-band + guarded-ratio pipeline."""
    from ..operators.ir import ir_c2_per_cycle

    ev = load_table(spark, sf_dir, "events")
    step_type = (
        F.when(F.col("event_type").isin("purchase", "view"), "CC_DIS")
        .when(F.col("event_type").isin("click", "signup"), "CC_CHG")
        .otherwise("REST")
    )
    cur = (
        F.when(F.col("event_type").isin("purchase", "view"), -F.col("value") / 100.0)
        .when(F.col("event_type").isin("click", "signup"), F.col("value") / 100.0)
        .otherwise(F.lit(0.0))
    )
    ts = ev.select(
        F.col("user_id").cast("string").alias("cell_id"),
        F.col("ts").alias("timestamp"),
        F.expr("(unix_micros(ts) div 86400000000) div 7").alias("cycle_index"),
        step_type.alias("step_type"),
        (3.0 + F.col("value") % 1.5).alias("voltage_v"),
        cur.alias("current_a"),
    )
    return ir_c2_per_cycle(ts, rated_ah=2.0).select(
        "cell_id", "cycle_index", "IR_C2_ohm"
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


