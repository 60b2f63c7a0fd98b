"""Pipeline queries (``p*``): the cycler feature pipeline and its SQL
re-derivations, and the capstone chains composed from other families'
verified stages (export, tokenizer corpus, trained tokenizer).

Importing this module registers its queries; the driver-facing order is
``_registry.ORDER``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..checkpoint import durable_checkpoint
from ..sources.tables import load_table
from ._registry import QUERIES, _ctx, _register
from .dedup import _D20_CTES
from .flagship import events_as_timeseries, flagship_features
from .text import (
    _T23_ANY,
    _T23_APPLY,
    _T23_NONE,
    _T23_POS,
    _T24_ROUNDS,
    _T24_V0_CTE,
    _t24_round_ctes,
)


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


# ---------------------------------------------------------------------------
# p05: training-data export composite (screen → clean → dedup → pack)
# ---------------------------------------------------------------------------
@_register(
    "p05_export_pipeline",
    """
    WITH t AS (
      SELECT doc_id, source, lang,
             regexp_extract_all(text, '[^ ]+') AS toks
      FROM documents),
    base AS (
      SELECT doc_id, source, lang, len(toks) AS n_tok, toks FROM t),
    scr AS (
      SELECT * FROM base
      WHERE lang = 'en' AND n_tok BETWEEN 20 AND 200),
    c AS (
      SELECT scr.doc_id, u.i AS cidx,
             array_to_string(toks[3 * u.i + 1 : 3 * u.i + 3], ' ') AS chunk
      FROM scr, LATERAL (SELECT unnest(generate_series(0,
               (len(toks) + 2) // 3 - 1)) AS i) u),
    f AS (SELECT doc_id, chunk, min(cidx) AS first_idx
          FROM c GROUP BY doc_id, chunk),
    k AS (SELECT doc_id, count(*) AS n_uniq,
                 md5(string_agg(chunk, ' ' ORDER BY first_idx)) AS kept_md5
          FROM f GROUP BY doc_id),
    cl AS (
      SELECT scr.doc_id, scr.source,
             scr.n_tok - 3 * ((scr.n_tok + 2) // 3 - k.n_uniq) AS n_clean,
             k.kept_md5
      FROM scr JOIN k USING (doc_id)),
    dd AS (
      SELECT *, row_number() OVER (PARTITION BY kept_md5
                                   ORDER BY doc_id) AS rn
      FROM cl),
    sv AS (SELECT doc_id, source, n_clean FROM dd WHERE rn = 1),
    pk AS (
      SELECT source, doc_id, n_clean,
             sum(n_clean) OVER (PARTITION BY source ORDER BY doc_id) AS cum
      FROM sv),
    agg AS (
      SELECT source,
             count(*) AS n_kept,
             sum(n_clean) AS tok_total,
             sum(CASE WHEN (cum - 1) // 512 > (cum - n_clean) // 512
                      THEN 1 ELSE 0 END) AS n_crossers
      FROM pk GROUP BY source),
    cnt AS (
      SELECT b.source, count(*) AS n_in,
             sum(CASE WHEN b.lang = 'en' AND b.n_tok BETWEEN 20 AND 200
                      THEN 1 ELSE 0 END) AS n_screened
      FROM base b GROUP BY b.source)
    SELECT cnt.source,
           CAST(cnt.n_in AS BIGINT) AS n_in,
           CAST(cnt.n_screened AS BIGINT) AS n_screened,
           CAST(coalesce(agg.n_kept, 0) AS BIGINT) AS n_kept,
           CAST(coalesce(agg.tok_total, 0) AS BIGINT) AS tok_total,
           CAST((coalesce(agg.tok_total, 0) + 511) // 512 AS BIGINT)
             AS n_packs,
           CAST(coalesce(agg.n_crossers, 0) AS BIGINT) AS n_crossers
    FROM cnt LEFT JOIN agg USING (source)
    """,
    survey="north-star capstone #2: the pretraining EXPORT pipeline "
    "composed end to end — language + length screens (t13's cheap "
    "row-local stage), C4-style intra-doc span self-dedup (t17, with "
    "the cleaned token count derived EXACTLY: every dropped span is a "
    "full 3-token span, so n_clean = n_tok − 3·dropped), cross-doc "
    "exact dedup on the CLEANED fingerprint (d01's first-wins rule — "
    "dedup after cleaning catches docs that differ only in their "
    "internal repetition), then o15's per-source sequence packing of "
    "the survivors into 512-token windows, audited per source shard "
    "(docs in/screened/kept, clean tokens, pack count, boundary "
    "crossers). Stage ORDER is the production one: row-local screens "
    "and self-cleaning shrink the corpus before the only global "
    "exchange (fingerprint dedup), and packing stays per-shard "
    "parallel. At 100 TB this single lazy plan is one scan + one "
    "survivor-only shuffle + per-shard windows — no stage "
    "materializes the corpus.",
    note="Spans are joined on single spaces, so the cleaned token "
    "count identity holds for any tokenization; the partial last span "
    "(1-2 tokens) can never equal a full 3-token span, so dropped "
    "spans are always full — pinned by the t17 tests.",
)
def p05_export_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Screen → span-clean → fingerprint-dedup → pack, with a
    per-source audit row (the export-side sibling of p01/t13)."""
    from ..sources.tables import scale_out

    (docs,) = _ctx(spark, sf_dir, "documents")
    docs = scale_out(docs)  # screens + span HOFs are narrow and heavy
    toks = F.regexp_extract_all("text", F.lit(r"[^ ]+"), 0)
    base = docs.select(
        "doc_id", "source", "lang", toks.alias("toks")
    ).withColumn("n_tok", F.size("toks"))
    screened = F.col("lang").eqNullSafe("en") & F.col("n_tok").between(20, 200)
    scr = base.filter(screened)
    spans = F.expr(
        "transform(sequence(0, (size(toks) + 2) div 3 - 1),"
        " i -> array_join(slice(toks, i * 3 + 1, 3), ' '))"
    )
    kept = F.array_distinct(spans)
    cl = scr.select(
        "doc_id",
        "source",
        (
            F.col("n_tok")
            - F.lit(3) * (F.expr("(n_tok + 2) div 3") - F.size(kept))
        ).alias("n_clean"),
        F.md5(F.encode(F.array_join(kept, " "), "UTF-8")).alias("kept_md5"),
    )
    w_dd = Window.partitionBy("kept_md5").orderBy("doc_id")
    sv = (
        cl.withColumn("rn", F.row_number().over(w_dd))
        .filter(F.col("rn") == 1)
        .select("doc_id", "source", "n_clean")
    )
    w_pk = Window.partitionBy("source").orderBy("doc_id")
    pk = sv.withColumn("cum", F.sum("n_clean").over(w_pk))
    agg = pk.groupBy("source").agg(
        F.count("*").alias("n_kept"),
        F.sum("n_clean").alias("tok_total"),
        F.sum(
            F.when(
                F.expr("(cum - 1) div 512") > F.expr("(cum - n_clean) div 512"),
                1,
            ).otherwise(0)
        ).alias("n_crossers"),
    )
    cnt = base.groupBy("source").agg(
        F.count("*").alias("n_in"),
        F.sum(F.when(screened, 1).otherwise(0)).alias("n_screened"),
    )
    return cnt.join(agg, "source", "left").select(
        "source",
        F.col("n_in").cast("long").alias("n_in"),
        F.col("n_screened").cast("long").alias("n_screened"),
        F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
        F.coalesce("tok_total", F.lit(0)).cast("long").alias("tok_total"),
        # integer ceil-div (div, not float /): keeps the all-integer
        # discipline — float division happens to be exact here only
        # because 512 is a power of two and tok_total < 2^53
        F.expr("(coalesce(tok_total, 0) + 511) div 512")
        .cast("long")
        .alias("n_packs"),
        F.coalesce("n_crossers", F.lit(0)).cast("long").alias("n_crossers"),
    )


# ---------------------------------------------------------------------------
# p06: the wave-10 capstone — span removal -> quota mix -> pack -> encode
# ---------------------------------------------------------------------------
@_register(
    "p06_tokenizer_corpus_pipeline",
    f"""
    WITH RECURSIVE {_D20_CTES},
    kept AS (SELECT doc_id, CAST(sum(1 - covered) AS BIGINT) AS n_kept
             FROM cov2 GROUP BY doc_id HAVING sum(1 - covered) > 0),
    surv AS (SELECT k.doc_id, d2.source, k.n_kept
             FROM kept k JOIN documents d2 USING (doc_id)),
    cnts AS (SELECT source, count(*) AS n_source FROM surv GROUP BY source),
    wq AS (SELECT source, CAST(n_source AS BIGINT) AS n_source,
                  CAST(floor(sqrt(CAST(n_source AS DOUBLE))) AS BIGINT) AS w
           FROM cnts),
    tq AS (SELECT CAST(sum(n_source) AS BIGINT) AS N,
                  CAST(sum(w) AS BIGINT) AS S FROM wq),
    q0 AS (SELECT wq.source, wq.n_source, wq.w, (t.N // 5) AS B,
                  ((t.N // 5) * wq.w) // t.S AS base,
                  ((t.N // 5) * wq.w) % t.S AS rem
           FROM wq CROSS JOIN tq t),
    q AS (SELECT source, n_source, w,
                 base + CASE WHEN row_number()
                                  OVER (ORDER BY rem DESC, source)
                             <= B - CAST(sum(base) OVER () AS BIGINT)
                        THEN 1 ELSE 0 END AS quota
          FROM q0),
    rk AS (SELECT s.source, s.doc_id, s.n_kept,
                  row_number() OVER (PARTITION BY s.source
                    ORDER BY md5(CAST(s.doc_id AS VARCHAR)), s.doc_id)
                    AS rank
           FROM surv s),
    sel AS (SELECT rk.source, rk.doc_id, rk.n_kept, rk.rank
            FROM rk JOIN q USING (source) WHERE rk.rank <= q.quota),
    pk AS (SELECT source, doc_id, n_kept, rank,
                  sum(n_kept) OVER (PARTITION BY source ORDER BY doc_id)
                    AS cum
           FROM sel),
    pagg AS (SELECT source,
                    CAST(count(*) AS BIGINT) AS n_selected,
                    CAST(sum(n_kept) AS BIGINT) AS kept_tok_total,
                    CAST(sum(CASE WHEN (cum - 1) // 512
                                       > (cum - n_kept) // 512
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_crossers,
                    CAST(sum(rank * ('0x' || substr(
                        md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT)
                        AS BIGINT) AS sel_sig
             FROM pk GROUP BY source),
    vocc AS (SELECT sel.source, c.tok
             FROM cov2 c JOIN sel ON sel.doc_id = c.doc_id
             WHERE c.covered = 0),
    vocab AS (SELECT DISTINCT tok FROM vocc),
    enc AS (
      SELECT tok, list_transform(range(1, len(tok) + 1), i -> tok[i])
               AS syms
      FROM vocab
      UNION ALL
      SELECT tok, CASE
          {_T23_APPLY}
        END AS syms
      FROM (SELECT tok, syms,
             {_T23_POS}
            FROM enc) WHERE {_T23_ANY}
    ),
    fenc AS (
      SELECT tok, len(syms) AS n_syms
      FROM (SELECT tok, syms,
             {_T23_POS}
            FROM enc)
      WHERE {_T23_NONE}),
    bagg AS (SELECT v.source, CAST(sum(f.n_syms) AS BIGINT)
                      AS bpe_tok_total
             FROM vocc v JOIN fenc f USING (tok) GROUP BY v.source),
    nin AS (SELECT source, CAST(count(*) AS BIGINT) AS n_in
            FROM documents GROUP BY source)
    SELECT nin.source, nin.n_in,
           CAST(coalesce(q.n_source, 0) AS BIGINT) AS n_surv,
           CAST(coalesce(q.quota, 0) AS BIGINT) AS quota,
           CAST(coalesce(pagg.n_selected, 0) AS BIGINT) AS n_selected,
           CAST(coalesce(pagg.sel_sig, 0) AS BIGINT) AS sel_sig,
           CAST(coalesce(pagg.kept_tok_total, 0) AS BIGINT)
             AS kept_tok_total,
           CAST((coalesce(pagg.kept_tok_total, 0) + 511) // 512 AS BIGINT)
             AS n_packs,
           CAST(coalesce(pagg.n_crossers, 0) AS BIGINT) AS n_crossers,
           CAST(coalesce(bagg.bpe_tok_total, 0) AS BIGINT)
             AS bpe_tok_total
    FROM nin LEFT JOIN q ON q.source = nin.source
             LEFT JOIN pagg ON pagg.source = nin.source
             LEFT JOIN bagg ON bagg.source = nin.source
    """,
    survey="north-star capstone #3 (the wave-10 chain, VERDICT r09 "
    "task 7): the tokenizer-ready-corpus pipeline — the d20 survivor "
    "relation materializes once (optimization r11: the fully-lazy "
    "form's plan replicated the three-shuffle d20 chain under every "
    "consumer, 44 documents-scans in the physical plan) and the "
    "curation/encode stages compose lazily on it — d20 cross-document "
    "exact-substring REMOVAL (surviving "
    "tokens kept in order), o18's integer largest-remainder "
    "quota-exact temperature mixing over the SURVIVORS (per real "
    "source shard, sqrt weighting, Σ quota == survivors DIV 5 an "
    "identity), o15's per-source 512-token sequence packing of the "
    "selected docs' CLEANED token counts, and t23's BPE encode of the "
    "selected corpus (vocab-cached kernel; RECURSIVE-CTE oracle). "
    "Bounded per-source audit: docs in/survivors/quota/selected + "
    "md5-rank selection signature, kept-token total, pack count, "
    "boundary crossers, BPE token total. Stage order is the "
    "production one: the only corpus-wide exchanges are d20's three "
    "linear shuffles and the survivor-only selection/pack windows; "
    "packing stays per-shard parallel; the BPE kernel sees only the "
    "selected corpus's DISTINCT vocabulary.",
    note="Long-doc invariant: the oracle inherits d20's constant-range "
    "unnest, and the corpus guard lives in d20's own poison sentinel "
    "(registered and driver-checked every window) — a >4095-token doc "
    "fails d20 loudly before this capstone could silently diverge.",
)
def p06_tokenizer_corpus_pipeline(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Span-removal -> quota mixing -> packing -> BPE encode, audited
    per source shard (the wave-10 capstone chain)."""
    from ..functions.text import bpe_encode_vocab

    (docs,) = _ctx(spark, sf_dir, "documents")
    # optimization r11: the survivor relation materializes ONCE —
    # the lazy form's plan replicated the d20 chain under every
    # consumer (44 documents-scans in the physical plan, only
    # partially deduped by AQE stage reuse); the curation/encode
    # stages still compose lazily on the materialized survivors
    surv, q, sel, pagg, nin = _p06_curation_stages(
        docs, materialize_surv=True
    )
    occ = sel.select("source", F.explode("kept_toks").alias("tok"))
    enc = bpe_encode_vocab(occ.select("tok").distinct())
    bagg = occ.join(enc, "tok").groupBy("source").agg(
        F.sum("n_syms").cast("long").alias("bpe_tok_total")
    )
    z = F.lit(0).cast("long")
    return (
        nin.join(
            q.select(
                "source",
                F.col("n_source").cast("long").alias("n_surv"),
                F.col("quota").cast("long").alias("quota"),
            ),
            "source",
            "left",
        )
        .join(pagg, "source", "left")
        .join(bagg, "source", "left")
        .select(
            "source",
            "n_in",
            F.coalesce("n_surv", z).alias("n_surv"),
            F.coalesce("quota", z).alias("quota"),
            F.coalesce("n_selected", z).alias("n_selected"),
            F.coalesce("sel_sig", z).alias("sel_sig"),
            F.coalesce("kept_tok_total", z).alias("kept_tok_total"),
            F.expr("(coalesce(kept_tok_total, 0) + 511) div 512")
            .cast("long")
            .alias("n_packs"),
            F.coalesce("n_crossers", z).alias("n_crossers"),
            F.coalesce("bpe_tok_total", z).alias("bpe_tok_total"),
        )
    )


def _p06_curation_stages(docs: DataFrame, materialize_surv: bool = False):
    """The shared d20-removal → quota-mix → selection → packing stages
    of the p06/p07 capstones: returns ``(surv, q, sel, pagg, nin)``
    (survivors with kept_toks, the quota relation, the selected docs,
    the packing audit aggregate, and the per-source input counts) as
    ONE lazy DAG — p06 encodes under the literal merge table, p07
    trains on the survivors first and encodes under the trained one.

    ``materialize_surv`` (p07, optimization r11): the d20 survivor
    chain (three corpus-wide shuffles) feeds BOTH the eager trainer
    phase and the final curate+encode plan — without materialization
    the chain executes once for the trainer and again (partially
    exchange-reused) for the final plan. ``localCheckpoint`` runs it
    exactly once and every consumer reads the materialized survivors
    (guide §3.3: materialize an intermediate referenced across jobs —
    one write + k reads beats k recomputes of a 3-shuffle chain at any
    scale). p06 stays fully lazy (single-plan contract, plan-pinned).
    """
    from pyspark.sql import Window

    from ..functions.dedup import crossdoc_kept_tokens
    from ..functions.sampling import integer_quotas

    st = crossdoc_kept_tokens(docs, k=8, gram_key="raw")
    kept = (
        st.groupBy("doc_id")
        .agg(
            F.sum(F.when(F.col("covered") == 0, 1).otherwise(0))
            .cast("long")
            .alias("n_kept"),
            F.array_sort(
                F.collect_list(
                    F.when(
                        F.col("covered") == 0,
                        F.struct(F.col("rn_kept"), F.col("tok")),
                    )
                )
            ).alias("_kt"),
        )
        .filter(F.col("n_kept") > 0)
        .select(
            "doc_id",
            "n_kept",
            F.expr("transform(_kt, x -> x.tok)").alias("kept_toks"),
        )
    )
    surv = kept.join(docs.select("doc_id", "source"), "doc_id")
    if materialize_surv:
        surv = durable_checkpoint(surv)
    counts = surv.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_source")
    )
    q = integer_quotas(counts, budget_den=5, weighting="sqrt")
    order = F.md5(F.col("doc_id").cast("string"))
    sw = Window.partitionBy("source").orderBy(order, F.col("doc_id"))
    sel = (
        surv.join(F.broadcast(q.select("source", "quota")), "source")
        .withColumn("rank", F.row_number().over(sw))
        .filter(F.col("rank") <= F.col("quota"))
    )
    pw = Window.partitionBy("source").orderBy("doc_id")
    pk = sel.withColumn("cum", F.sum("n_kept").over(pw))
    hash32 = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    pagg = pk.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_selected"),
        F.sum("n_kept").cast("long").alias("kept_tok_total"),
        F.sum(
            F.when(
                F.expr("(cum - 1) div 512") > F.expr("(cum - n_kept) div 512"),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_crossers"),
        F.sum(F.col("rank") * hash32).cast("long").alias("sel_sig"),
    )
    nin = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_in")
    )
    return surv, q, sel, pagg, nin


# ---------------------------------------------------------------------------
# p07: the trained-tokenizer capstone — train on survivors, encode with it
# ---------------------------------------------------------------------------

#: p06's verified oracle, spliced VERBATIM through its packing audit
#: (everything up to the vocc/encode tail) — the s15 one-source-of-
#: truth discipline: a p06 curation-stage change propagates here or
#: fails this index() loudly at import.
_P06_ORACLE = QUERIES["p06_tokenizer_corpus_pipeline"].oracle
_P07_PREFIX = _P06_ORACLE[: _P06_ORACLE.index(",\n    vocc AS")]

_P07_TRAIN_CTES = ",\n    ".join(
    [
        # training corpus: ALL survivors' kept tokens (not just the
        # selected ones — you train the tokenizer on everything that
        # survived cleaning, then spend the sampling budget on what
        # you encode)
        "toksw AS MATERIALIZED (SELECT c.tok AS w, count(*) AS cnt\n"
        "      FROM cov2 c JOIN kept k ON k.doc_id = c.doc_id\n"
        "      WHERE c.covered = 0 GROUP BY c.tok)",
        _T24_V0_CTE,
    ]
    + _t24_round_ctes(_T24_ROUNDS)
)

_P07_MRG_UNION = "\n      UNION ALL ".join(
    f"SELECT rank, sym_a, sym_b FROM a{r}"
    for r in range(1, _T24_ROUNDS + 1)
)


@_register(
    "p07_trained_tokenizer_pipeline",
    f"""{_P07_PREFIX},
    {_P07_TRAIN_CTES},
    fstate AS (SELECT w, CAST(count(*) AS BIGINT) AS n_syms
               FROM v{_T24_ROUNDS} GROUP BY w),
    mrg AS ({_P07_MRG_UNION}),
    msig AS (SELECT CAST(coalesce(sum(rank * ('0x' || substr(
                   md5(sym_a || '>' || sym_b), 1, 8))::BIGINT), 0)
                   AS BIGINT) AS merge_sig,
                 CAST(count(*) AS BIGINT) AS n_merges
             FROM mrg),
    vocc AS (SELECT sel.source, c.tok
             FROM cov2 c JOIN sel ON sel.doc_id = c.doc_id
             WHERE c.covered = 0),
    bagg AS (SELECT v.source, CAST(sum(f.n_syms) AS BIGINT)
                      AS bpe_tok_total
             FROM vocc v JOIN fstate f ON f.w = v.tok GROUP BY v.source),
    nin AS (SELECT source, CAST(count(*) AS BIGINT) AS n_in
            FROM documents GROUP BY source)
    SELECT nin.source, nin.n_in,
           CAST(coalesce(q.n_source, 0) AS BIGINT) AS n_surv,
           CAST(coalesce(q.quota, 0) AS BIGINT) AS quota,
           CAST(coalesce(pagg.n_selected, 0) AS BIGINT) AS n_selected,
           CAST(coalesce(pagg.sel_sig, 0) AS BIGINT) AS sel_sig,
           CAST(coalesce(pagg.kept_tok_total, 0) AS BIGINT)
             AS kept_tok_total,
           CAST((coalesce(pagg.kept_tok_total, 0) + 511) // 512 AS BIGINT)
             AS n_packs,
           CAST(coalesce(pagg.n_crossers, 0) AS BIGINT) AS n_crossers,
           CAST(coalesce(bagg.bpe_tok_total, 0) AS BIGINT)
             AS bpe_tok_total,
           msig.merge_sig, msig.n_merges
    FROM nin LEFT JOIN q ON q.source = nin.source
             LEFT JOIN pagg ON pagg.source = nin.source
             LEFT JOIN bagg ON bagg.source = nin.source
             CROSS JOIN msig
    """,
    survey="north-star capstone #4 (VERDICT r10 task 4): the TRUE "
    "train→curate→encode tokenizer lifecycle — p06 encoded under the "
    "LITERAL 12-merge table; here the d20 survivors' kept tokens ARE "
    "the training corpus: t24's iterative trainer (8 rounds, "
    "bpe_train_rows) learns the merge table from the cleaned corpus, "
    "and t23's word-cache encoder encodes the quota-selected docs "
    "under THAT trained table. Adds the trained-table audit columns: "
    "merge_sig (Σ rank · md5-hash32 of 'sym_a>sym_b' — order- and "
    "content-sensitive) and n_merges. ENCODE/TRAIN CONSISTENCY IS THE "
    "ORACLE GATE: the Spark side genuinely ENCODES (Arrow kernel "
    "applying the trained merges per distinct token) while the DuckDB "
    "side derives token counts from the TRAINER's final state v8 — "
    "the two agree iff applying the trained table reproduces the "
    "trainer's final tokenization (the t24 consistency theorem), so "
    "every driver run re-proves the theorem cross-engine over the "
    "real corpus. Oracle composition: p06's verified curation chain "
    "spliced verbatim + t24's verified relational trainer CTEs over "
    "the survivor corpus.",
    note="Scale: identical exchange structure to p06 plus the trainer "
    "rounds, which run on the PERSISTED survivor vocabulary "
    "(Heaps-law small; at most two states cached, r10 ADVICE "
    "discipline) — the corpus is scanned once for word frequencies "
    "and once for the curation chain; the per-round max-pair collect "
    "is the quota-seed class. Training happens at plan-CONSTRUCTION "
    "time (the seed-collect idiom at trainer scale): fn(spark, "
    "sf_dir) runs the trainer eagerly, then returns the lazy "
    "curate+encode plan parameterized by the trained literals.",
)
def p07_trained_tokenizer_pipeline(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Span-removal -> TRAIN BPE on survivors -> quota mixing ->
    packing -> encode under the trained table, audited per source
    shard + trained-table signature columns."""
    import hashlib

    from ..functions.text import bpe_encode_vocab, bpe_train_rows

    (docs,) = _ctx(spark, sf_dir, "documents")
    # materialize the survivors once (optimization r11): the trainer
    # phase and the final curate+encode plan both consume the d20
    # chain — see _p06_curation_stages
    surv, q, sel, pagg, nin = _p06_curation_stages(
        docs, materialize_surv=True
    )
    words = (
        surv.select(F.explode("kept_toks").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    rows = bpe_train_rows(words, rounds=_T24_ROUNDS)
    merges = [(a, b) for (_r, a, b, _pc, _nm, _nt) in rows]
    merge_sig = sum(
        r * int(hashlib.md5(f"{a}>{b}".encode()).hexdigest()[:8], 16)
        for (r, a, b, _pc, _nm, _nt) in rows
    )
    occ = sel.select("source", F.explode("kept_toks").alias("tok"))
    enc = bpe_encode_vocab(occ.select("tok").distinct(), merges)
    bagg = occ.join(enc, "tok").groupBy("source").agg(
        F.sum("n_syms").cast("long").alias("bpe_tok_total")
    )
    z = F.lit(0).cast("long")
    return (
        nin.join(
            q.select(
                "source",
                F.col("n_source").cast("long").alias("n_surv"),
                F.col("quota").cast("long").alias("quota"),
            ),
            "source",
            "left",
        )
        .join(pagg, "source", "left")
        .join(bagg, "source", "left")
        .select(
            "source",
            "n_in",
            F.coalesce("n_surv", z).alias("n_surv"),
            F.coalesce("quota", z).alias("quota"),
            F.coalesce("n_selected", z).alias("n_selected"),
            F.coalesce("sel_sig", z).alias("sel_sig"),
            F.coalesce("kept_tok_total", z).alias("kept_tok_total"),
            F.expr("(coalesce(kept_tok_total, 0) + 511) div 512")
            .cast("long")
            .alias("n_packs"),
            F.coalesce("n_crossers", z).alias("n_crossers"),
            F.coalesce("bpe_tok_total", z).alias("bpe_tok_total"),
            F.lit(int(merge_sig)).cast("long").alias("merge_sig"),
            F.lit(len(rows)).cast("long").alias("n_merges"),
        )
    )
