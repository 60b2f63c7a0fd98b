"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and size arguments: the
same seed writes the same bytes (``tests/test_generators.py`` pins it).
The library under test only ever sees the files written here.

- ``cycler_cells``: one raw cycler CSV in each of four vendor layouts
  (Arbin with ``,`` or ``;``, Neware milli-units with the discharge sign
  flipped, and a headless elapsed-seconds export). Each cell carries its expected per-cycle features and fade summary,
  computed here with plain numpy from the closed-form physics of the
  repository's golden fixtures (5 charge samples, 1 rest, 5 discharge
  samples per cycle; linear capacity fade), never by calling the engine.
- ``dedup_corpus``: a ``documents`` table with a seeded rate of exact and
  near duplicates (word-level edits of an earlier document), plus the
  ``orders``/``lineitem`` key columns that form the customer-supplier
  trade graph of the graph queries.
- ``events_feed``: an ``events`` table and the same rows split by time
  into uneven parquet feed files for file-source streaming replay.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

RATED_AH = 3.0
DT_S = 60.0
DIS_V = np.array([4.2, 3.95, 3.7, 3.45, 3.2])
DIS_I = np.array([-0.5, -1.0, -1.5, -1.5, -1.5])
DIS_QFRAC = np.array([0.0, 0.1, 0.3, 0.8, 1.0])
CHG_V = np.array([3.0, 3.3, 3.6, 3.9, 4.2])
#: the C/2 row is the third discharge sample: |dV/dI| = 0.375 / 0.5
IR_OHM = 0.75
VENDORS = ("arbin", "arbin_semicolon", "neware", "headless")
DQDV_STEP = 0.05

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "en", "en", "zh", "es", "fr", "de")
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")


def _write_parquet(df: pd.DataFrame, path: str) -> None:
    table = pa.Table.from_pandas(df, preserve_index=False).replace_schema_metadata(None)
    pq.write_table(table, path, compression="snappy")


# ---------------------------------------------------------------- cycler


def _milli(x):
    """``x`` in milli-units, rounded to 1e-6 of them, as Neware writes it."""
    return np.round(np.asarray(x, dtype=float) * 1000.0, 6)


def _milli_exact(x):
    """``x`` moved to the nearest value that survives the Neware
    milli-unit round trip bit for bit: ``_milli(x)`` is written, and the
    engine's ``/ 1000.0`` gives back exactly ``x``. Every vendor layout
    then hands the engine the same doubles, so the closed-form dQ/dV peak
    (an argmax over near-equal gradients) is the same for all of them."""
    return _milli(x) / 1000.0


def _arbin_frame(n_cycles: int, fade: float, ce: float, t0: pd.Timestamp) -> pd.DataFrame:
    cyc, step, name, cur, volt, qchg, qdis = [], [], [], [], [], [], []
    for n in range(1, n_cycles + 1):
        qn = RATED_AH * (1.0 - fade * n)
        qc = qn / ce
        off = 0.001 * n
        for i in range(5):
            cyc.append(n); step.append(1); name.append("CC CHARGE")
            cur.append(1.5); volt.append(CHG_V[i])
            qchg.append(qc * (i + 1) / 5.0); qdis.append(0.0)
        cyc.append(n); step.append(2); name.append("REST")
        cur.append(0.0); volt.append(CHG_V[-1]); qchg.append(qc); qdis.append(0.0)
        for i in range(5):
            cyc.append(n); step.append(3); name.append("CC DISCHARGE")
            cur.append(DIS_I[i]); volt.append(DIS_V[i] + off)
            qchg.append(qc); qdis.append(qn * DIS_QFRAC[i])
    k = len(cyc)
    return pd.DataFrame(
        {
            "Date_Time": t0 + pd.to_timedelta(np.arange(k) * DT_S, unit="s"),
            "Cycle_Index": cyc,
            "Step_Index": step,
            "Step_Name": name,
            "Current(A)": cur,
            "Voltage(V)": _milli_exact(volt),
            "Temperature(C)": 25.0,
            "Charge_Capacity(Ah)": _milli_exact(qchg),
            "Discharge_Capacity(Ah)": _milli_exact(qdis),
        }
    )


def _vendor_frame(vendor: str, a: pd.DataFrame) -> tuple[pd.DataFrame, str]:
    if vendor == "arbin":
        return a, ","
    if vendor == "arbin_semicolon":
        return a, ";"
    if vendor == "neware":
        return (
            pd.DataFrame(
                {
                    "Record Time": a["Date_Time"],
                    "Cycle": a["Cycle_Index"],
                    "Step": a["Step_Index"],
                    "Mode": a["Step_Name"].map(
                        {"CC CHARGE": "CHG", "REST": "REST", "CC DISCHARGE": "DCHG"}
                    ),
                    "Current(mA)": -a["Current(A)"] * 1000.0,
                    "Voltage(mV)": _milli(a["Voltage(V)"]),
                    "Temperature(℃)": a["Temperature(C)"],
                    "Capacity Charge(mAh)": _milli(a["Charge_Capacity(Ah)"]),
                    "Capacity Discharge(mAh)": _milli(a["Discharge_Capacity(Ah)"]),
                }
            ),
            ",",
        )
    t0 = a["Date_Time"].iloc[0]
    return (
        pd.DataFrame(
            {
                "Test Time (s)": (a["Date_Time"] - t0).dt.total_seconds(),
                "Cycle_Index": a["Cycle_Index"],
                "Step_Index": a["Step_Index"],
                "Current(A)": a["Current(A)"],
                "Voltage(V)": a["Voltage(V)"],
                "Temperature(C)": a["Temperature(C)"],
                "Charge_Capacity(Ah)": a["Charge_Capacity(Ah)"],
                "Discharge_Capacity(Ah)": a["Discharge_Capacity(Ah)"],
            }
        ),
        ",",
    )


def expected_cell(n_cycles: int, fade: float, ce: float) -> tuple[pd.DataFrame, dict]:
    """Closed-form per-cycle features and fade summary of one cell."""
    rows = []
    q1 = None
    peak1 = None
    t = np.arange(5) * DT_S
    for n in range(1, n_cycles + 1):
        qn_raw = RATED_AH * (1.0 - fade * n)
        qn = float(_milli_exact(qn_raw))
        qc = float(_milli_exact(qn_raw / ce))
        if q1 is None:
            q1 = qn
        v = _milli_exact(DIS_V + 0.001 * n)
        e_wh = abs(np.trapz(v * DIS_I, t)) / 3600.0
        vv = v[::-1]
        qq = _milli_exact(qn_raw * DIS_QFRAC)[::-1]
        qq = qq - qq.min()
        vgrid = np.arange(vv[0], vv[-1], DQDV_STEP)
        grad = np.gradient(np.interp(vgrid, vv, qq), DQDV_STEP)
        peak = float(vgrid[int(np.argmax(grad))])
        if peak1 is None:
            peak1 = peak
        rows.append(
            {
                "cycle_index": n,
                "Q_dis_Ah": qn,
                "Q_chg_Ah": qc,
                "CE": qn / qc,
                "q_norm": qn / q1,
                "E_dis_Wh": e_wh,
                "IR_C2_ohm": IR_OHM,
                "dQdV_peak_V": peak,
                "dQdV_shift_mV": (peak - peak1) * 1000.0,
            }
        )
    feat = pd.DataFrame(rows)
    n = feat["cycle_index"].to_numpy(dtype=float)
    qn = feat["Q_dis_Ah"].to_numpy()
    m, b = np.polyfit(n, qn / qn[0], 1)
    summary = {
        "Q0_Ah": qn[0],
        "fade_slope_pct_per_cycle": m * 100.0,
        "cycles_to_80pct": (0.8 - b) / m,
    }
    return feat, summary


def cycler_cells(seed: int, out_dir: str, n_cycles: int) -> list[dict]:
    """Write one raw cycler CSV of ``n_cycles`` cycles in each vendor
    layout, in ``VENDORS`` order; return their specs.

    The seed draws each cell's fade rate, coulombic efficiency and start
    date; the layouts and the row count (``n_cycles`` alone) are the same
    for every seed."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    cells = []
    for k, vendor in enumerate(VENDORS):
        fade = float(np.round(rng.uniform(0.001, 0.003), 6))
        ce = float(np.round(rng.uniform(0.97, 0.995), 4))
        t0 = pd.Timestamp("2025-01-01") + pd.Timedelta(days=int(rng.integers(0, 365)))
        cell_id = f"CELL{k:02d}"
        frame, sep = _vendor_frame(vendor, _arbin_frame(n_cycles, fade, ce, t0))
        path = os.path.join(out_dir, f"{cell_id}_raw.csv")
        # %.17g: every double reads back bit for bit
        frame.to_csv(path, index=False, sep=sep, float_format="%.17g")
        feat, summary = expected_cell(n_cycles, fade, ce)
        cells.append({
            "cell_id": cell_id,
            "vendor": vendor,
            "path": path,
            "rows": len(frame),
            "bytes": os.path.getsize(path),
            "expected_features": feat,
            "expected_summary": summary,
        })
    return cells


# ---------------------------------------------------------------- dedup


def _edit(words: list[str], rng: np.random.Generator, n_edits: int) -> list[str]:
    out = list(words)
    for _ in range(n_edits):
        op = int(rng.integers(0, 3))
        pos = int(rng.integers(0, len(out)))
        if op == 0:
            out[pos] = WORDS[int(rng.integers(0, len(WORDS)))]
        elif op == 1:
            out.insert(pos, WORDS[int(rng.integers(0, len(WORDS)))])
        elif len(out) > 8:
            del out[pos]
    return out


def dedup_corpus(
    seed: int, out_dir: str, n_docs: int, n_orders: int, n_lines: int
) -> dict:
    """Write ``documents``, ``orders`` and ``lineitem`` parquet tables.

    The seed fixes the near-duplicate rate (14-16% of documents copy an
    earlier original one, a third of those verbatim, the rest with 1-3 word
    edits and sometimes a ``dup`` marker) and the trade graph (skewed
    customer and supplier degrees)."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    dup_rate = float(rng.uniform(0.14, 0.16))
    texts: list[list[str]] = []
    originals: list[int] = []
    for i in range(n_docs):
        if originals and rng.random() < dup_rate:
            # copies of originals only: near-dup groups stay stars, so the
            # closure's round count does not swing with the seed
            src = texts[originals[int(rng.integers(0, len(originals)))]]
            if rng.random() < 1 / 3:
                words = list(src)
            else:
                words = _edit(src, rng, int(rng.integers(1, 4)))
                if rng.random() < 0.3:
                    words.append("dup")
        else:
            n_words = int(rng.integers(8, 81))
            words = [WORDS[j] for j in rng.integers(0, len(WORDS), n_words)]
            originals.append(i)
        texts.append(words)
    text = [" ".join(w) for w in texts]
    docs = pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": text,
            "lang": [LANGS[j] for j in rng.integers(0, len(LANGS), n_docs)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in text], dtype=np.int64),
        }
    )
    n_cust = max(2, n_orders // 10)
    n_supp = max(2, n_lines // 600)
    orders = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_orders, dtype=np.int64),
            "o_custkey": (rng.zipf(1.6, n_orders) % n_cust).astype(np.int64),
        }
    )
    lineitem = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, n_orders, n_lines).astype(np.int64),
            "l_suppkey": (rng.zipf(1.8, n_lines) % n_supp).astype(np.int64),
        }
    )
    for name, df in (("documents", docs), ("orders", orders), ("lineitem", lineitem)):
        _write_parquet(df, os.path.join(out_dir, f"{name}.parquet"))
    size = sum(
        os.path.getsize(os.path.join(out_dir, f"{t}.parquet"))
        for t in ("documents", "orders", "lineitem")
    )
    return {
        "dir": out_dir,
        "dup_rate": dup_rate,
        "rows": n_docs,
        "graph_rows": n_orders + n_lines,
        "bytes": size,
    }


# ---------------------------------------------------------------- events


def events_feed(seed: int, out_dir: str, n_rows: int, n_files: int) -> dict:
    """Write ``events.parquet`` and a ``feed/`` directory holding the same
    rows, ordered by time, split into ``n_files`` uneven parquet files."""
    rng = np.random.default_rng([seed, 3])
    os.makedirs(os.path.join(out_dir, "feed"), exist_ok=True)
    gaps = rng.exponential(30.0, n_rows)
    ts_us = (
        np.int64(1_704_067_200_000_000) + np.cumsum(np.round(gaps * 1e6)).astype(np.int64)
    )
    events = pd.DataFrame(
        {
            "event_id": np.arange(n_rows, dtype=np.int64),
            "ts": pd.to_datetime(ts_us, unit="us").astype("datetime64[us]"),
            "user_id": (rng.zipf(1.3, n_rows) % 2000).astype(np.int64),
            "event_type": [EVENT_TYPES[j] for j in rng.choice(5, n_rows, p=[0.5, 0.25, 0.1, 0.05, 0.1])],
            "value": np.round(rng.gamma(2.0, 40.0, n_rows), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_rows)],
        }
    )
    _write_parquet(events, os.path.join(out_dir, "events.parquet"))
    shares = rng.dirichlet(np.full(n_files, 1.5))
    cuts = np.round(np.cumsum(shares)[:-1] * n_rows).astype(int)
    bounds = [0, *sorted(set(int(c) for c in cuts if 0 < c < n_rows)), n_rows]
    sizes = []
    for i, (lo, hi) in enumerate(zip(bounds[:-1], bounds[1:])):
        part = events.iloc[lo:hi]
        path = os.path.join(out_dir, "feed", f"part-{i:04d}.parquet")
        _write_parquet(part, path)
        # the file source replays in modification-time order: pin it
        os.utime(path, ns=(1_700_000_000_000_000_000 + i * 10**9,) * 2)
        sizes.append(hi - lo)
    size = sum(
        os.path.getsize(os.path.join(out_dir, "feed", f)) for f in os.listdir(os.path.join(out_dir, "feed"))
    )
    return {"dir": out_dir, "rows": n_rows, "files": len(sizes), "file_rows": sizes, "bytes": size}
