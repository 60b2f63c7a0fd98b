"""The benchmark workloads.

Each workload generates its inputs from the seed (``prepare``), runs one
pass of jobs at a time in a closed loop with a single client
(``run_pass``: the next job starts when the previous one returns), keeps
each job's output, and checks every output after the timed window
(``check``). Job bodies call the library's public entry points only,
inside spans named after the layer they enter.
"""

from __future__ import annotations

import math
import os
import shutil
import sys
import threading
import time
import traceback

import numpy as np
import pandas as pd

from . import gen

_D_THRESHOLD = 0.8


class Workload:
    name = ""
    #: input rows one pass consumes (for rows_per_s)
    rows_per_pass = 0

    def __init__(self, seed: int, work: str, tracer) -> None:
        self.seed = seed
        self.work = work
        self.tr = tracer
        self.outputs: list[tuple[str, int, object]] = []
        self.errors: list[tuple[str, int, str]] = []
        self.inputs: dict = {}

    # -- helpers --------------------------------------------------------

    def _job(self, spark, job: str, pass_idx: int, body) -> float | None:
        """Run ``body(spark)`` as one timed job; keep its output for the
        check, or its error. Returns the wall time, or None on error."""
        group = f"{self.name}/{job}/{pass_idx}"
        spark.sparkContext.setJobGroup(group, group)
        t0 = time.perf_counter()
        try:
            with self.tr.span("job", job=job, pass_idx=pass_idx, group=group):
                out = body(spark)
            wall = time.perf_counter() - t0
        except Exception:
            self.errors.append((job, pass_idx, traceback.format_exc(limit=8)))
            print(f"[perfbench] {group} raised:\n{self.errors[-1][2]}", file=sys.stderr)
            return None
        finally:
            spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            # untimed: nothing a job persisted may serve a later job, the
            # cache-honesty rule of bench.py
            spark.catalog.clearCache()
        self.outputs.append((job, pass_idx, out))
        return wall

    def after_pass(self, spark, pass_idx: int) -> None:
        """Untimed clean-up of the pass's own files."""

    def collect_reference(self, spark) -> None:
        """Untimed, after the window and before the session stops: gather
        any engine-side reference the check needs."""

    def stream_batches(self) -> list[dict]:
        """Per-micro-batch records of the streaming queries run so far."""
        return []

    def check(self) -> list[str]:
        raise NotImplementedError


# ======================================================== cell-pipeline


class CellPipeline(Workload):
    """One job = one cell through the ``cli.cmd_run`` chain; each pass
    ends with one ``collate_feature_csvs`` job over the pass's outputs.
    The seed writes one cell in each vendor layout, and pass ``p`` runs
    the cell of layout ``p % 4``, so every run parses the same layouts in
    the same order."""

    name = "cell-pipeline"
    #: one cell job is some 80 Spark jobs (6-10 s on 4 cores), so a pass
    #: holds one cell; a fixed cycle count keeps the rows the same for
    #: every seed
    N_CYCLES = 12

    def prepare(self) -> dict:
        self.cells = gen.cycler_cells(self.seed, os.path.join(self.work, "raw"), self.N_CYCLES)
        self.rows_per_pass = self.cells[0]["rows"]
        self.inputs = {
            "rows": self.rows_per_pass,
            "bytes": [c["bytes"] for c in self.cells],
            "cycles": self.N_CYCLES,
            "vendors": [c["vendor"] for c in self.cells],
        }
        return self.inputs

    def _out(self, pass_idx: int) -> str:
        return os.path.join(self.work, "out", f"pass{pass_idx}")

    def _cell_job(self, cell: dict, out: str):
        from mxene_coin_cell_data_pipeline_spark.operators import (
            fade_and_rul,
            full_feature_pipeline,
            normalize_cycler,
            qc_checks,
        )
        from mxene_coin_cell_data_pipeline_spark.operators.report import render_report
        from mxene_coin_cell_data_pipeline_spark.sources import read_cycler_csv

        cid = cell["cell_id"]
        tr = self.tr

        def body(spark):
            with tr.span("sources.load"):
                raw = read_cycler_csv(spark, cell["path"])
            with tr.span("operators.normalize"):
                ts = normalize_cycler(raw, cell_id=cid)
            ts_path = os.path.join(out, f"{cid}_timeseries.parquet")
            with tr.span("operators.ts_write"):
                ts.write.mode("overwrite").parquet(ts_path)
            with tr.span("operators.features"):
                feat = full_feature_pipeline(
                    spark.read.parquet(ts_path), rated_ah=gen.RATED_AH, dv=gen.DQDV_STEP,
                    cache=False,
                ).orderBy("cycle_index")
                feat_pd = feat.toPandas()
                feat_pd.to_csv(os.path.join(out, f"{cid}_features_full.csv"), index=False)
            with tr.span("operators.fade"):
                summary = fade_and_rul(feat)
                summary_pd = summary.toPandas()
                summary_pd.to_csv(os.path.join(out, f"{cid}_summary.csv"), index=False)
            with tr.span("operators.report"):
                report = render_report(feat, summary, cid)
                with open(os.path.join(out, f"{cid}_report.md"), "w") as f:
                    f.write(report)
            with tr.span("operators.qc"):
                qc = qc_checks(feat.drop("cell_id"))
            return {"cell": cell, "features": feat_pd, "summary": summary_pd,
                    "report": report, "qc": list(qc.messages)}

        return body

    def _collate_job(self, out: str):
        from mxene_coin_cell_data_pipeline_spark.operators.collate import collate_feature_csvs

        def body(spark):
            with self.tr.span("operators.collate"):
                df = collate_feature_csvs(spark, os.path.join(out, "*_features_full.csv"))
                rows = df.groupBy("cell_id").count().collect()
            return {"collate": {r["cell_id"]: r["count"] for r in rows}}

        return body

    def run_pass(self, spark, pass_idx: int) -> list[tuple[str, float | None]]:
        out = self._out(pass_idx)
        os.makedirs(out, exist_ok=True)
        cell = self.cells[pass_idx % len(self.cells)]
        cid = cell["cell_id"]
        return [
            (cid, self._job(spark, cid, pass_idx, self._cell_job(cell, out))),
            ("collate", self._job(spark, "collate", pass_idx, self._collate_job(out))),
        ]

    def after_pass(self, spark, pass_idx: int) -> None:
        shutil.rmtree(self._out(pass_idx), ignore_errors=True)

    def check(self) -> list[str]:
        bad = []
        for job, p, out in self.outputs:
            if "collate" in out:
                cid = self.cells[p % len(self.cells)]["cell_id"]
                if out["collate"] != {cid: self.N_CYCLES}:
                    bad.append(f"{job}/{p}: collated rows {out['collate']}")
                continue
            cell = out["cell"]
            exp = cell["expected_features"]
            got = out["features"].sort_values("cycle_index").reset_index(drop=True)
            if len(got) != len(exp) or list(got["cycle_index"]) != list(exp["cycle_index"]):
                bad.append(f"{job}/{p}: cycles {list(got['cycle_index'])[:5]}...")
                continue
            for col in exp.columns:
                if not np.allclose(got[col].to_numpy(float), exp[col].to_numpy(float),
                                   rtol=1e-9, atol=1e-9):
                    bad.append(f"{job}/{p}: feature {col}")
            s = out["summary"].iloc[0]
            for k, v in cell["expected_summary"].items():
                if not math.isclose(float(s[k]), v, rel_tol=1e-9, abs_tol=1e-9):
                    bad.append(f"{job}/{p}: summary {k}={s[k]} expected {v}")
            if cell["cell_id"] not in out["report"]:
                bad.append(f"{job}/{p}: report lacks the cell id")
        return bad


# ================================================== dedup-stream: dedup


def _word_shingles(text: str, n: int = 3) -> set[str]:
    toks = text.lower().split()
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def _jaccard(a: set, b: set) -> float:
    inter = len(a & b)
    return inter / (len(a) + len(b) - inter) if (a or b) else 0.0


class _Dedup(Workload):
    """The iterative, shuffle-bound families on a seeded corpus with
    near-duplicates and a skewed trade graph: a registered query
    (checked against its DuckDB oracle) and an xxhash64 library-default
    chain (checked against structural invariants)."""

    N_DOCS = 1500
    N_ORDERS = 3000
    N_LINES = 12000
    REGISTERED = ("g02_connected_components",)
    TWINS = ("d06_near_dup_groups_xxh",)

    def _prepare_dedup(self) -> dict:
        self.corpus = os.path.join(self.work, "corpus")
        return gen.dedup_corpus(
            self.seed, self.corpus, self.N_DOCS, self.N_ORDERS, self.N_LINES
        )

    def _registered(self, name: str):
        from mxene_coin_cell_data_pipeline_spark.plans import QUERIES

        spec = QUERIES[name]

        def body(spark):
            with self.tr.span("plans.build"):
                df = spec.spark(spark, self.corpus)
            with self.tr.span("plans.execute"):
                return df.toPandas()

        return body

    def _twin(self):
        """d06_xxh: the near-dup closure chain at the library's xxhash64
        defaults."""
        from mxene_coin_cell_data_pipeline_spark.functions.dedup import (
            closure_audit,
            minhash_near_dup_pairs,
            near_dup_groups,
        )
        from mxene_coin_cell_data_pipeline_spark.sources.tables import load_table

        def body(spark):
            with self.tr.span("sources.load"):
                docs = load_table(spark, self.corpus, "documents")
            with self.tr.span("functions.build"):
                df = closure_audit(
                    near_dup_groups(minhash_near_dup_pairs(docs, threshold=_D_THRESHOLD))
                )
            with self.tr.span("functions.execute"):
                return df.toPandas()

        return body

    def _run_dedup(self, spark, pass_idx: int) -> list[tuple[str, float | None]]:
        times = []
        for name in self.REGISTERED + self.TWINS:
            body = self._registered(name) if name in self.REGISTERED else self._twin()
            times.append((name, self._job(spark, name, pass_idx, body)))
        return times

    # -- checks ---------------------------------------------------------

    def _oracle_hashes(self) -> dict[str, str]:
        import duckdb

        from mxene_coin_cell_data_pipeline_spark.plans import QUERIES

        from tools.driver_check import canon_hash

        con = duckdb.connect()
        con.execute("SET threads TO 2")
        for t in ("documents", "orders", "lineitem"):
            path = os.path.join(self.corpus, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        out = {}
        for name in self.REGISTERED:
            out[name] = canon_hash(con.execute(QUERIES[name].oracle).fetchdf())
        con.close()
        return out

    def _collect_dedup_reference(self, spark) -> None:
        """The d06_xxh audit is checked through the pair and group
        relations it summarizes, collected once here from the same
        library defaults."""
        from mxene_coin_cell_data_pipeline_spark.functions.dedup import (
            minhash_near_dup_pairs,
            near_dup_groups,
        )
        from mxene_coin_cell_data_pipeline_spark.sources.tables import load_table

        pairs = minhash_near_dup_pairs(
            load_table(spark, self.corpus, "documents"), threshold=_D_THRESHOLD
        )
        self.ref_pairs = pairs.toPandas()
        self.ref_groups = near_dup_groups(pairs).toPandas()

    def _check_dedup(self) -> list[str]:
        from tools.driver_check import canon_hash

        bad = []
        oracle = self._oracle_hashes()
        docs = pd.read_parquet(os.path.join(self.corpus, "documents.parquet"))
        sh = {int(d): _word_shingles(t) for d, t in zip(docs["doc_id"], docs["text"])}
        ref_bad, ref_audit = _check_closure(self.ref_pairs, self.ref_groups, sh)
        for job, p, out in self.outputs:
            if job not in self.REGISTERED + self.TWINS:
                continue
            if job in oracle:
                if canon_hash(out) != oracle[job]:
                    bad.append(f"{job}/{p}: hash differs from the DuckDB oracle")
            elif ref_bad:
                bad.append(f"{job}/{p}: {ref_bad[0]}")
            elif canon_hash(out) != canon_hash(ref_audit):
                bad.append(f"{job}/{p}: audit differs from its pairs' closure")
        return bad


def _check_closure(pairs: pd.DataFrame, groups: pd.DataFrame, sh: dict[int, set]):
    """Every pair is at or above the threshold by an exact shingle
    recount, and the groups are exactly the connected components of the
    pairs, each keyed by its smallest member. Returns the failures and
    the closure audit recomputed here from the components."""
    bad = []
    for a, b, j in zip(pairs["doc_a"], pairs["doc_b"], pairs["jaccard"]):
        exact = _jaccard(sh[int(a)], sh[int(b)])
        if exact < _D_THRESHOLD or abs(exact - j) > 1e-12:
            bad.append(f"pair ({a}, {b}) jaccard {j}, exact {exact}")
            break
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(pairs["doc_a"], pairs["doc_b"]):
        ra, rb = find(int(a)), find(int(b))
        parent[max(ra, rb)] = min(ra, rb)
    expected = {x: find(x) for x in parent}
    got = dict(zip(groups["doc_id"].astype(int), groups["group_id"].astype(int)))
    if got != expected:
        bad.append(f"groups are not the pairs' components ({len(got)} vs {len(expected)} docs)")
    members: dict[int, list[int]] = {}
    for d, g in expected.items():
        members.setdefault(g, []).append(d)
    audit = pd.DataFrame(
        [
            {
                "group_id": g,
                "n_docs": len(m),
                "min_doc_id": min(m),
                "max_doc_id": max(m),
                "member_sig": sum((d % 2147483647) * 2654435761 % 2147483647 for d in m),
            }
            for g, m in members.items()
        ],
        columns=["group_id", "n_docs", "min_doc_id", "max_doc_id", "member_sig"],
    ).astype("int64")
    return bad, audit


# ================================================ dedup-stream: stream


class _BatchListener:
    """Collects the run id of every streaming query in start order, and
    each micro-batch's progress: batch duration, addBatch (the
    foreachBatch merge) duration and input rows. Events arrive on
    Spark's listener bus after the fact, so they are read untimed, once
    ``wait_terminated`` has seen the queries end."""

    def __init__(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self
        self.started: list[str] = []
        self.batches: list[dict] = []
        self.terminated: set[str] = set()
        self.cv = threading.Condition()

        class L(StreamingQueryListener):
            def onQueryStarted(self, event):
                with outer.cv:
                    outer.started.append(str(event.runId))

            def onQueryProgress(self, event):
                p = event.progress
                d = p.durationMs or {}
                rec = {
                    "run_id": str(p.runId),
                    "batch_id": p.batchId,
                    "rows": p.numInputRows,
                    "batch_s": d.get("triggerExecution", 0) / 1e3,
                    "add_batch_s": d.get("addBatch", 0) / 1e3,
                }
                with outer.cv:
                    outer.batches.append(rec)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with outer.cv:
                    outer.terminated.add(str(event.runId))
                    outer.cv.notify_all()

        self.listener = L()

    def wait_terminated(self, n: int, timeout: float = 10.0) -> None:
        with self.cv:
            self.cv.wait_for(lambda: len(self.terminated) >= n, timeout)


def _dir_bytes(path: str | None) -> int:
    total = 0
    for root, _dirs, files in os.walk(path or ""):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


class _Stream(Workload):
    """The events feed replayed one file per trigger through the three
    snapshot runners, each with a checkpoint dir. A job is one runner
    over the whole feed; a ``StreamingQueryListener`` records its
    micro-batches."""

    N_ROWS = 30000
    N_FILES = 2
    RUNNERS = ("latest", "agg", "histogram")

    def _prepare_stream(self) -> dict:
        self.feed_dir = os.path.join(self.work, "events")
        self.lis = None
        self.runs: list[dict] = []  # one per runner and pass, in start order
        return gen.events_feed(self.seed, self.feed_dir, self.N_ROWS, self.N_FILES)

    def _stream(self, spark):
        from mxene_coin_cell_data_pipeline_spark.sources.tables import ntz_free_schema

        feed = os.path.join(self.feed_dir, "feed")
        with self.tr.span("sources.load"):
            schema = ntz_free_schema(spark, os.path.join(feed, "part-0000.parquet"))
        return spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(feed)

    def _run_stream(self, spark, pass_idx: int) -> list[tuple[str, float | None]]:
        from mxene_coin_cell_data_pipeline_spark.streaming.snapshot import (
            run_stream_agg_snapshot,
            run_stream_histogram_snapshot,
            run_stream_latest_snapshot,
        )

        if self.lis is None:
            self.lis = _BatchListener()
            spark.streams.addListener(self.lis.listener)
        base = os.path.join(self.work, "state", f"pass{pass_idx}")
        runners = {
            "latest": lambda s, snap, ck: run_stream_latest_snapshot(
                s, snap, key="user_id", order_cols=["ts", "event_id"], checkpoint_dir=ck),
            "agg": lambda s, snap, ck: run_stream_agg_snapshot(
                s, snap, key="user_id", agg_cols={"value": "sum"}, checkpoint_dir=ck),
            "histogram": lambda s, snap, ck: run_stream_histogram_snapshot(
                s, snap, key="event_type", value_col="value", bin_width=10.0, checkpoint_dir=ck),
        }
        times = []
        for name in self.RUNNERS:
            snap = os.path.join(base, name, "snapshot")
            ck = os.path.join(base, name, "checkpoint")

            def body(spark, name=name, snap=snap, ck=ck):
                stream = self._stream(spark)
                with self.tr.span("streaming.run", runner=name):
                    runners[name](stream, snap, ck)
                return {"runner": name, "snapshot": pd.read_parquet(snap)}

            self.runs.append({"runner": name, "pass_idx": pass_idx, "snapshot": snap})
            times.append((name, self._job(spark, name, pass_idx, body)))
        return times

    def _finish_stream(self, pass_idx: int) -> None:
        """Untimed, after the pass: tag the pass's micro-batches with their
        runner, record the size of each snapshot after its last batch, and
        remove the state of the pass before (the last pass's stays for the
        traced size figures)."""
        self.lis.wait_terminated(len(self.runs))
        with self.lis.cv:
            started, recorded = list(self.lis.started), list(self.lis.batches)
        for k, run in enumerate(self.runs):
            if run["pass_idx"] != pass_idx or k >= len(started):
                continue
            batches = [b for b in recorded if b["run_id"] == started[k] and b["rows"] > 0]
            for i, b in enumerate(batches):
                b.update(runner=run["runner"], pass_idx=pass_idx, index=i)
            if batches:
                batches[-1]["state_bytes"] = _dir_bytes(run["snapshot"])
        prev = os.path.join(self.work, "state", f"pass{pass_idx - 1}")
        shutil.rmtree(prev, ignore_errors=True)

    def stream_batches(self) -> list[dict]:
        return self.lis.batches if self.lis else []

    def _expected(self) -> dict[str, pd.DataFrame]:
        ev = pd.read_parquet(os.path.join(self.feed_dir, "events.parquet"))
        latest = (
            ev.sort_values(["user_id", "ts", "event_id"])
            .groupby("user_id", as_index=False)
            .tail(1)
        )
        micro = np.floor(ev["value"] * 1e6 + 0.5).astype(np.int64)
        agg = (
            ev.assign(_m=micro)
            .groupby("user_id")
            .agg(n=("event_id", "size"), m=("_m", "sum"))
        )
        hist = (
            ev.assign(bin=np.floor(ev["value"] / 10.0).astype(np.int64))
            .groupby(["event_type", "bin"])
            .size()
        )
        return {"latest": latest, "agg": agg, "histogram": hist}

    def _check_stream(self) -> list[str]:
        exp = self._expected()
        bad = []
        for job, p, out in self.outputs:
            if job not in self.RUNNERS:
                continue
            snap = out["snapshot"]
            if job == "latest":
                e = exp["latest"].set_index("user_id")["event_id"].sort_index()
                g = snap.set_index("user_id")["event_id"].sort_index()
                if not (len(e) == len(g) and (e.index == g.index).all() and (e.values == g.values).all()):
                    bad.append(f"{job}/{p}: latest-by-key snapshot differs")
            elif job == "agg":
                e = exp["agg"].sort_index()
                g = snap.set_index("user_id").sort_index()
                micro = g["sum_value"].map(lambda d: int(d.scaleb(6)))
                if not (
                    len(e) == len(g)
                    and (e.index == g.index).all()
                    and (e["n"].values == g["n"].values).all()
                    and (e["m"].values == micro.values).all()
                ):
                    bad.append(f"{job}/{p}: aggregate snapshot differs")
            else:
                e = exp["histogram"].sort_index()
                g = snap.set_index(["event_type", "bin"])["c"].sort_index()
                if not (len(e) == len(g) and (e.index == g.index).all() and (e.values == g.values).all()):
                    bad.append(f"{job}/{p}: histogram snapshot differs")
        return bad


# ========================================================= dedup-stream


class DedupStream(_Dedup, _Stream):
    """A pass runs the dedup families, then replays the events feed
    through the three snapshot runners: eager checkpoint rounds, driver
    round barriers and shuffles, then the write-heavy streaming layer
    with state larger than each batch. The two share a workload so a run
    fits the time budget with several warm passes."""

    name = "dedup-stream"

    def prepare(self) -> dict:
        corpus = self._prepare_dedup()
        feed = self._prepare_stream()
        self.rows_per_pass = self.N_DOCS + self.N_ROWS * len(self.RUNNERS)
        self.inputs = {
            "rows": self.rows_per_pass,
            "bytes": corpus["bytes"] + feed["bytes"],
            "docs": corpus["rows"],
            "dup_rate": corpus["dup_rate"],
            "graph_rows": corpus["graph_rows"],
            "feed_rows": feed["rows"],
            "feed_files": feed["files"],
            "feed_file_rows": feed["file_rows"],
            "feed_bytes": feed["bytes"],
        }
        return self.inputs

    def run_pass(self, spark, pass_idx: int) -> list[tuple[str, float | None]]:
        return self._run_dedup(spark, pass_idx) + self._run_stream(spark, pass_idx)

    def after_pass(self, spark, pass_idx: int) -> None:
        self._finish_stream(pass_idx)

    def collect_reference(self, spark) -> None:
        self._collect_dedup_reference(spark)

    def check(self) -> list[str]:
        return self._check_dedup() + self._check_stream()


WORKLOADS = {w.name: w for w in (CellPipeline, DedupStream)}

