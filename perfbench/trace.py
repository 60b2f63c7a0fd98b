"""Tracing for the benchmark: spans recorded around the benchmark's own
calls into the library, and a reducer for Spark's event log.

Spans live in memory (``Tracer``) and are matched to the Spark jobs of
the event log after the session stops: a Spark job belongs to the
innermost span whose interval holds its submission time. Nothing here
touches the library; the event log is switched on from the launch
configuration (``launch_conf``).
"""

from __future__ import annotations

import glob
import json
import os
import shlex
import time
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder. A span is (name, start, end, parent);
    times are wall-clock seconds since the epoch, so they line up with
    the event log's millisecond timestamps."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()


def launch_conf(event_dir: str | None, tmp_dir: str, warehouse: str) -> str:
    """``PYSPARK_SUBMIT_ARGS`` for the benchmark's JVM: scratch space
    inside the run's directory and, when ``event_dir`` is given, the
    event log. The heap is left to the library's session settings."""
    conf = {
        # -XX:-UsePerfData: no hsperfdata file under the system /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp_dir} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": warehouse,
        "spark.ui.showConsoleProgress": "false",
    }
    if event_dir:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = event_dir
    args = " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items())
    return f"{args} pyspark-shell"


# ------------------------------------------------------------ event log


def read_event_log(event_dir: str) -> list[dict]:
    """Decode every event of the zstd-compressed rolling log Spark 4
    writes under ``event_dir`` (``eventlog_v2_*/events_<n>_*.zstd``), in
    roll order, with pyarrow."""
    import pyarrow as pa

    files = sorted(
        glob.glob(os.path.join(event_dir, "eventlog_v2_*", "events_*.zstd")),
        key=_roll_index,
    )
    events = []
    for path in files:
        with pa.input_stream(path, compression="zstd") as f:
            data = f.read()
        for line in data.decode("utf-8", "replace").splitlines():
            if line.strip():
                try:
                    events.append(json.loads(line))
                except ValueError:
                    pass  # a torn last line of a log still being written
    return events


def _roll_index(path: str) -> tuple:
    base = os.path.basename(path)
    parts = base.split("_")
    idx = int(parts[1]) if len(parts) > 1 and parts[1].isdigit() else 0
    return (os.path.dirname(path), idx, base)


_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"


def _python_row_accumulators(events: list[dict]) -> set[int]:
    """Accumulator ids of the "number of output rows" metric of every
    Python node (``MapInPandas``, ``ArrowEvalPython``,
    ``FlatMapGroupsInPandas``...) in the SQL plans the log records."""
    ids: set[int] = set()

    def walk(node: dict) -> None:
        name = node.get("nodeName", "")
        if "Python" in name or "InPandas" in name or "InArrow" in name:
            for m in node.get("metrics") or []:
                if m.get("name") == "number of output rows":
                    ids.add(m.get("accumulatorId"))
        for child in node.get("children") or []:
            walk(child)

    for ev in events:
        info = ev.get("sparkPlanInfo")
        if info and ev.get("Event", "").endswith(
            ("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate")
        ):
            walk(info)
    return ids


def reduce_events(events: list[dict]) -> dict:
    """Reduce raw events to ``{"jobs": {id: job}, "stages": {id: stage}}``.

    A job: group, submit/end (ms), stage ids, success. A stage: summed
    task metrics (run and CPU seconds, GC, shuffle, spill, peak
    execution memory, input rows/bytes, output bytes) and the Python
    boundary's SQL metrics when a Python node ran in it."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    py_rows = _python_row_accumulators(events)

    def stage(sid: int) -> dict:
        return stages.setdefault(
            sid,
            {
                "tasks": 0,
                "run_s": 0.0,
                "cpu_s": 0.0,
                "gc_s": 0.0,
                "shuffle_write_bytes": 0,
                "shuffle_read_bytes": 0,
                "shuffle_fetch_wait_s": 0.0,
                "spill_disk_bytes": 0,
                "peak_exec_memory_bytes": 0,
                "input_rows": 0,
                "input_bytes": 0,
                "output_bytes": 0,
                "py_sent_bytes": 0,
                "py_recv_bytes": 0,
                "py_rows": 0,
                "python": False,
            },
        )

    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs[ev["Job ID"]] = {
                "group": props.get("spark.jobGroup.id"),
                "submit": ev.get("Submission Time"),
                "end": None,
                "stages": list(ev.get("Stage IDs") or []),
                "ok": None,
            }
        elif kind == "SparkListenerJobEnd":
            j = jobs.get(ev["Job ID"])
            if j is not None:
                j["end"] = ev.get("Completion Time")
                j["ok"] = (ev.get("Job Result") or {}).get("Result") == "JobSucceeded"
        elif kind == "SparkListenerTaskEnd":
            st = stage(ev["Stage ID"])
            m = ev.get("Task Metrics") or {}
            st["tasks"] += 1
            st["run_s"] += m.get("Executor Run Time", 0) / 1e3
            st["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            st["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            sw = m.get("Shuffle Write Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            st["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            st["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            st["shuffle_fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
            st["spill_disk_bytes"] += m.get("Disk Bytes Spilled", 0)
            st["peak_exec_memory_bytes"] = max(
                st["peak_exec_memory_bytes"], m.get("Peak Execution Memory", 0)
            )
            inp = m.get("Input Metrics") or {}
            st["input_rows"] += inp.get("Records Read", 0)
            st["input_bytes"] += inp.get("Bytes Read", 0)
            st["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
            for acc in (ev.get("Task Info") or {}).get("Accumulables") or []:
                try:
                    upd = int(acc.get("Update") or 0)
                except (TypeError, ValueError):
                    continue
                name = acc.get("Name")
                if name == _PY_SENT:
                    st["py_sent_bytes"] += upd
                    st["python"] = True
                elif name == _PY_RECV:
                    st["py_recv_bytes"] += upd
                    st["python"] = True
                elif acc.get("ID") in py_rows:
                    st["py_rows"] += upd
    return {"jobs": jobs, "stages": stages}


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def assign_jobs(spans: list[dict], jobs: dict[int, dict]) -> dict[int, list[int]]:
    """Map span index → Spark job ids: each job goes to the innermost
    span whose [start, end] holds its submission time."""
    out: dict[int, list[int]] = {}
    order = sorted(range(len(spans)), key=lambda i: spans[i]["start"])
    for jid, j in jobs.items():
        if j["submit"] is None:
            continue
        t = j["submit"] / 1e3
        best = None
        for i in order:
            sp = spans[i]
            if sp["start"] > t:
                break
            if sp["end"] is not None and t <= sp["end"]:
                if best is None or sp["start"] >= spans[best]["start"]:
                    best = i
        if best is not None:
            out.setdefault(best, []).append(jid)
    return out
