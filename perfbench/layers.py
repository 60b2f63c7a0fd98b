"""Per-layer metrics of a traced run.

Every figure is per warm pass (total over the warm passes divided by
their number) unless named otherwise. Layers a workload does not enter
read 0. The map of which end-to-end metric each layer metric should
move, and on which workload, is in ``perfbench/README.md``.

``per_layer`` returns every figure (``UNITS``); the run prints them all
on its detail line. The result line carries ``RESULT_UNITS``: the
figures that are a measurement on every workload, with the time spent
in a layer that only some workloads enter given as its share of the
warm pass, so a bypassed layer reads as a 0 share, never as a constant
0-second timer.
"""

from __future__ import annotations

import numpy as np

from . import stats
from .trace import assign_jobs, read_event_log, reduce_events, union_s

SPAN_METRICS = {
    "sources.load": "sources.load_s",
    "operators.normalize": "operators.normalize_s",
    "operators.ts_write": "operators.ts_write_s",
    "operators.features": "operators.features_s",
    "operators.fade": "operators.fade_s",
    "operators.qc": "operators.qc_s",
    "operators.report": "operators.report_s",
    "operators.collate": "operators.collate_s",
    "plans.build": "plans.build_s",
    "plans.execute": "plans.execute_s",
    "functions.build": "functions.build_s",
    "functions.execute": "functions.execute_s",
}
BUILD_SPANS = ("plans.build", "functions.build")

UNITS = {
    "session.start_s": "s",
    "session.first_action_s": "s",
    "sources.input_rows": "rows",
    "sources.input_bytes": "bytes",
    "sources.scan_task_s": "s",
    **{m: "s" for m in SPAN_METRICS.values()},
    "python.data_sent_bytes": "bytes",
    "python.data_received_bytes": "bytes",
    "python.rows_received": "rows",
    "python.stage_run_s": "s",
    "driver.only_s": "s",
    "driver.jobs": "count",
    "checkpoint.jobs": "count",
    "checkpoint.s": "s",
    "barrier.idle_core_s": "s",
    "executor.parallelism": "ratio",
    "executor.run_s": "s",
    "executor.cpu_s": "s",
    "executor.gc_s": "s",
    "executor.shuffle_write_bytes": "bytes",
    "executor.shuffle_read_bytes": "bytes",
    "executor.shuffle_fetch_wait_s": "s",
    "executor.spill_disk_bytes": "bytes",
    "executor.peak_exec_memory_bytes": "bytes",
    "streaming.batches": "count",
    "streaming.batch_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.add_batch_sum_s": "s",
    "streaming.batch_s_slope": "s/batch",
    "streaming.state_bytes": "bytes",
    "streaming.bytes_written_per_batch": "bytes",
    "streaming.write_amp": "ratio",
    "trace.pass_s": "s",
}

#: layer time → the result-line share it becomes
SHARES = {
    **{m[:-2] + "_share": m for k, m in SPAN_METRICS.items() if k.startswith("operators.")},
    "python.stage_run_share": "python.stage_run_s",
    "plans.build_share": "plans.build_s",
    "plans.execute_share": "plans.execute_s",
    "functions.build_share": "functions.build_s",
    "functions.execute_share": "functions.execute_s",
    "checkpoint.share": "checkpoint.s",
    "streaming.add_batch_share": "streaming.add_batch_sum_s",
}
RESULT_UNITS = {
    **{k: UNITS[k] for k in (
        "session.start_s",
        "session.first_action_s",
        "sources.load_s",
        "sources.input_rows",
        "sources.input_bytes",
        "sources.scan_task_s",
        "python.data_sent_bytes",
        "python.data_received_bytes",
        "python.rows_received",
        "driver.only_s",
        "driver.jobs",
        "checkpoint.jobs",
        "barrier.idle_core_s",
        "executor.parallelism",
        "executor.run_s",
        "executor.cpu_s",
        "executor.gc_s",
        "executor.shuffle_write_bytes",
        "executor.shuffle_read_bytes",
        "executor.spill_disk_bytes",
        "executor.peak_exec_memory_bytes",
        "streaming.batches",
        "streaming.state_bytes",
        "streaming.bytes_written_per_batch",
        "streaming.write_amp",
        "trace.pass_s",
    )},
    **{k: "ratio" for k in SHARES},
    "streaming.batch_growth": "ratio",
}


def result_metrics(full: dict) -> dict:
    """The result-line subset of ``per_layer``'s figures."""
    out = {k: full[k] for k in RESULT_UNITS if k in full}
    pass_s = full["trace.pass_s"]
    for share, src in SHARES.items():
        out[share] = full[src] / pass_s if pass_s else 0.0
    batch_s = full["streaming.batch_s"]
    # relative growth of the batch time per batch index
    out["streaming.batch_growth"] = full["streaming.batch_s_slope"] / batch_s if batch_s else 0.0
    return out


def per_layer(
    tracer, event_dir: str, wl, passes: list, start_s: float, first_action_s: float, cpus: int
) -> dict:
    """Reduce the run's spans and event log to the ``UNITS`` metrics of
    the warm passes ``passes``."""
    red = reduce_events(read_event_log(event_dir))
    jobs, stages = red["jobs"], red["stages"]
    spans = tracer.spans
    by_span = assign_jobs(spans, jobs)

    warm_idx = {pi for pi, _w, _j in passes}
    n_warm = max(1, len(warm_idx))
    warm_wall = sum(w for _pi, w, _j in passes)

    # every span's ancestors, so a job can be found under its pass
    def ancestors(i: int):
        while i is not None:
            yield i
            i = spans[i]["parent"]

    pass_of = {}
    for i, sp in enumerate(spans):
        for a in ancestors(i):
            if spans[a]["name"] == "pass":
                pass_of[i] = spans[a]["pass_idx"]
                break
    warm_spans = [i for i in range(len(spans)) if pass_of.get(i) in warm_idx]

    # each stage counted once, for the first job that lists it
    stage_owner: dict[int, int] = {}
    for jid in sorted(jobs):
        for sid in jobs[jid]["stages"]:
            stage_owner.setdefault(sid, jid)

    def job_stages(jid: int):
        return [stages[s] for s in jobs[jid]["stages"] if stage_owner.get(s) == jid and s in stages]

    warm_jobs = [j for i in warm_spans for j in by_span.get(i, [])]
    warm_stages = [st for j in warm_jobs for st in job_stages(j)]

    def ssum(key, pred=lambda st: True):
        return sum(st[key] for st in warm_stages if pred(st))

    out = {k: 0.0 for k in UNITS}
    out["session.start_s"] = start_s
    out["session.first_action_s"] = first_action_s

    for i in warm_spans:
        m = SPAN_METRICS.get(spans[i]["name"])
        if m:
            out[m] += (spans[i]["end"] - spans[i]["start"]) / n_warm

    out["sources.input_rows"] = ssum("input_rows") / n_warm
    out["sources.input_bytes"] = ssum("input_bytes") / n_warm
    out["sources.scan_task_s"] = ssum("run_s", lambda st: st["input_rows"] > 0) / n_warm

    py = lambda st: st["python"]  # noqa: E731
    out["python.data_sent_bytes"] = ssum("py_sent_bytes", py) / n_warm
    out["python.data_received_bytes"] = ssum("py_recv_bytes", py) / n_warm
    out["python.rows_received"] = ssum("py_rows", py) / n_warm
    out["python.stage_run_s"] = ssum("run_s", py) / n_warm

    def interval(jid):
        j = jobs[jid]
        return (j["submit"] / 1e3, (j["end"] or j["submit"]) / 1e3)

    driver_only = 0.0
    ck_jobs, ck_intervals = 0, []
    for i in warm_spans:
        sp = spans[i]
        if sp["name"] == "job":
            inside = [
                jid
                for k in warm_spans
                if k == i or i in ancestors(spans[k]["parent"])
                for jid in by_span.get(k, [])
            ]
            ivs = [
                (max(s, sp["start"]), min(e, sp["end"]))
                for s, e in map(interval, inside)
            ]
            driver_only += (sp["end"] - sp["start"]) - union_s([v for v in ivs if v[1] > v[0]])
        if sp["name"] in BUILD_SPANS:
            ids = by_span.get(i, [])
            ck_jobs += len(ids)
            ck_intervals += [interval(j) for j in ids]
    out["driver.only_s"] = driver_only / n_warm
    out["driver.jobs"] = len(warm_jobs) / n_warm
    out["checkpoint.jobs"] = ck_jobs / n_warm
    out["checkpoint.s"] = union_s(ck_intervals) / n_warm

    run_s = ssum("run_s")
    out["executor.run_s"] = run_s / n_warm
    out["executor.cpu_s"] = ssum("cpu_s") / n_warm
    out["executor.gc_s"] = ssum("gc_s") / n_warm
    out["executor.shuffle_write_bytes"] = ssum("shuffle_write_bytes") / n_warm
    out["executor.shuffle_read_bytes"] = ssum("shuffle_read_bytes") / n_warm
    out["executor.shuffle_fetch_wait_s"] = ssum("shuffle_fetch_wait_s") / n_warm
    out["executor.spill_disk_bytes"] = ssum("spill_disk_bytes") / n_warm
    out["executor.peak_exec_memory_bytes"] = float(
        max([st["peak_exec_memory_bytes"] for st in warm_stages], default=0)
    )
    if warm_wall:
        out["executor.parallelism"] = run_s / (warm_wall * cpus)
        out["barrier.idle_core_s"] = (warm_wall * cpus - run_s) / n_warm

    batches = [b for b in wl.stream_batches() if b.get("pass_idx") in warm_idx]
    if batches:
        out["streaming.batches"] = len(batches) / n_warm
        out["streaming.batch_s"] = stats.median([b["batch_s"] for b in batches])
        out["streaming.add_batch_s"] = stats.median([b["add_batch_s"] for b in batches])
        out["streaming.add_batch_sum_s"] = sum(b["add_batch_s"] for b in batches) / n_warm
        slopes, state = [], {}
        for key in {(b["runner"], b["pass_idx"]) for b in batches}:
            run = sorted((b for b in batches if (b["runner"], b["pass_idx"]) == key),
                         key=lambda b: b["index"])
            if len(run) >= 2:
                slopes.append(float(np.polyfit([b["index"] for b in run],
                                               [b["batch_s"] for b in run], 1)[0]))
            state.setdefault(key[1], 0)
            state[key[1]] += run[-1]["state_bytes"]
        out["streaming.batch_s_slope"] = stats.median(slopes)
        out["streaming.state_bytes"] = stats.median(list(state.values()))
        written = ssum("output_bytes")
        out["streaming.bytes_written_per_batch"] = written / len(batches)
        feed = wl.inputs.get("feed_bytes") or 0
        if feed:
            out["streaming.write_amp"] = written / n_warm / (feed * len(wl.RUNNERS))
    out["trace.pass_s"] = stats.median([w for _pi, w, _j in passes])
    return out
