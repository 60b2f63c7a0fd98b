"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload cell-pipeline --seed 1 --seconds 10 --trace 0

Run from the repository root. The run generates its inputs from
``--seed`` under ``.perfbench_work/`` in the repository (removed on
exit), sets the session up once in a fresh JVM and runs a first action
(together ``setup_s``), runs one cold pass, then warm passes in a closed
loop with one client until ``--seconds`` have passed (at least
``WARM_PASSES``), and checks every job's output outside the timed
window.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end metrics of ``BENCHMARK.json``; with ``--trace 1`` the Spark
event log is on and the metrics are the per-layer ones. The line before
it holds the run's details: host, inputs, sample counts, the tail
percentile used and any failure. Exit status 1 means an output check
failed or a job raised; 2 means the library could not be imported.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import subprocess
import sys
import tempfile
import time

T_PROCESS = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: warm passes run even when ``--seconds`` is over: with a short
#: ``--seconds`` every run times the same work
WARM_PASSES = 3


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _environment(work: str, cpus: int) -> dict:
    """Pin the session to the machine's cores and keep every scratch file
    inside ``work``; returns the directories made."""
    dirs = {k: os.path.join(work, k) for k in ("tmp", "local", "events", "warehouse")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_SHUFFLE_PARTITIONS"] = str(cpus)
    # Spark's own default heap, not the library's 8g: see README.md
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, *filter(None, [os.environ.get("PYTHONPATH")])]
    )
    tempfile.tempdir = None
    return dirs


def _setup(dirs: dict, trace: bool) -> tuple:
    """The set-up in a fresh JVM: launch and ``get_spark``."""
    from mxene_coin_cell_data_pipeline_spark import get_spark

    from perfbench.trace import launch_conf

    os.environ["PYSPARK_SUBMIT_ARGS"] = launch_conf(
        dirs["events"] if trace else None, dirs["tmp"], dirs["warehouse"]
    )
    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    return spark, time.perf_counter() - t0


def _first_action(spark) -> float:
    t0 = time.perf_counter()
    cpus = int(os.environ["SPARK_GRAFT_CPUS"])
    spark.range(0, cpus * 1024, 1, cpus).selectExpr("sum(id)").collect()
    return time.perf_counter() - t0


def _spark_job_s(spark, since: float, until: float) -> list[float]:
    """Wall times of the Spark jobs submitted between ``since`` and
    ``until`` (epoch seconds), read from the Spark driver's status store,
    which Spark keeps with the UI off (the last ``spark.ui.retainedJobs``
    jobs, 1000 by default)."""
    jvm = spark._jvm
    jobs = jvm.scala.jdk.javaapi.CollectionConverters.asJava(
        spark.sparkContext._jsc.sc().statusStore().jobsList(None)
    )
    out = []
    for j in jobs:
        sub, end = j.submissionTime(), j.completionTime()
        if sub.isDefined() and end.isDefined():
            t0, t1 = sub.get().getTime() / 1e3, end.get().getTime() / 1e3
            if since <= t0 <= until:
                out.append(t1 - t0)
    return out


def _start_probe(out: str) -> subprocess.Popen:
    """The host speed probe (``perfbench/probe.py``) in its own process."""
    return subprocess.Popen(
        [sys.executable, "-m", "perfbench.probe", out], cwd=ROOT,
        stdin=subprocess.DEVNULL, stdout=subprocess.DEVNULL,
    )


def _stop_probe(proc: subprocess.Popen) -> None:
    proc.terminate()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def _probe_s(samples: list[tuple[float, float]], since: float, until: float) -> float:
    """Mean probe loop time over the samples taken between ``since`` and
    ``until`` (epoch seconds)."""
    inside = [d for t, d in samples if since <= t <= until]
    if not inside:
        raise RuntimeError("the host probe took no sample during a pass")
    return sum(inside) / len(inside)


def _teardown(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _commit() -> str | None:
    """HEAD of the repository when run from a git clone, else None (the
    detail line's ``source_digest`` identifies the code either way)."""
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True)
    return r.stdout.strip() or None


def _source_digest(root: str) -> str:
    """sha256 over the library's Python sources: identifies the code
    under test where no git metadata exists."""
    h = hashlib.sha256()
    pkg = os.path.join(root, "mxene_coin_cell_data_pipeline_spark")
    for dirpath, _dirs, files in sorted(os.walk(pkg)):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(dirpath, f), "rb") as fh:
                    h.update(f.encode() + b"\0" + fh.read())
    return h.hexdigest()[:16]


def _jvm_clocks(spark) -> dict:
    """The session JVM's running totals: CPU, garbage-collection and JIT
    compilation seconds."""
    jvm = spark._jvm
    mf = jvm.java.lang.management.ManagementFactory
    with open(f"/proc/{jvm.java.lang.ProcessHandle.current().pid()}/stat") as f:
        # utime and stime, after the parenthesised command name
        ticks = f.read().rsplit(")", 1)[1].split()[11:13]
    return {
        "cpu_s": sum(map(int, ticks)) / os.sysconf("SC_CLK_TCK"),
        "gc_s": sum(max(0, b.getCollectionTime()) for b in mf.getGarbageCollectorMXBeans()) / 1e3,
        "jit_s": mf.getCompilationMXBean().getTotalCompilationTime() / 1e3,
    }


def _jvm_memory_mb(spark) -> dict:
    """The JVM's peak resident set (``VmHWM``) and the sum of its heap
    pools' peak use, in MB."""
    jvm = spark._jvm
    pid = jvm.java.lang.ProcessHandle.current().pid()
    rss = 0.0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                rss = int(line.split()[1]) / 1024.0
    heap = sum(
        pool.getPeakUsage().getUsed()
        for pool in jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
        if str(pool.getType()) == "Heap memory"
    )
    return {"peak_rss_mb": rss, "peak_heap_mb": heap / 2**20}


def main(argv=None) -> int:
    args = _parse(argv)
    sys.path.insert(0, ROOT)
    try:
        import pyspark

        import mxene_coin_cell_data_pipeline_spark  # noqa: F401
    except ImportError as e:
        print(f"[perfbench] cannot import the library under test: {e}", file=sys.stderr)
        return 2
    from perfbench import layers, stats
    from perfbench.probe import NOMINAL_S
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"[perfbench] unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    t_import = time.perf_counter() - T_PROCESS
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    spark = probe = None
    try:
        dirs = _environment(work, cpus)
        tr = Tracer()
        wl = WORKLOADS[args.workload](args.seed, os.path.join(work, "data"), tr)
        t0 = time.perf_counter()
        inputs = wl.prepare()
        gen_s = time.perf_counter() - t0

        spark, launch_s = _setup(dirs, bool(args.trace))
        start_s = t_import + launch_s
        first_action_s = _first_action(spark)
        setup_s = start_s + first_action_s

        probe_out = os.path.join(work, "probe.txt")
        probe = _start_probe(probe_out)
        passes = []  # (pass index, wall seconds, [(job label, seconds | None)])
        spark_jobs = []  # wall times of the Spark jobs of the warm passes
        pass_clocks = []  # the JVM's CPU, GC and JIT seconds in each pass
        deadline = None
        p = 0
        while p <= WARM_PASSES or time.perf_counter() < deadline:
            before = _jvm_clocks(spark)
            with tr.span("pass", pass_idx=p) as rec:
                t0 = time.perf_counter()
                jobs = wl.run_pass(spark, p)
                wall = time.perf_counter() - t0
            rec["wall"] = wall
            passes.append((p, wall, jobs))
            pass_clocks.append({k: v - before[k] for k, v in _jvm_clocks(spark).items()})
            if p > 0:
                spark_jobs += _spark_job_s(spark, rec["start"], rec["end"])
            wl.after_pass(spark, p)
            if p == 0:
                deadline = time.perf_counter() + args.seconds
            p += 1
        _stop_probe(probe)
        probe = None
        with open(probe_out) as f:
            samples = [tuple(map(float, line.split())) for line in f if line.count(" ") == 1]
        pass_probe = [_probe_s(samples, rec["start"], rec["end"])
                      for rec in tr.spans if rec["name"] == "pass"]
        mem = _jvm_memory_mb(spark)
        wl.collect_reference(spark)
        spark_version = pyspark.__version__
        _teardown(spark)
        spark = None

        bad = wl.check()
        failed_keys = {m.split(":", 1)[0] for m in bad}
        failed_keys |= {f"{job}/{pi}" for job, pi, _ in wl.errors}
        attempted = failed = 0
        for pi, _wall, jobs in passes:
            for label, secs in jobs:
                attempted += 1
                if secs is None or f"{label}/{pi}" in failed_keys:
                    failed += 1

        warm_passes = passes[1:]
        warm = [w for _, w, _ in warm_passes]
        warm_jobs = [s for _, _, jobs in warm_passes for _, s in jobs if s is not None]
        pass_s = stats.median(warm)
        tail = stats.tail(warm_jobs)
        spark_tail = stats.tail_mean(spark_jobs)
        rows_per_s = wl.rows_per_pass / pass_s if pass_s else 0.0
        # times scaled to the host speed at which the probe loop takes
        # NOMINAL_S: each pass by the probe's mean during it, the Spark
        # jobs by its mean over the warm passes
        warm_probe = pass_probe[1:]
        pass_norm_s = stats.median([w * NOMINAL_S / pr for w, pr in zip(warm, warm_probe)])
        tail_norm_s = spark_tail["value"] * NOMINAL_S * len(warm_probe) / sum(warm_probe)
        metrics = {
            "setup_s": (setup_s, "s"),
            "pass_norm_s": (pass_norm_s, "s"),
            "spark_job_tail_norm_s": (tail_norm_s, "s"),
            "jvm_peak_rss_mb": (mem["peak_rss_mb"], "MB"),
        }
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "host": {
                "nproc": cpus,
                "loadavg": os.getloadavg(),
                "spark": spark_version,
                "python": platform.python_version(),
                "commit": _commit(),
                "source_digest": _source_digest(ROOT),
            },
            "inputs": {k: v for k, v in inputs.items() if k != "dir"},
            "generate_s": gen_s,
            "setup_s": setup_s,
            "first_action_s": first_action_s,
            "cold_pass_s": passes[0][1],
            "warm_passes": len(warm),
            "warm_pass_s": warm,
            "pass_s": pass_s,
            "job_samples": len(warm_jobs),
            "warm_job_s": {
                label: [s for _, _, jobs in warm_passes for lb, s in jobs if lb == label]
                for label in dict.fromkeys(lb for _, _, jobs in warm_passes for lb, _ in jobs)
            },
            "job_p50_s": stats.median(warm_jobs),
            "job_tail": tail,
            "rows_per_s": rows_per_s,
            "spark_jobs": len(spark_jobs),
            "spark_job_p50_s": stats.median(spark_jobs),
            "spark_job_mean_s": sum(spark_jobs) / len(spark_jobs) if spark_jobs else 0.0,
            "spark_job_pctl": stats.tail(spark_jobs),
            "spark_job_tail": spark_tail,
            "jvm": mem,
            "jvm_pass_clocks": pass_clocks,
            "probe_pass_s": pass_probe,
            "probe_samples": len(samples),
            "fail_ratio": failed / attempted if attempted else 1.0,
            "failures": bad[:10] + [f"{j}/{pi} raised" for j, pi, _ in wl.errors[:10]],
        }
        if args.trace:
            per_layer = layers.per_layer(
                tr, dirs["events"], wl, warm_passes, start_s, first_action_s, cpus
            )
            detail["layers"] = per_layer
            metrics = {
                k: (v, layers.RESULT_UNITS[k])
                for k, v in layers.result_metrics(per_layer).items()
            }
        print(json.dumps(detail, default=str))
        print(
            json.dumps(
                {
                    "correct": failed == 0,
                    "attempted": attempted,
                    "failed": failed,
                    "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
                }
            )
        )
        return 0 if failed == 0 else 1
    finally:
        if probe is not None:
            _stop_probe(probe)
        if spark is not None:
            _teardown(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
