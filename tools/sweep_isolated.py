"""Crash-isolated full-registry correctness sweep: one driver_check
SUBPROCESS per query batch, so a kernel OOM-kill (observed at 100x:
d12's DuckDB oracle hit 119 GB RSS and took the whole 175-query sweep
down after 12 results) loses only that batch, is recorded as
"killed", and the sweep continues. Results append to a JSONL as they
arrive — nothing is lost on interruption, and a re-run skips names
already recorded (pass/fail); killed/crashed names are retried
individually.

Usage:
  python tools/sweep_isolated.py --sf /tmp/sf100x \
      --out /tmp/sweep100x.jsonl [--batch 6] [--duckdb-mem 48GB] \
      [--timeout 3600] [--only name1,name2]
"""

from __future__ import annotations

import argparse
import json
import os
import pathlib
import subprocess
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))


def load_done(out: str) -> dict[str, dict]:
    done: dict[str, dict] = {}
    if os.path.exists(out):
        with open(out) as f:
            for line in f:
                if line.strip():
                    rec = json.loads(line)
                    done[rec["name"]] = rec
    return done


#: Per-query extra driver_check args for large scale factors. Queries
#: listed here are pulled out of their batch and run in their OWN
#: subprocess with these flags appended — a query missing its flags is
#: not merely slow, it takes the whole host down (d05 at 100x: DuckDB's
#: EC=0 estimate after the filter/DISTINCT builds a hash join on the
#: 5.8e9-row intermediate -> 55GB+ spill -> disk exhaustion; with
#: syntactic join order the same oracle runs in ~174s under 15GB).
HEAVY_EXTRA_ARGS: dict[str, list[str]] = {
    "d05_ngram_jaccard": [
        "--duckdb-disable-optimizers", "join_order",
        "--stop-spark-before-oracle",
    ],
    # r10: the closure oracle now fits the default 48GB — the r10
    # phase profile (git show d7617ac:tools/profile_d06_oracle.py)
    # measured the OLD 24-round chain as the binder (per-thread
    # operator state scales with unrolled rounds; 24x32 threads
    # exhausted 48GB in 182s) and
    # the registered oracle was cut to rounds=12 (118s at 48GB over
    # the same 26.9M-pair relation, convergence-certified per run).
    # Only the Spark-JVM-stop remains: pairs + chain still want the
    # whole limit to themselves.
    "d06_near_dup_groups": [
        "--stop-spark-before-oracle",
        # engine side: the 100x closure hash-aggregate OOMs a contended
        # 8g heap (measured r10: AGGREGATE_OUT_OF_MEMORY at 349s);
        # 16g clears it, and the JVM is stopped before DuckDB starts so
        # the two never share the host
        "--driver-mem", "16g",
    ],
    # the m12 oracle evaluates ~360M closed-form md5 sample expressions
    # and the capped band join under the 48GB limit — beside the
    # resident post-engine JVM it malloc-fails at the host level
    # (measured r10: 'bad allocation' at 847s; the d05 lesson)
    "m12_video_phash_neardup": [
        "--stop-spark-before-oracle",
    ],
    # r11: the m13 oracle is the same closed-form-md5-sample shape as
    # m12 (~200M sample expressions at 100x) — keep the post-engine
    # JVM out of DuckDB's way from birth
    "m13_audio_fingerprint_neardup": [
        "--stop-spark-before-oracle",
    ],
}


def run_batch(names: list[str], args) -> dict[str, dict]:
    """One driver_check subprocess over ``names``; parse its --out."""
    extra: list[str] = []
    if len(names) == 1:
        extra = HEAVY_EXTRA_ARGS.get(names[0], [])
    tmp_out = args.out + ".batch.json"
    if os.path.exists(tmp_out):
        os.remove(tmp_out)
    cmd = [
        sys.executable,
        str(ROOT / "tools" / "driver_check.py"),
        "--sf", args.sf,
        "--only", ",".join(names),
        "--out", tmp_out,
        "--cpus", str(args.cpus),
    ]
    if args.duckdb_mem:
        cmd += ["--duckdb-mem", args.duckdb_mem]
    if args.driver_mem:
        cmd += ["--driver-mem", args.driver_mem]
    # heavy flags go LAST so a per-query --duckdb-mem can override the
    # sweep-level default (argparse keeps the final occurrence)
    cmd += extra
    try:
        proc = subprocess.run(
            cmd, capture_output=True, text=True, timeout=args.timeout
        )
        rc, timed_out = proc.returncode, False
    except subprocess.TimeoutExpired:
        rc, timed_out = -1, True
    got: dict[str, dict] = {}
    if os.path.exists(tmp_out):
        try:
            with open(tmp_out) as f:
                got = json.load(f)
        except ValueError:
            # the kill can land mid-rewrite of the incremental --out —
            # a truncated file means only the in-flight query is lost
            got = {}
        os.remove(tmp_out)
    for n in names:
        if n not in got:
            got[n] = {
                "status": "timeout" if timed_out else "killed",
                "detail": f"subprocess rc={rc} (no result written — "
                "OOM-kill or timeout mid-query)",
            }
    return got


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--batch", type=int, default=6)
    ap.add_argument("--cpus", type=int, default=8)
    ap.add_argument("--duckdb-mem", default="48GB")
    ap.add_argument("--driver-mem", default="8g")
    ap.add_argument("--timeout", type=int, default=3600)
    ap.add_argument("--only", default="")
    args = ap.parse_args()

    from mxene_coin_cell_data_pipeline_spark.plans import query_fns

    names = [n.strip() for n in args.only.split(",") if n.strip()] or list(
        query_fns()
    )
    done = load_done(args.out)
    todo = [
        n for n in names
        if done.get(n, {}).get("status") not in ("pass", "hash_fail", "schema_fail")
    ]
    print(f"{len(done)} recorded, {len(todo)} to run", flush=True)

    def record(got: dict[str, dict]) -> None:
        with open(args.out, "a") as f:
            for n, row in got.items():
                row = dict(row, name=n)
                f.write(json.dumps(row, default=str) + "\n")
                print(f"{row.get('status','?'):10s} {n}", flush=True)

    # first pass: batches; anything killed/timeout retries ALONE so a
    # poison query costs only itself. Queries with HEAVY_EXTRA_ARGS run
    # solo up front (their flags only attach to single-query batches).
    heavy = [n for n in todo if n in HEAVY_EXTRA_ARGS]
    todo = [n for n in todo if n not in HEAVY_EXTRA_ARGS]
    for n in heavy:
        print(f"heavy, running alone: {n}", flush=True)
        record(run_batch([n], args))
    for i in range(0, len(todo), args.batch):
        record(run_batch(todo[i : i + args.batch], args))
    done = load_done(args.out)
    retry = [n for n in names if done.get(n, {}).get("status") in ("killed", "timeout")]
    for n in retry:
        print(f"retrying alone: {n}", flush=True)
        record(run_batch([n], args))

    done = load_done(args.out)
    counts: dict[str, int] = {}
    for n in names:
        s = done.get(n, {}).get("status", "missing")
        counts[s] = counts.get(s, 0) + 1
    print("==", json.dumps(counts))
    return 0 if set(counts) <= {"pass", "no_oracle"} else 1


if __name__ == "__main__":
    raise SystemExit(main())
