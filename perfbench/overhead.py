"""Tracing overhead: traced vs untraced ``pass_s`` on the same seeds.

    python3 perfbench/overhead.py --workload dedup-stream --seeds 1 2 3

Runs ``run.py`` once untraced and once traced per seed, alternating which
goes first, and prints one JSON line: both medians of the raw ``pass_s``
(the untraced run's detail line, the traced run's ``trace.pass_s``) and
their ratio.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def _pass_s(workload: str, seed: int, seconds: float, trace: int) -> float:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=os.path.dirname(HERE), capture_output=True, text=True, check=True,
    ).stdout.strip().splitlines()
    if trace:
        return json.loads(out[-1])["metrics"]["trace.pass_s"]["value"]
    return json.loads(out[-2])["pass_s"]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    args = ap.parse_args()
    runs: dict[int, list[float]] = {0: [], 1: []}
    for i, seed in enumerate(args.seeds):
        for trace in ((0, 1) if i % 2 == 0 else (1, 0)):
            runs[trace].append(_pass_s(args.workload, seed, args.seconds, trace))
    off, on = statistics.median(runs[0]), statistics.median(runs[1])
    print(json.dumps({
        "workload": args.workload,
        "seeds": args.seeds,
        "untraced_pass_s": runs[0],
        "traced_pass_s": runs[1],
        "overhead_ratio": on / off,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
