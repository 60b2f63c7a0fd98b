"""Time named queries in isolation through the noop sink (guide §1.4).

Usage: python tools/time_queries.py --only a,b,c [--sf DIR] [--passes 3]
       [--warmups 2]

Runs bench.py's protocol (:func:`bench.measure`: sf0.001 codegen warmup,
untimed warmups at the target SF, min of N interleaved passes, noop sink
so every output column materializes, clearCache after every execution)
restricted to a named subset, for tight optimize-measure loops and for
scale rows (one run per ``--sf`` directory). ``--only`` takes registered
query names and bench.py's production twins. Prints one JSON line
{"min": {name: sec}, "passes": {name: [sec, ...]}}.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from mxene_coin_cell_data_pipeline_spark import get_spark  # noqa: E402
from mxene_coin_cell_data_pipeline_spark.plans import QUERIES  # noqa: E402


def _query_fns(names: list[str]) -> dict:
    """Each name's query function: a registered query or one of
    bench.py's production twins (``d06_near_dup_groups_xxh``, …).
    Exits with a message on an unknown name."""
    known = {name: q.spark for name, q in QUERIES.items()}
    known.update(bench._bench_only())
    unknown = [n for n in names if n not in known]
    if unknown:
        raise SystemExit(f"unknown query name(s): {', '.join(unknown)}")
    return {n: known[n] for n in names}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--only", required=True)
    ap.add_argument("--passes", type=int, default=3)
    ap.add_argument("--warmups", type=int, default=2)
    args = ap.parse_args()

    # names resolve before the JVM starts, so a typo costs no session
    fns = _query_fns([n.strip() for n in args.only.split(",") if n.strip()])
    spark = get_spark("time-queries")
    times, per_pass, _, failed = bench.measure(spark, fns, args.sf, args.passes, args.warmups)
    if failed:
        print(json.dumps({"warmup_failures": failed}), file=sys.stderr)
    print(json.dumps({"min": times, "passes": per_pass}))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
