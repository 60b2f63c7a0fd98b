"""Time named queries in isolation through the noop sink (guide §1.4).

Usage: python tools/time_queries.py --only a,b,c [--sf DIR] [--passes 3]
       [--warmups 2]

Runs bench.py's protocol (:func:`bench.measure`: sf0.001 codegen warmup,
untimed warmups at the target SF, min of N interleaved passes, noop sink
so every output column materializes, clearCache after every execution)
restricted to a named subset, for tight optimize-measure loops and for
scale rows (one run per ``--sf`` directory). Prints one JSON line
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


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--only", required=True)
    ap.add_argument("--passes", type=int, default=3)
    ap.add_argument("--warmups", type=int, default=2)
    args = ap.parse_args()

    spark = get_spark("time-queries")
    names = [n.strip() for n in args.only.split(",") if n.strip()]
    fns = {name: QUERIES[name].spark for name in names}
    times, per_pass, _, failed = bench.measure(spark, fns, args.sf, args.passes, args.warmups)
    if failed:
        print(json.dumps({"warmup_failures": failed}), file=sys.stderr)
    print(json.dumps({"min": times, "passes": per_pass}))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
