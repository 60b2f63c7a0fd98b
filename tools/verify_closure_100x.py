"""Independent closure verification for the group queries (d14, d06)
via an exact Python union-find — now a CROSS-CHECK, not the 100x
adjudication path.

History: through round 7 the registered d06/d14 oracles computed
connected components with a recursive all-pairs reachability CTE —
correct, but quadratic in component size (at 100x the corpus
collapses into ~499k-doc clusters → ~1e11 reach rows, beyond DuckDB
capacity), so the 100x verdict depended on this tool. Round 8
restated the registered oracles as unrolled pointer-jumping label
propagation with LINEAR per-round state plus a convergence
certificate, and the registered output as bounded per-group audit
aggregates (see plans/dedup.py:_closure_audit_oracle), so the
sweep verifies d06/d14 directly. This tool remains as a third,
algorithm-independent opinion:

  1. DuckDB evaluates the registered PAIR oracle (d12's SQL for d14,
     d02's for d06) — same inputs, same SQL the sf0.01 gate trusts.
  2. A Python union-find over those pairs yields, for every doc that
     appears in a pair, group_id = min(component) — the exact closure.
  3. That relation is aggregated to the registered audit shape
     (group size, id range, membership checksum) and compared to the
     engine query's output under the driver-faithful session with
     driver_check's canon_hash — dtype-faithful, order-insensitive,
     tolerance-free.

Usage:
  python tools/verify_closure_100x.py --sf /tmp/sf100x \
      --query d14_star_cap_groups [--out result.json]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.driver_check import canon_hash, driver_like_session  # noqa: E402
from mxene_coin_cell_data_pipeline_spark.sources.tables import TABLE_NAMES  # noqa: E402

#: closure query -> the registered PAIR query whose oracle feeds it
PAIR_SOURCE = {
    "d14_star_cap_groups": "d12_lsh_star_cap",
    "d06_near_dup_groups": "d02_minhash_lsh",
}


def union_find_groups(pairs: pd.DataFrame) -> pd.DataFrame:
    """(doc_id, group_id=min of component) for every doc in a pair —
    the exact relation the registered recursive-CTE oracle defines."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in zip(pairs["doc_a"].to_numpy(), pairs["doc_b"].to_numpy()):
        a, b = int(a), int(b)
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by min so the root IS the component minimum
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb
    out = pd.DataFrame(
        {"doc_id": list(parent), "group_id": [find(x) for x in parent]}
    )
    return out.astype({"doc_id": "int64", "group_id": "int64"})


def closure_audit_pd(groups: pd.DataFrame) -> pd.DataFrame:
    """Pandas twin of functions/dedup.py:closure_audit — aggregates the
    raw (doc_id, group_id) relation to the registered audit shape."""
    g = groups.copy()
    g["member_sig"] = ((g["doc_id"] % 2147483647) * 2654435761) % 2147483647
    out = (
        g.groupby("group_id", as_index=False)
        .agg(
            n_docs=("doc_id", "size"),
            min_doc_id=("doc_id", "min"),
            max_doc_id=("doc_id", "max"),
            member_sig=("member_sig", "sum"),
        )
    )
    return out.astype(
        {
            "group_id": "int64",
            "n_docs": "int64",
            "min_doc_id": "int64",
            "max_doc_id": "int64",
            "member_sig": "int64",
        }
    )


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", required=True)
    ap.add_argument("--query", required=True, choices=sorted(PAIR_SOURCE))
    ap.add_argument("--cpus", type=int, default=32)
    ap.add_argument("--driver-mem", default="48g")
    ap.add_argument("--duckdb-mem", default="48GB")
    ap.add_argument("--out", default="")
    ap.add_argument(
        "--pairs-engine",
        action="store_true",
        help="take the pair relation from the registered pair QUERY's "
        "Spark side instead of re-running its DuckDB oracle. Valid only "
        "when that pair query already holds a tolerance-free 100x pass "
        "(engine == DuckDB on the pair relation, committed in "
        "SCALING_100x.json): the union-find then verifies the CLOSURE "
        "step against the same DuckDB-anchored relation without paying "
        "the pair oracle's O(candidate x shingle) DuckDB aggregate "
        "again (observed: 77+ GB spill exceeding host disk)",
    )
    args = ap.parse_args()

    from mxene_coin_cell_data_pipeline_spark.plans import queries as Q

    pair_sql = Q.QUERIES[PAIR_SOURCE[args.query]].oracle
    t0 = time.time()

    # --pairs-engine precondition (round-7 ADVICE): the engine pair
    # relation is an acceptable union-find input ONLY because the pair
    # query holds a committed tolerance-free 100x engine==DuckDB pass.
    # Enforce it: the committed row must say "pass", and the relation
    # we recompute here must have exactly its committed row count —
    # otherwise a pair-generation regression would corrupt both the
    # union-find input and the tested output the same way and still
    # print "pass".
    committed = None
    if args.pairs_engine:
        scaling_path = os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "SCALING_100x.json",
        )
        with open(scaling_path) as f:
            committed = json.load(f).get(PAIR_SOURCE[args.query], {})
        if committed.get("status") != "pass" or "rows_spark" not in committed:
            print(
                json.dumps(
                    {
                        "name": args.query,
                        "status": "precondition_fail",
                        "note": f"--pairs-engine requires a committed "
                        f"tolerance-free 100x pass for "
                        f"{PAIR_SOURCE[args.query]} in SCALING_100x.json; "
                        f"found status={committed.get('status')!r}",
                    }
                )
            )
            return 1

    # The Spark session is created lazily, INSIDE each branch — in the
    # oracle branch only after DuckDB finishes the pair aggregate, so
    # the JVM heap is not live during the exact path that already runs
    # at the host's memory/disk-spill limit (round-7 ADVICE).
    if args.pairs_engine:
        spark = driver_like_session(cpus=args.cpus, driver_mem=args.driver_mem)
        pairs = (
            Q.QUERIES[PAIR_SOURCE[args.query]]
            .spark(spark, args.sf)
            .toPandas()
        )
        if len(pairs) != committed["rows_spark"]:
            print(
                json.dumps(
                    {
                        "name": args.query,
                        "status": "precondition_fail",
                        "n_pairs": len(pairs),
                        "n_pairs_committed": committed["rows_spark"],
                        "note": "engine pair relation row count diverged "
                        "from its committed 100x record — pair generation "
                        "regressed; the union-find input is not anchored",
                    }
                )
            )
            return 1
    else:
        con = duckdb.connect()
        con.execute(f"SET memory_limit='{args.duckdb_mem}'")
        spill = f"/tmp/duckdb_spill_{os.getpid()}"
        os.makedirs(spill, exist_ok=True)
        con.execute(f"SET temp_directory='{spill}'")
        for t in TABLE_NAMES:
            path = f"{args.sf}/{t}.parquet"
            if os.path.isdir(path):
                path = f"{path}/*.parquet"
            con.execute(
                f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )
        pairs = con.execute(pair_sql).fetchdf()
        con.close()
        spark = driver_like_session(cpus=args.cpus, driver_mem=args.driver_mem)
    t_pairs = time.time() - t0
    oracle = closure_audit_pd(union_find_groups(pairs))
    t_uf = time.time() - t0 - t_pairs

    sp = Q.QUERIES[args.query].spark(spark, args.sf).toPandas()
    t_engine = time.time() - t0 - t_pairs - t_uf

    schema_match = sorted(sp.columns) == sorted(oracle.columns)
    ok = schema_match and canon_hash(sp) == canon_hash(oracle)
    rec = {
        "name": args.query,
        "status": "pass" if ok else "hash_fail",
        "sec": round(time.time() - t0, 2),
        "rows_spark": len(sp),
        "rows_oracle": len(oracle),
        "schema_match": schema_match,
        "n_pairs": len(pairs),
        "n_pairs_committed": (
            committed["rows_spark"] if committed is not None else None
        ),
        "pair_source_committed_status": (
            committed["status"] if committed is not None else None
        ),
        "sec_pairs_oracle": round(t_pairs, 2),
        "sec_union_find": round(t_uf, 2),
        "sec_engine": round(t_engine, 2),
        "note": (
            "exact union-find closure over the "
            + (
                f"{PAIR_SOURCE[args.query]} ENGINE pair relation (itself "
                "holding a tolerance-free 100x engine==DuckDB pass in the "
                "committed record)"
                if args.pairs_engine
                else f"registered pair oracle ({PAIR_SOURCE[args.query]} "
                "SQL in DuckDB)"
            )
            + ", aggregated to the registered per-group audit shape; "
            "algorithm-independent cross-check of the registered "
            "label-propagation oracle (which is in-sweep capable since "
            "round 8)"
        ),
    }
    print(json.dumps(rec))
    if args.out:
        with open(args.out, "w") as f:
            json.dump(rec, f)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
