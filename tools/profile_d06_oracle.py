"""Phase-split profile of d06's 100x closure-audit oracle (VERDICT r09
task 1): which phase binds at 48GB — the pairs CTE (_D02_PAIRS_LIST_SQL,
candidate generation + list-intersect verify) or the unrolled label
chain (_closure_audit_oracle)?

Run SOLO against a regenerated /tmp/sf100x (tools/gen_10x.py). Unlike
the r09 version this materializes the pairs ONCE (CREATE TEMP TABLE is
the timed pairs phase — the r09 form ran the CTE twice, once for a
bare count and again for the table, doubling a >40-min phase), then
runs the label chain over the materialized table.

Env knobs: D06_PROF_MEM (default 48GB), D06_PROF_SF (default
/tmp/sf100x).
"""
import duckdb, os, sys, time
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from mxene_coin_cell_data_pipeline_spark.plans.dedup import (
    _D02_PAIRS_LIST_SQL,
    _closure_audit_oracle,
)


def main():
    sf = os.environ.get('D06_PROF_SF', '/tmp/sf100x')
    mem = os.environ.get('D06_PROF_MEM', '48GB')
    con = duckdb.connect()
    con.execute(f"SET memory_limit='{mem}'")
    os.makedirs('/tmp/duckdb_d06prof', exist_ok=True)
    con.execute("SET temp_directory='/tmp/duckdb_d06prof'")
    con.execute(
        "CREATE OR REPLACE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf}/documents.parquet/*.parquet')"
    )
    print(f"profiling {sf} at {mem}", flush=True)

    # phase 1: PAIRS — materialize the candidate+verify relation once
    t0 = time.time()
    try:
        con.execute(f"CREATE TEMP TABLE pairs_t AS ({_D02_PAIRS_LIST_SQL})")
        n = con.execute("SELECT count(*) FROM pairs_t").fetchone()[0]
        print("PAIRS_TABLE", n, round(time.time() - t0, 1), flush=True)
    except Exception as e:
        print("PAIRS_FAIL", repr(e)[:300], round(time.time() - t0, 1), flush=True)
        raise SystemExit(1)

    # phase 2: CHAIN — the unrolled label propagation over the table only
    chain = _closure_audit_oracle("SELECT doc_a, doc_b FROM pairs_t")
    t0 = time.time()
    try:
        r = con.execute(f"SELECT count(*) FROM ({chain})").fetchone()[0]
        print("CHAIN_ONLY", r, round(time.time() - t0, 1), flush=True)
    except Exception as e:
        print("CHAIN_FAIL", repr(e)[:300], round(time.time() - t0, 1), flush=True)


# ---------------------------------------------------------------------
# Round-9 status (superseded measurement attempt): pairs phase alone had
# not completed after ~40 min at 48GB when stopped; at 10x the FULL
# oracle needs 8GB/39s, so the blow-up is 100x-specific. Round 10 runs
# this single-materialization form solo to get the phase split.
# ---------------------------------------------------------------------


if __name__ == "__main__":
    main()
