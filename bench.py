"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": "total_headline_query_sec", "value": N, "unit": "sec",
   "queries": {name: sec, ...}, "sf": X}

Each query is executed to completion via the ``noop`` sink (full
materialization of EVERY output column, no result shipping overhead).
``count()`` is NOT used: Catalyst prunes cardinality-preserving work
under a count — a windowed projection with no downstream filter would
measure as a bare scan. The protocol lives in :func:`measure`, which
``tools/time_queries.py`` runs for a named subset.

Each query is measured as the MIN of N interleaved full passes
(default 3, $SPARK_GRAFT_BENCH_PASSES; any value >= 1 is honored).
Before the timed passes, $SPARK_GRAFT_BENCH_WARMUP_PASSES (default 2;
0 skips them) untimed warmup passes run at the bench SF itself; their
wall times are stamped as ``warmup_pass_secs``. Min over interleaved
passes converges each query to its floor (a transient must hit the
same query in every pass to survive) while staying an honest per-plan
cost: every reported number is a time the full query actually took.
The per-pass headline totals and their spread are stamped into the
artifact — read any committed headline against its own spread before
calling a delta a regression. SCALING.md ("Bench noise and the timing
protocol") keeps the measurements behind these choices.

The final stdout JSON line carries a ``queries`` map with the 58
headline entries plus a PINNED list of the heaviest extended entries,
values rounded to 2 decimals; the full 3-decimal map for all entries
is in BENCH_DETAIL.json ($SPARK_GRAFT_BENCH_DETAIL) and on stderr.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from mxene_coin_cell_data_pipeline_spark import get_spark  # noqa: E402
from mxene_coin_cell_data_pipeline_spark.plans import QUERIES  # noqa: E402

HEADLINE = [
    "q01_pricing_summary",
    "q03_top_revenue_orders",
    "q05_nation_volume",
    "w01_rank_per_group",
    "a02_last_non_null",
    "a05_trapezoid",
    "a07_neighbor_median_delta",
    "a11_regr_fade",
    "qc01_aggregate_checks",
    "p01_cycler_pipeline",
    "d01_exact_dedup",
    "d02_minhash_lsh",
    "d05_ngram_jaccard",
    "d03_simhash",
    "d04_embedding_neardup",
    "s01_cosine_topk",
    "s02_ivf_topk",
    "t01_token_stats",
    "t03_language_id",
    "m01_binary_meta",
    "j01_semi_join",
    "e03_range_join",
    "s04_knn_join",
    "t06_top_bigrams",
    "m03_frame_sample",
    "e04_resample_ffill",
    "w06_range_frame",
    "d07_signlsh_neardup",
    "t07_winnow_fingerprint",
    "a17_quantile_2pass",
    "j05_correlated_avg",
    "j06_disjunctive_join",
    "j07_waiting_supplier",
    "o06_stratified_sample",
    "o07_latest_by_key",
    "j08_salted_skew_agg",
    "m04_byte_features",
    "s05_kmeans_iteration",
    "w09_cube",
    "q10_returned_revenue",
    "j09_group_vs_global",
    "a19_priority_counts",
    "t08_repetition_metrics",
    "d10_chunk_dedup",
    "e05_ewma",
    "e06_interval_coverage",
    "o08_weighted_sample",
    "o09_zorder_layout",
    "q06_forecast_revenue",
    "q08_market_share",
    "d11_url_dedup",
    "g01_pagerank",
    "e08_spatial_join",
    "e09_running_distinct",
    "o12_cohort_retention",
    "c15_map_column_ops",
    "j12_nullsafe_join",
    "s06_label_centroids",
]

#: round-5 additions: the wave-3/4 heavies — the most expensive new
#: plans get tracked perf history so a regression in the capped LSH
#: chain, the export capstone, or the codec legs is visible round to
#: round. Kept in a separate list so the headline total stays
#: comparable to the round-1 58-query pin (BASELINE.md): the JSON line
#: reports the 58-query total as "value" and the extended set under
#: "value_extended" / per-query times alongside.
EXTENDED = [
    "d12_lsh_star_cap",
    "d14_star_cap_groups",
    "p05_export_pipeline",
    "g02_connected_components",
    "g03_triangle_count",
    "t17_span_self_dedup",
    "t18_bm25_topk",
    "s08_semdedup",
    "s10_pca_power",
    "m05_ppm_decode",
    "m07_wav_decode",
    "m08_avi_frames",
    "st09_stream_decode",
    "st10_stream_histogram",
    # round-8 wave 6: perf history from birth for the new operators
    "d17_window_duprate",
    "d18_incremental_dedup",
    "t19_bpe_top_merges",
    "t20_inverted_index",
    "s11_pq_assign",
    "st11_stream_incremental_dedup",
    "s12_random_projection",
    "m09_avi_keyframes",
    "d19_containment_pairs",
    "src06_schema_evolution",
    "t21_bigram_lm_score",
    "o17_merge_upsert",
    "j14_dynamic_partition_pruning",
    "m10_image_ahash_neardup",
    "t22_token_drift",
    # round-9 wave 10: perf history from birth for the new operators
    "d20_crossdoc_span_removal",
    "m11_image_phash_neardup",
    "o18_source_mix_quota",
    "t23_bpe_encode",
    # round-10 wave 11: perf history from birth for the new operators
    "s13_pq_adc_topk",
    "m12_video_phash_neardup",
    "t24_bpe_train_merges",
    "p06_tokenizer_corpus_pipeline",
    # round-11 wave 12: perf history from birth for the new operators
    "s14_ivfpq_residual_topk",
    "m13_audio_fingerprint_neardup",
    "s15_rrf_hybrid_fusion",
    "p07_trained_tokenizer_pipeline",
    # round-11 wave 13: perf history from birth for the new operators
    "src07_ivf_index_layout",
    "s16_mmr_diverse_topk",
    "o19_epoch_upsample",
    "o20_epoch_shard_shuffle",
    "d21_quality_keeper_groups",
    "s17_mmr_over_ivfadc",
    "g04_label_propagation",
]

#: Entries whose per-query seconds ride the final STDOUT line (r12,
#: VERDICT r11 item 2 — driver-visible per-query history): the 58
#: headline queries plus this PINNED subset of the heaviest extended
#: entries. Pinned and append-only (the driver diffs names round over
#: round; removing one reads as a dropped query) and sized so the
#: whole line stays inside the driver's ~2000-byte tail capture —
#: the full map for every entry is in BENCH_DETAIL.json.
STDOUT_EXTRA = [
    "p07_trained_tokenizer_pipeline",
    "g04_label_propagation",
    "g02_connected_components",
    "st10_stream_histogram",
    "t24_bpe_train_merges",
    "p06_tokenizer_corpus_pipeline",
    "st11_stream_incremental_dedup",
    "d19_containment_pairs",
]


def _bench_only() -> dict:
    """Production-path perf twins (VERDICT r05 task 7): the xxhash64
    defaults of the library functions whose REGISTERED queries pin the
    md5 oracle knob (d02/d06/a28/t11). Bench-only — not registry
    entries (xxhash64 is JVM-only, so DuckDB cannot hash-match the
    exact pair/bucket sets; correctness of the shared kernels is pinned
    by the md5 twins' oracles plus tests/test_hash_modes.py) — so
    the perf the library actually ships is tracked by BENCH history."""
    from pyspark.sql import functions as F

    from mxene_coin_cell_data_pipeline_spark.functions.dedup import (
        closure_audit,
        minhash_near_dup_pairs,
        near_dup_groups,
    )
    from mxene_coin_cell_data_pipeline_spark.functions.stats import cms_bucket
    from mxene_coin_cell_data_pipeline_spark.functions.text import hashed_features
    from mxene_coin_cell_data_pipeline_spark.sources.tables import load_table

    def d02_xxh(spark, sf_dir):
        docs = load_table(spark, sf_dir, "documents")
        # library defaults: hash_fn="xxhash64", bucket_cap=64 star emission
        return minhash_near_dup_pairs(docs, threshold=0.8)

    def d06_xxh(spark, sf_dir):
        docs = load_table(spark, sf_dir, "documents")
        # same registered audit shape as d06, library-default hashing
        return closure_audit(
            near_dup_groups(minhash_near_dup_pairs(docs, threshold=0.8))
        )

    def a28_xxh(spark, sf_dir):
        docs = load_table(spark, sf_dir, "documents")
        vocab = (
            docs.select(
                F.explode(
                    F.regexp_extract_all(F.lower("text"), F.lit(r"[a-z0-9]+"), 0)
                ).alias("token")
            )
            .groupBy("token")
            .agg(F.count("*").alias("n"))
        )
        js = spark.range(3).select(F.col("id").cast("int").alias("j"))
        tb = vocab.crossJoin(F.broadcast(js)).withColumn(
            "bucket", cms_bucket(F.col("token"), F.col("j"), 32)
        )
        cells = tb.groupBy("j", "bucket").agg(F.sum("n").alias("cell_n"))
        return (
            tb.join(F.broadcast(cells), ["j", "bucket"])
            .groupBy("token")
            .agg(F.min("cell_n").alias("cms_n"), F.max("n").alias("exact_n"))
        )

    def t11_xxh(spark, sf_dir):
        docs = load_table(spark, sf_dir, "documents")
        return hashed_features(docs, n_dims=256)

    def d17_xxh(spark, sf_dir):
        from mxene_coin_cell_data_pipeline_spark.functions.dedup import (
            window_dup_rate,
        )

        docs = load_table(spark, sf_dir, "documents")
        # production knob: 8-byte gram hash on the wire, not the string
        return window_dup_rate(docs, k=8, gram_key="xxhash64")

    def d18_xxh(spark, sf_dir):
        from mxene_coin_cell_data_pipeline_spark.functions.dedup import (
            incremental_minhash_dedup,
        )

        docs = load_table(spark, sf_dir, "documents")
        # library defaults: hash_fn="xxhash64", corpus bucket_cap=64
        return incremental_minhash_dedup(docs, batch_mod=5, threshold=0.8)

    return {
        "d02_minhash_lsh_xxh": d02_xxh,
        "d06_near_dup_groups_xxh": d06_xxh,
        "a28_countmin_freq_xxh": a28_xxh,
        "t11_feature_hashing_xxh": t11_xxh,
        "d17_window_duprate_xxh": d17_xxh,
        "d18_incremental_dedup_xxh": d18_xxh,
    }


#: 1-min loadavg above which the host is considered busy. The bench
#: saturates all cores itself, so the guard only looks at load from
#: OTHER work, *before* the session starts: it WAITS (bounded) for the
#: host to drain, and stamps the load it actually measured under into
#: both the detail file and the headline JSON.
BUSY_LOADAVG = 4.0
#: Wait-until-idle budget: outlasts a co-scheduled sweep batch, so a
#: committed headline is load-clean unless the stamp says otherwise.
BUSY_WAIT_S = 1800

#: Smallest scale factor: one pass over it compiles every plan's
#: whole-stage codegen before anything at the bench SF runs.
WARM_SF = "/root/testdata/sf0.001"


def _host_guard() -> dict:
    waited = 0
    load = os.getloadavg()[0]
    while load > BUSY_LOADAVG and waited < BUSY_WAIT_S:
        print(
            f"[bench] host busy (loadavg {load:.1f} > {BUSY_LOADAVG}); "
            f"waiting... ({waited}s/{BUSY_WAIT_S}s)",
            file=sys.stderr,
        )
        time.sleep(15)
        waited += 15
        load = os.getloadavg()[0]
    return {
        "host_loadavg_1m_at_start": round(load, 2),
        "host_busy_at_start": load > BUSY_LOADAVG,
        "host_wait_s": waited,
    }


def measure(spark, fns: dict, sf_dir: str, passes: int, warmups: int):
    """Time each ``fns[name](spark, sf_dir)`` through the noop sink.

    Returns ``(mins, per_pass, warmup_pass_secs, warmup_failures)``:
    the min seconds per query, its ``passes`` timed seconds in pass
    order, the wall time of each untimed warmup pass, and the names
    that raised in any warmup. A warmup failure never sinks the run,
    but it is recorded; a failure in a timed pass raises.
    """

    def run(name, fn, d) -> None:
        spark.sparkContext.setJobDescription(name)
        try:
            fn(spark, d).write.format("noop").mode("overwrite").save()
        finally:
            spark.sparkContext.setJobDescription(None)

    # Cache honesty: CacheManager matches canonicalized plans across
    # invocations, so an intermediate one execution persist()s would be
    # read by the next. Every execution, warmup or timed, is followed by
    # clearCache() — outside the timed window — so each timed number is
    # a full recompute from the parquet inputs.
    def untimed(d, failures) -> None:
        for name, fn in fns.items():
            try:
                run(name, fn, d)
            except Exception:
                if name not in failures:
                    failures.append(name)
            spark.catalog.clearCache()

    # One-time session costs: JVM, parquet footer caches and the Python
    # worker pool (fork + numpy/pandas import per core) ...
    region = spark.read.parquet(os.path.join(sf_dir, "region.parquet"))
    region.count()
    region.repartition(int(spark.conf.get("spark.sql.shuffle.partitions"))).mapInPandas(
        lambda it: it, schema=region.schema
    ).count()
    # ... and whole-stage codegen: Spark caches generated classes by
    # source, so one pass at the smallest SF compiles each plan's code
    # before its first timed run. The measured passes do not reuse it:
    # one pass over the 112 bench entries generates some 1,500 classes,
    # more than the session's codegen cache holds (1000, session.py),
    # so the LRU evicts every class before the next pass comes back to
    # it. Counted at sf0.01: 1,341-1,376 compilations in each timed
    # pass. A subset that fits the cache (tools/time_queries.py --only
    # with five queries: 132 classes) compiled 0-4 in each timed pass.
    warmup_failures: list[str] = []
    if os.path.isdir(WARM_SF):
        untimed(WARM_SF, warmup_failures)
    # Warmups at the bench SF absorb the tiered JIT (C2 thresholds count
    # executions of the generated classes) and the parquet page cache.
    warmup_pass_secs: list[float] = []
    for _ in range(warmups):
        t0 = time.perf_counter()
        untimed(sf_dir, warmup_failures)
        warmup_pass_secs.append(round(time.perf_counter() - t0, 3))

    per_pass: dict[str, list[float]] = {name: [] for name in fns}
    for _ in range(passes):
        for name, fn in fns.items():
            t0 = time.perf_counter()
            run(name, fn, sf_dir)
            per_pass[name].append(round(time.perf_counter() - t0, 3))
            spark.catalog.clearCache()
    mins = {name: min(ts) for name, ts in per_pass.items() if ts}
    return mins, per_pass, warmup_pass_secs, warmup_failures


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or "0.1")
    host = _host_guard()
    spark = get_spark("mxene-bench")

    bench_only = _bench_only()
    fns = {name: QUERIES[name].spark for name in HEADLINE + EXTENDED}
    fns.update(bench_only)
    n_passes = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "3")))
    n_warmup = max(0, int(os.environ.get("SPARK_GRAFT_BENCH_WARMUP_PASSES", "2")))
    times, per_pass, warmup_pass_secs, warmup_failures = measure(
        spark, fns, sf_dir, n_passes, n_warmup
    )
    pass_totals = [
        round(sum(per_pass[n][i] for n in HEADLINE), 3) for i in range(n_passes)
    ]
    warmup_pass_sec = warmup_pass_secs[0] if warmup_pass_secs else None

    # "value" stays the 58-query headline total, comparable to the
    # round-1 pin in BASELINE.md; the extended heavies and the xxh
    # production twins report separately.
    total = round(sum(times[n] for n in HEADLINE), 3)
    total_ext = round(sum(times[n] for n in EXTENDED), 3)
    total_xxh = round(sum(times[n] for n in bench_only), 3)

    detail = {
        "metric": "total_headline_query_sec",
        "value": total,
        "unit": "sec",
        "value_extended_wave34_sec": total_ext,
        "value_bench_only_xxh_sec": total_xxh,
        "n_headline": len(HEADLINE),
        "n_extended": len(EXTENDED),
        "n_bench_only": len(bench_only),
        "n_passes": n_passes,
        "warmup_pass_sec": warmup_pass_sec,
        "warmup_pass_secs": warmup_pass_secs,
        "warmup_failures": warmup_failures,
        "pass_headline_totals": pass_totals,
        "intra_run_spread": round(max(pass_totals) / min(pass_totals), 3),
        "queries": times,
        "sf": sf,
        **host,
    }
    detail_file = os.environ.get(
        "SPARK_GRAFT_BENCH_DETAIL",
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"),
    )
    with open(detail_file, "w") as f:
        json.dump(detail, f, indent=1)
    print(json.dumps({"per_query_detail": detail_file, "queries": times}), file=sys.stderr)
    # The LAST stdout line is parsed from a bounded (~2000-byte) output
    # tail, so it carries the totals and the 2-decimal per-query map
    # only; the informational fields live in the detail file.
    stdout_obj = {
        "metric": "total_headline_query_sec",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "queries": {
            n: round(times[n], 2) for n in HEADLINE + STDOUT_EXTRA if n in times
        },
        "value_extended_wave34_sec": total_ext,
        "value_bench_only_xxh_sec": total_xxh,
        "detail": os.path.basename(detail_file),
    }
    line = json.dumps(stdout_obj, separators=(",", ":"))
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
