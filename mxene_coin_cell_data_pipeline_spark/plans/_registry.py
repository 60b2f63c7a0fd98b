"""Driver-contract query registry (SURVEY.md §2 coverage).

Every entry pairs an idiomatic-Spark implementation with an equivalent
DuckDB oracle SQL over the same parquet tables; the driver hash-compares
them at sf=0.01 (BASELINE.md "t2"). Each entry is tagged with the
SURVEY.md §2 operator IDs it covers so coverage is auditable line by
line.

Conventions (the driver compare sorts columns by name and hashes values
order-insensitively):
- every computed column is aliased IDENTICALLY in Spark and SQL;
- timestamps are output as integer epoch-microseconds (``*_us``) —
  bit-exact across engines, immune to session-timezone differences;
- nondeterministic selections (top-k, argmin/argmax) always carry a
  total tie-break;
- queries set session timezone UTC and read via sources.tables so they
  behave identically under the driver's own SparkSession.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..sources.tables import load_table


@dataclass
class QuerySpec:
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL; None → driver does rows-only check
    survey: str = ""  # SURVEY.md §2 operator IDs covered
    note: str = ""


QUERIES: dict[str, QuerySpec] = {}


def _register(name: str, oracle: str | None, survey: str, note: str = ""):
    def deco(fn):
        QUERIES[name] = QuerySpec(spark=fn, oracle=oracle, survey=survey, note=note)
        return fn

    return deco


def _ctx(spark: SparkSession, sf_dir: str, *names: str) -> list[DataFrame]:
    """Load tables (nanos-compat parquet read; see sources/tables.py).

    The LOADERS are session-timezone independent at the storage layer
    (verified: tests/test_timezone_independence.py), and ``load_table``
    additionally pins ``spark.sql.session.timeZone=UTC`` so the
    calendar-function queries (year/weekofyear/date_trunc, date
    literals on LTZ columns) evaluate on the same UTC calendar as the
    DuckDB oracle's naive timestamps regardless of how the driver
    built its session. Measured boundary: none — a full driver_check
    sweep under ``--tz America/New_York`` is green (round 4; rounds
    1-3 it failed exactly the 14 calendar queries).
    """
    return [load_table(spark, sf_dir, n) for n in names]


def _dsum6(col) -> F.Column:
    """Exact sum of fixed-decimal data, scale-independent.

    ``round(sum(x), 6)`` of a double sum is only stable while the
    accumulated double error stays under the 5e-7 half-grid — that
    error grows with n·magnitude, so a form verified at sf0.1 can flip
    at larger scale factors. This form instead rounds each ADDEND to
    the 1e-6 grid (bit-identical per row on both engines — the same
    per-row round the old form applied once at the end) and accumulates
    in DECIMAL(38,6): exact, associative, partition-layout and
    scale-factor independent up to 1e32 totals. Oracle mirror:
    ``CAST(sum(CAST(round(x, 6) AS DECIMAL(38,6))) AS DOUBLE)``.

    CHOOSING _dsum6 vs _fsum6: the SUM here is exact at any scale, but
    the final decimal->double cast is only cross-engine-identical while
    the total stays under 2^53 micro-units (~9.0e9 units) — DuckDB
    double-rounds (int128 -> double -> /1e6) where Spark rounds once
    (measured at 100x: q01's 2.8e11 totals landed on adjacent doubles).
    Use _dsum6 where the per-group total is structurally bounded (q03's
    per-order revenue, streaming per-window rollups); use _fsum6 where
    totals grow with corpus size (q01/q05 whole-table or nation-level
    sums). Every registered _dsum6 site was swept green at 100x — the
    largest (q07/q09/a14 group totals ~2e9) cross the boundary only
    past ~500x sf0.1.
    """
    return F.sum(F.round(col, 6).cast("decimal(38,6)")).cast("double")


def _fsum6(col) -> F.Column:
    """Exact micro-unit sum of fixed-decimal data, safe for LARGE totals.

    _dsum6's DECIMAL(38,6) accumulation is exact, but its final
    decimal->double cast is engine-dependent once the total passes
    ~2^53 micro-units (~9e9): DuckDB converts int128 -> double -> /1e6
    (two roundings) where Spark rounds the decimal once — at 100x data
    q01's 2.8e11 sum_charge landed on ADJACENT doubles (measured; the
    per-addend decimals were multiset-identical). This form accumulates
    ``floor(x*1e6 + 0.5)`` int64 micro-units — multiply/add/floor are
    IEEE-identical per row on both engines, the integer sum is exact —
    and both engines then derive the double through the SAME two ops
    (int64->double cast, /1e6), so the result is bit-identical at any
    total. The e10/g01/energy fixed-point idiom, applied to sums.

    Bound: int64 overflows at 9.2e18 micro-units = 9.2e12 units; raise
    the guard like operators/energy.py if a use case approaches it
    (100x lineitem totals are 2.8e17 micro — 32x headroom).
    Oracle mirror: ``CAST(sum(CAST(floor(x * 1000000.0 + 0.5) AS
    BIGINT)) AS DOUBLE) / 1000000.0``.
    """
    return F.sum(
        F.floor(col * F.lit(1000000.0) + F.lit(0.5)).cast("long")
    ).cast("double") / F.lit(1000000.0)


def _fsum6_micro(col) -> F.Column:
    """The raw int64 micro-unit sum behind _fsum6 — use when the total
    feeds an exact comparison (j10's max-equality) or a ratio whose
    scale cancels (q08/a18): integer equality/division on identical
    operands is deterministic where double-sum comparison is not."""
    return F.sum(F.floor(col * F.lit(1000000.0) + F.lit(0.5)).cast("long"))


#: Driver-facing order of the whole registry, one name per query. The
#: correctness driver checks a PREFIX window of it, so the head lists
#: the queries that most need a fresh driver verdict; rotating the window
#: means reordering the head of this list (COVERAGE.md, "Registry layout
#: and order"). ``tests/test_registry.py`` pins that it names every
#: registered query once.
ORDER = [
    "g04_label_propagation",
    "s17_mmr_over_ivfadc",
    "d21_quality_keeper_groups",
    "o20_epoch_shard_shuffle",
    "src07_ivf_index_layout",
    "s16_mmr_diverse_topk",
    "o19_epoch_upsample",
    "s14_ivfpq_residual_topk",
    "m13_audio_fingerprint_neardup",
    "s15_rrf_hybrid_fusion",
    "p07_trained_tokenizer_pipeline",
    "s13_pq_adc_topk",
    "a05_trapezoid",
    "m02_decode_stub",
    "p01_cycler_pipeline",
    "s03_signlsh_pairs",
    "d07_signlsh_neardup",
    "d10_chunk_dedup",
    "j01_semi_join",
    "j02_anti_join",
    "j03_min_per_group",
    "q18_having",
    "w04_rollup",
    "a14_distinct_agg",
    "s04_knn_join",
    "w08_grouping_sets",
    "j05_correlated_avg",
    "j06_disjunctive_join",
    "j07_waiting_supplier",
    "st04_stream_sessionize",
    "a17_quantile_2pass",
    "w09_cube",
    "j09_group_vs_global",
    "j10_max_over_agg",
    "j11_nested_semi",
    "q10_returned_revenue",
    "t08_repetition_metrics",
    "q08_market_share",
    "q09_product_profit",
    "q16_supplier_cnt",
    "st07_stream_stateful_energy",
    "a21_sliding_median",
    "j12_nullsafe_join",
    "st08_stream_incremental_agg",
    "e03_range_join",
    "st03_stream_dedup",
    "t07_winnow_fingerprint",
    "o06_stratified_sample",
    "m04_byte_features",
    "j08_salted_skew_agg",
    "s05_kmeans_iteration",
    "st05_stream_stream_join",
    "c13_variant_shred",
    "u03_udtf_sentences",
    "a18_promo_ratio",
    "a19_priority_counts",
    "t09_pii_redact",
    # -- end of the driver head; the rest follow in the order they were added --
    "q01_pricing_summary",
    "q03_top_revenue_orders",
    "q05_nation_volume",
    "o03_topk_orders",
    "u01_union_slices",
    "w01_rank_per_group",
    "a02_last_non_null",
    "a03_guarded_ratio",
    "a04_first_norm",
    "a06_argmin_nearest",
    "a07_neighbor_median_delta",
    "a08_min_subtract",
    "a10_running_first_shift",
    "a11_regr_fade",
    "c05_c06_labels",
    "c07_substring_filter",
    "c04_c08_casts",
    "qc01_aggregate_checks",
    "d01_exact_dedup",
    "d02_minhash_lsh",
    "d03_simhash",
    "d05_ngram_jaccard",
    "s01_cosine_topk",
    "s02_ivf_topk",
    "d04_embedding_neardup",
    "t01_token_stats",
    "t02_quality_score",
    "t03_language_id",
    "t04_fingerprint",
    "m01_binary_meta",
    "m05_ppm_decode",
    "p02_cycler_features_sql",
    "st01_stream_window_rollup",
    "st02_stream_static_join",
    "m03_frame_sample",
    "p03_dqdv_sql",
    "p04_ir_sql",
    "w07_unpivot",
    "d06_near_dup_groups",
    "d09_simhash_hamming",
    "d12_lsh_star_cap",
    "d14_star_cap_groups",
    "d13_simhash_star_cap",
    "d08_edit_distance_refine",
    "e01_asof_join",
    "e02_sessionize",
    "e04_resample_ffill",
    "t05_tfidf_top_terms",
    "w02_pivot_step_counts",
    "w03_rolling_capacity",
    "j04_outer_custdist",
    "u02_intersect_except",
    "w05_ntile_cume",
    "c12_json_extract",
    "t06_top_bigrams",
    "o05_hash_split",
    "w06_range_frame",
    "a15_listagg",
    "a16_stats_agg",
    "a13_percentiles",
    "o07_latest_by_key",
    "e05_ewma",
    "e06_interval_coverage",
    "o08_weighted_sample",
    "o09_zorder_layout",
    "st06_stream_upsert_snapshot",
    "q07_nation_pair_volume",
    "g01_pagerank",
    "a20_approx_distinct_bound",
    "a26_hll_sketch_merge",
    "o10_table_profile",
    "e07_funnel",
    "o11_compaction_bins",
    "d11_url_dedup",
    "q06_forecast_revenue",
    "t10_unigram_logprob",
    "c14_calendar_rollup",
    "w10_navigation_functions",
    "src01_jsonl_roundtrip",
    "src02_csv_fallback",
    "c15_map_column_ops",
    "u04_bag_set_ops",
    "e08_spatial_join",
    "e09_running_distinct",
    "o12_cohort_retention",
    "s06_label_centroids",
    "o13_winsorize",
    "e10_twap",
    "e11_ohlc_bars",
    "o14_gaps_islands",
    "e12_asof_forward",
    "a22_zscore",
    "e13_interarrival_histogram",
    "t11_feature_hashing",
    "u05_bag_counts_derived",
    "a23_scalar_pandas_udf",
    "a24_grouped_agg_pandas_udf",
    "src03_python_datasource",
    "a25_approx_percentile_bound",
    "j13_param_grid",
    "t12_explode_outer",
    "t13_curation_funnel",
    "d15_decontaminate",
    "o15_sequence_pack",
    "o16_domain_mixture",
    "t14_dsir_resample",
    "s08_semdedup",
    "s07_int8_quantize",
    "t15_bpe_pretokenize",
    "g02_connected_components",
    "e14_linear_interp",
    "d16_bloom_decontaminate",
    "src04_orc_roundtrip",
    "m06_ppm_resize",
    "t16_linear_classifier",
    "st09_stream_decode",
    "m07_wav_decode",
    "m08_avi_frames",
    "t17_span_self_dedup",
    "t18_bm25_topk",
    "a27_histogram_quantile",
    "s09_matryoshka_topk",
    "g03_triangle_count",
    "e15_scd2_intervals",
    "st10_stream_histogram",
    "a28_countmin_freq",
    "src05_hive_partitioned_roundtrip",
    "p05_export_pipeline",
    "s10_pca_power",
    "e16_seasonal_backtest",
    "a29_join_size_sketch",
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
    "d20_crossdoc_span_removal",
    "m11_image_phash_neardup",
    "o18_source_mix_quota",
    "t23_bpe_encode",
    "t24_bpe_train_merges",
    "m12_video_phash_neardup",
    "p06_tokenizer_corpus_pipeline",
]


def query_fns() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: QUERIES[name].spark for name in ORDER}


def oracle_sqls() -> dict[str, str]:
    return {n: QUERIES[n].oracle for n in ORDER if QUERIES[n].oracle is not None}


