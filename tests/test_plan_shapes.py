"""Physical-plan shape regression tests.

The oracle gate proves VALUES; these pin the PLANS — the properties
`.explain` audits established (broadcast dims, TakeOrdered instead of
global sort, one exchange/sort where one suffices, directory-level
partition pruning) so a future refactor can't silently regress a
query into a correct-but-shuffle-heavy shape.
"""

from __future__ import annotations

import re

import pytest

from mxene_coin_cell_data_pipeline_spark.plans.queries import QUERIES


def _plan(name, spark, sf_dir) -> str:
    df = QUERIES[name].spark(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_topk_uses_take_ordered_not_global_sort(spark, sf_dir):
    """Top-k queries must plan as TakeOrderedAndProject — a global
    Sort+Limit materializes the full ordering on one node."""
    for name in ("q03_top_revenue_orders", "t18_bm25_topk",
                 "s09_matryoshka_topk"):
        plan = _plan(name, spark, sf_dir)
        assert "TakeOrderedAndProject" in plan, name


def test_dimension_joins_broadcast(spark, sf_dir):
    """Snowflake dims must broadcast, never sort-merge."""
    plan = _plan("q05_nation_volume", spark, sf_dir)
    assert "BroadcastHashJoin" in plan
    # the fact table must not be sort-merge-joined against a dim
    assert plan.count("SortMergeJoin") == 0


def test_e15_single_exchange_single_sort(spark, sf_dir):
    """Both SCD2 windows share one user_id exchange AND one sort
    (the lag and lead windows use the same textual sort key)."""
    plan = _plan("e15_scd2_intervals", spark, sf_dir)
    assert len(re.findall(r"Exchange hashpartitioning\(user_id", plan)) == 1
    assert len(re.findall(r"\bSort \[user_id", plan)) == 1
    assert plan.count("Window") == 2


def test_bm25_stats_row_broadcasts(spark, sf_dir):
    """The corpus-stats single row joins back via broadcast — a
    shuffle keyed by term must never materialize."""
    plan = _plan("t18_bm25_topk", spark, sf_dir)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "hashpartitioning(token" not in plan


def test_t17_has_no_exchange_at_all(spark, sf_dir):
    """Span self-dedup is row-local: zero exchanges in the whole plan
    beyond the optional scan rebalance (RoundRobin/Repartition)."""
    plan = _plan("t17_span_self_dedup", spark, sf_dir)
    hashex = [
        ln for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln
    ]
    assert hashex == []


def test_sketch_aggregates_partial_map_side(spark, sf_dir):
    """a27's heavy exchange carries (flag, bin) partials — the binned
    aggregate must show a partial_count before the shuffle."""
    plan = _plan("a27_histogram_quantile", spark, sf_dir)
    assert "partial_count" in plan


def test_src05_partition_pruning(spark, sf_dir, tmp_path):
    """The hive-partitioned read prunes directories: the scan's
    PartitionFilters must carry the event_type predicate."""
    from pyspark.sql import functions as F

    from mxene_coin_cell_data_pipeline_spark.plans._registry import _ctx

    (events,) = _ctx(spark, sf_dir, "events")
    tmp = str(tmp_path / "p")
    events.write.mode("overwrite").partitionBy("event_type").parquet(tmp)
    back = spark.read.parquet(tmp).filter(F.col("event_type") == "click")
    plan = back._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "event_type" in m.group(1)


def test_ann_scans_broadcast_the_query_vector(spark, sf_dir):
    """s01's brute-force scan must broadcast the 1-row query side —
    an exchange of the corpus keyed for a join would be a regression."""
    plan = _plan("s01_cosine_topk", spark, sf_dir)
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_m08_avi_frames_has_no_exchange(spark, sf_dir):
    """The video frame-extraction path is scan-bound mapInPandas:
    zero hash exchanges anywhere — generate payloads, parse, emit
    frame rows, all narrow."""
    plan = _plan("m08_avi_frames", spark, sf_dir)
    hashex = [
        ln for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln
    ]
    assert hashex == []


def test_hashed_features_single_exchange_with_partials(spark, sf_dir):
    """The hashing-trick vectorizer (xxhash64 default) is one
    (doc_id, feat_idx) aggregate: exactly one hash exchange, with
    map-side partial aggregation before it — and the xxhash64 path
    must not smuggle md5 into the plan."""
    from mxene_coin_cell_data_pipeline_spark.functions.text import (
        hashed_features,
    )
    from mxene_coin_cell_data_pipeline_spark.plans._registry import _ctx

    (docs,) = _ctx(spark, sf_dir, "documents")
    df = hashed_features(docs, n_dims=256)
    plan = df._jdf.queryExecution().executedPlan().toString()
    hashex = [
        ln for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln
    ]
    assert len(hashex) == 1
    assert "partial_sum" in plan or "partial_count" in plan
    assert "xxhash64" in plan and "md5" not in plan


def test_minhash_default_band_buckets_use_xxhash64(spark, sf_dir):
    """The default (production) LSH chain's band-bucket join must key
    on xxhash64 buckets; md5 appears ONLY when the oracle knob asks
    for it."""
    from mxene_coin_cell_data_pipeline_spark.functions.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        shingles,
    )
    from mxene_coin_cell_data_pipeline_spark.plans._registry import _ctx

    (docs,) = _ctx(spark, sf_dir, "documents")
    sig = minhash_signatures(shingles(docs))
    plan = (
        lsh_candidate_pairs(sig)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "xxhash64" in plan and "md5" not in plan
    sig_md5 = minhash_signatures(shingles(docs), hash_fn="md5")
    plan_md5 = (
        lsh_candidate_pairs(sig_md5, hash_fn="md5")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "md5" in plan_md5


def test_e08_shuffle_hash_join_not_broadcast_explode(spark, sf_dir):
    """The spatial self-join must shuffle-hash on the cell keys: both
    sides grow together, so Catalyst's default — broadcasting the
    9x-exploded probe side and streaming the whole scan on one task —
    is never the scale shape. Also pins the round-6 removal of the
    md5 top-200k input cap (no TakeOrdered / global Sort anywhere)."""
    plan = _plan("e08_spatial_join", spark, sf_dir)
    assert "ShuffledHashJoin" in plan
    assert "TakeOrderedAndProject" not in plan
    assert "BroadcastHashJoin" not in plan


def test_qc01_no_whole_column_percentile_buffer(spark, sf_dir):
    """qc01's exact median comes from the a17 two-pass bucketed
    selection (driver-side jobs at plan build), so the RETURNED plan
    must carry no percentile TypedImperativeAggregate at all — and the
    decomposed count(distinct) must not re-key the min_by/max_by
    stats aggregate by l_orderkey (the fused form kept one percentile
    buffer per order, double-exchanged)."""
    plan = _plan("qc01_aggregate_checks", spark, sf_dir)
    assert "percentile" not in plan
    assert "min_by" in plan
    # the only l_orderkey-keyed aggregates allowed are the distinct
    # count's own pre-aggregation passes, which carry no min_by state
    for line in plan.split("\n"):
        if "min_by" in line:
            assert "key=[]" in line or "keys=[]" in line, line


def test_multiprobe_lsh_builds_all_tables_in_one_pass(spark, sf_dir):
    """The band-OR multiprobe candidate generator must compute ALL
    t·p plane dot products in ONE posexplode + ONE aggregate over the
    vectors — t separate bucket builds would scan and shuffle the wide
    embedding table t times (the 100-TB difference between one pass
    and five). One Generate for the dims explode plus one for the
    bucket-array explode; exactly one partial/final HashAggregate pair
    keyed by vec_id."""
    from mxene_coin_cell_data_pipeline_spark.functions.similarity import (
        signlsh_candidate_pairs,
    )
    from mxene_coin_cell_data_pipeline_spark.plans._registry import _ctx

    (emb,) = _ctx(spark, sf_dir, "embeddings")
    cand = signlsh_candidate_pairs(emb, n_planes=8, n_tables=3)
    plan = cand._jdf.queryExecution().executedPlan().toString()
    # one dims explode + one bucket-array explode per join side (the
    # self-join re-plans the build on each side) — never 3 per side
    assert plan.count("Generate posexplode") <= 4, plan.count(
        "Generate posexplode"
    )
    # the vec_id aggregate appears once per join side (partial+final
    # each), not once per OR-table
    n_agg = len(re.findall(r"HashAggregate \(?keys=\[vec_id", plan))
    assert n_agg <= 4, n_agg


def test_d05_verify_broadcasts_doc_sets(spark, sf_dir):
    """The d05 verify tail must be two BroadcastHashJoins against the
    per-doc shingle arrays — a sort-merge join there shuffles the
    array column once per candidate row (~1KB × |cand|: the shape that
    is dead at 100×), and the verify must carry no aggregate (its
    state would be O(candidates); the 128,912,575-group form was the
    measured 3h20m/OOM wall before the r08 rewrite)."""
    plan = _plan("d05_ngram_jaccard", spark, sf_dir)
    assert plan.count("BroadcastHashJoin") >= 2, plan.count(
        "BroadcastHashJoin"
    )
    assert "array_intersect" in plan
    # executedPlan().toString() prints root-first: everything printed
    # BEFORE the first array_intersect line sits above the verify in
    # the tree, and no aggregate (or sort-merge join) may live there —
    # the set/posting builds and the candidate distinct are all below
    above_verify = plan.split("array_intersect")[0]
    assert "HashAggregate" not in above_verify
    assert "SortMergeJoin" not in above_verify


def test_t19_topk_uses_take_ordered(spark, sf_dir):
    """BPE top-merges must plan its k-selection as
    TakeOrderedAndProject, not a global sort of the pair aggregate."""
    plan = _plan("t19_bpe_top_merges", spark, sf_dir)
    assert "TakeOrderedAndProject" in plan


def test_t20_window_group_limit_and_two_exchanges(spark, sf_dir):
    """The posting-list cap must push into WindowGroupLimit (per-group
    top-k before the full sort materializes), and the whole plan needs
    exactly two hash exchanges: the (token,doc) tf aggregate and the
    token window — the final rollup reuses the window's partitioning."""
    plan = _plan("t20_inverted_index", spark, sf_dir)
    assert "WindowGroupLimit" in plan
    hashex = [
        ln for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln
    ]
    assert len(hashex) == 2, hashex


def test_s11_s12_pure_scan_no_exchange_no_join(spark, sf_dir):
    """PQ assignment and the JL projection are pure scans: literal
    codebooks/sign matrices, so no join and no hash exchange may
    appear."""
    for name in ("s11_pq_assign", "s12_random_projection"):
        plan = _plan(name, spark, sf_dir)
        assert "Join" not in plan, name
        assert "Exchange hashpartitioning" not in plan, name


def test_d17_no_gram_self_join(spark, sf_dir):
    """The duplicated-window rate must compute document frequency with
    a window over the gram partitioning — never a gram-keyed
    self-join (the quadratic-in-df trap)."""
    plan = _plan("d17_window_duprate", spark, sf_dir)
    assert "Join" not in plan
    assert "Window" in plan


def test_d19_broadcast_verify_no_candidate_aggregate(spark, sf_dir):
    """Containment's verify must be the row-local broadcast
    array_intersect: broadcast joins present, and no aggregate above
    the candidate distinct (state stays O(docs), not O(cand))."""
    plan = _plan("d19_containment_pairs", spark, sf_dir)
    assert "BroadcastHashJoin" in plan
    # array_intersect must be computed in a Project, not fed from an
    # aggregate keyed by the candidate pair
    assert "array_intersect" in plan
    assert not re.search(r"HashAggregate.*array_intersect", plan)


def test_d18_probe_joins_on_band_bucket(spark, sf_dir):
    """Incremental dedup's candidate stage must join corpus and batch
    bands on (band, bucket) — a hash exchange keyed by band/bucket or
    a broadcast, never a cartesian."""
    plan = _plan("d18_incremental_dedup", spark, sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_j14_dynamic_partition_pruning_in_fact_scan(spark, sf_dir):
    """The hive-partitioned fact scan must carry a dynamicpruning
    subquery in its PartitionFilters — the runtime dim-filter prune
    (src05 pins the static cousin)."""
    plan = _plan("j14_dynamic_partition_pruning", spark, sf_dir)
    assert "dynamicpruning" in plan


def test_d20_no_gram_self_join_and_linear_windows(spark, sf_dir):
    """The span-removal transform must derive the gram owner with a
    window over the gram partitioning (never a gram self-join), join
    flagged starts back to the token relation as an equi-join, and do
    coverage with per-doc windows — no cartesian anywhere."""
    plan = _plan("d20_crossdoc_span_removal", spark, sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" in plan
    # exactly one join: flagged starts -> token relation. A second
    # join would mean the gram ownership regressed to a self-join.
    n_joins = len(re.findall(r"(?:SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", plan))
    assert n_joins == 1, plan[:2000]


def _record_dedup_checkpoints(monkeypatch) -> list[str]:
    """Patch ``functions.dedup.durable_checkpoint`` (for this test) to
    record the plan of each relation it stores; returns the list."""
    from mxene_coin_cell_data_pipeline_spark.functions import dedup

    stored, checkpoint = [], dedup.durable_checkpoint

    def recording(df, *args, **kwargs):
        stored.append(df._jdf.queryExecution().executedPlan().toString())
        return checkpoint(df, *args, **kwargs)

    monkeypatch.setattr(dedup, "durable_checkpoint", recording)
    return stored


def _assert_kernel_stored_once(plan: str, stored: list[str]) -> None:
    """The shared band machinery stores the fingerprint table: its
    checkpoint runs each kernel once (two MapInPandas nodes, the
    payload generator and the codec), and the band join reads the
    stored rows, re-running no kernel, with no cartesian."""
    assert [p.count("MapInPandas") for p in stored] == [2], stored
    assert "MapInPandas" not in plan, plan[:3000]
    assert "Scan ExistingRDD" in plan, plan[:3000]
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_m11_same_band_machinery_as_m10(spark, sf_dir, monkeypatch):
    """pHash near-dup must run through the shared band join: the
    Arrow-batched kernel (mapInPandas -> MapInPandas node) runs once,
    into the stored fingerprint table, then the band bucket join."""
    stored = _record_dedup_checkpoints(monkeypatch)
    _assert_kernel_stored_once(_plan("m11_image_phash_neardup", spark, sf_dir), stored)


def test_o18_quota_broadcast_onto_rows(spark, sf_dir):
    """Quota mixing must broadcast the n_sources-row quota relation
    onto the corpus rows — never shuffle the corpus against it — and
    keep the selection rank as a single per-source window."""
    plan = _plan("o18_source_mix_quota", spark, sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_t23_kernel_runs_on_distinct_vocab(spark, sf_dir):
    """BPE encode must feed the Python kernel from the DEDUPLICATED
    vocabulary (an aggregate below MapInPandas), not from the raw
    occurrence stream — the word-cache property that makes the encode
    O(vocab) in Python at any corpus size."""
    plan = _plan("t23_bpe_encode", spark, sf_dir)
    assert "MapInPandas" in plan
    kernel_at = plan.index("MapInPandas")
    below = plan[kernel_at:]
    assert "HashAggregate" in below  # the distinct under the kernel
    assert "CartesianProduct" not in plan


def test_s13_adc_is_pure_scan_plus_topk_broadcasts(spark, sf_dir):
    """ADC retrieval must be shuffle-free: codes + ADC scoring as a
    pure scan over literal LUTs, top-k via TakeOrderedAndProject (no
    global sort), and the only joins the two 10-row recall-flag
    broadcasts — no exchange keyed by vector, no cartesian."""
    plan = _plan("s13_pq_adc_topk", spark, sf_dir)
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    # no shuffle exchange at all — broadcasts are the only exchanges
    assert not re.search(r"Exchange (hash|range)partitioning", plan), plan[:2000]


def test_m12_kernel_once_band_join_capped(spark, sf_dir, monkeypatch):
    """Video near-dup must ride the SAME band-machinery plan shape as
    m10/m11 (n_kf travels in the composite frame id, so the audit adds
    NO extra kernel subtree, no second join leg beyond the family
    shape) with no cartesian anywhere. The kernel runs once, into the
    stored fingerprint table (the lazy form re-ran it under five plan
    subtrees)."""
    stored = _record_dedup_checkpoints(monkeypatch)
    _assert_kernel_stored_once(_plan("m12_video_phash_neardup", spark, sf_dir), stored)


def test_p06_capstone_stages_compose_lazily(spark, sf_dir):
    """The wave-10 capstone must stay one lazy plan: the quota relation
    broadcasts onto the survivors (never a corpus shuffle against it),
    the BPE kernel is fed from a DISTINCT vocabulary (HashAggregate
    under MapInPandas), and nothing degenerates to a cartesian."""
    plan = _plan("p06_tokenizer_corpus_pipeline", spark, sf_dir)
    assert "MapInPandas" in plan
    kernel_at = plan.index("MapInPandas")
    assert "HashAggregate" in plan[kernel_at:]
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_s14_ivfpq_is_pruned_scan_plus_topk_broadcasts(spark, sf_dir):
    """IVFADC must keep s13's shuffle-free shape WITH the probed-list
    filter in the scan pipeline: coarse-assign, prune, residual-encode,
    per-list LUT ADC all as one codegen scan over literals; top-k via
    TakeOrderedAndProject; the only joins the two 10-row recall-flag
    broadcasts."""
    plan = _plan("s14_ivfpq_residual_topk", spark, sf_dir)
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    assert not re.search(r"Exchange (hash|range)partitioning", plan), plan[:2000]
    # the probed-list prune is IN the plan (list_id IN (...) filter)
    assert "list_id" in plan


def test_m13_kernel_once_band_join_capped(spark, sf_dir, monkeypatch):
    """Audio near-dup must ride the SAME band-machinery plan shape as
    m10-m12: ONE codec kernel pass (n_win travels in the composite
    window id — no second kernel TYPE), into the stored fingerprint
    table, and no cartesian."""
    stored = _record_dedup_checkpoints(monkeypatch)
    _assert_kernel_stored_once(
        _plan("m13_audio_fingerprint_neardup", spark, sf_dir), stored
    )


def test_s15_fusion_is_broadcast_sized(spark, sf_dir):
    """RRF fusion composes two top-k relations — the corpus-sized work
    stays inside the retrievers (TakeOrdered present for both); the
    fusion layer itself must not introduce a cartesian or a wide
    shuffle join of the 10-row sides."""
    plan = _plan("s15_rrf_hybrid_fusion", spark, sf_dir)
    assert plan.count("TakeOrderedAndProject") >= 2
    assert "CartesianProduct" not in plan


def test_p07_trained_capstone_keeps_p06_shape(spark, sf_dir):
    """The trained-table capstone must keep p06's lazy composition: the
    quota relation broadcasts onto survivors, the encode kernel is fed
    from a DISTINCT vocabulary (HashAggregate under MapInPandas), no
    cartesian — training adds driver-side literals, not plan width."""
    plan = _plan("p07_trained_tokenizer_pipeline", spark, sf_dir)
    assert "MapInPandas" in plan
    kernel_at = plan.index("MapInPandas")
    assert "HashAggregate" in plan[kernel_at:]
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_src07_probe_is_partition_pruning(spark, sf_dir):
    """The materialized-index search must read the codes through
    DIRECTORY pruning: the probe predicate appears as PartitionFilters
    on the index scan (list_id is the hive partition key — non-probed
    lists are never listed), keeping s14's no-wide-join discipline."""
    plan = _plan("src07_ivf_index_layout", spark, sf_dir)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m, plan[:2000]
    assert "list_id" in m.group(1)
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan


def test_o19_upsample_is_broadcast_plus_explode(spark, sf_dir):
    """Epoch upsampling must broadcast the O(#sources) factor table
    onto the corpus scan (never shuffle the corpus against it) and
    emit copies via a generator (explode of sequence) — linear in
    output rows, with no wide join anywhere."""
    plan = _plan("o19_epoch_upsample", spark, sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "Generate" in plan  # explode(sequence(1, reps))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_o20_shuffle_is_single_exchange(spark, sf_dir):
    """The epoch shard shuffle must pay exactly ONE shuffle — the
    (epoch, shard) hash exchange that IS the output layout: the
    within-shard rank window and the audit groupBy both run on that
    same partitioning (no second exchange), the epoch axis is a
    generator (explode), and no wide join exists."""
    plan = _plan("o20_epoch_shard_shuffle", spark, sf_dir)
    assert "Generate" in plan
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan[:3000]
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_d21_keeper_is_aggregate_not_window(spark, sf_dir):
    """The quality-keeper audit must plan as ONE groupBy with map-side
    partials (argmax travels as max(struct)) — no per-group Window
    operator, no sort, no cartesian; drop_sig derives post-agg."""
    plan = _plan("d21_quality_keeper_groups", spark, sf_dir)
    assert "Window" not in plan, plan[:3000]
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


_WIDE_JOINS = ("SortMergeJoin", "ShuffledHashJoin", "CartesianProduct",
               "BroadcastNestedLoopJoin")
_PYTHON_NODES = ("MapInPandas", "ArrowEvalPython", "BatchEvalPython")


def _exchanges(plan: str) -> int:
    """Shuffle and broadcast exchanges in a plan string."""
    return len(re.findall(r"\b(?:Broadcast)?Exchange\b", plan))


def test_d02_reads_stored_doc_state(spark, sf_dir):
    """The all-pairs (uncapped) LSH chain emits its pairs with the
    single-pass bucket emitter over the stored per-doc state: no
    persisted relation, no documents scan, no wide join and no
    window."""
    plan = _plan("d02_minhash_lsh", spark, sf_dir)
    for node in ("InMemoryTableScan", "FileScan", "Window", *_WIDE_JOINS):
        assert node not in plan, (node, plan[:3000])


_TOKENIZE = re.compile(r"Generate explode\(array\(regexp_extract_all")


@pytest.mark.parametrize("chain", ["pairs-xxhash64", "pairs-md5", "incremental"])
def test_minhash_chains_tokenize_once(spark, sf_dir, monkeypatch, chain):
    """One execution of a MinHash chain tokenizes each document once:
    the per-doc state checkpoint holds the only tokenizing Generate,
    and the returned plan reads the stored state and neither scans nor
    tokenizes the documents (the pair chain tokenized 3 times, the
    incremental one 4)."""
    from mxene_coin_cell_data_pipeline_spark.functions import dedup
    from mxene_coin_cell_data_pipeline_spark.plans._registry import _ctx

    stored = _record_dedup_checkpoints(monkeypatch)
    (docs,) = _ctx(spark, sf_dir, "documents")
    if chain == "incremental":
        df = dedup.incremental_minhash_dedup(docs)
    else:
        df = dedup.minhash_near_dup_pairs(docs, hash_fn=chain.split("-")[1])
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FileScan" not in plan, plan[:3000]
    assert not _TOKENIZE.search(plan), plan[:3000]
    assert [len(_TOKENIZE.findall(p)) for p in stored] == [1], stored


def test_d03_simhash_aggregates_on_its_scan_exchange(spark, sf_dir):
    """SimHash is one per-doc aggregate over the token stream: the
    scan's rebalance by doc_id is the only exchange, and the aggregate
    reuses its partitioning. No join, no window."""
    plan = _plan("d03_simhash", spark, sf_dir)
    assert _exchanges(plan) == 1, plan
    assert "Exchange hashpartitioning(doc_id" in plan
    assert "Join" not in plan and "Window" not in plan


@pytest.mark.parametrize("name", ["d06_near_dup_groups", "d14_star_cap_groups"])
def test_closure_result_reads_stored_labels(spark, sf_dir, name):
    """The closure's rounds run while the query is built; the returned
    group audit scans the checkpointed labels, so it re-runs neither
    the documents scan nor a closure round: one aggregate exchange
    over the stored rows."""
    plan = _plan(name, spark, sf_dir)
    assert "Scan ExistingRDD" in plan, plan
    assert "FileScan" not in plan, plan
    assert _exchanges(plan) == 1, plan


def test_d07_signlsh_joins_broadcast(spark, sf_dir):
    """Sign-LSH near-dup builds each join side's buckets with one
    aggregate by vec_id: two hash exchanges, and the bucket join and
    both vector re-attach joins broadcast."""
    plan = _plan("d07_signlsh_neardup", spark, sf_dir)
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 2, plan
    assert plan.count("BroadcastHashJoin") == 3, plan
    for node in _WIDE_JOINS:
        assert node not in plan, node


def test_d10_chunk_owner_is_a_window(spark, sf_dir):
    """Exact-chunk dedup picks each chunk's owner with one window over
    the chunk hash, then aggregates per doc: two hash exchanges and no
    self-join."""
    plan = _plan("d10_chunk_dedup", spark, sf_dir)
    assert plan.count("Window [") == 1, plan
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 2, plan
    assert "Join" not in plan


@pytest.mark.parametrize("name", ["d12_lsh_star_cap", "m10_image_ahash_neardup"])
def test_capped_bands_are_single_pass(spark, sf_dir, name):
    """The capped band machinery is one groupBy per bucket with row-local
    pair emission (optimization r12): no bucket window, no small-bucket
    self-join. m10 reads its fingerprints from the stored kernel
    output."""
    plan = _plan(name, spark, sf_dir)
    assert "Window" not in plan
    for node in _WIDE_JOINS:
        assert node not in plan, (name, node)
    if name.startswith("m10"):
        assert "Scan ExistingRDD" in plan, plan[:3000]


@pytest.mark.parametrize(
    "name, exchanges",
    [("g01_pagerank", 11), ("g02_connected_components", 8),
     ("g04_label_propagation", 12)],
)
def test_graph_rounds_lazy_dag(spark, sf_dir, monkeypatch, name, exchanges):
    """The graph queries checkpoint their result while they are built;
    with the checkpoint made the identity for this test, the full lazy
    DAG of their rounds is pinned: the edge list is hashed by src once
    and every round's join reads it without another exchange
    (optimization r12), and g04's per-round argmax is the packed
    hash-aggregable max, so no SortAggregate."""
    from mxene_coin_cell_data_pipeline_spark.plans import graph

    monkeypatch.setattr(graph, "durable_checkpoint", lambda df, eager=True: df)
    plan = _plan(name, spark, sf_dir)
    assert _exchanges(plan) == exchanges, plan
    assert "SortAggregate" not in plan
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize(
    "name",
    ["g01_pagerank", "g02_connected_components", "g03_triangle_count",
     "g04_label_propagation", "p01_cycler_pipeline"],
)
def test_materialized_result_is_one_stored_scan(spark, sf_dir, name):
    """These queries store their result while they are built (the
    graph rounds, p01's feature table), so the returned plan scans the
    stored rows: no file scan, no exchange, no Python node."""
    plan = _plan(name, spark, sf_dir)
    assert "Scan ExistingRDD" in plan, plan
    assert "FileScan" not in plan and "Exchange" not in plan, plan
    for node in _PYTHON_NODES:
        assert node not in plan, node


@pytest.mark.parametrize(
    "name", ["s16_mmr_diverse_topk", "s17_mmr_over_ivfadc", "t24_bpe_train_merges"]
)
def test_driver_loop_result_is_rows(spark, sf_dir, name):
    """MMR selection and the BPE trainer loop on the driver over
    collected rows (a lazy per-round plan cost seconds of Catalyst
    recompiles; the trainer's merge apply is a JVM fold, with no Python
    kernel, optimization r11), so the returned plan is one scan of the
    result rows."""
    plan = _plan(name, spark, sf_dir)
    assert len(plan.strip().splitlines()) == 1, plan
    assert "Scan ExistingRDD" in plan, plan
    for node in _PYTHON_NODES:
        assert node not in plan, node


def test_q06_one_scan_one_partial_aggregate(spark, sf_dir):
    """The forecast revenue is one filtered lineitem scan and one
    global aggregate with map-side partials: a single SinglePartition
    exchange of partial sums."""
    plan = _plan("q06_forecast_revenue", spark, sf_dir)
    assert plan.count("FileScan parquet") == 1, plan
    assert re.findall(r"Exchange (\w+)", plan) == ["SinglePartition"], plan
    assert "partial_sum" in plan


def test_st10_snapshot_read_broadcasts_its_bins(spark, sf_dir):
    """The percentiles over the streamed histogram snapshot broadcast
    the per-key totals onto the stored bins: two event_type exchanges
    (the totals aggregate and the cumulative window), no wide join."""
    plan = _plan("st10_stream_histogram", spark, sf_dir)
    assert len(re.findall(r"Exchange hashpartitioning\(event_type", plan)) == 2, plan
    assert plan.count("BroadcastHashJoin") == 1, plan
    for node in _WIDE_JOINS:
        assert node not in plan, node


def test_t08_stats_row_broadcasts(spark, sf_dir):
    """The repetition metrics are row-local except the per-doc n-gram
    mode, whose aggregate broadcasts back onto the rows: two doc_id
    exchanges, no wide join."""
    plan = _plan("t08_repetition_metrics", spark, sf_dir)
    assert len(re.findall(r"Exchange hashpartitioning\(doc_id", plan)) == 2, plan
    assert plan.count("BroadcastHashJoin") == 1, plan
    for node in _WIDE_JOINS:
        assert node not in plan, node


def _two_cell_csv(tmp_path) -> str:
    """Two fixture cells in one raw Arbin CSV with a ``cell_id`` column."""
    import pandas as pd

    from fixtures import arbin_frame

    cells = []
    for cid in ("c1", "c2"):
        pdf = arbin_frame()
        pdf["cell_id"] = cid
        cells.append(pdf)
    csv = str(tmp_path / "cells.csv")
    pd.concat(cells, ignore_index=True).to_csv(csv, index=False)
    return csv


def _two_cell_timeseries(spark, tmp_path) -> str:
    """Two fixture cells normalized and written as parquet; returns the
    path, so feature plans start from a ``FileScan parquet``."""
    from mxene_coin_cell_data_pipeline_spark.operators import normalize_cycler
    from mxene_coin_cell_data_pipeline_spark.sources import read_cycler_csv

    path = str(tmp_path / "ts.parquet")
    normalize_cycler(read_cycler_csv(spark, _two_cell_csv(tmp_path))).write.parquet(path)
    return path


def test_feature_pipeline_is_one_cell_exchange(spark, tmp_path):
    """The per-cycle feature table is one partition-local plan over the
    raw rows: one parquet scan, one hash exchange by cell, no broadcast
    join chain and no Python hop. Feature subsets without IR keep their
    cycle-level parallelism. The plan is the one
    ``full_feature_pipeline`` checkpoints (its returned frame scans the
    materialized rows)."""
    from fixtures import RATED_AH
    from mxene_coin_cell_data_pipeline_spark.operators import (
        capacity_ce_per_cycle,
    )
    from mxene_coin_cell_data_pipeline_spark.operators.features import (
        per_cycle_features,
    )

    path = _two_cell_timeseries(spark, tmp_path)

    feat = per_cycle_features(spark.read.parquet(path), rated_ah=RATED_AH).orderBy(
        "cell_id", "cycle_index"
    )
    plan = feat._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"Exchange hashpartitioning\(cell_id", plan)) == 1, plan
    assert plan.count("FileScan parquet") == 1, plan
    assert "BroadcastExchange" not in plan
    assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan

    # without IR nothing needs a whole cell in one task: p02's families
    # hash the raw rows by cycle keys, and capacity alone aggregates
    # partially before its shuffle
    ts = spark.read.parquet(path)
    sub = per_cycle_features(ts, features=("capacity", "energy"))
    plan = sub._jdf.queryExecution().executedPlan().toString()
    by_cycle = r"Exchange hashpartitioning\(cell_id#\d+, cycle_index#\d+L?, "
    assert len(re.findall(by_cycle, plan)) == 1, plan
    plan = capacity_ce_per_cycle(ts)._jdf.queryExecution().executedPlan().toString()
    assert "partial_max_by" in plan, plan


def _assert_reads_stored_cycles(feat, one_partition: bool) -> None:
    """The summary, report and QC plans of ``feat`` read the stored
    cycles: no raw-row parquet scan, no feature window and no exchange
    of raw rows by cell. Over a multi-partition table the fade fit's own
    aggregate by cell is the one cell exchange, over the cycle rows;
    over a one-partition table no plan has an exchange at all."""
    from mxene_coin_cell_data_pipeline_spark.operators import fade_and_rul
    from mxene_coin_cell_data_pipeline_spark.operators.qc import qc_aggregate
    from mxene_coin_cell_data_pipeline_spark.operators.report import report_table

    for name, df, cell_exchanges in (
        ("fade", fade_and_rul(feat), 0 if one_partition else 1),
        ("report", report_table(feat), 0),
        ("qc", qc_aggregate(feat), 0),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "FileScan parquet" not in plan, (name, plan)
        assert "Window" not in plan, (name, plan)
        assert "Scan ExistingRDD" in plan, (name, plan)
        found = re.findall(r"Exchange hashpartitioning\(cell_id", plan)
        assert len(found) == cell_exchanges, (name, plan)
        if one_partition:
            assert "Exchange" not in plan, (name, plan)


def test_feature_table_is_read_once(spark, tmp_path):
    """``full_feature_pipeline`` materializes the table when it is
    built, so the summary, report and QC plans read the stored cycles.
    The two-cell table is one partition and reports it, so no consumer
    shuffles at all: not the fade fit's aggregate by cell, not QC's
    global aggregate, not an ``orderBy`` over the table."""
    from fixtures import RATED_AH
    from mxene_coin_cell_data_pipeline_spark.operators import full_feature_pipeline

    path = _two_cell_timeseries(spark, tmp_path)
    feat = full_feature_pipeline(spark.read.parquet(path), rated_ah=RATED_AH)
    assert feat.rdd.getNumPartitions() == 1
    _assert_reads_stored_cycles(feat, one_partition=True)
    plan = feat.orderBy("cycle_index")._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_multi_partition_feature_table_keeps_its_cell_exchange(spark, tmp_path):
    """A table stored in more than one partition is stored again in
    global order (a range sort of the stored cycles), and keeps the
    plan of an unknown partitioning: the fade fit's aggregate by cell
    is one cell exchange over the cycle rows."""
    from fixtures import RATED_AH
    from mxene_coin_cell_data_pipeline_spark.operators import full_feature_pipeline

    path = _two_cell_timeseries(spark, tmp_path)
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    before = spark.conf.get(key)
    spark.conf.set(key, "false")  # the window's cell hash exchange keeps its partitions
    try:
        feat = full_feature_pipeline(spark.read.parquet(path), rated_ah=RATED_AH)
    finally:
        spark.conf.set(key, before)
    assert feat.rdd.getNumPartitions() > 1
    _assert_reads_stored_cycles(feat, one_partition=False)
    rows = [tuple(r) for r in feat.select("cell_id", "cycle_index").collect()]
    assert rows == sorted(rows)


def test_multi_partition_feature_table_keeps_one_stored_copy(spark, tmp_path):
    """The unordered first copy of a multi-partition table is released
    once the ordered copy is stored: its local blocks are unpersisted,
    and a reliable checkpoint leaves one RDD directory, not two."""
    import os

    from fixtures import RATED_AH
    from mxene_coin_cell_data_pipeline_spark.operators import full_feature_pipeline

    ts = spark.read.parquet(_two_cell_timeseries(spark, tmp_path))
    def stored_rdds():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    key = "spark.sql.adaptive.coalescePartitions.enabled"
    before = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        held = stored_rdds()
        local = full_feature_pipeline(ts, rated_ah=RATED_AH)
        assert len(stored_rdds() - held) == 1
        ckdir = str(tmp_path / "ck")
        spark.conf.set("spark.graft.checkpointDir", ckdir)
        try:
            reliable = full_feature_pipeline(ts, rated_ah=RATED_AH)
        finally:
            spark.conf.unset("spark.graft.checkpointDir")
    finally:
        spark.conf.set(key, before)
    assert local.rdd.getNumPartitions() > 1
    rdd_dirs = [
        d for root, dirs, _ in os.walk(ckdir) for d in dirs if d.startswith("rdd-")
    ]
    assert len(rdd_dirs) == 1, rdd_dirs
    assert reliable.collect() == local.collect()


def _jobs_in(spark, group: str, body):
    """Run ``body()`` in job group ``group``; return its result and the
    number of Spark jobs it ran."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = body()
    finally:
        sc._jsc.clearJobGroup()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_single_file_csv_read_runs_no_job(spark, tmp_path):
    """``read_cycler_csv`` of one file names its columns without a Spark
    job: the header is read on the driver and tokenized by a local
    query. The sniff and Spark's header inference cost 2 jobs."""
    from mxene_coin_cell_data_pipeline_spark.sources import read_cycler_csv

    csv = _two_cell_csv(tmp_path)
    raw, jobs = _jobs_in(spark, "csv-read", lambda: read_cycler_csv(spark, csv))
    assert jobs == 0
    assert "cell_id" in raw.columns


def test_feature_checkpoint_is_two_jobs_without_range_sort(spark, tmp_path, monkeypatch):
    """The feature checkpoint stores the per-cell window's rows sorted
    within their partitions: one hash exchange by cell, no range
    exchange, and 2 Spark jobs for the whole ``full_feature_pipeline``
    call on the two-cell fixture (a global ``orderBy`` cost 4: its
    range sample and its range shuffle re-ran the windows)."""
    from fixtures import RATED_AH
    from mxene_coin_cell_data_pipeline_spark.operators import features

    stored, checkpoint = [], features.durable_checkpoint

    def recording(df, *args, **kwargs):
        stored.append(df)
        return checkpoint(df, *args, **kwargs)

    monkeypatch.setattr(features, "durable_checkpoint", recording)
    ts = spark.read.parquet(_two_cell_timeseries(spark, tmp_path))
    feat, jobs = _jobs_in(
        spark, "feature-checkpoint",
        lambda: features.full_feature_pipeline(ts, rated_ah=RATED_AH),
    )
    assert jobs == 2, jobs
    assert len(stored) == 1 and feat.rdd.getNumPartitions() == 1
    plan = stored[0]._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]  # the adaptive plan as it ran
    assert "rangepartitioning" not in plan, plan
    assert re.findall(r"Exchange (\w+)", final) == ["hashpartitioning"], plan
    rows = [tuple(r) for r in feat.select("cell_id", "cycle_index").collect()]
    assert rows == sorted(rows)


def test_empty_feature_table_consumers(spark, tmp_path):
    """An empty timeseries gives an empty summary and report, and a QC
    aggregate of zero rows with no messages."""
    from fixtures import RATED_AH
    from pyspark.sql import functions as F

    from mxene_coin_cell_data_pipeline_spark.operators import (
        fade_and_rul,
        full_feature_pipeline,
        qc_checks,
    )
    from mxene_coin_cell_data_pipeline_spark.operators.qc import qc_aggregate
    from mxene_coin_cell_data_pipeline_spark.operators.report import report_table

    ts = spark.read.parquet(_two_cell_timeseries(spark, tmp_path)).filter(F.lit(False))
    feat = full_feature_pipeline(ts, rated_ah=RATED_AH)
    assert fade_and_rul(feat).collect() == []
    assert report_table(feat).collect() == []
    (qc,) = qc_aggregate(feat).collect()
    assert qc["n_rows"] == 0 and qc["n_cycles"] == 0
    assert [k for k, v in qc.asDict().items() if v is not None] == ["n_rows", "n_cycles"]
    assert qc_checks(feat).messages == []


def test_batch_normalize_is_one_cell_exchange(spark, tmp_path):
    """Batch normalize with ``cell_id`` decides the sign flip with a
    per-cell window over the one exchange by cell that also orders the
    rows: one exchange, one sort, no aggregate-and-broadcast join.
    Writing it runs 2 Spark jobs (the exchange and the write); the
    broadcast decision table cost 2 more."""
    from mxene_coin_cell_data_pipeline_spark.operators import normalize_cycler
    from mxene_coin_cell_data_pipeline_spark.sources import read_cycler_csv

    ts = normalize_cycler(read_cycler_csv(spark, _two_cell_csv(tmp_path)))
    plan = ts._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"Exchange hashpartitioning\(cell_id", plan)) == 1, plan
    assert plan.count("Exchange") == 1, plan
    assert len(re.findall(r"\bSort \[", plan)) == 1, plan
    assert "BroadcastHashJoin" not in plan and "BroadcastExchange" not in plan, plan

    sc = spark.sparkContext
    sc.setJobGroup("normalize-write", "two-cell timeseries write")
    try:
        ts.write.parquet(str(tmp_path / "ts.parquet"))
        jobs = sc.statusTracker().getJobIdsForGroup("normalize-write")
    finally:
        sc._jsc.clearJobGroup()
    assert len(jobs) == 2, jobs


def test_cell_chain_plans_hold_no_decimal(spark, tmp_path):
    """The SQL text of normalize and the feature plan writes every float
    as a DOUBLE literal: a bare ``0.05`` or ``1000.0`` would parse as a
    DECIMAL and show up as a decimal type in the analyzed plan."""
    from fixtures import RATED_AH, headless_frame, neware_frame
    from mxene_coin_cell_data_pipeline_spark.operators import normalize_cycler
    from mxene_coin_cell_data_pipeline_spark.operators.features import (
        per_cycle_features,
    )
    from mxene_coin_cell_data_pipeline_spark.sources import read_cycler_csv

    raws = [read_cycler_csv(spark, _two_cell_csv(tmp_path))]
    for frame in (neware_frame, headless_frame):
        csv = tmp_path / f"{frame.__name__}.csv"
        frame().to_csv(csv, index=False)
        raws.append(read_cycler_csv(spark, str(csv)))
    plans = [normalize_cycler(raw) for raw in raws]
    plans.append(normalize_cycler(raws[1], cell_id="c1"))
    ts = spark.read.parquet(_two_cell_timeseries(spark, tmp_path))
    plans.append(per_cycle_features(ts, rated_ah=RATED_AH))
    for df in plans:
        analyzed = df._jdf.queryExecution().analyzed().toJSON().lower()
        assert "decimal" not in analyzed
