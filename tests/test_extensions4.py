"""Unit tests for the wave-4 extension family: WAV
audio decode, intra-document span dedup, BM25 scoring, histogram
quantile sketch, matryoshka truncation.

The oracle-parity harness hash-compares each query against DuckDB at
sf0.001/sf0.01; these pin the PROPERTIES the hash compare can't
localize — span-dedup idempotence, BM25 monotonicity, histogram
bracketing of the exact quantile, and the recall column's contract.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mxene_coin_cell_data_pipeline_spark.plans.queries import QUERIES


def _q(name, spark, sf_dir):
    return QUERIES[name].spark(spark, sf_dir)


class TestWavDecode:
    def test_all_rows_decoded(self, spark, sf_dir):
        rows = _q("m07_wav_decode", spark, sf_dir).collect()
        assert rows
        for r in rows:
            n = 8 + r.doc_id % 25
            assert r.n_samples == n
            assert r.n_bytes == 44 + 2 * n
            assert r.sample_rate == 8000 + (r.doc_id % 4) * 1000
            assert 0 <= r.peak_abs <= 32768
            assert 0.0 <= r.mean_square <= 32768.0**2

    def test_null_payload_contract(self, spark):
        from mxene_coin_cell_data_pipeline_spark.functions.multimodal import (
            decode_audio,
        )

        df = spark.createDataFrame(
            [(1, None), (2, b"nope"), ],
            "doc_id long, payload binary",
        )
        rows = {r.doc_id: r for r in decode_audio(df).collect()}
        assert rows[1].n_bytes is None and rows[1].sample_rate is None
        assert rows[2].n_bytes == 4 and rows[2].sample_rate is None


class TestSpanSelfDedup:
    def test_counts_consistent(self, spark, sf_dir):
        rows = _q("t17_span_self_dedup", spark, sf_dir).collect()
        assert rows
        for r in rows:
            assert r.n_spans == (r.n_tokens + 2) // 3
            assert 0 < r.n_uniq_spans <= r.n_spans

    def test_removes_repeated_spans_keeps_first(self, spark):
        df = spark.createDataFrame(
            [(1, "a b c x y z a b c q")], "doc_id long, text string"
        )
        fn = QUERIES["t17_span_self_dedup"].spark

        # build the same plan over a literal table via monkeypatched ctx
        toks = F.regexp_extract_all("text", F.lit(r"[^ ]+"), 0)
        spans = F.expr(
            "transform(sequence(0, (size(toks) + 2) div 3 - 1),"
            " i -> array_join(slice(toks, i * 3 + 1, 3), ' '))"
        )
        out = (
            df.select("doc_id", toks.alias("toks"))
            .select("doc_id", spans.alias("spans"))
            .select(
                "doc_id",
                F.array_distinct("spans").alias("kept"),
            )
            .head()
        )
        # 10 tokens -> spans [a b c][x y z][a b c][q]; dup span dropped
        assert out.kept == ["a b c", "x y z", "q"]
        assert fn is not None

    def test_idempotent(self, spark):
        """Re-running span dedup on the cleaned text changes nothing."""
        text = "a b c x y z a b c q"

        def clean(df):
            toks = F.regexp_extract_all("text", F.lit(r"[^ ]+"), 0)
            spans = F.expr(
                "transform(sequence(0, (size(toks) + 2) div 3 - 1),"
                " i -> array_join(slice(toks, i * 3 + 1, 3), ' '))"
            )
            return (
                df.select(toks.alias("toks"))
                .select(F.array_join(F.array_distinct(spans), " ").alias("text"))
            )

        df = spark.createDataFrame([(text,)], "text string")
        once = clean(df).head()["text"]
        twice = clean(spark.createDataFrame([(once,)], "text string")).head()[
            "text"
        ]
        assert once == twice


class TestBm25:
    def test_topk_shape_and_order(self, spark, sf_dir):
        rows = _q("t18_bm25_topk", spark, sf_dir).collect()
        assert len(rows) == 10
        scores = [r.bm25 for r in rows]
        assert scores == sorted(scores, reverse=True)
        assert all(s >= 0.0 for s in scores)

    def test_score_increases_with_tf(self, spark):
        """More occurrences of a query term → strictly higher saturated
        score, holding doc length fixed (the BM25 tf monotonicity)."""
        k1, b = 1.2, 0.75

        def sat(tf, dl, avgdl):
            return tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl))

        assert sat(1, 20, 20) < sat(2, 20, 20) < sat(5, 20, 20)
        # saturation: marginal gain shrinks
        assert sat(2, 20, 20) - sat(1, 20, 20) > sat(5, 20, 20) - sat(4, 20, 20)


class TestHistogramQuantile:
    def test_brackets_exact_quantile(self, spark, sf_dir):
        """The sketch's bin lower edge is within one bin width of the
        exact type-1 quantile — the histogram accuracy contract."""
        from mxene_coin_cell_data_pipeline_spark.plans._registry import _ctx

        (li,) = _ctx(spark, sf_dir, "lineitem")
        got = {
            r.flag: r for r in _q("a27_histogram_quantile", spark, sf_dir).collect()
        }
        exact = {
            r.flag: r
            for r in li.groupBy(F.col("l_returnflag").alias("flag"))
            .agg(
                F.expr("percentile(l_extendedprice, 0.5)").alias("p50"),
                F.expr("percentile(l_extendedprice, 0.95)").alias("p95"),
            )
            .collect()
        }
        for flag, r in got.items():
            assert abs(r.p50_bin_lo - exact[flag].p50) <= 100.0
            assert abs(r.p95_bin_lo - exact[flag].p95) <= 100.0

    def test_merge_by_addition(self, spark, sf_dir):
        """Bin counts built from two disjoint halves and merged by
        addition equal the single-pass counts — the mergeability
        property that makes the sketch production-shaped."""
        from mxene_coin_cell_data_pipeline_spark.plans._registry import _ctx

        (li,) = _ctx(spark, sf_dir, "lineitem")
        binned = li.select(
            F.col("l_returnflag").alias("flag"),
            F.floor(F.col("l_extendedprice") / F.lit(100.0))
            .cast("long")
            .alias("bin"),
        )
        whole = {
            (r.flag, r.bin): r.c
            for r in binned.groupBy("flag", "bin").agg(F.count("*").alias("c")).collect()
        }
        h1 = binned.filter(F.crc32(F.concat_ws(":", "flag", "bin")) % 2 == 0)
        h2 = binned.filter(F.crc32(F.concat_ws(":", "flag", "bin")) % 2 == 1)
        merged: dict = {}
        for half in (h1, h2):
            for r in half.groupBy("flag", "bin").agg(F.count("*").alias("c")).collect():
                merged[(r.flag, r.bin)] = merged.get((r.flag, r.bin), 0) + r.c
        assert merged == whole


class TestMatryoshka:
    def test_topk_shape(self, spark, sf_dir):
        rows = _q("s09_matryoshka_topk", spark, sf_dir).collect()
        assert len(rows) == 10
        cosines = [r.cosine16 for r in rows]
        assert cosines == sorted(cosines, reverse=True)
        assert all(-1.0 - 1e-9 <= c <= 1.0 + 1e-9 for c in cosines)
        recall_hits = sum(r.in_full_topk for r in rows)
        assert 0 <= recall_hits <= 10

    def test_slice_matches_prefix(self, spark, sf_dir):
        from mxene_coin_cell_data_pipeline_spark.plans._registry import _ctx

        (emb,) = _ctx(spark, sf_dir, "embeddings")
        r = emb.select(
            F.col("embedding"), F.slice("embedding", 1, 16).alias("s")
        ).head()
        assert list(r.s) == list(r.embedding[:16])


class TestTriangleCount:
    def test_differential_vs_python(self, spark, sf_dir):
        """Brute-force Python triangle count over the collected edge
        list equals the join-based result (small at sf0.001)."""
        from mxene_coin_cell_data_pipeline_spark.plans._registry import _ctx

        li, orders = _ctx(spark, sf_dir, "lineitem", "orders")
        edges = (
            li.filter(F.col("l_quantity") >= 48)
            .join(orders, orders["o_orderkey"] == li["l_orderkey"])
            .filter(F.col("o_custkey") != F.col("l_suppkey"))
            .select(
                F.least("o_custkey", "l_suppkey").alias("a"),
                F.greatest("o_custkey", "l_suppkey").alias("b"),
            )
            .distinct()
            .collect()
        )
        es = {(r.a, r.b) for r in edges}
        nbrs: dict = {}
        for a, b in es:
            nbrs.setdefault(a, set()).add(b)
        tri = sum(
            1
            for a, b in es
            for c in nbrs.get(b, ())
            if (a, c) in es
        )
        deg: dict = {}
        for a, b in es:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        wedges = sum(d * (d - 1) // 2 for d in deg.values())
        row = _q("g03_triangle_count", spark, sf_dir).head()
        assert row.n_edges == len(es)
        assert row.n_triangles == tri
        assert row.n_wedges == wedges
        assert row.clustering_micro == 3 * tri * 1000000 // wedges


class TestScd2Intervals:
    def test_interval_contract(self, spark, sf_dir):
        """Per user: versions are 1..n, exactly one open (is_current)
        interval, half-open intervals chain exactly (valid_to of row k
        == valid_from of row k+1), and consecutive states differ."""
        rows = _q("e15_scd2_intervals", spark, sf_dir).collect()
        assert rows
        by_user: dict = {}
        for r in rows:
            by_user.setdefault(r.user_id, []).append(r)
        for user, rs in by_user.items():
            rs.sort(key=lambda r: r.version)
            assert [r.version for r in rs] == list(range(1, len(rs) + 1))
            assert sum(r.is_current for r in rs) == 1
            assert rs[-1].is_current == 1 and rs[-1].valid_to_us is None
            for k in range(len(rs) - 1):
                assert rs[k].valid_to_us == rs[k + 1].valid_from_us
                assert rs[k].event_type != rs[k + 1].event_type

    def test_run_collapse(self, spark):
        """Consecutive identical states collapse into one interval."""
        from pyspark.sql import Window

        df = spark.createDataFrame(
            [
                (1, 10, "2024-01-01 00:00:00", "A"),
                (2, 10, "2024-01-01 00:01:00", "A"),
                (3, 10, "2024-01-01 00:02:00", "B"),
                (4, 10, "2024-01-01 00:03:00", "A"),
            ],
            "event_id long, user_id long, ts_s string, event_type string",
        ).select(
            "event_id", "user_id",
            F.to_timestamp("ts_s").alias("ts"), "event_type",
        )
        w_lag = Window.partitionBy("user_id").orderBy("ts", "event_id")
        s = df.select(
            "user_id", "event_type",
            F.unix_micros("ts").alias("us"), "event_id",
            F.lag("event_type").over(w_lag).alias("prev"),
        )
        chg = s.filter(
            F.col("prev").isNull() | (F.col("prev") != F.col("event_type"))
        )
        out = chg.orderBy("us").select("event_type").collect()
        assert [r.event_type for r in out] == ["A", "B", "A"]


class TestStreamHistogram:
    def test_stream_equals_batch(self, spark, sf_dir):
        """The micro-batch-merged histogram snapshot derives the same
        quantile rows as the one-pass batch computation (any split of
        the feed — here the 4-file replay the query runs)."""
        from mxene_coin_cell_data_pipeline_spark.plans._registry import _ctx

        got = {
            r.event_type: r
            for r in _q("st10_stream_histogram", spark, sf_dir).collect()
        }
        (events,) = _ctx(spark, sf_dir, "events")
        binned = (
            events.select(
                "event_type",
                F.floor(F.col("value") / F.lit(10.0)).cast("long").alias("bin"),
            )
            .groupBy("event_type", "bin")
            .agg(F.count("*").alias("c"))
        )
        from pyspark.sql import Window

        tot = binned.groupBy("event_type").agg(F.sum("c").alias("n"))
        cum = binned.join(tot, "event_type").withColumn(
            "cum",
            F.sum("c").over(Window.partitionBy("event_type").orderBy("bin")),
        )
        batch = {
            r.event_type: r
            for r in cum.groupBy("event_type")
            .agg(
                F.max("n").cast("long").alias("n"),
                (F.min(F.when(F.col("cum") >= F.expr("(n + 1) div 2"), F.col("bin"))) * 10)
                .cast("long")
                .alias("p50_bin_lo"),
                (F.min(F.when(F.col("cum") >= F.expr("(95 * n + 99) div 100"), F.col("bin"))) * 10)
                .cast("long")
                .alias("p95_bin_lo"),
            )
            .collect()
        }
        assert set(got) == set(batch)
        for k in got:
            assert (got[k].n, got[k].p50_bin_lo, got[k].p95_bin_lo) == (
                batch[k].n, batch[k].p50_bin_lo, batch[k].p95_bin_lo
            )


class TestCountMin:
    def test_one_sided_guarantee(self, spark, sf_dir):
        rows = _q("a28_countmin_freq", spark, sf_dir).collect()
        assert rows
        for r in rows:
            assert r.ge_ok == 1
            assert r.est_n >= r.exact_n
            assert r.over_by == r.est_n - r.exact_n

    def test_cells_merge_by_addition(self, spark, sf_dir):
        """CMS cells built from two disjoint doc halves and merged by
        addition equal the whole-corpus cells — the mergeability that
        makes the sketch production-shaped (same property as a27)."""
        from mxene_coin_cell_data_pipeline_spark.plans._registry import _ctx

        (docs,) = _ctx(spark, sf_dir, "documents")

        def cells(df):
            vocab = (
                df.select(
                    F.explode(
                        F.regexp_extract_all(
                            F.lower("text"), F.lit(r"[a-z0-9]+"), 0
                        )
                    ).alias("token")
                )
                .groupBy("token")
                .agg(F.count("*").alias("n"))
            )
            js = df.sparkSession.range(3).select(
                F.col("id").cast("int").alias("j")
            )
            tb = vocab.crossJoin(js).withColumn(
                "bucket",
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat_ws(":", F.col("j").cast("string"), "token")
                        ),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("long")
                % 32,
            )
            return {
                (r.j, r.bucket): r.cell_n
                for r in tb.groupBy("j", "bucket")
                .agg(F.sum("n").alias("cell_n"))
                .collect()
            }

        whole = cells(docs)
        h1 = cells(docs.filter(F.col("doc_id") % 2 == 0))
        h2 = cells(docs.filter(F.col("doc_id") % 2 == 1))
        merged: dict = {}
        for h in (h1, h2):
            for k, v in h.items():
                merged[k] = merged.get(k, 0) + v
        assert merged == whole


class TestHivePartitionedRoundtrip:
    def test_partition_filters_in_plan(self, spark, sf_dir, tmp_path):
        """The pruned read carries the predicate as PartitionFilters
        (directory-level pruning), not merely PushedFilters."""
        from mxene_coin_cell_data_pipeline_spark.plans._registry import _ctx

        (events,) = _ctx(spark, sf_dir, "events")
        tmp = str(tmp_path / "p")
        events.write.mode("overwrite").partitionBy("event_type").parquet(tmp)
        back = spark.read.parquet(tmp).filter(F.col("event_type") == "click")
        plan = back._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan
        import re

        m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
        assert m and "event_type" in m.group(1)

    def test_partition_values_roundtrip(self, spark, sf_dir):
        rows = {
            r.event_type: r
            for r in _q("src05_hive_partitioned_roundtrip", spark, sf_dir).collect()
        }
        assert set(rows) == {"click", "error"}
        for r in rows.values():
            assert r.n > 0 and r.min_id <= r.max_id


class TestExportPipeline:
    def test_stage_monotonicity_and_identities(self, spark, sf_dir):
        """Counts shrink through the funnel; pack count matches the
        ceil identity; crossers bounded by kept docs."""
        rows = _q("p05_export_pipeline", spark, sf_dir).collect()
        assert rows
        assert sum(r.n_in for r in rows) > 0
        for r in rows:
            assert r.n_in >= r.n_screened >= r.n_kept >= 0
            assert r.n_packs == (r.tok_total + 511) // 512
            assert 0 <= r.n_crossers <= max(r.n_kept - 1, 0) + r.n_packs

    def test_clean_token_identity(self, spark, sf_dir):
        """The derived clean token count equals the actual token count
        of the span-deduped text (dropped spans are always full
        3-token spans)."""
        rows = _q("t17_span_self_dedup", spark, sf_dir).collect()
        from mxene_coin_cell_data_pipeline_spark.plans._registry import _ctx

        (docs,) = _ctx(spark, sf_dir, "documents")
        texts = {r.doc_id: r.text for r in docs.select("doc_id", "text").collect()}
        import hashlib

        for r in rows[:50]:
            toks = [t for t in texts[r.doc_id].split(" ") if t]
            spans = [
                " ".join(toks[i : i + 3]) for i in range(0, len(toks), 3)
            ]
            seen, keep = set(), []
            for s in spans:
                if s not in seen:
                    seen.add(s)
                    keep.append(s)
            cleaned = " ".join(keep)
            n_clean_expected = len([t for t in cleaned.split(" ") if t])
            derived = r.n_tokens - 3 * (r.n_spans - r.n_uniq_spans)
            assert derived == n_clean_expected
            # round-5 bounded-oracle form: kept_len + the rank·hash32
            # position-weighted signature replace the full-text md5
            # (same differential strength, per-doc-bounded memory)
            assert len(cleaned) == r.kept_len
            want_sig = sum(
                (i + 1) * int(hashlib.md5(s.encode()).hexdigest()[:8], 16)
                for i, s in enumerate(keep)
            )
            assert want_sig == r.kept_sig


class TestPcaPower:
    def test_integer_chain_matches_python_and_numpy(self, spark, sf_dir):
        """The integer power-iteration chain reproduces an exact Python
        recomputation from the quantized vectors, and the resulting
        direction aligns with numpy's true top eigenvector of the same
        Gram matrix."""
        import numpy as np

        from mxene_coin_cell_data_pipeline_spark.plans._registry import _ctx

        (emb,) = _ctx(spark, sf_dir, "embeddings")
        vecs = [
            [int(np.floor(float(x) * 1000.0 + 0.5)) for x in r.embedding[:16]]
            for r in emb.select("embedding").collect()
        ]
        Q = np.array(vecs, dtype=object)
        cov = [[sum(int(v[i]) * int(v[j]) for v in vecs) for j in range(16)]
               for i in range(16)]
        v1 = [sum(cov[i]) for i in range(16)]
        mx1 = max(max(abs(v) for v in v1), 1)
        w = [(-((abs(v) * 100) // mx1) if v < 0 else (abs(v) * 100) // mx1)
             for v in v1]
        v2 = [sum(cov[i][j] * w[j] for j in range(16)) for i in range(16)]

        got = {r.dim: r for r in
               _q("s10_pca_power", spark, sf_dir).collect()}
        assert len(got) == 16
        for d in range(16):
            assert got[d + 1].v1 == v1[d]
            assert got[d + 1].w == w[d]
            assert got[d + 1].v2 == v2[d]

        C = np.array([[float(x) for x in row] for row in cov])
        eigvals, eigvecs = np.linalg.eigh(C)
        top = eigvecs[:, -1]

        def cos(a):
            a = np.array([float(x) for x in a])
            return abs(a @ top) / (np.linalg.norm(a) * np.linalg.norm(top))

        # the synthetic embeddings are near-isotropic (lambda2/lambda1
        # ~ 0.96-0.99), so 2 rounds can't reach the eigenvector — the
        # pinned property is the power-iteration contraction itself:
        # alignment with the true top eigenvector strictly improves
        # every round despite the integer rescaling.
        assert cos(np.ones(16)) < cos(v1) < cos(v2)


class TestSeasonalBacktest:
    def test_mae_identity_and_warmup(self, spark, sf_dir):
        rows = _q("e16_seasonal_backtest", spark, sf_dir).collect()
        assert rows
        for r in rows:
            assert r.n_scored == max(r.n_hours - 24, 0)
            if r.n_scored:
                assert r.mae_micro == r.abs_err_micro_sum // r.n_scored
            assert r.abs_err_micro_sum >= 0

    def test_perfect_seasonal_signal_scores_zero(self, spark):
        """A perfectly 24h-periodic series has zero seasonal-naive
        error after warm-up."""
        from pyspark.sql import Window

        rows = [
            (h, "x", float(10 + (h % 24)))  # value repeats every 24h
            for h in range(72)
        ]
        df = spark.createDataFrame(rows, "hr long, event_type string, v double")
        vm = F.floor(F.col("v") * F.lit(1000000.0) + F.lit(0.5)).cast("long")
        w = Window.partitionBy("event_type").orderBy("hr")
        f = df.select("event_type", "hr", vm.alias("v")).withColumn(
            "fc", F.lag("v", 24).over(w)
        )
        out = f.groupBy("event_type").agg(
            F.count("fc").alias("n"),
            F.sum(F.abs(F.col("v") - F.col("fc"))).alias("err"),
        ).head()
        assert out.n == 48 and out.err == 0


class TestJoinSizeSketch:
    def test_bound_and_exactness(self, spark, sf_dir):
        """est >= true always (CM inner product adds only nonnegative
        collision cross-terms), and the true size matches a direct
        per-key count-square sum."""
        from mxene_coin_cell_data_pipeline_spark.plans._registry import _ctx

        row = _q("a29_join_size_sketch", spark, sf_dir).head()
        assert row.ge_ok == 1
        assert row.est_size >= row.true_size
        assert row.over_by == row.est_size - row.true_size
        assert row.ratio_micro == row.est_size * 1000000 // row.true_size

        (events,) = _ctx(spark, sf_dir, "events")
        counts = [
            r.c
            for r in events.groupBy("user_id")
            .agg(F.count("*").alias("c"))
            .collect()
        ]
        assert row.true_size == sum(c * c for c in counts)
        # the self-join size really is what the sketch estimates
        assert row.true_size == events.select("user_id", "event_id").alias(
            "a"
        ).join(
            events.select(F.col("user_id"), F.col("event_id").alias("e2")).alias("b"),
            "user_id",
        ).count()
