"""Unit tests for the wave-3 extension family:
BPE pre-tokenization, connected components, linear interpolation,
Bloom-prefiltered decontamination, ORC roundtrip.

The oracle-parity harness already hash-compares each query against
DuckDB at sf0.001; these tests pin the PROPERTIES that the hash
compare can't localize when it breaks — regex token identity, label
convergence, interpolation anchors, the Bloom superset invariant.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mxene_coin_cell_data_pipeline_spark.plans.queries import QUERIES
from mxene_coin_cell_data_pipeline_spark.plans.text import (
    _BPE_PRETOKEN,
    _WS_TOKEN,
)


def _q(name, spark, sf_dir):
    return QUERIES[name].spark(spark, sf_dir)


class TestBpePretokenize:
    def test_golden_tokens(self, spark):
        """The pre-tokenizer regex splits like GPT-2's on the canonical
        shapes: contractions split, leading spaces attach, digit and
        punctuation runs separate."""
        df = spark.createDataFrame(
            [("I'll say don't 123 foo-bar  baz!",)], "text string"
        )
        toks = df.select(
            F.regexp_extract_all("text", F.lit(_BPE_PRETOKEN), 0).alias("t")
        ).head()["t"]
        assert toks == [
            "I", "'ll", " say", " don", "'t", " 123",
            " foo", "-", "bar", "  ", "baz", "!",
        ]

    def test_counts_consistent(self, spark, sf_dir):
        """BPE tokens ≥ whitespace tokens (runs only ever split), and
        the micro-ratio matches its definition on every row."""
        rows = _q("t15_bpe_pretokenize", spark, sf_dir).collect()
        assert rows
        for r in rows:
            assert r.n_bpe >= r.n_ws
            if r.n_bpe > 0:
                assert r.chars_per_bpe_micro == r.n_chars * 1000000 // r.n_bpe
            else:
                assert r.chars_per_bpe_micro is None

    def test_empty_text(self, spark):
        df = spark.createDataFrame([("",), ("   ",)], "text string")
        out = df.select(
            F.size(F.regexp_extract_all("text", F.lit(_BPE_PRETOKEN), 0)).alias("n"),
            F.size(F.regexp_extract_all("text", F.lit(_WS_TOKEN), 0)).alias("w"),
        ).collect()
        assert [r.n for r in out] == [0, 1]  # whitespace run is one token
        assert [r.w for r in out] == [0, 0]


class TestConnectedComponents:
    def test_labels_are_component_minima(self, spark, sf_dir):
        """After propagation every label must be ≤ the node id, and a
        node's label must be one of the graph's node ids."""
        out = _q("g02_connected_components", spark, sf_dir)
        rows = out.collect()
        assert rows
        nodes = {r.node for r in rows}
        for r in rows:
            assert r.comp <= r.node
            assert r.comp in nodes

    def test_neighbors_converged_share_labels(self, spark, sf_dir):
        """On this graph 3 rounds converge (trade graphs are shallow):
        every edge must connect two nodes with the SAME final label —
        the definition of a converged component labeling."""
        from mxene_coin_cell_data_pipeline_spark.plans._registry import _ctx

        li, orders = _ctx(spark, sf_dir, "lineitem", "orders")
        raw = (
            li.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
            .select(F.col("o_custkey").alias("src"), F.col("l_suppkey").alias("dst"))
            .distinct()
        )
        labels = _q("g02_connected_components", spark, sf_dir)
        mismatched = (
            raw.join(labels.withColumnRenamed("node", "src"), "src")
            .withColumnRenamed("comp", "c_src")
            .join(
                labels.withColumnRenamed("node", "dst").withColumnRenamed(
                    "comp", "c_dst"
                ),
                "dst",
            )
            .filter(F.col("c_src") != F.col("c_dst"))
            .count()
        )
        assert mismatched == 0


class TestLinearInterp:
    def test_observed_days_exact_and_gaps_between_anchors(self, spark, sf_dir):
        out = _q("e14_linear_interp", spark, sf_dir).collect()
        assert out
        by_user: dict = {}
        for r in out:
            by_user.setdefault(r.user_id, []).append(r)
        for rows in by_user.values():
            rows.sort(key=lambda r: r.step_us)
            vals = [r.value_interp for r in rows]
            # endpoints anchored on observation days → never null
            assert vals[0] is not None and vals[-1] is not None
            assert all(v is not None for v in vals)

    def test_midpoint_blend(self, spark):
        """A two-observation series with one missing day interpolates
        the exact midpoint."""
        df = spark.createDataFrame(
            [
                (1, "2024-01-01 12:00:00", 10.0, 100),
                (1, "2024-01-03 12:00:00", 30.0, 101),
            ],
            "user_id long, ts_s string, value double, event_id long",
        ).select(
            "user_id", F.to_timestamp("ts_s").alias("ts"), "value", "event_id"
        )
        # drive the registered plan body on a temp view by monkey-loading:
        # simplest faithful check — rebuild the same pipeline inline
        from pyspark.sql import Window

        day = F.date_trunc("day", F.col("ts"))
        daily = (
            df.withColumn(
                "rn",
                F.row_number().over(
                    Window.partitionBy("user_id", day.alias("_d")).orderBy(
                        F.col("ts").desc(), F.col("event_id").desc()
                    )
                ),
            )
            .filter("rn = 1")
            .select("user_id", day.alias("step"), F.col("value").alias("day_value"))
        )
        bounds = df.groupBy("user_id").agg(
            F.date_trunc("day", F.min("ts")).alias("d0"),
            F.date_trunc("day", F.max("ts")).alias("d1"),
        )
        grid = bounds.select(
            "user_id",
            F.explode(
                F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))
            ).alias("step"),
        )
        j = grid.join(daily, ["user_id", "step"], "left").select(
            "user_id", F.unix_micros("step").alias("step_us"), "day_value"
        )
        back = (
            Window.partitionBy("user_id")
            .orderBy("step_us")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        fwd = (
            Window.partitionBy("user_id")
            .orderBy("step_us")
            .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        )
        obs_us = F.when(F.col("day_value").isNotNull(), F.col("step_us"))
        w = j.select(
            "step_us",
            F.last("day_value", True).over(back).alias("pv"),
            F.last(obs_us, True).over(back).alias("pu"),
            F.first("day_value", True).over(fwd).alias("nv"),
            F.first(obs_us, True).over(fwd).alias("nu"),
        )
        blend = F.col("pv") + (F.col("nv") - F.col("pv")) * (
            (F.col("step_us") - F.col("pu")).cast("double")
            / (F.col("nu") - F.col("pu")).cast("double")
        )
        vals = [
            r.v
            for r in w.select(
                F.when(F.col("nu") == F.col("pu"), F.col("pv"))
                .otherwise(blend)
                .alias("v")
            )
            .orderBy("step_us")
            .collect()
        ]
        assert vals == [10.0, 20.0, 30.0]


class TestBloomDecontaminate:
    def test_matches_exact_d15(self, spark, sf_dir):
        """The Bloom prefilter must be result-invisible: d16 == d15."""
        d15 = {
            r.doc_id: (r.n_sh, r.n_hit, r.contaminated)
            for r in _q("d15_decontaminate", spark, sf_dir).collect()
        }
        d16 = {
            r.doc_id: (r.n_sh, r.n_hit, r.contaminated)
            for r in _q("d16_bloom_decontaminate", spark, sf_dir).collect()
        }
        assert d15 == d16

    def test_some_contamination_exists(self, spark, sf_dir):
        rows = _q("d16_bloom_decontaminate", spark, sf_dir).collect()
        assert any(r.n_hit > 0 for r in rows), (
            "fixture corpus should produce at least one benchmark collision"
        )


class TestOrcRoundtrip:
    def test_matches_parquet_path(self, spark, sf_dir):
        from mxene_coin_cell_data_pipeline_spark.plans._registry import _ctx, _dsum6

        (ev,) = _ctx(spark, sf_dir, "events")
        direct = {
            r.event_type: (r.n, r.sum_value)
            for r in ev.groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                _dsum6(F.col("value")).alias("sum_value"),
            )
            .collect()
        }
        via_orc = {
            r.event_type: (r.n, r.sum_value)
            for r in _q("src04_orc_roundtrip", spark, sf_dir).collect()
        }
        assert direct == via_orc


class TestPpmResize:
    def test_resize_known_image(self):
        """2×2 NN resize of a 4×2 P3 image samples pixels (0,0),(0,2),
        (1,0),(1,2) — hand-checked luma."""
        from mxene_coin_cell_data_pipeline_spark.functions.multimodal import (
            resize_ppm_nn,
        )

        # 4 wide, 2 tall; pixel (r,c) = (10*r+c, 0, 0): red channel encodes position
        vals = []
        for r in range(2):
            for c in range(4):
                vals += [10 * r + c, 0, 0]
        ppm = f"P3\n4 2\n255\n{' '.join(map(str, vals))}\n".encode()
        w, h, ow, oh, luma = resize_ppm_nn(ppm, 2, 2)
        assert (w, h, ow, oh) == (4, 2, 2, 2)
        # sampled: r=0->sr=0, r=1->sr=1; c=0->sc=0, c=1->sc=2
        expected = 299 * (0 + 2 + 10 + 12) / (1000.0 * 255 * 4)
        assert luma == expected

    def test_resize_non_ppm_is_null(self, spark):
        from mxene_coin_cell_data_pipeline_spark.functions.multimodal import (
            resize_images,
        )

        df = spark.createDataFrame(
            [(1, bytearray(b"GIF89a")), (2, None)], "doc_id long, payload binary"
        )
        rows = {r.doc_id: r for r in resize_images(df).collect()}
        assert rows[1].width is None and rows[2].width is None

    def test_registered_query(self, spark, sf_dir):
        rows = _q("m06_ppm_resize", spark, sf_dir).collect()
        assert rows
        for r in rows:
            assert r.out_w == 2 and r.out_h == 2
            assert 0.0 <= r.mean_luma_resized <= 1.0


class TestLinearClassifier:
    def test_score_is_sum_of_weights(self, spark, sf_dir):
        """Recompute one doc's score token-by-token in python and match."""
        import hashlib

        from mxene_coin_cell_data_pipeline_spark.sources.tables import load_table

        rows = _q("t16_linear_classifier", spark, sf_dir).collect()
        assert rows
        scores = {r.doc_id: (r.n_tok, r.score_milli, r.positive) for r in rows}
        doc = (
            load_table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") == min(scores))
            .head()
        )
        import re

        toks = re.findall(r"[a-z0-9]+", doc.text.lower())
        total = 0
        for t in toks:
            feat = int(hashlib.md5(t.encode()).hexdigest()[:8], 16) % 4096
            w = int(hashlib.md5(f"w|{feat}".encode()).hexdigest()[:8], 16) % 2001 - 1000
            total += w
        n_tok, score, positive = scores[doc.doc_id]
        assert n_tok == len(toks)
        assert score == total
        assert positive == (total > 0)

    def test_both_classes_present(self, spark, sf_dir):
        rows = _q("t16_linear_classifier", spark, sf_dir).collect()
        kinds = {r.positive for r in rows}
        assert kinds == {True, False}, "hash-derived weights should split the corpus"


class TestStreamDecode:
    def test_stream_equals_batch(self, spark, sf_dir):
        """The streaming decode rollup's final state must equal the
        batch recompute of the same DAG (micro-batch boundaries cannot
        leak into integer/addend-rounded aggregates)."""
        from mxene_coin_cell_data_pipeline_spark.functions.multimodal import (
            decode_images,
            decode_ppm,
            with_ppm_payload,
        )
        from mxene_coin_cell_data_pipeline_spark.plans._registry import _ctx, _dsum6

        stream = {
            r.width: (r.n_docs, r.total_bytes, r.luma_sum6)
            for r in _q("st09_stream_decode", spark, sf_dir).collect()
        }
        (docs,) = _ctx(spark, sf_dir, "documents")
        batch = {
            r.width: (r.n_docs, r.total_bytes, r.luma_sum6)
            for r in decode_images(
                with_ppm_payload(docs.select("doc_id")), decoder=decode_ppm
            )
            .groupBy("width")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum(F.col("n_bytes").cast("long")).alias("total_bytes"),
                _dsum6(F.col("mean_luma")).alias("luma_sum6"),
            )
            .collect()
        }
        assert stream == batch
