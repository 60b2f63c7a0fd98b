"""Assembly-layer tests: multi-cell collation (S6/U1/P6/P7), report
rendering (S7/O3/P5), plot gating (S8), multimodal decode plumbing."""

import os

import pandas as pd
import pytest

from mxene_coin_cell_data_pipeline_spark.functions.multimodal import (
    binary_payload_meta,
    decode_images,
    with_fake_payload,
)
from mxene_coin_cell_data_pipeline_spark.operators.collate import (
    add_cell_id,
    collate_feature_csvs,
    union_all,
)
from mxene_coin_cell_data_pipeline_spark.operators.plots import HAVE_MPL, quick_plots
from mxene_coin_cell_data_pipeline_spark.operators.report import (
    render_report,
    report_table,
)


@pytest.fixture(scope="module")
def cell_csv_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("cells")
    for cid, q in [("cellA", 3.0), ("cellB", 2.5)]:
        pd.DataFrame(
            {"cycle_index": [1, 2], "Q_dis_Ah": [q, q - 0.1], "CE": [0.99, 0.991]}
        ).to_csv(os.path.join(d, f"{cid}_features_full.csv"), index=False)
    return str(d)


def test_collate_filename_cell_id(spark, cell_csv_dir):
    out = collate_feature_csvs(spark, cell_csv_dir + "/*_features_full.csv")
    assert out.columns[0] == "cell_id"
    rows = {(r["cell_id"], r["cycle_index"]) for r in out.collect()}
    assert rows == {("cellA", 1), ("cellA", 2), ("cellB", 1), ("cellB", 2)}


def test_add_cell_id_fill_rules(spark):
    df = spark.createDataFrame(
        [(None, 1), ("", 2), ("kept", 3)], "cell_id string, cycle_index long"
    )
    out = {r["cycle_index"]: r["cell_id"] for r in add_cell_id(df, "X").collect()}
    assert out == {1: "X", 2: "X", 3: "kept"}
    # column absent → constant fill, moved first
    df2 = spark.createDataFrame([(1,)], "cycle_index long")
    got = add_cell_id(df2, "Y")
    assert got.columns == ["cell_id", "cycle_index"]
    assert got.first()["cell_id"] == "Y"


def test_union_all_missing_columns(spark):
    a = spark.createDataFrame([(1, 2.0)], "cycle_index long, Q_dis_Ah double")
    b = spark.createDataFrame([(2, 0.99)], "cycle_index long, CE double")
    out = union_all([a, b])
    assert set(out.columns) == {"cycle_index", "Q_dis_Ah", "CE"}
    assert out.count() == 2


def test_report_rounding_and_template(spark):
    feat = spark.createDataFrame(
        [(1, 2.99444, 0.98765, 0.30219, 0.05111, 3.81234, 12.3456)],
        "cycle_index long, Q_dis_Ah double, CE double, E_dis_Wh double, "
        "IR_C2_ohm double, dQdV_peak_V double, dQdV_shift_mV double",
    )
    tbl = report_table(feat).first()
    assert tbl["Q_dis_Ah"] == 2.994 and tbl["CE"] == 0.9877
    assert tbl["dQdV_shift_mV"] == 12.3
    summary = spark.createDataFrame(
        [("C1", 2.994, -0.2, 100.5)],
        "cell_id string, Q0_Ah double, fade_slope_pct_per_cycle double, "
        "cycles_to_80pct double",
    )
    md = render_report(feat, summary, "C1")
    assert "# Cycle-Life Report — C1" in md
    assert "**Fade slope:** -0.2000% / cycle" in md
    assert "| cycle_index" in md and "2.994" in md


@pytest.fixture(scope="module")
def two_cell_features(spark, tmp_path_factory):
    """The feature table and fade summary of a two-cell raw CSV whose
    own ``cell_id`` column names c1 and c2 (c2 holds half c1's
    capacity, so the two Q0 values differ)."""
    from fixtures import RATED_AH, arbin_frame
    from mxene_coin_cell_data_pipeline_spark.operators import (
        fade_and_rul,
        full_feature_pipeline,
        normalize_cycler,
    )
    from mxene_coin_cell_data_pipeline_spark.sources import read_cycler_csv

    cells = []
    for cid, scale in (("c1", 1.0), ("c2", 0.5)):
        pdf = arbin_frame()
        for col in ("Charge_Capacity(Ah)", "Discharge_Capacity(Ah)"):
            pdf[col] *= scale
        pdf["cell_id"] = cid
        cells.append(pdf)
    csv = str(tmp_path_factory.mktemp("two_cells") / "cells.csv")
    pd.concat(cells, ignore_index=True).to_csv(csv, index=False)
    feat = full_feature_pipeline(
        normalize_cycler(read_cycler_csv(spark, csv)), rated_ah=RATED_AH
    )
    return feat, fade_and_rul(feat)


def _report_rows(md: str, q0: str) -> list[str]:
    """The table's cycle numbers, after checking the report's Q0 line
    and that every row shows that cell's capacity."""
    from fixtures import N_CYCLES

    assert f"**Q₀ (Ah):** {q0}" in md, md
    rows = [ln for ln in md.splitlines() if ln.startswith("| ") and "cycle_index" not in ln]
    assert len(rows) == min(10, N_CYCLES), md
    assert all(f"| {q0[:3]}" in ln for ln in rows), md
    return [ln.split("|")[1].strip() for ln in rows]


def test_report_reads_only_its_cell(two_cell_features):
    """On a two-cell feature table each report shows its own cell's
    summary row and its own cycles, each once."""
    feat, summary = two_cell_features
    for cid, q0 in (("c1", "2.994"), ("c2", "1.497")):
        cycles = _report_rows(render_report(feat, summary, cid), q0)
        assert cycles == [str(n) for n in range(1, len(cycles) + 1)]


def test_report_of_a_cell_the_table_names_otherwise(two_cell_features):
    """A one-cell table whose ``cell_id`` differs from the requested
    cell (a raw CSV's own column wins over ``--cell``) reports that
    cell under the requested title; among several cells an unknown
    cell is an error naming the cells found."""
    from pyspark.sql import functions as F

    from mxene_coin_cell_data_pipeline_spark.operators import fade_and_rul

    feat, summary = two_cell_features
    with pytest.raises(ValueError, match=r"'c3'.*\['c1', 'c2'\]"):
        render_report(feat, summary, "c3")
    one = feat.filter(F.col("cell_id") == "c2")
    md = render_report(one, fade_and_rul(one), "CELL01")
    assert md.startswith("# Cycle-Life Report — CELL01")
    assert _report_rows(md, "1.497")[0] == "1"


def test_plots_gated_without_matplotlib(spark, tmp_path):
    feat = spark.createDataFrame(
        [(1, 2.9, 0.99)], "cycle_index long, Q_dis_Ah double, CE double"
    )
    if HAVE_MPL:
        written = quick_plots(feat, tmp_path)
        assert all(p.exists() for p in written)
    else:
        with pytest.raises(NotImplementedError):
            quick_plots(feat, tmp_path)


def test_quick_plots_writes_two_pngs(spark, tmp_path):
    """S8 CI cover (round-7 VERDICT #8): exercises the REAL plot path
    wherever matplotlib exists (pipeline.py:245-257 parity — two named
    PNGs, non-empty); skipped-not-failed in matplotlib-less sandboxes,
    where test_plots_gated_without_matplotlib pins the gate instead."""
    pytest.importorskip("matplotlib")
    feat = spark.createDataFrame(
        [(1, 2.9, 0.99), (2, 2.8, 0.98)],
        "cycle_index long, Q_dis_Ah double, CE double",
    )
    written = quick_plots(feat, tmp_path)
    assert [p.name for p in written] == ["plot_capacity.png", "plot_ce.png"]
    for p in written:
        data = p.read_bytes()
        assert data[:8] == b"\x89PNG\r\n\x1a\n" and len(data) > 1000


def test_multimodal_decode_plumbing(spark):
    docs = spark.createDataFrame(
        [(1, "hello world"), (2, "x" * 300)], "doc_id long, text string"
    )
    payloads = with_fake_payload(docs)
    meta = {r["doc_id"]: r for r in binary_payload_meta(payloads).collect()}
    assert meta[1]["n_bytes"] == 11 and meta[2]["n_bytes"] == 300
    feats = {r["doc_id"]: r for r in decode_images(payloads).collect()}
    assert feats[1]["n_bytes"] == 11
    assert feats[2]["width"] == max(1, 300 % 64)
    assert 0.0 <= feats[1]["mean_luma"] <= 1.0
    # NULL payload → NULL features, row preserved
    nulls = spark.createDataFrame([(3,)], "doc_id long").withColumn(
        "payload", __import__("pyspark.sql.functions", fromlist=["lit"]).lit(None).cast("binary")
    )
    row = decode_images(nulls).first()
    assert row["doc_id"] == 3 and row["n_bytes"] is None


def test_near_dup_groups_transitive(spark):
    from mxene_coin_cell_data_pipeline_spark.functions.dedup import near_dup_groups

    # components: {1,2,3,9} via chain 1-2, 2-3, 3-9; {5,7}; isolated docs absent
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 9), (5, 7)], "doc_a long, doc_b long"
    )
    got = {r["doc_id"]: r["group_id"] for r in near_dup_groups(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 9: 1, 5: 5, 7: 5}


def test_near_dup_groups_long_chain(spark):
    from mxene_coin_cell_data_pipeline_spark.functions.dedup import near_dup_groups

    # a 12-hop path exercises multi-round label propagation
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "doc_a long, doc_b long"
    )
    got = {r["doc_id"]: r["group_id"] for r in near_dup_groups(pairs).collect()}
    assert got == {i: 0 for i in range(13)}


def test_ngram_jaccard_max_df_cap(spark):
    """max_df caps candidate generation only — scores of surviving
    pairs are identical to the exact run."""
    from pyspark.sql import functions as F

    from mxene_coin_cell_data_pipeline_spark.functions.dedup import (
        ngram_jaccard_pairs,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha beta gamma delta epsilon eta"),
            (3, "totally different words here entirely now"),
        ],
        "doc_id long, text string",
    )
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, threshold=0.0).collect()
    }
    capped = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, threshold=0.0, max_df=5).collect()
    }
    assert set(capped) <= set(exact)
    for k, v in capped.items():
        assert v == exact[k]
    assert (1, 2) in exact and exact[(1, 2)] > 0.3
