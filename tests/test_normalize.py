"""Normalize-stage tests: vendor maps, units, sign flip, delimiter
fallback, headless inference (SURVEY.md §2.1-2.4)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from mxene_coin_cell_data_pipeline_spark.operators import normalize_cycler
from mxene_coin_cell_data_pipeline_spark.schema import CANONICAL_COLUMNS
from mxene_coin_cell_data_pipeline_spark.sources import read_cycler_csv

from fixtures import arbin_frame, headless_frame, neware_frame


def _write_csv(tmp_path, pdf, name, sep=","):
    p = tmp_path / name
    pdf.to_csv(p, index=False, sep=sep)
    return str(p)


def test_arbin_normalize(spark, tmp_path):
    path = _write_csv(tmp_path, arbin_frame(), "arbin.csv")
    out = normalize_cycler(read_cycler_csv(spark, path))
    assert out.columns == CANONICAL_COLUMNS
    pdf = out.toPandas()
    assert len(pdf) == 8 * 11
    assert set(pdf["step_type"]) == {"CC_CHG", "REST", "CC_DIS"}
    # discharge-negative preserved, no flip
    dis = pdf[pdf["step_type"] == "CC_DIS"]
    assert (dis["current_a"] < 0).all()
    assert pdf["timestamp"].is_monotonic_increasing


def test_neware_units_and_sign_flip(spark, tmp_path):
    # neware frame has discharge-positive currents and milli units
    path = _write_csv(tmp_path, neware_frame(), "neware.csv")
    out = normalize_cycler(read_cycler_csv(spark, path)).toPandas()
    arbin = normalize_cycler(
        read_cycler_csv(spark, _write_csv(tmp_path, arbin_frame(), "a.csv"))
    ).toPandas()
    for col in ["current_a", "voltage_v", "charge_ah", "discharge_ah"]:
        assert out[col].to_numpy() == pytest.approx(arbin[col].to_numpy(), abs=1e-9)
    assert set(out["step_type"]) == {"CC_CHG", "REST", "CC_DIS"}


def test_semicolon_delimiter_fallback(spark, tmp_path):
    path = _write_csv(tmp_path, neware_frame(), "neware_eu.csv", sep=";")
    df = read_cycler_csv(spark, path)
    assert "Record Time" in df.columns
    out = normalize_cycler(df)
    assert out.count() == 8 * 11


def test_headless_step_inference_and_time_synthesis(spark, tmp_path):
    path = _write_csv(tmp_path, headless_frame(), "headless.csv")
    out = normalize_cycler(read_cycler_csv(spark, path)).toPandas()
    # inferred from current sign: charge>0 → CC_CHG, 0 → REST, <0 → CC_DIS
    assert set(out["step_type"]) == {"CC_CHG", "REST", "CC_DIS"}
    # synthesized timestamps: epoch + elapsed seconds
    assert out["timestamp"].iloc[0] == pd.Timestamp("1970-01-01 00:00:00")
    assert out["timestamp"].is_monotonic_increasing


def test_missing_temp_is_null(spark, tmp_path):
    path = _write_csv(tmp_path, arbin_frame(with_temp=False), "no_temp.csv")
    out = normalize_cycler(read_cycler_csv(spark, path)).toPandas()
    assert out["temp_c"].isna().all()


def test_missing_timestamp_raises(spark, tmp_path):
    pdf = arbin_frame().drop(columns=["Date_Time"])
    path = _write_csv(tmp_path, pdf, "no_ts.csv")
    with pytest.raises(ValueError, match="timestamp"):
        normalize_cycler(read_cycler_csv(spark, path))


def test_missing_required_column_raises(spark, tmp_path):
    pdf = arbin_frame().drop(columns=["Voltage(V)"])
    path = _write_csv(tmp_path, pdf, "no_v.csv")
    with pytest.raises(ValueError, match="voltage_v"):
        normalize_cycler(read_cycler_csv(spark, path))


def test_multi_cell_sign_flip_is_per_cell(spark, tmp_path):
    """A flipped-convention cell and a correct cell in one frame: only
    the flipped cell's currents are negated."""
    a = arbin_frame()
    flipped = a.copy()
    flipped["Current(A)"] = -flipped["Current(A)"]
    a["cell_id"] = "good"
    flipped["cell_id"] = "flipped"
    both = pd.concat([a, flipped], ignore_index=True)
    path = _write_csv(tmp_path, both, "two_cells.csv")
    out = normalize_cycler(read_cycler_csv(spark, path)).toPandas()
    for cell in ["good", "flipped"]:
        sub = out[(out["cell_id"] == cell) & (out["step_type"] == "CC_DIS")]
        assert (sub["current_a"] < 0).all(), cell


def test_sql_text_survives_quotes_in_headers_and_cell_id(spark, tmp_path):
    """Normalize is SQL text over the raw columns: a header holding a
    backtick and a quote, a padded header read by its raw name and a
    cell id with a quote and a backslash must not change the frame."""
    from mxene_coin_cell_data_pipeline_spark.operators.normalize import (
        normalize_cycler_stateless,
    )

    plain = normalize_cycler(
        read_cycler_csv(spark, _write_csv(tmp_path, arbin_frame(), "plain.csv"))
    )
    pdf = arbin_frame()
    pdf["note `x` 'y'"] = "a'b`c"
    raw = read_cycler_csv(spark, _write_csv(tmp_path, pdf, "quoted.csv"))
    assert "note `x` 'y'" in raw.columns
    raw = raw.withColumnRenamed("Voltage(V)", " Voltage(V) ")
    cell = "o'k\\"
    out = normalize_cycler(raw, cell_id=cell)
    assert out.columns == ["cell_id"] + CANONICAL_COLUMNS
    assert {r["cell_id"] for r in out.select("cell_id").collect()} == {cell}
    assert out.drop("cell_id").collect() == plain.collect()
    stateless = normalize_cycler_stateless(raw.withColumn("cell_id", F.lit(cell)))
    assert stateless.select("cell_id").distinct().collect()[0][0] == cell
