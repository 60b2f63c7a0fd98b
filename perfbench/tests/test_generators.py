"""Generator determinism: the same seed writes the same bytes."""

import hashlib
import os

import numpy as np
import pytest

from perfbench import gen


def _digest(root: str) -> dict:
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            path = os.path.join(dirpath, f)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _cells(seed, d):
    gen.cycler_cells(seed, str(d), 12)


def _corpus(seed, d):
    gen.dedup_corpus(seed, str(d), 300, 500, 2000)


def _events(seed, d):
    gen.events_feed(seed, str(d), 2000, 4)


@pytest.mark.parametrize("make", [_cells, _corpus, _events])
def test_same_seed_same_bytes(make, tmp_path):
    make(7, tmp_path / "a")
    make(7, tmp_path / "b")
    make(8, tmp_path / "c")
    a, b, c = (_digest(str(tmp_path / x)) for x in "abc")
    assert a and a == b
    assert a != c


def test_cells_cover_every_vendor_and_match_the_fixture_physics(tmp_path):
    cells = gen.cycler_cells(3, str(tmp_path), 12)
    assert [c["vendor"] for c in cells] == list(gen.VENDORS)
    assert len({c["path"] for c in cells}) == len(gen.VENDORS)
    for c in cells:
        assert c["rows"] == 11 * len(c["expected_features"]) == 11 * 12
        assert os.path.getsize(c["path"]) == c["bytes"]
    # the golden fixture's cell: fade 0.002, CE 0.99, 8 cycles
    feat, summary = gen.expected_cell(8, 0.002, 0.99)
    assert summary["fade_slope_pct_per_cycle"] == pytest.approx(-0.2004008016032053)
    assert summary["cycles_to_80pct"] == pytest.approx(100.8)
    assert np.allclose(feat["IR_C2_ohm"], 0.75)
    assert np.allclose(feat["CE"], 0.99)


def test_every_vendor_layout_reads_back_the_same_doubles(tmp_path):
    # the engine parses CSV doubles exactly and divides milli-units by
    # 1000.0; every layout must then carry the Arbin frame's values bit
    # for bit, or the closed-form dQ/dV argmax can pick another grid point
    import pandas as pd

    base = gen._arbin_frame(12, 0.0023, 0.981, pd.Timestamp("2025-01-01"))
    for vendor in gen.VENDORS:
        frame, sep = gen._vendor_frame(vendor, base)
        path = tmp_path / f"{vendor}.csv"
        frame.to_csv(path, index=False, sep=sep, float_format="%.17g")
        back = pd.read_csv(path, sep=sep, float_precision="round_trip")
        milli = vendor == "neware"
        for col, mcol in (("Voltage(V)", "Voltage(mV)"),
                          ("Discharge_Capacity(Ah)", "Capacity Discharge(mAh)")):
            got = back[mcol] / 1000.0 if milli else back[col]
            assert np.array_equal(got.to_numpy(), base[col].to_numpy()), (vendor, col)


def test_feed_files_partition_the_events(tmp_path):
    import pandas as pd

    info = gen.events_feed(5, str(tmp_path), 3000, 6)
    assert sum(info["file_rows"]) == 3000 and len(info["file_rows"]) == info["files"]
    feed = sorted(os.listdir(tmp_path / "feed"))
    parts = [pd.read_parquet(tmp_path / "feed" / f) for f in feed]
    whole = pd.read_parquet(tmp_path / "events.parquet")
    assert pd.concat(parts, ignore_index=True).equals(whole)
    mtimes = [os.stat(tmp_path / "feed" / f).st_mtime_ns for f in feed]
    assert mtimes == sorted(mtimes)


def test_corpus_has_near_duplicates(tmp_path):
    import pandas as pd

    info = gen.dedup_corpus(4, str(tmp_path), 400, 500, 2000)
    docs = pd.read_parquet(tmp_path / "documents.parquet")
    assert len(docs) == info["rows"] == 400
    assert 0.14 <= info["dup_rate"] <= 0.16
    assert (docs["n_chars"] == docs["text"].str.len()).all()
    assert docs["text"].duplicated().any()
