"""Property tests (hypothesis) for the wave-3 primitives: the PPM
parser/resizer on arbitrary generated images, and the BPE pre-tokenizer
partition property on arbitrary text.

These run WITHOUT Spark (pure-python kernels + the `re` engine for the
regex property) so hypothesis can afford hundreds of examples.
"""

from __future__ import annotations

import duckdb

from hypothesis import given, settings, strategies as st

from mxene_coin_cell_data_pipeline_spark.functions.multimodal import (
    decode_ppm,
    parse_ppm,
    resize_ppm_nn,
)
from mxene_coin_cell_data_pipeline_spark.plans.text import _BPE_PRETOKEN

_img = st.tuples(
    st.integers(min_value=1, max_value=9),  # w
    st.integers(min_value=1, max_value=9),  # h
)


def _make_p3(w: int, h: int, vals: list[int], comment: bool = True) -> bytes:
    body = " ".join(map(str, vals))
    c = "# generated\n" if comment else ""
    return f"P3\n{c}{w} {h}\n255\n{body}\n".encode()


def _make_p6(w: int, h: int, vals: list[int]) -> bytes:
    return f"P6\n{w} {h}\n255\n".encode() + bytes(vals)


@settings(max_examples=200, deadline=None)
@given(_img, st.data())
def test_parse_roundtrip_p3_p6(dims, data):
    w, h = dims
    vals = data.draw(
        st.lists(
            st.integers(min_value=0, max_value=255),
            min_size=3 * w * h,
            max_size=3 * w * h,
        )
    )
    for payload in (_make_p3(w, h, vals), _make_p6(w, h, vals)):
        pw, ph, maxval, pv = parse_ppm(payload)
        assert (pw, ph, maxval) == (w, h, 255)
        assert pv == vals


@settings(max_examples=100, deadline=None)
@given(_img, st.data())
def test_resize_identity_and_bounds(dims, data):
    """Resizing to the SAME dimensions samples every pixel exactly once
    (sr = r*h//h = r), so the resized luma equals the decode luma; any
    resize stays in [0, 1]."""
    w, h = dims
    vals = data.draw(
        st.lists(
            st.integers(min_value=0, max_value=255),
            min_size=3 * w * h,
            max_size=3 * w * h,
        )
    )
    payload = _make_p3(w, h, vals)
    dw, dh, luma = decode_ppm(payload)
    rw, rh, ow, oh, rluma = resize_ppm_nn(payload, w, h)
    assert (rw, rh, ow, oh) == (w, h, w, h)
    assert rluma == luma
    _, _, _, _, small = resize_ppm_nn(payload, 1, 1)
    assert 0.0 <= small <= 1.0
    # 1x1 NN picks exactly pixel (0,0)
    expected = (299 * vals[0] + 587 * vals[1] + 114 * vals[2]) / (1000.0 * 255)
    assert small == expected


_DUCK = duckdb.connect()


@settings(max_examples=300, deadline=None)
@given(st.text(max_size=200))
def test_bpe_pretokenizer_partitions_text(text):
    """The pre-tokenizer's alternation covers every character class, so
    its non-overlapping matches must PARTITION the input: concatenating
    the tokens reconstructs the original text exactly (the GPT-2
    losslessness property). Verified under RE2 (DuckDB) — one of the
    two engines the t15 oracle pins against each other (python `re`
    lacks \\p{L}, so the property runs on the oracle engine itself)."""
    (toks,) = _DUCK.execute(
        "SELECT regexp_extract_all(?, ?)", [text, _BPE_PRETOKEN]
    ).fetchone()
    assert "".join(toks) == text
