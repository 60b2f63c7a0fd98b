"""The result line's per-layer subset."""

import pytest

from perfbench.layers import RESULT_UNITS, UNITS, result_metrics


def test_layer_times_become_shares_of_the_pass():
    full = {k: 0.0 for k in UNITS}
    full.update({"trace.pass_s": 8.0, "plans.build_s": 2.0, "checkpoint.s": 1.0,
                 "operators.features_s": 4.0, "python.stage_run_s": 0.4,
                 "streaming.batch_s": 0.5, "streaming.batch_s_slope": 0.05})
    out = result_metrics(full)
    assert set(out) == set(RESULT_UNITS)
    assert out["plans.build_share"] == pytest.approx(0.25)
    assert out["checkpoint.share"] == pytest.approx(0.125)
    assert out["operators.features_share"] == pytest.approx(0.5)
    assert out["python.stage_run_share"] == pytest.approx(0.05)
    assert out["functions.build_share"] == 0.0
    assert out["streaming.batch_growth"] == pytest.approx(0.1)
    assert out["trace.pass_s"] == 8.0


def test_no_time_on_the_result_line_is_specific_to_one_layer_family():
    # a bypassed layer must read as a 0 share, not as a constant 0 s timer
    for name in ("operators.features_s", "plans.build_s", "streaming.batch_s", "python.stage_run_s"):
        assert name not in RESULT_UNITS
