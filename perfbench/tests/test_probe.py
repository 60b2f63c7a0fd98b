"""The host probe's loop and the per-pass averaging of its samples."""

import pytest

from perfbench import probe
from perfbench.run import _probe_s


def test_probe_loop_times_itself():
    assert 0.0 < probe.spin(1000) < 1.0


def test_pass_probe_is_the_mean_of_the_samples_inside_the_pass():
    samples = [(1.0, 0.010), (2.0, 0.002), (3.0, 0.004), (4.0, 0.030)]
    assert _probe_s(samples, 1.5, 3.0) == pytest.approx(0.003)


def test_a_pass_without_probe_samples_fails_the_run():
    with pytest.raises(RuntimeError):
        _probe_s([(1.0, 0.002)], 2.0, 3.0)
