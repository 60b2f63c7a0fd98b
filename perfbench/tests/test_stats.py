"""The tail-percentile and sample-count helper."""

import pytest

from perfbench.stats import median, percentile, tail, tail_mean


def test_nearest_rank_percentile():
    v = list(range(1, 101))
    assert percentile(v, 50) == 50
    assert percentile(v, 99) == 99
    assert percentile(v, 99.9) == 100
    assert percentile([3.0], 90) == 3.0


def test_tail_leaves_ten_samples_beyond():
    # 100 samples: p90 leaves exactly 10 beyond, p95 only 5
    t = tail([float(i) for i in range(1, 101)])
    assert t == {"p": 90.0, "value": 90.0, "n": 100, "beyond": 10}
    # 1000 samples reach p99
    assert tail([float(i) for i in range(1000)])["p"] == 99.0


@pytest.mark.parametrize("n, p", [(20, 50.0), (25, 60.0), (36, 70.0), (50, 80.0)])
def test_tail_picks_the_highest_resolved_rung(n, p):
    t = tail([float(i) for i in range(n)])
    assert t["p"] == p and t["beyond"] >= 10 and t["n"] == n


def test_tail_with_too_few_samples_falls_back_to_the_median():
    t = tail([1.0, 2.0, 3.0, 4.0, 5.0])
    assert t["p"] == 50.0 and t["value"] == 3.0 and t["beyond"] == 2
    assert tail([1.0, 2.0, 3.0, 10.0])["value"] == median([1.0, 2.0, 3.0, 10.0])
    assert tail([]) == {"p": None, "value": 0.0, "n": 0, "beyond": 0}


def test_median():
    assert median([]) == 0.0
    assert median([1.0, 3.0, 2.0]) == 2.0


def test_tail_mean_averages_the_slowest_tenth():
    t = tail_mean([float(i) for i in range(1, 101)])
    assert t == {"share": 0.1, "value": 95.5, "n": 100, "k": 10}
    # at least one sample, rounded up
    assert tail_mean([1.0, 2.0, 3.0])["value"] == 3.0
    assert tail_mean([1.0] * 11 + [4.0, 6.0])["k"] == 2
    assert tail_mean([])["value"] == 0.0
