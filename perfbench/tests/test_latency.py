import statistics

import pytest

import latency


def test_median_needs_no_tail():
    assert latency.percentile([3.0, 1.0, 2.0], 0.5) == 2.0


def test_tail_refused_with_fewer_than_ten_beyond():
    with pytest.raises(latency.TooFewSamples):
        latency.percentile([float(i) for i in range(100)], 0.95)  # 4 beyond p95


def test_tail_reported_with_ten_beyond():
    xs = [float(i) for i in range(101)]
    assert latency.percentile(xs, 0.9) == 90.0  # indices 91..100 lie beyond


def test_tail_refused_at_nine_beyond():
    with pytest.raises(latency.TooFewSamples):
        latency.percentile([float(i) for i in range(100)], 0.9)  # rank 89.1


def test_highest_tail_picks_the_highest_supported():
    q, value = latency.highest_tail([float(i) for i in range(101)])
    assert (q, value) == (0.9, 90.0)
    q, _ = latency.highest_tail([float(i) for i in range(35)])
    assert q == 0.70  # rank 23.8: samples 24..34 lie beyond
    assert latency.highest_tail([1.0] * 20) is None


def test_quartile_spread_matches_statistics():
    xs = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    got = latency.quartile_spread(xs)
    assert got == {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med}
