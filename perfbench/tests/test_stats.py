"""The percentile rule and the spread summary."""

import statistics

from perfbench.stats import (
    highest_supported, quantile, spread, summary, supported,
)


def test_high_percentile_needs_ten_samples_beyond_it():
    assert not supported(99, 0.9)     # 9 samples beyond p90
    assert supported(100, 0.9)        # 10 samples beyond p90
    assert not supported(999, 0.99)
    assert supported(1000, 0.99)
    assert quantile(list(range(99)), 0.9) is None
    assert quantile(list(range(100)), 0.9) is not None


def test_median_needs_one_sample():
    assert quantile([3.0], 0.5) == 3.0
    assert quantile([], 0.5) is None


def test_quantile_interpolates():
    xs = [float(i) for i in range(101)]
    assert quantile(xs, 0.5) == 50.0
    assert quantile(xs, 0.9) == 90.0


def test_highest_supported():
    assert highest_supported(50) is None
    assert highest_supported(100) == 0.9
    assert highest_supported(1000) == 0.99
    assert highest_supported(10_000) == 0.999


def test_summary_carries_sample_count():
    s = summary([1.0, 2.0, 3.0])
    assert s == {"n": 3, "p50": 2.0, "p90": None}
    s = summary([float(i) for i in range(1000)])
    assert s["n"] == 1000 and s["p90"] is not None and "p99" in s


def test_spread_matches_statistics_quantiles():
    vals = [10.0, 11.0, 9.5, 10.4, 10.1, 9.9, 10.7, 10.2, 9.8, 10.3]
    q1, med, q3 = statistics.quantiles(vals, n=4)
    sp = spread(vals)
    assert (sp["q1"], sp["median"], sp["q3"]) == (q1, med, q3)
    assert sp["spread"] == (q3 - q1) / med
