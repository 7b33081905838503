"""Summary math of the benchmark (no Spark needed)."""

from __future__ import annotations

import math
import statistics

import pytest

from perfbench import stats


def test_median_odd_even():
    assert stats.median([3.0, 1.0, 2.0]) == 2.0
    assert stats.median([4.0, 1.0, 2.0, 3.0]) == 2.5
    with pytest.raises(ValueError):
        stats.median([])


def test_percentile_matches_linear_interpolation():
    values = [10.0, 20.0, 30.0, 40.0, 50.0]
    assert stats.percentile(values, 0) == 10.0
    assert stats.percentile(values, 100) == 50.0
    assert stats.percentile(values, 50) == 30.0
    assert stats.percentile(values, 90) == pytest.approx(46.0)
    assert stats.percentile([7.0], 99) == 7.0
    with pytest.raises(ValueError):
        stats.percentile(values, 101)


def test_supported_percentile_needs_ten_beyond():
    assert stats.supported_percentile(10) is None
    assert stats.supported_percentile(11) == pytest.approx(100 / 11)
    assert stats.supported_percentile(100) == 90.0
    assert stats.supported_percentile(1000) == 99.0


def test_geomean():
    assert stats.geomean([1.0, 100.0]) == pytest.approx(10.0)
    assert stats.geomean([2.0, 2.0, 2.0]) == pytest.approx(2.0)
    with pytest.raises(ValueError):
        stats.geomean([1.0, 0.0])
    with pytest.raises(ValueError):
        stats.geomean([])


def test_quartile_spread_is_statistics_quantiles_over_median():
    values = [9.0, 10.0, 10.5, 11.0, 10.2, 9.8, 10.1, 9.9, 10.4, 12.0]
    q1, _, q3 = statistics.quantiles(values, n=4)
    assert stats.quartile_spread(values) == pytest.approx((q3 - q1) / statistics.median(values))
    assert stats.quartile_spread([5.0, 5.0, 5.0]) == 0.0
    with pytest.raises(ValueError):
        stats.quartile_spread([1.0])


def test_worse_by_and_bounds_respect_direction():
    assert stats.worse_by(11.0, 10.0, "lower") == pytest.approx(0.1)
    assert stats.worse_by(9.0, 10.0, "higher") == pytest.approx(0.1)
    assert stats.worse_by(9.0, 10.0, "lower") == pytest.approx(-0.1)
    assert stats.within_bound(10.9, 10.0, "lower", 0.1)
    assert not stats.within_bound(11.2, 10.0, "lower", 0.1)
    assert stats.within_bound(1000.0, 10.0, "higher", 0.0)
    assert not stats.within_bound(8.0, 10.0, "higher", 0.1)
    with pytest.raises(ValueError):
        stats.worse_by(1.0, 1.0, "sideways")
    with pytest.raises(ValueError):
        stats.worse_by(1.0, 0.0, "lower")
    assert not math.isnan(stats.worse_by(0.0, 1.0, "higher"))
