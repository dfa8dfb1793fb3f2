import os
import statistics
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402


def test_median_odd_and_even():
    assert stats.median([3.0, 1.0, 2.0]) == 2.0
    assert stats.median([4.0, 1.0, 3.0, 2.0]) == 2.5


def test_median_of_nothing_raises():
    with pytest.raises(ValueError):
        stats.median([])


def test_percentile_interpolates_between_ranks():
    xs = [10.0, 20.0, 30.0, 40.0, 50.0]
    assert stats.percentile(xs, 0) == 10.0
    assert stats.percentile(xs, 100) == 50.0
    assert stats.percentile(xs, 50) == 30.0
    assert stats.percentile(xs, 90) == pytest.approx(46.0)
    assert stats.percentile(list(reversed(xs)), 25) == 20.0


def test_percentile_matches_median_at_50():
    xs = [5.0, 1.0, 9.0, 7.0, 3.0, 2.0]
    assert stats.percentile(xs, 50) == stats.median(xs)


def test_percentile_single_value_and_bounds():
    assert stats.percentile([7.0], 90) == 7.0
    with pytest.raises(ValueError):
        stats.percentile([1.0], 101)
    with pytest.raises(ValueError):
        stats.percentile([], 50)


def test_tail_percentile_needs_ten_samples_beyond():
    assert stats.tail_percentile(19) is None
    assert stats.tail_percentile(20) == 50.0
    assert stats.tail_percentile(100) == 90.0
    assert stats.tail_percentile(999) == 90.0
    assert stats.tail_percentile(1000) == 99.0
    assert stats.tail_percentile(10000) == 99.9


def test_relative_iqr_uses_statistics_quantiles():
    xs = [9.0, 10.0, 10.5, 11.0, 12.0, 10.2, 9.8, 10.1, 10.4, 9.9]
    q1, _, q3 = statistics.quantiles(xs, n=4)
    assert stats.relative_iqr(xs) == pytest.approx((q3 - q1) / statistics.median(xs))
    assert stats.relative_iqr([2.0, 2.0, 2.0, 2.0]) == 0.0
