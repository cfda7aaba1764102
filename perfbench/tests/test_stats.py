"""The percentile and sample-count helpers."""

import statistics

import pytest

from stats import beyond, highest_reportable, quantile


def test_quantile_interpolates_like_statistics_inclusive():
    values = [7.0, 1.0, 3.0, 10.0, 4.0, 2.5]
    cuts = statistics.quantiles(values, n=4, method="inclusive")
    assert quantile(values, 0.25) == pytest.approx(cuts[0])
    assert quantile(values, 0.5) == pytest.approx(statistics.median(values))
    assert quantile(values, 0.75) == pytest.approx(cuts[2])
    assert quantile(values, 0.0) == 1.0
    assert quantile(values, 1.0) == 10.0
    assert quantile([5.0], 0.75) == 5.0


def test_quantile_of_nothing_raises():
    with pytest.raises(ValueError):
        quantile([], 0.5)


def test_beyond_counts_samples_above_the_rank():
    assert beyond(40, 0.75) == 10
    assert beyond(39, 0.75) == 10
    assert beyond(13, 0.5) == 6
    assert beyond(1, 0.5) == 0


def test_highest_reportable_needs_ten_beyond():
    assert highest_reportable(1000) == 0.99
    assert highest_reportable(200) == 0.95
    assert highest_reportable(40) == 0.75
    assert highest_reportable(21) == 0.5
    assert highest_reportable(13) is None
