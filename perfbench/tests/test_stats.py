"""The percentile helper reports its sample count and refuses thin tails."""

import pytest

import stats


def test_percentile_reports_value_and_count():
    assert stats.percentile(range(1, 101), 90) == (90, 100)
    assert stats.percentile(range(1, 201), 50) == (100, 200)


def test_percentile_refuses_fewer_than_ten_beyond():
    with pytest.raises(stats.TooFewSamples, match="99 samples leave 9"):
        stats.percentile(range(99), 90)
    with pytest.raises(stats.TooFewSamples):
        stats.percentile(range(999), 99)
    assert stats.percentile(range(1000), 99) == (989, 1000)


def test_percentile_ignores_input_order():
    xs = [5, 1, 4, 2, 3] * 40
    assert stats.percentile(xs, 90) == stats.percentile(sorted(xs), 90)


def test_median_always_answers_with_count():
    assert stats.median([3, 1, 2]) == (2, 3)
