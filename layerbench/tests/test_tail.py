"""The tail rule: the highest percentile with at least 10 samples beyond it."""

import pytest

from run import tail_percentile


def test_hundred_samples_give_p90():
    pct, value = tail_percentile([float(i) for i in range(1, 101)])
    assert pct == 90.0
    assert value == 90.0  # ten samples (91..100) lie beyond it


def test_order_does_not_matter_and_exactly_ten_lie_beyond():
    samples = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 10.0, 11.0, 12.0]
    pct, value = tail_percentile(samples)
    assert sum(s > value for s in samples) == 10
    assert pct == pytest.approx(100 * 2 / 12)


def test_eleven_samples_is_the_minimum():
    pct, value = tail_percentile([float(i) for i in range(11)])
    assert value == 0.0
    with pytest.raises(ValueError):
        tail_percentile([float(i) for i in range(10)])
