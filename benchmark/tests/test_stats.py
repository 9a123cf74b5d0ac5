"""The job_tail_s percentile rule."""

import pytest

import stats


def test_tail_keeps_ten_samples_above():
    xs = list(range(1, 25))  # 24 samples
    value, pct, n = stats.tail(xs)
    assert n == 24
    assert value == 14  # rank 14 of 24: ten samples above it
    assert sum(1 for x in xs if x > value) == 10
    assert pct == pytest.approx(100 * 14 / 24)


def test_tail_ignores_input_order():
    xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 10.0, 11.0, 12.0]
    assert stats.tail(xs) == stats.tail(sorted(xs))
    assert stats.tail(xs)[0] == 2.0


def test_tail_with_eleven_samples_is_the_minimum():
    value, pct, n = stats.tail(range(11))
    assert (value, n) == (0, 11)
    assert pct == pytest.approx(100 / 11)


def test_tail_with_too_few_samples_is_the_maximum():
    assert stats.tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)
    assert stats.tail(range(10)) == (9, 100.0, 10)


def test_tail_of_nothing_raises():
    with pytest.raises(ValueError):
        stats.tail([])
