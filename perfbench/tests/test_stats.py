import pytest

from perfbench import stats


def test_tail_needs_more_than_ten_samples():
    assert stats.tail([1.0] * 10) is None
    assert stats.tail([]) is None


def test_tail_is_highest_percentile_with_ten_samples_beyond():
    values = [float(i) for i in range(1, 101)]  # 1..100
    value, pct, n = stats.tail(values)
    assert (pct, n) == (90, 100)
    assert value == 90.0
    assert sum(v > value for v in values) == 10


@pytest.mark.parametrize("n", [11, 15, 37, 64, 250])
def test_tail_always_leaves_at_least_ten_above(n):
    values = [float(i) for i in range(n)]
    value, pct, count = stats.tail(values)
    assert count == n
    assert sum(v > value for v in values) >= 10
    # one percentile point higher would leave fewer than ten above
    rank = -(-(pct + 1) * n // 100)
    assert n - rank < 10


def test_tail_ignores_input_order():
    assert stats.tail([5.0, 1.0, 3.0] * 5) == stats.tail(sorted([5.0, 1.0, 3.0] * 5))


def test_quartile_spread():
    assert stats.quartile_spread([10.0] * 10) == 0.0
    assert stats.quartile_spread([9.0, 10.0, 11.0, 10.0, 10.0]) == pytest.approx(0.1)
