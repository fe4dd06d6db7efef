import pytest

from perfbench.stats import percentile, tail, trimmed_mean


def test_percentile_is_nearest_rank():
    xs = list(range(1, 101))  # 1..100
    assert percentile(xs, 50) == 50
    assert percentile(xs, 90) == 90
    assert percentile(xs, 99) == 99
    assert percentile(xs, 100) == 100
    assert percentile([7.0], 50) == 7.0


def test_percentile_of_nothing_raises():
    with pytest.raises(ValueError):
        percentile([], 50)


def test_tail_keeps_ten_samples_beyond_it():
    # 100 samples: p90 leaves 10 above it, p99 would leave 1
    assert tail([float(i) for i in range(100)]) == (90.0, 89.0, 100)
    # 1000 samples: p99 leaves exactly 10
    assert tail([float(i) for i in range(1000)])[:2] == (99.0, 989.0)
    # 999 samples: p99 leaves only 9, so the tail falls back to p90
    assert tail([float(i) for i in range(999)])[0] == 90.0


def test_tail_needs_twenty_samples():
    assert tail([1.0] * 19) is None
    assert tail([1.0] * 20) == (50.0, 1.0, 20)


def test_trimmed_mean_drops_the_fastest_and_the_slowest():
    assert trimmed_mean([9.0, 5.0, 4.0, 6.0, 1.0]) == 5.0
    assert trimmed_mean([3.0, 1.0, 2.0]) == 2.0
    assert trimmed_mean([1.0, 2.0]) == 1.5
    assert trimmed_mean([4.0]) == 4.0
    with pytest.raises(ValueError):
        trimmed_mean([])
