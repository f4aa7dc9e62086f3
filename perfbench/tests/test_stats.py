import statistics

import pytest

from perfbench.stats import space_amp, spread, tail, write_amp


def test_tail_needs_more_than_ten_samples():
    assert tail([1.0] * 10) is None
    pct, v = tail(list(range(11)))
    assert v == 0 and pct == pytest.approx(100 / 11)


def test_tail_leaves_exactly_ten_beyond():
    vals = [float(i) for i in range(100, 0, -1)]   # 1..100, unsorted
    pct, v = tail(vals)
    assert pct == 90.0 and v == 90.0
    assert sum(1 for x in vals if x > v) == 10
    pct, v = tail([float(i) for i in range(1, 1001)])
    assert pct == 99.0 and v == 990.0


def test_spread_is_iqr_over_median():
    vals = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0]
    q1, _, q3 = statistics.quantiles(vals, n=4)
    assert spread(vals) == pytest.approx((q3 - q1) / 5.5)


def test_write_amp_of_a_bulk_load_is_one():
    bpr = 25.5
    assert write_amp(int(1000 * bpr), 1000, bpr) == 1.0
    # a COW rewrite of a 10k-row file group for 100 changed rows
    assert write_amp(int(10_000 * bpr), 100, bpr) == pytest.approx(100.0)
    with pytest.raises(ValueError):
        write_amp(10, 0, bpr)


def test_space_amp():
    assert space_amp(300, 100) == 3.0
    with pytest.raises(ValueError):
        space_amp(300, 0)
