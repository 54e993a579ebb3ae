import math

import pytest

import stats


def test_median_odd_and_even():
    assert stats.median([3.0, 1.0, 2.0]) == 2.0
    assert stats.median([4.0, 1.0, 3.0, 2.0]) == 2.5


def test_median_of_nothing_raises():
    with pytest.raises(ValueError):
        stats.median([])


def test_geomean_known_values():
    assert stats.geomean([1.0, 100.0]) == pytest.approx(10.0)
    assert stats.geomean([2.0, 8.0, 4.0]) == pytest.approx(4.0)
    assert stats.geomean([5.0]) == pytest.approx(5.0)


@pytest.mark.parametrize("bad", [[], [1.0, 0.0], [2.0, -1.0]])
def test_geomean_rejects_non_positive(bad):
    with pytest.raises(ValueError):
        stats.geomean(bad)


def test_quartiles_exclusive_method_on_ten_values():
    # exclusive method: positions (n+1)/4 = 2.75 and 3(n+1)/4 = 8.25
    vals = [float(v) for v in range(1, 11)]
    q1, q2, q3 = stats.quartiles(vals)
    assert (q1, q2, q3) == (2.75, 5.5, 8.25)


def test_spread_is_iqr_over_median():
    vals = [float(v) for v in range(1, 11)]
    assert stats.spread(vals) == pytest.approx((8.25 - 2.75) / 5.5)
    assert stats.spread([7.0] * 10) == 0.0
    assert math.isnan(stats.spread([0.0] * 10))


def test_spread_ignores_one_outlier_per_side_of_ten():
    steady = [100.0 + i * 0.1 for i in range(8)]
    # one slow-window run and one fast one: with ten values the
    # exclusive quartiles sit between the 2nd/3rd and 8th/9th values,
    # so they stay on the steady runs
    assert stats.spread(steady + [1.0, 2000.0]) < 0.01
    # a second outlier on one side does reach the quartile
    assert stats.spread(steady[:7] + [1.0, 2000.0, 3000.0]) > 1.0
