import random

import pytest

from run import timed_passes
from stats import TAIL_BEYOND, median, op_gmean, quartile_spread, tail


def test_tail_is_the_highest_order_statistic_with_ten_samples_beyond():
    values = [float(v) for v in range(1, 21)]
    random.Random(0).shuffle(values)
    value, pct = tail(values)
    assert value == 10.0
    assert pct == 50.0
    assert sum(v > value for v in values) == TAIL_BEYOND


def test_tail_percentile_rises_with_the_sample_count():
    assert tail([1.0] * 11)[1] == pytest.approx(100 / 11)
    assert tail([float(v) for v in range(100)]) == (89.0, 90.0)
    assert tail([float(v) for v in range(1000)]) == (989.0, 99.0)


def test_tail_needs_more_than_ten_samples():
    with pytest.raises(ValueError):
        tail([1.0] * TAIL_BEYOND)


def test_median_and_quartile_spread():
    assert median([3.0, 1.0, 2.0]) == 2.0
    with pytest.raises(ValueError):
        median([])
    # quantiles(n=4) of 1..9 are 2.5, 5, 7.5
    assert quartile_spread([float(v) for v in range(1, 10)]) == pytest.approx(1.0)


def test_op_gmean_is_the_geometric_mean_of_each_ops_median():
    samples = [{"op": op, "s": s} for op, s in [
        ("a", 1.0), ("a", 1.0), ("a", 9.0),
        ("b", 2.0), ("b", 4.0), ("b", 5.0),
        ("c", 0.5), ("c", 2.0), ("c", 3.0),
    ]]
    assert op_gmean(samples) == pytest.approx(2.0)  # (1 * 4 * 2) ** (1/3)
    assert op_gmean(samples[:3]) == 1.0
    with pytest.raises(ValueError):
        op_gmean([])


@pytest.mark.parametrize("ops_per_pass", [1, 4, 7, 15, 39, 60])
def test_timed_passes_put_op_tail_s_above_the_median(ops_per_pass):
    n = timed_passes(ops_per_pass, seconds=1, pass_s=5.0) * ops_per_pass
    assert tail([0.0] * n)[1] >= 58.0
