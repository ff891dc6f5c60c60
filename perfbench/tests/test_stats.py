import random
import statistics

import numpy as np
import pytest

from stats import median, percentile, quartile_spread, union_length


@pytest.mark.parametrize("n", [1, 2, 3, 10, 101])
def test_percentile_matches_numpy(n):
    rng = random.Random(n)
    xs = [rng.uniform(0, 10) for _ in range(n)]
    for q in (0, 10, 50, 90, 100):
        assert percentile(xs, q) == pytest.approx(float(np.percentile(xs, q)))


def test_median():
    assert median([3.0, 1.0, 2.0]) == 2.0
    assert median([4.0, 1.0, 2.0, 3.0]) == 2.5


def test_percentile_rejects_bad_input():
    with pytest.raises(ValueError):
        percentile([], 50)
    with pytest.raises(ValueError):
        percentile([1.0], 101)


def test_quartile_spread_uses_statistics_quantiles():
    xs = [10.0, 11.0, 9.5, 10.2, 10.8, 9.9, 10.1, 10.4, 10.0, 12.0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    assert quartile_spread(xs) == pytest.approx((q3 - q1) / q2)


def test_union_length():
    assert union_length([]) == 0.0
    assert union_length([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)
    assert union_length([(0, 10), (2, 3)]) == pytest.approx(10.0)
