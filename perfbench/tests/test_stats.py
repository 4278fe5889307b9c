import numpy as np
import pytest

from perfbench import stats


@pytest.mark.parametrize(
    "n, expected",
    [(19, None), (20, 50.0), (39, 50.0), (40, 75.0), (99, 75.0), (100, 90.0),
     (199, 90.0), (200, 95.0), (1000, 99.0), (10_000, 99.9)],
)
def test_tail_percentile_is_highest_with_ten_samples_beyond(n, expected):
    got = stats.tail_percentile([float(i) for i in range(n)])
    assert (got[0] if got else None) == expected


def test_tail_percentile_value_is_that_percentile():
    values = [float(v) for v in np.random.default_rng(0).exponential(1.0, 137)]
    p, value = stats.tail_percentile(values)
    assert p == 90.0
    assert value == pytest.approx(float(np.percentile(values, 90)))
    assert sum(v > value for v in values) >= 10


@pytest.mark.parametrize("p", [0.0, 10.0, 50.0, 75.0, 99.0, 100.0])
def test_percentile_matches_numpy_linear(p):
    values = [3.0, 1.0, 4.0, 1.5, 9.0, 2.6]
    assert stats.percentile(values, p) == pytest.approx(float(np.percentile(values, p)))
