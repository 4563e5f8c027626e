import numpy as np
import pytest

from benchmark.stats import highest_tail_percentile, percentile, samples_beyond


@pytest.mark.parametrize("q", [0, 25, 50, 70, 75, 90, 100])
def test_percentile_matches_numpy_linear(q):
    xs = np.random.default_rng(3).exponential(size=37)
    assert percentile(xs.tolist(), q) == pytest.approx(np.percentile(xs, q))


def test_samples_beyond_counts_strictly_greater_ranks():
    xs = list(range(40))
    for q in (50, 70, 75, 76, 77):
        cut = percentile(xs, q)
        assert samples_beyond(40, q) == sum(x > cut for x in xs)


@pytest.mark.parametrize(
    "n, q",
    [(40, 76), (32, 70), (31, 69), (11, 9), (100, 90)],
)
def test_highest_tail_percentile_keeps_ten_beyond(n, q):
    assert highest_tail_percentile(n) == q
    assert samples_beyond(n, q) >= 10
    assert samples_beyond(n, q + 1) < 10


def test_too_few_samples_have_no_tail():
    assert highest_tail_percentile(10) is None
    assert highest_tail_percentile(0) is None
