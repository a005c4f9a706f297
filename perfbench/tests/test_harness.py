import pytest

from perfbench.harness import percentile, quartile_spread, tail_percentile


def test_percentile_is_nearest_rank():
    samples = list(range(1, 11))
    assert percentile(samples, 50) == 5
    assert percentile(samples, 90) == 9
    assert percentile(samples, 100) == 10
    assert percentile([3.0], 99) == 3.0


@pytest.mark.parametrize('n, pct', [(20, 50.0), (39, 50.0), (40, 75.0), (99, 75.0),
                                    (100, 90.0), (199, 90.0), (200, 95.0), (1000, 99.0)])
def test_tail_percentile_keeps_ten_samples_beyond(n, pct):
    samples = [float(i) for i in range(n, 0, -1)]  # order must not matter
    got_pct, value = tail_percentile(samples)
    assert got_pct == pct
    assert value == percentile(samples, pct)
    assert sum(1 for s in samples if s > value) >= 10


def test_tail_percentile_needs_twenty_samples():
    with pytest.raises(ValueError):
        tail_percentile([1.0] * 19)


def test_quartile_spread_matches_statistics_quantiles():
    assert quartile_spread([10.0] * 5) == 0.0
    assert quartile_spread([1, 2, 3, 4, 5, 6, 7, 8, 9, 10]) == pytest.approx((8.25 - 2.75) / 5.5)
