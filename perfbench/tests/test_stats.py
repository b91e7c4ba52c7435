import pytest

from stats import percentile, samples_beyond


def test_sample_counts_for_each_percentile():
    for p, need in ((50, 20), (75, 40), (90, 100)):
        assert samples_beyond(need, p) == 10
        assert samples_beyond(need - 1, p) < 10
        with pytest.raises(ValueError, match=f"needs {need} samples"):
            percentile(range(need - 1), p)


def test_p90_only_with_ten_samples_beyond():
    assert samples_beyond(100, 90) == 10
    assert samples_beyond(99, 90) == 9
    with pytest.raises(ValueError):
        percentile(range(99), 90)
    assert percentile(range(1, 101), 90) == 90.0


def test_nearest_rank_values():
    vals = list(range(40, 0, -1))  # order must not matter
    assert percentile(vals, 75) == 30.0
    assert percentile(vals, 50) == 20.0
    with pytest.raises(ValueError):
        percentile(vals[:39], 75)
