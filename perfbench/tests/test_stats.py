import pytest

from stats import InsufficientSamples, highest_percentile, median, percentile


def test_p95_needs_ten_samples_beyond_it():
    with pytest.raises(InsufficientSamples):
        percentile(list(range(199)), 95)  # 9 samples beyond
    assert percentile(list(range(200)), 95) == pytest.approx(189.05)


def test_median_of_small_samples():
    assert median([3.0]) == 3.0
    assert median([1.0, 2.0, 10.0, 4.0]) == 3.0


def test_highest_supported_percentile():
    assert highest_percentile(list(range(30))) is None
    p, _ = highest_percentile(list(range(100)))
    assert p == 90
    p, _ = highest_percentile(list(range(1000)))
    assert p == 99


def test_rejects_out_of_range_percentile():
    with pytest.raises(ValueError):
        percentile([1.0] * 100, 100)
