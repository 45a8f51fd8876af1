import pytest

import stats


def test_percentile_nearest_rank():
    assert stats.percentile([3, 1, 2], 50) == 2
    assert stats.percentile(list(range(1, 101)), 90) == 90
    with pytest.raises(ValueError):
        stats.percentile([], 50)


def test_tail_needs_ten_samples_beyond():
    assert stats.supported(100, 90)
    assert not stats.supported(99, 90)
    assert not stats.supported(999, 99)
    assert stats.supported(1000, 99)


def test_summarize_reports_only_supported_percentiles():
    small = stats.summarize(list(range(50)), "lat")
    assert small == {"lat_n": 50, "lat_p50": 24.0}
    big = stats.summarize(list(range(100)), "lat")
    assert big == {"lat_n": 100, "lat_p50": 49.0, "lat_p90": 89.0}
    assert stats.summarize([], "lat") == {"lat_n": 0}
