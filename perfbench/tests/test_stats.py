from __future__ import annotations

import pytest

from perfbench.stats import latency_summary, percentile, quartile_spread, reportable


def test_percentile_is_nearest_rank():
    values = list(range(1, 101))
    assert percentile(values, 50) == 50
    assert percentile(values, 90) == 90
    assert percentile(values, 99) == 99
    assert percentile([7.0], 99) == 7.0
    assert percentile([3, 1, 2], 50) == 2


def test_percentile_of_nothing_raises():
    with pytest.raises(ValueError):
        percentile([], 50)


def test_tail_needs_ten_samples_beyond_it():
    assert not reportable(99, 90)
    assert reportable(100, 90)
    assert not reportable(999, 99)
    assert reportable(1000, 99)


def test_latency_summary_reports_only_supported_tails():
    assert set(latency_summary([0.1] * 99)) == {"latency_p50_ms"}
    assert set(latency_summary([0.1] * 100)) == {"latency_p50_ms", "latency_p90_ms"}
    full = latency_summary([i / 1000 for i in range(1, 1001)], "write_latency")
    assert set(full) == {"write_latency_p50_ms", "write_latency_p90_ms", "write_latency_p99_ms"}
    assert full["write_latency_p90_ms"] == pytest.approx(900.0)
    assert latency_summary([]) == {}


def test_quartile_spread_is_relative_to_median():
    assert quartile_spread([10.0] * 10) == 0.0
    assert quartile_spread([9.0, 10.0, 10.0, 11.0]) == pytest.approx(
        (10.75 - 9.25) / 10.0
    )
