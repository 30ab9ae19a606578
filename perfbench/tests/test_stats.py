"""The tail rule: the highest percentile with at least ten samples beyond
it, reported with its sample count."""

import pytest

from perfbench.stats import summarize, tail_percentile


@pytest.mark.parametrize("n, expected", [
    (0, None), (10, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0),
    (99, 75.0), (100, 90.0), (199, 90.0), (200, 95.0), (999, 95.0),
    (1000, 99.0), (9999, 99.0), (10000, 99.9),
])
def test_tail_percentile_leaves_ten_samples_beyond(n, expected):
    assert tail_percentile(n) == expected


def test_summarize_reports_count_percentile_and_value():
    values = [float(v) for v in range(1, 101)]      # 1..100
    s = summarize(values)
    assert s["n"] == 100
    assert s["p50"] == pytest.approx(50.5)
    assert s["tail_pct"] == 90.0
    assert s["tail"] == pytest.approx(90.1)
    assert sum(v > s["tail"] for v in values) == 10


def test_summarize_without_a_supported_tail():
    s = summarize([3.0, 1.0, 2.0])
    assert (s["n"], s["p50"], s["tail_pct"], s["tail"]) == (3, 2.0, None, None)

