"""Percentile, tail-percentile and ratio helpers of the benchmark."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402


def test_percentile_is_nearest_rank():
    xs = list(range(1, 101))  # 1..100
    assert stats.percentile(xs, 50) == 50
    assert stats.percentile(xs, 90) == 90
    assert stats.percentile(xs, 99.9) == 100
    assert stats.percentile(xs, 0) == 1
    assert stats.percentile([3.0, 1.0, 2.0], 50) == 2.0  # unsorted input


def test_percentile_of_nothing_raises():
    with pytest.raises(ValueError):
        stats.percentile([], 50)


@pytest.mark.parametrize("n, want", [(5, None), (20, 50.0), (40, 75.0), (100, 90.0), (199, 90.0),
                                     (200, 95.0), (1000, 99.0), (10_000, 99.9)])
def test_tail_percentile_keeps_ten_samples_beyond(n, want):
    assert stats.tail_percentile(n) == want


def test_timing_summary_reports_count_and_tail():
    s = stats.timing_summary([float(x) for x in range(1, 101)])
    assert s == {"n": 100, "median": 50.5, "tail_p": 90.0, "tail": 90.0}
    few = stats.timing_summary([1.0, 5.0, 3.0])
    assert few["tail_p"] is None and few["tail"] == 5.0 and few["n"] == 3
    assert stats.timing_summary([])["n"] == 0


def test_ratio_keeps_its_base():
    assert stats.ratio(3, 4) == {"value": 0.75, "num": 3, "den": 4}
    assert stats.ratio(1, 0)["value"] is None

