"""Tests of the benchmark's own arithmetic: ``python3 -m pytest perfbench``."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from stats import (new_files, round_latency, self_time, tail_percentile,
                   write_amplification)


def test_tail_needs_ten_samples_beyond():
    assert tail_percentile(list(range(10))) is None
    # 11 samples: only the smallest has 10 beyond it
    assert tail_percentile(list(range(11))) == (100 / 11, 0.0)


def test_tail_is_p90_at_100_samples():
    vals = [float(v) for v in range(100, 0, -1)]  # unsorted input
    pct, value = tail_percentile(vals)
    assert pct == 90.0
    assert value == 90.0
    assert sum(v > value for v in vals) == 10


def test_tail_at_1000_samples_is_p99():
    pct, value = tail_percentile(list(range(1, 1001)))
    assert (pct, value) == (99.0, 990.0)


def test_self_time_subtracts_children():
    assert self_time(0.0, 10.0, []) == 10.0
    assert self_time(0.0, 10.0, [(1.0, 3.0), (5.0, 6.0)]) == 7.0


def test_self_time_merges_overlaps_and_clips():
    # overlapping children are counted once; parts outside the span ignored
    assert self_time(0.0, 10.0, [(1.0, 4.0), (2.0, 5.0), (9.0, 12.0)]) == 5.0
    assert self_time(2.0, 4.0, [(0.0, 10.0)]) == 0.0
    assert self_time(0.0, 1.0, [(0.5, 0.5)]) == 1.0


def test_new_files_counts_only_added_paths():
    before = {"a": 10, "b": 20}
    after = {"a": 10, "c": 5, "d": 7}
    assert new_files(before, after) == (2, 12)
    assert new_files(after, after) == (0, 0)


def test_write_amplification():
    assert write_amplification(300, 100) == 3.0
    assert write_amplification(300, 0) == 0.0


def test_round_latency_is_median_of_round_means():
    # rounds of 2: means 2, 6, 4 -> median 4; the trailing op is ignored
    assert round_latency([1.0, 3.0, 5.0, 7.0, 4.0, 4.0, 100.0], 2) == 4.0
    assert round_latency([2.5], 1) == 2.5
    with pytest.raises(ValueError):
        round_latency([1.0], 2)
