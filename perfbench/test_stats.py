"""Spark-free tests of the benchmark's aggregation rules.

Run with ``python3 -m pytest perfbench/test_stats.py -q``.
"""

from __future__ import annotations

import math
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402


def _span(i, parent, start, end, layer="l", op="o"):
    return {"id": i, "parent": parent, "start": start, "end": end, "layer": layer, "op": op}


def test_self_time_subtracts_children_once_when_they_overlap():
    spans = [
        _span(1, None, 0.0, 10.0),
        _span(2, 1, 1.0, 4.0),
        _span(3, 1, 3.0, 6.0),  # overlaps span 2 by 1 s
        _span(4, 2, 1.5, 2.0),  # grandchild: billed to span 2, not span 1
    ]
    own = stats.self_times(spans)
    assert own[1] == pytest.approx(10.0 - 5.0)
    assert own[2] == pytest.approx(3.0 - 0.5)
    assert own[3] == pytest.approx(3.0)
    assert own[4] == pytest.approx(0.5)


def test_self_time_clips_children_to_the_parent_interval():
    own = stats.self_times([_span(1, None, 0.0, 2.0), _span(2, 1, 1.0, 5.0)])
    assert own[1] == pytest.approx(1.0)


def test_layer_split_sums_to_the_root_walls():
    spans = [
        _span(1, None, 0.0, 4.0, "op", "a"),
        _span(2, 1, 0.0, 3.0, "queries.build", "a"),
        _span(3, None, 4.0, 5.0, "op", "b"),
        _span(4, 3, 4.0, 4.5, "exec", "b"),
    ]
    split = stats.layer_split(spans)
    assert split == pytest.approx({"queries.build": 3.0, "op": 1.5, "exec": 0.5})
    assert list(split) == ["queries.build", "op", "exec"]
    assert sum(split.values()) == pytest.approx(5.0)


def test_top_ops_ranks_each_layer_by_self_time():
    spans = [
        _span(1, None, 0.0, 1.0, "exec", "a"),
        _span(2, None, 1.0, 4.0, "exec", "b"),
        _span(3, None, 4.0, 6.0, "exec", "a"),
    ]
    assert stats.top_ops(spans, 1) == {"exec": [("a", pytest.approx(3.0))]}


def test_geomean_weighs_small_ops_like_large_ones():
    assert stats.geomean([0.1, 10.0]) == pytest.approx(1.0)
    assert stats.geomean([2.0]) == pytest.approx(2.0)
    with pytest.raises(ValueError):
        stats.geomean([1.0, 0.0])
    with pytest.raises(ValueError):
        stats.geomean([])


@pytest.mark.parametrize(
    "n, expected",
    [(19, None), (39, None), (40, 75.0), (100, 90.0), (199, 90.0), (200, 95.0), (1000, 99.0),
     (10000, 99.9)],
)
def test_tail_percentile_needs_ten_samples_beyond_it(n, expected):
    assert stats.tail_percentile(n) == expected


def test_percentile_is_nearest_rank():
    values = list(range(1, 101))
    assert stats.percentile(values, 90) == 90
    assert stats.percentile(values, 50) == 50
    assert stats.percentile([3.0], 99) == 3.0


def test_timing_summary_reports_tail_only_with_support():
    assert stats.timing_summary([1.0, 3.0, 2.0]) == {"median": 2.0, "n": 3}
    s = stats.timing_summary([float(i) for i in range(1, 41)])
    assert s["n"] == 40 and s["median"] == 20.5 and s["p75"] == 30.0


def test_failed_frac_counts_against_attempts():
    assert stats.failed_frac(0, 7) == 0.0
    assert math.isclose(stats.failed_frac(2, 8), 0.25)
    for failed, attempted in ((1, 0), (-1, 3), (4, 3)):
        with pytest.raises(ValueError):
            stats.failed_frac(failed, attempted)
