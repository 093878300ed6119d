"""Aggregation rules of the benchmark, free of Spark so they test fast.

A span is a dict with ``id``, ``parent`` (an id or None), ``layer``,
``op``, ``start`` and ``end`` (seconds).  Spans of one operation share
its ``op`` name.
"""

from __future__ import annotations

import math
import statistics
from collections import defaultdict

# Percentiles considered for a timing's tail, highest first.
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0)
# A percentile is reported only with at least this many samples beyond it.
MIN_TAIL_SAMPLES = 10


def geomean(values: list[float]) -> float:
    """Geometric mean of positive values, so small ops weigh as much as large."""
    if not values or any(v <= 0 for v in values):
        raise ValueError(f"geomean needs positive values, got {values!r}")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def tail_percentile(n_samples: int) -> float | None:
    """Highest percentile with at least ``MIN_TAIL_SAMPLES`` samples above it.

    Returns None when even the 75th percentile lacks that support.
    """
    for p in TAIL_PERCENTILES:
        # per-mille integers: 100 * (1 - 0.90) is 9.999... in floats
        if n_samples * round((100 - p) * 10) >= MIN_TAIL_SAMPLES * 1000:
            return p
    return None


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest value with ``p``% at or below it."""
    if not values:
        raise ValueError("percentile of no values")
    ordered = sorted(values)
    rank = max(1, math.ceil(p / 100 * len(ordered)))
    return ordered[rank - 1]


def timing_summary(values: list[float]) -> dict:
    """Median, sample count and the best-supported tail percentile."""
    out = {"median": statistics.median(values), "n": len(values)}
    p = tail_percentile(len(values))
    if p is not None:
        out[f"p{p:g}"] = percentile(values, p)
    return out


def failed_frac(failed: int, attempted: int) -> float:
    """Ops that failed or gave a wrong result, over ops attempted."""
    if attempted < 1 or not 0 <= failed <= attempted:
        raise ValueError(f"bad counts: failed={failed} attempted={attempted}")
    return failed / attempted


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> its duration minus the part its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"]) - _covered(children[s["id"]], s["start"], s["end"])
        for s in spans
    }


def layer_split(spans: list[dict]) -> dict[str, float]:
    """Layer -> summed self time, largest first."""
    own = self_times(spans)
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        out[s["layer"]] += own[s["id"]]
    return dict(sorted(out.items(), key=lambda kv: -kv[1]))


def top_ops(spans: list[dict], n: int) -> dict[str, list[tuple[str, float]]]:
    """Layer -> its ``n`` ops with the most self time in that layer."""
    own = self_times(spans)
    per: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for s in spans:
        per[s["layer"]][s["op"]] += own[s["id"]]
    return {
        layer: sorted(ops.items(), key=lambda kv: -kv[1])[:n] for layer, ops in per.items()
    }
