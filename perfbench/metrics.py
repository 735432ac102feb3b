"""Pure arithmetic of the benchmark: the tail percentile, the pass rate
and span self time."""

from __future__ import annotations

import statistics
from typing import Dict, Iterable, List, Optional, Sequence, Tuple

# the tail rule: report the highest percentile with at least this many
# samples beyond it
TAIL_BEYOND = 10


def tail(samples: Sequence[float]) -> Tuple[float, float, int]:
    """(percentile, value, samples beyond) for the highest nearest-rank
    percentile that has at least ``TAIL_BEYOND`` samples beyond it.

    With fewer than ``TAIL_BEYOND + 1`` samples no percentile qualifies;
    the maximum is returned as percentile 100 with 0 samples beyond, and
    the caller prints that count so the reader sees the rule did not
    apply.
    """
    if not samples:
        raise ValueError("no samples")
    s = sorted(samples)
    n = len(s)
    if n <= TAIL_BEYOND:
        return 100.0, s[-1], 0
    rank = n - TAIL_BEYOND  # 1-based nearest rank; n - rank samples follow it
    return 100.0 * rank / n, s[rank - 1], n - rank


def median_pass_rate(ops: Iterable[Tuple[int, int, float]]) -> float:
    """Items per second of operation time within each pass, from
    ``(pass, items, seconds)`` per operation, and the median over the
    passes. A pass holds the whole operation mix once, so a pass that a
    burst of load from outside slowed moves the median less than it
    would move the rate of the whole window."""
    by_pass: Dict[int, List[float]] = {}
    for p, items, seconds in ops:
        acc = by_pass.setdefault(p, [0, 0.0])
        acc[0] += items
        acc[1] += seconds
    if not by_pass:
        raise ValueError("no operations")
    return statistics.median(items / seconds for items, seconds in by_pass.values())


def _union_length(intervals: Iterable[Tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_times(spans: List[Dict]) -> Dict[int, float]:
    """Span id -> duration minus the part of its interval that its child
    spans cover. Children may overlap each other (calls from other
    threads); the covered part is their union, clipped to the parent."""
    kids: Dict[Optional[int], List[Dict]] = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        a, b = s["start"], s["end"]
        covered = _union_length(
            (max(a, c["start"]), min(b, c["end"]))
            for c in kids.get(s["id"], ())
            if c["end"] > a and c["start"] < b
        )
        out[s["id"]] = (b - a) - covered
    return out
