"""tools/perfbench_ab.py: the pure pair summary, no Spark."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

from perfbench_ab import parse_seeds, summarize  # noqa: E402


def _res(p50, items, correct=True, failed=0):
    return {
        "correct": correct,
        "attempted": 4,
        "failed": failed,
        "metrics": {
            "latency_p50_ms": {"value": p50, "unit": "ms"},
            "items_per_s": {"value": items, "unit": "1/s"},
        },
    }


BETTER = {"latency_p50_ms": "lower", "items_per_s": "higher"}


def test_summary_medians_quartiles_and_wins():
    a_p50 = [100, 110, 120, 130, 140]
    b_p50 = [90, 110, 100, 120, 150]  # wins 1, 3, 4; tie 2; loss 5
    pairs = [
        (_res(a, 10.0), _res(b, 10.0 + (b < a)))
        for a, b in zip(a_p50, b_p50)
    ]
    rows, bad = summarize(pairs, BETTER)
    assert bad == []
    p50, items = rows
    assert p50["metric"] == "latency_p50_ms"
    assert (p50["a_median"], p50["b_median"]) == (120, 110)
    assert (p50["a_q1"], p50["a_q3"], p50["a_spread"]) == (110, 130, 20)
    assert (p50["b_wins"], p50["pairs"]) == (3, 5)
    # higher is better: B's items rate exceeds A's in exactly the p50 wins
    assert items["b_wins"] == 3 and items["b_median"] == 11.0


def test_summary_flags_incorrect_failed_and_missing_runs():
    pairs = [
        (_res(100, 1.0), _res(90, 1.0, correct=False)),
        (_res(100, 1.0, failed=1), _res(90, 1.0)),
        (None, _res(90, 1.0)),
    ]
    rows, bad = summarize(pairs, BETTER)
    assert bad == [
        "pair 1 B: correct=False failed=0/4",
        "pair 2 A: correct=True failed=1/4",
        "pair 3 A: no result",
    ]
    # the pair without an A result is left out of the metric summary
    assert rows[0]["pairs"] == 2 and rows[0]["b_wins"] == 2


def test_parse_seeds():
    assert parse_seeds("1-4") == [1, 2, 3, 4]
    assert parse_seeds("1,3,7-8") == [1, 3, 7, 8]
