"""Interleaved A/B of one perfbench workload between two checkouts.

Runs ``perfbench/run.py --workload W --seed S --trace 0`` (for the run
length ``BENCHMARK.json`` sets) from checkout A and from checkout B, one
run at a time: A first on odd seeds, B first on even ones. It then
prints, per end-to-end metric, both medians, A's quartiles and their
spread, and in how many pairs B was better (ties count for neither). A
gain claim holds when B wins at least nine tenths of the pairs and the
medians differ by more than A's quartile spread.

Exits 1 when any run reports ``correct: false`` or ``failed > 0``, or
prints no result line.

Usage: python tools/perfbench_ab.py --workload stream_ingest \\
           --a PARENT_CHECKOUT --b CHANGE_CHECKOUT --seeds 1-10
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
from typing import Dict, List, Optional, Sequence, Tuple


def parse_seeds(spec: str) -> List[int]:
    """``"1-10"`` or ``"1,3,5"`` (ranges and lists may mix)."""
    seeds: List[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        seeds += range(int(lo), int(hi or lo) + 1)
    return seeds


def summarize(
    pairs: Sequence[Tuple[Optional[dict], Optional[dict]]],
    better: Dict[str, str],
) -> Tuple[List[dict], List[str]]:
    """Per-metric summary of ``(A result, B result)`` pairs, each the
    JSON line ``perfbench/run.py`` prints last (``None`` when a run
    printed none). ``better`` maps a metric name to ``"lower"`` or
    ``"higher"``.

    Returns ``(rows, bad)``: one row per metric with ``a_median``,
    ``b_median``, ``a_q1``, ``a_q3``, ``a_spread`` (``a_q3 - a_q1``),
    ``b_wins`` and ``pairs``; and one message per run that is missing,
    incorrect, or has failed operations.
    """
    bad = []
    for i, pair in enumerate(pairs):
        for side, res in zip("AB", pair):
            if res is None:
                bad.append(f"pair {i + 1} {side}: no result")
            elif not res["correct"] or res["failed"] > 0:
                bad.append(
                    f"pair {i + 1} {side}: correct={res['correct']} "
                    f"failed={res['failed']}/{res['attempted']}"
                )
    whole = [(a, b) for a, b in pairs if a is not None and b is not None]
    rows = []
    for name, direction in better.items():
        vals = [
            (a["metrics"][name]["value"], b["metrics"][name]["value"])
            for a, b in whole
        ]
        if not vals:
            continue
        av, bv = [a for a, _ in vals], [b for _, b in vals]
        sign = 1 if direction == "lower" else -1
        q1, _, q3 = (
            statistics.quantiles(av, n=4, method="inclusive")
            if len(av) > 1
            else (av[0], av[0], av[0])
        )
        rows.append({
            "metric": name,
            "a_median": statistics.median(av),
            "b_median": statistics.median(bv),
            "a_q1": q1,
            "a_q3": q3,
            "a_spread": q3 - q1,
            "b_wins": sum(sign * (a - b) > 0 for a, b in vals),
            "pairs": len(vals),
        })
    return rows, bad


def _run(checkout: str, workload: str, seed: int, seconds: float) -> Optional[dict]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, capture_output=True, text=True,
    )
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    try:
        return json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        sys.stderr.write(proc.stderr[-2000:])
        return None


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--a", required=True, help="checkout of the parent")
    p.add_argument("--b", required=True, help="checkout of the change")
    p.add_argument("--seeds", required=True, help='e.g. "1-10"')
    args = p.parse_args(argv)

    with open(os.path.join(args.a, "BENCHMARK.json")) as f:
        bench = json.load(f)
    better = {m["name"]: m["better"] for m in bench["end_to_end"]}
    pairs = []
    for seed in parse_seeds(args.seeds):
        order = ("a", "b") if seed % 2 else ("b", "a")
        res = {}
        for side in order:
            res[side] = _run(
                getattr(args, side), args.workload, seed, bench["run_seconds"]
            )
        pairs.append((res["a"], res["b"]))
        vals = " ".join(
            f"{side.upper()}.{name}={r['metrics'][name]['value']:.1f}"
            for side in ("a", "b") if (r := res[side]) is not None
            for name in better
        )
        print(f"seed {seed} first={order[0].upper()} {vals}", flush=True)
    rows, bad = summarize(pairs, better)
    print(f"{'metric':16s} {'A median':>10s} {'B median':>10s} "
          f"{'A q1-q3':>19s} {'A spread':>9s} {'B wins':>7s}")
    for r in rows:
        print(f"{r['metric']:16s} {r['a_median']:10.1f} {r['b_median']:10.1f} "
              f"{r['a_q1']:9.1f}-{r['a_q3']:<9.1f} {r['a_spread']:9.1f} "
              f"{r['b_wins']:>3d}/{r['pairs']:<3d}")
    for msg in bad:
        print(f"BAD {msg}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
