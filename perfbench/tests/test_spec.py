"""BENCHMARK.json agrees with what the command prints, and stays within
the limits of the benchmark contract."""

import json
import os
import re

from perfbench import run
from perfbench.workloads.corpus_batch import decode
from perfbench.workloads.sql_analyst import compare_frames

with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def test_workloads_match_the_command():
    assert [w["name"] for w in SPEC["workloads"]] == list(run.WORKLOADS)


def test_end_to_end_metrics_and_units_match():
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == run.E2E_UNITS
    setup = next(m for m in SPEC["end_to_end"] if m["name"] == "setup_s")
    assert setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in SPEC["end_to_end"])


def test_every_span_metric_is_a_per_layer_metric():
    names = {m["name"] for m in SPEC["per_layer"]}
    assert set(run.SPAN_METRICS.values()) <= names
    assert {f"spark.{k}" for k in ("jobs", "task_run_ms", "python_run_ms")} <= names


def test_contract_limits():
    assert set(SPEC) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    names = [w["name"] for w in SPEC["workloads"]]
    names += [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    assert all(UNIT.match(m["unit"]) for m in SPEC["end_to_end"] + SPEC["per_layer"])
    assert all(0 < m["bound"] <= 0.25 for m in SPEC["end_to_end"])
    assert all(len(w["why"]) <= 200 and "\n" not in w["why"] for w in SPEC["workloads"])
    assert 2 <= len(SPEC["workloads"]) <= 8
    assert isinstance(SPEC["run_seconds"], int) and 1 <= SPEC["run_seconds"] <= 60


def test_decode_inverts_byte_level_merges():
    sym = lambda s: "".join(chr(0x100 + b) for b in s.encode())  # noqa: E731
    merges = [(sym("a"), sym("b")), (sym("ab"), sym("c"))]
    assert decode([256, 257, ord(" ")], merges) == "ababc "


def test_compare_frames_allows_one_rounding_unit():
    import pandas as pd

    a = pd.DataFrame({"k": ["x", "y"], "v": [1.25, 2.0]})
    assert compare_frames(a, pd.DataFrame({"k": ["x", "y"], "v": [1.26, 2.0]})) == ""
    assert "column v" in compare_frames(a, pd.DataFrame({"k": ["x", "y"], "v": [1.3, 2.0]}))
    assert "column k" in compare_frames(a, pd.DataFrame({"k": ["x", "z"], "v": [1.25, 2.0]}))


def test_parse_metric_total_reads_formatted_sql_metrics():
    from perfbench.tracing import parse_metric_total

    assert parse_metric_total("total (min, med, max)\n6.1 s (1.9 s, 2.0 s)") == 6100.0
    assert parse_metric_total("941.4 KiB") == 941.4 * 1024
    assert parse_metric_total("120,269") == 120269.0
    assert parse_metric_total("total (min, med, max)\n15 ms (1 ms, 2 ms)") == 15.0
