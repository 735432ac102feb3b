"""The benchmark's workloads.

A workload generates its inputs from a seed, does the program's one-time
set-up, and yields passes of operations. ``run.py`` times each operation
and hands every result back to ``check`` after the timed region.
"""

from __future__ import annotations

from contextlib import nullcontext
from dataclasses import dataclass, field
from typing import Any, Callable, Dict, List, Tuple


@dataclass
class Op:
    """One closed-loop operation: ``fn()`` returns ``(items, result)``."""

    label: str
    fn: Callable[[], tuple]
    items: int = 0
    result: Any = None
    latency_s: float = 0.0
    error: str = ""
    traced: bool = False
    spark: Dict[str, Any] = field(default_factory=dict)
    meta: Dict[str, Any] = field(default_factory=dict)


@dataclass
class Workload:
    name: str
    item: str  # what items_per_s counts
    props: Dict[str, Any] = field(default_factory=dict)
    tracer: Any = None
    # fewest timed operations per run, whatever --seconds says
    min_ops = 1
    # the traced run listens to streaming query progress
    streams = False

    def span(self, name: str):
        """A span around one of the benchmark's own Spark actions, so that
        the jobs of lazy operators are attributed to the action that ran
        them; a no-op in untraced runs."""
        if self.tracer is None:
            return nullcontext()
        return self.tracer.span(name, job_group=True)

    def generate(self, seed: int, out_dir: str) -> None:
        raise NotImplementedError

    def setup(self, spark) -> None:
        """The program's one-time work; timed as part of set-up."""

    def pass_ops(self, index: int) -> List[Op]:
        raise NotImplementedError

    def install_tracing(self, tracer) -> None:
        """Wrap the workload-specific program calls."""

    def observe(self, op: Op, tracer) -> None:
        """Called after each traced operation, outside its timing."""

    def check(self, ops: List[Op]) -> List[Tuple[int, str]]:
        """Verify results outside the timed region: (index of the failed
        op in ``ops``, message) per failure."""
        raise NotImplementedError

    def layer_metrics(self, ops: List[Op], tracer) -> Dict[str, float]:
        """Workload-specific per-layer counts and ratios over the traced
        operations ``ops``."""
        return {}


def get(name: str) -> Workload:
    if name == "sql_analyst":
        from perfbench.workloads.sql_analyst import SqlAnalyst
        return SqlAnalyst()
    if name == "corpus_batch":
        from perfbench.workloads.corpus_batch import CorpusBatch
        return CorpusBatch()
    if name == "stream_ingest":
        from perfbench.workloads.stream_ingest import StreamIngest
        return StreamIngest()
    raise SystemExit(f"unknown workload {name!r}")
