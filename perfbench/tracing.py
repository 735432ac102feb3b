"""Tracing from outside the program.

* ``Tracer`` installs span recorders around public calls of the
  program by replacing the name where its caller resolves it, and gives
  each span that can start Spark jobs its own Spark job group.
* ``SparkStats`` reads Spark's status stores after each operation:
  ``SparkContext.statusStore()`` for jobs and stages, and
  ``sharedState().statusStore()`` for SQL metrics (the Python-worker
  counters). Both work with ``spark.ui.enabled=false``.
* ``StreamListener`` is a ``StreamingQueryListener`` that keeps every
  micro-batch progress report.

Spans stay in memory until the run ends.
"""

from __future__ import annotations

import functools
import json
import re
import threading
import time
from contextlib import contextmanager
from typing import Any, Dict, List, Optional

from py4j.protocol import Py4JJavaError


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: List[Dict[str, Any]] = []
        self.active = False
        self.op: Optional[int] = None
        self.sc = None
        self.results: Dict[str, List[Any]] = {}
        self._local = threading.local()
        self._main_stack: List[Dict] = []
        self._lock = threading.Lock()
        self._next_id = 0
        self._patches: List[tuple] = []

    def _stack(self) -> List[Dict]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, job_group: bool = False):
        if not self.active:
            yield None
            return
        stack = self._stack()
        on_main = stack is self._main_stack
        # a call made on another thread (a foreachBatch callback) belongs
        # to whatever the main thread is waiting in
        parent = stack[-1] if stack else (
            self._main_stack[-1] if self._main_stack else None
        )
        with self._lock:
            sid = self._next_id
            self._next_id += 1
        group = None
        if job_group and on_main and self.sc is not None:
            group = f"{self.run_id}:{sid}"
            self.sc.setJobGroup(group, name)
        rec = {
            "id": sid, "name": name, "run": self.run_id, "op": self.op,
            "parent": parent["id"] if parent else None, "group": group,
            "start": time.perf_counter(), "end": None,
        }
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if group is not None:
                outer = next((s["group"] for s in reversed(stack) if s["group"]), None)
                if outer is not None:
                    self.sc.setJobGroup(outer, "")
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
            with self._lock:
                self.spans.append(rec)

    def wrap(self, owner, attr: str, name: str, job_group: bool = True,
             keep_result: bool = False) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not tracer.active:
                return orig(*args, **kwargs)
            with tracer.span(name, job_group):
                out = orig(*args, **kwargs)
            if keep_result:
                tracer.results.setdefault(name, []).append(out)
            return out

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def restore(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def group_names(self) -> Dict[str, str]:
        return {s["group"]: s["name"] for s in self.spans if s["group"]}


# SQL metric name -> per-layer key. Timing metrics are in ms.
PYTHON_METRICS = {
    "time to start Python workers": "python_boot_ms",
    "time to initialize Python workers": "python_init_ms",
    "time to run Python workers": "python_run_ms",
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_received",
}

_UNITS = {"ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6, "ns": 1e-6,
          "B": 1.0, "KiB": 1024.0, "MiB": 1024.0 ** 2, "GiB": 1024.0 ** 3}


def parse_metric_total(text: str) -> float:
    """The total of a formatted SQL metric such as
    ``'total (min, med, max)\\n6.1 s (1.9 s, ...)'`` or ``'941.4 KiB'``."""
    body = text.split("\n", 1)[-1].strip()
    m = re.match(r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]+)?", body)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2) or "B", 1.0)


# per-operation sums read from the stores; task_skew is kept apart
STAGE_KEYS = ("jobs", "stages", "tasks", "task_run_ms", "task_cpu_ms", "gc_ms",
              "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
              ) + tuple(PYTHON_METRICS.values())


class SparkStats:
    """Reads the jobs, stages and SQL executions that ran since the last
    ``mark()``. Operations run one at a time, so everything between a
    mark and the next read belongs to that operation."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.store = sc._jsc.sc().statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.acc = sc._jvm.org.apache.spark.util.AccumulatorContext
        gw = sc._gateway
        self._quantiles = gw.new_array(gw.jvm.double, 2)
        self._quantiles[0] = 0.5
        self._quantiles[1] = 1.0
        self.last_job = self._max_job()
        self.last_exec = self._max_exec()

    def _max_job(self) -> int:
        # jobsList is sorted by job id, newest first
        jobs = self.store.jobsList(None)
        return jobs.apply(0).jobId() if jobs.size() else -1

    def _max_exec(self) -> int:
        n = self.sql_store.executionsCount()
        if n == 0:
            return -1
        lst = self.sql_store.executionsList(max(0, n - 1), 1)
        return lst.apply(0).executionId() if lst.size() else -1

    def mark(self) -> None:
        self.last_job = self._max_job()
        self.last_exec = self._max_exec()

    def read(self) -> Dict[str, Any]:
        out: Dict[str, Any] = {k: 0 for k in STAGE_KEYS}
        by_group: Dict[str, float] = {}
        worst = (0.0, 1.0)  # (stage task run time, skew)
        it = self.store.jobsList(None).iterator()
        new_jobs = []
        while it.hasNext():
            j = it.next()
            if j.jobId() <= self.last_job:
                break
            new_jobs.append(j)
        for j in new_jobs:
            out["jobs"] += 1
            g = j.jobGroup()
            group = g.get() if g.isDefined() else None
            ids = j.stageIds()
            for i in range(ids.size()):
                try:
                    s = self.store.lastStageAttempt(ids.apply(i))
                except Py4JJavaError:  # evicted, or skipped and never run
                    continue
                if s.status().toString() == "SKIPPED" or s.numCompleteTasks() == 0:
                    continue
                out["stages"] += 1
                out["tasks"] += s.numTasks()
                run = s.executorRunTime()
                out["task_run_ms"] += run
                out["task_cpu_ms"] += s.executorCpuTime() / 1e6
                out["gc_ms"] += s.jvmGcTime()
                out["shuffle_write_bytes"] += s.shuffleWriteBytes()
                out["shuffle_read_bytes"] += s.shuffleReadBytes()
                out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
                by_group[group] = by_group.get(group, 0.0) + run
                if s.numTasks() > 1 and run > worst[0]:
                    worst = (run, self._skew(s))
        out["task_skew"] = worst[1]
        self._python_metrics(out)
        out["by_group_task_ms"] = by_group
        self.last_job = max([self.last_job] + [j.jobId() for j in new_jobs])
        return out

    def _skew(self, stage) -> float:
        summ = self.store.taskSummary(stage.stageId(), stage.attemptId(), self._quantiles)
        if not summ.isDefined():
            return 1.0
        q = summ.get().executorRunTime()
        med, mx = q.apply(0), q.apply(1)
        return mx / med if med > 0 else 1.0

    def _python_metrics(self, out: Dict[str, Any]) -> None:
        n = self.sql_store.executionsCount()
        lst = self.sql_store.executionsList(max(0, n - 200), 200)
        newest = self.last_exec
        for i in range(lst.size()):
            e = lst.apply(i)
            eid = e.executionId()
            if eid <= self.last_exec:
                continue
            newest = max(newest, eid)
            values = None
            nodes = self.sql_store.planGraph(eid).allNodes()
            for k in range(nodes.size()):
                ms = nodes.apply(k).metrics()
                for m in range(ms.size()):
                    metric = ms.apply(m)
                    key = PYTHON_METRICS.get(metric.name())
                    if key is None:
                        continue
                    acc = self.acc.get(metric.accumulatorId())
                    if acc.isDefined():
                        v = float(acc.get().value())
                        if metric.metricType() == "nsTiming":
                            v /= 1e6
                    else:  # accumulator collected: read the formatted total
                        if values is None:
                            values = self.sql_store.executionMetrics(eid)
                        s = values.get(metric.accumulatorId())
                        v = parse_metric_total(s.get()) if s.isDefined() else 0.0
                    out[key] += v
        self.last_exec = newest


class StreamListener:
    """Collects micro-batch progress reports, keyed by run id."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self
        self.progress: List[Dict[str, Any]] = []
        self.terminated: set = set()
        self.started: set = set()
        self._lock = threading.Lock()

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                with outer._lock:
                    outer.started.add(str(event.runId))

            def onQueryProgress(self, event):
                p = json.loads(event.progress.json)
                with outer._lock:
                    outer.progress.append(p)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with outer._lock:
                    outer.terminated.add(str(event.runId))

        self.listener = _L()
        spark.streams.addListener(self.listener)

    def settle(self, timeout: float = 10.0) -> None:
        """Wait until every started query's termination event arrived,
        so that its last progress report is in."""
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            with self._lock:
                if self.started <= self.terminated:
                    return
            time.sleep(0.02)

    def take(self) -> List[Dict[str, Any]]:
        with self._lock:
            out, self.progress = self.progress, []
        return out
