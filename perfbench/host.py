"""Host and session stamps, CPU calibration and memory sampling.

Everything is read from ``/proc``; nothing here imports pyspark.
"""

from __future__ import annotations

import os
import subprocess
import sys
import threading
import time
from typing import Dict, List, Optional

# two stamps of one run that differ by more than this share mean the
# host changed during the run
DRIFT_SHARE = 0.2


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


# fixed integer work, started by every process at the same wall-clock
# instant; each prints its own compute time, so start-up does not count
_SPIN = """
import sys, time
start = float(sys.argv[1])
while time.time() < start:
    time.sleep(0.001)
t0 = time.perf_counter()
acc = 0
for i in range(300_000):
    acc = (acc + i * i) % 1_000_003
print(time.perf_counter() - t0)
"""


def _spin_on(workers: int) -> float:
    """Median per-process compute time with ``workers`` processes."""
    start = time.time() + 0.2
    procs = [
        subprocess.Popen([sys.executable, "-c", _SPIN, repr(start)],
                         stdout=subprocess.PIPE, text=True)
        for _ in range(workers)
    ]
    times = sorted(float(p.communicate(timeout=60)[0]) for p in procs)
    return times[len(times) // 2]


def calibrate(workers: int) -> Dict:
    """Time the fixed work once alone and once on ``workers`` processes
    at the same time; the ratio shows whether the cores were shared."""
    serial = _spin_on(1)
    parallel = _spin_on(workers)
    return {
        "serial_ms": round(serial * 1e3, 3),
        "parallel_ms": round(parallel * 1e3, 3),
        "ratio": round(parallel / serial, 4),
    }


def host_degraded(before: Dict, after: Dict) -> bool:
    """The host changed during the run: a stamp moved by more than
    ``DRIFT_SHARE`` between the start and the end."""
    return any(
        abs(before[k] - after[k]) / min(before[k], after[k]) > DRIFT_SHARE
        for k in ("serial_ms", "parallel_ms")
    )


# -- processes and memory ---------------------------------------------------


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError):
        pass
    return 0


def vm_hwm_bytes(pid: int) -> int:
    return _status_kb(pid, "VmHWM:") * 1024


def rss_bytes(pid: int) -> int:
    return _status_kb(pid, "VmRSS:") * 1024


def children(pid: int) -> List[int]:
    out: List[int] = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except FileNotFoundError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except FileNotFoundError:
            continue
    return out


def descendants(pid: int) -> List[int]:
    out, todo = [], children(pid)
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children(p))
    return out


def alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (FileNotFoundError, ProcessLookupError):
        return False


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except FileNotFoundError:
        return ""


def find_jvm(parent: int) -> Optional[int]:
    for p in descendants(parent):
        if _comm(p) == "java":
            return p
    return None


class RssSampler:
    """Samples the summed RSS of the Python workers under the JVM on a
    background thread and keeps the peak."""

    def __init__(self, jvm_pid: int, interval: float = 0.5):
        self.jvm_pid = jvm_pid
        self.interval = interval
        self.peak_workers = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)

    def sample(self) -> None:
        total = sum(
            rss_bytes(p) for p in descendants(self.jvm_pid)
            if _comm(p).startswith("python")
        )
        self.peak_workers = max(self.peak_workers, total)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    def peak_rss_parts(self) -> Dict[str, int]:
        """The parts of the peak RSS, in bytes: JVM VmHWM, this process's
        VmHWM and the workers' sampled peak."""
        return {
            "jvm_hwm": vm_hwm_bytes(self.jvm_pid),
            "driver_hwm": vm_hwm_bytes(os.getpid()),
            "workers_peak": self.peak_workers,
        }

