"""Host context recorded with every run, and the process-tree RSS sampler.

This box's memory bandwidth and CPU steal swing from minute to minute, so
every run's output carries enough context (nproc, steal %, load average and
a short memory-bandwidth probe before and after) to tell an unsteady run
from a regression using the artifact alone.
"""

from __future__ import annotations

import os
import threading
import time

import numpy as np


def _cpu_times() -> tuple[int, int]:
    """(total, steal) jiffies from the aggregate ``cpu`` line of /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields[:8]), fields[7] if len(fields) > 7 else 0


def triad_gbps(mib: int = 32, reps: int = 5) -> float:
    """Best-of-``reps`` STREAM-triad bandwidth ``a = b + s*c`` in GB/s over
    three ``mib``-MiB float64 arrays (~0.2 s)."""
    n = mib * 1024 * 1024 // 8
    b = np.ones(n)
    c = np.full(n, 2.0)
    a = np.empty(n)
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        np.multiply(c, 3.0, out=a)
        np.add(a, b, out=a)
        best = min(best, time.perf_counter() - t0)
    # the two-pass numpy form moves 5 arrays' worth of bytes
    return 5 * n * 8 / best / 1e9


class HostContext:
    """Snapshot at construction, finished by :meth:`finish`."""

    def __init__(self) -> None:
        self.nproc = os.cpu_count() or 1
        self._cpu0 = _cpu_times()
        self.triad_before = triad_gbps()
        self.load_before = os.getloadavg()

    def finish(self) -> dict:
        total1, steal1 = _cpu_times()
        dt = total1 - self._cpu0[0]
        return {
            "nproc": self.nproc,
            "steal_pct": round(100.0 * (steal1 - self._cpu0[1]) / dt, 2) if dt else 0.0,
            "loadavg_before": [round(x, 2) for x in self.load_before],
            "loadavg_after": [round(x, 2) for x in os.getloadavg()],
            "triad_gbps_before": round(self.triad_before, 2),
            "triad_gbps_after": round(triad_gbps(), 2),
        }


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _tree(root: int) -> list[int]:
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_cpu_seconds(root: int) -> float:
    """User + system CPU time of ``root`` and its live descendants,
    including what their exited children were charged (utime, stime,
    cutime, cstime of /proc/<pid>/stat). Time the hypervisor stole from
    the vCPUs is not charged to any process, so this moves much less than
    wall time when the host is busy."""
    ticks = 0
    for pid in _tree(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def tree_rss_bytes(root: int) -> int:
    """Resident set size summed over ``root`` and all its descendants (the
    JVM and the Python workers it forks)."""
    total = 0
    page = os.sysconf("SC_PAGE_SIZE")
    for pid in _tree(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            pass
    return total


class RssSampler:
    """Samples this process tree's RSS from a daemon thread; ``peak_mb`` is
    the largest sample. Use as a context manager."""

    def __init__(self, interval_s: float = 0.25) -> None:
        self.interval_s = interval_s
        self.peak = 0
        self.samples = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(pid))
            self.samples += 1
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20
