"""Spans for the traced run, and the Spark counters attached to them.

A span is ``{name, start, end, parent, run_id, attrs}``. Spans are kept in
memory and written once, when the run ends. All spans are recorded from the
benchmark's side of the program's public calls; nothing inside the program
is patched. A span's self time is its duration minus the part of it that
its child spans cover.

Spark counters come from the status REST API of the run's own application
(``spark.ui.enabled`` is switched on for the traced run only): the stages a
span ran are the stages that exist at its end but did not at its start,
which holds because the traced run issues its Spark work sequentially.
"""

from __future__ import annotations

import json
import threading
import time
import urllib.request
from contextlib import contextmanager
from urllib.parse import urlparse

#: counters reported per counted span, in metric-name order
SPARK_COUNTERS = (
    "jobs", "tasks", "shuffle_write_bytes", "spill_bytes", "failed_tasks", "busy_frac",
)


class SparkRest:
    """Reads the live application's ``/api/v1`` stage and job lists."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        port = urlparse(sc.uiWebUrl).port
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
        self.cores = sc.defaultParallelism

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def snapshot(self) -> tuple[set, set]:
        """(stage keys, job ids) known now. The short sleep lets the async
        listener bus post the events of work that just finished."""
        time.sleep(0.3)
        stages = {(s["stageId"], s["attemptId"]) for s in self._get("/stages")}
        jobs = {j["jobId"] for j in self._get("/jobs")}
        return stages, jobs

    def delta(self, before: tuple[set, set], wall_s: float) -> dict:
        """Counters of the stages and jobs that appeared since ``before``."""
        time.sleep(0.3)
        stages = [
            s for s in self._get("/stages")
            if (s["stageId"], s["attemptId"]) not in before[0]
        ]
        jobs = [j for j in self._get("/jobs") if j["jobId"] not in before[1]]
        run_ms = sum(s.get("executorRunTime", 0) for s in stages)
        out = {
            "jobs": len(jobs),
            "tasks": sum(s.get("numTasks", 0) for s in stages),
            "shuffle_write_bytes": sum(s.get("shuffleWriteBytes", 0) for s in stages),
            "spill_bytes": sum(
                s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0)
                for s in stages
            ),
            "failed_tasks": sum(s.get("numFailedTasks", 0) for s in stages),
            "busy_frac": run_ms / 1000.0 / (wall_s * self.cores) if wall_s > 0 else 0.0,
        }
        out["task_skew"] = self._task_skew(stages)
        return out

    def _task_skew(self, stages: list) -> float:
        """max / median task run time of the span's heaviest multi-task
        stage (1.0 when the span has none)."""
        multi = [s for s in stages if s.get("numTasks", 0) > 1]
        if not multi:
            return 1.0
        s = max(multi, key=lambda s: s.get("executorRunTime", 0))
        q = self._get(
            f"/stages/{s['stageId']}/{s['attemptId']}/taskSummary?quantiles=0.5,1.0"
        )["executorRunTime"]
        return q[1] / q[0] if q[0] > 0 else 1.0


class Tracer:
    """In-memory span recorder. ``rest`` (optional) attaches Spark counters
    to spans opened with ``counters=True``. Thread-safe for spans recorded
    with an explicit parent (the program runs some merges concurrently)."""

    def __init__(self, run_id: str, rest: SparkRest | None = None) -> None:
        self.run_id = run_id
        self.rest = rest
        self.spans: list[dict] = []
        self._stack: list[str] = []
        self._lock = threading.Lock()

    def record(self, name: str, start: float, end: float, parent: str | None = None,
               **attrs) -> dict:
        rec = {
            "name": name, "start": start, "end": end,
            "parent": parent if parent is not None else (self._stack[-1] if self._stack else None),
            "run_id": self.run_id, "attrs": attrs,
        }
        with self._lock:
            self.spans.append(rec)
        return rec

    @contextmanager
    def span(self, name: str, counters: bool = False, **attrs):
        parent = self._stack[-1] if self._stack else None
        before = self.rest.snapshot() if counters and self.rest else None
        self._stack.append(name)
        rec = {"name": name, "parent": parent, "run_id": self.run_id, "attrs": attrs}
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if before is not None:
                rec["attrs"]["spark"] = self.rest.delta(before, rec["end"] - rec["start"])
            with self._lock:
                self.spans.append(rec)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def total(self, name: str) -> float:
        """Wall time covered by all spans called ``name`` (overlaps counted once)."""
        return _union([(s["start"], s["end"]) for s in self.named(name)])

    def self_times(self) -> dict[str, float]:
        """Self time per span name, summed over that name's spans."""
        out: dict[str, float] = {}
        for s in self.spans:
            kids = [
                (max(c["start"], s["start"]), min(c["end"], s["end"]))
                for c in self.spans
                if c["parent"] == s["name"] and c is not s
            ]
            own = (s["end"] - s["start"]) - _union([k for k in kids if k[1] > k[0]])
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans,
                       "self_s": self.self_times()}, f, indent=1, default=str)


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total
