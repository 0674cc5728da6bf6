"""Measurement plumbing read from outside the engine.

- `Tracer`: spans (name, start, end, parent, run id) kept in memory and
  written as JSON lines when the benchmark ends.
- `ProgressCollector`: a `StreamingQueryListener` that keeps every
  micro-batch's progress event. `query.recentProgress` keeps only the last
  `spark.sql.streaming.numRecentProgressUpdates` (100) of them.
- `job_metrics`: jobs, tasks, executor run time and shuffle bytes of the
  Spark jobs in one job group, read from the application status store.
"""

from __future__ import annotations

import json
import math
import statistics
import threading
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener


def percentile(values: list[float], q: float) -> float:
    """Percentile (q in 0..100) of a non-empty list, interpolating
    linearly between the two nearest ranks."""
    s = sorted(values)
    pos = q / 100.0 * (len(s) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return float(s[lo] + (s[hi] - s[lo]) * (pos - lo))


def median(values: list[float]) -> float:
    return float(statistics.median(values))


class Tracer:
    """Spans around the benchmark's calls into the engine's layers.

    A span's parent is the innermost span open on the same thread when it
    starts, else `parent`. Spans of one run share `run_id`."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, parent: int | None = None, **attrs):
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {
            "name": name,
            "run_id": self.run_id,
            "parent": stack[-1]["id"] if stack else parent,
            "start": time.time(),
            **attrs,
        }
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["dur_s"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + rec["dur_s"]
            stack.pop()

    def durations(self, name: str, **match) -> list[float]:
        return [
            s["dur_s"]
            for s in self.spans
            if s["name"] == name
            and "dur_s" in s
            and all(s.get(k) == v for k, v in match.items())
        ]

    def write(self, path: str, summary: dict) -> None:
        """One JSON line per span, then `summary` as the last line."""
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")
            fh.write(json.dumps(summary) + "\n")


class ProgressCollector(StreamingQueryListener):
    """Every progress event of every query, by query id."""

    def __init__(self):
        self._lock = threading.Lock()
        self._progress: dict[str, list[dict]] = {}
        self._done: dict[str, threading.Event] = {}

    def _event(self, qid: str) -> threading.Event:
        with self._lock:
            return self._done.setdefault(qid, threading.Event())

    def onQueryStarted(self, event) -> None:
        self._event(str(event.id))

    def onQueryProgress(self, event) -> None:
        p = json.loads(event.progress.json)
        with self._lock:
            self._progress.setdefault(p["id"], []).append(p)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        self._event(str(event.id)).set()

    def batches(self, qid: str, timeout: float = 30.0) -> list[dict]:
        """Progress of the query's batches that read input, in batch order,
        once its termination event (posted after its last progress) has
        arrived."""
        if not self._event(qid).wait(timeout):
            raise RuntimeError(f"no termination event for query {qid}")
        with self._lock:
            prog = list(self._progress.get(qid, []))
        return sorted(
            (p for p in prog if p["numInputRows"] > 0), key=lambda p: p["batchId"]
        )


def job_metrics(spark, group: str, timeout: float = 10.0) -> dict[str, float]:
    """Totals over the finished jobs of `group`: jobs, tasks run,
    executor run time (ms) and shuffle bytes written."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    job_ids = list(sc.statusTracker().getJobIdsForGroup(group))
    deadline = time.monotonic() + timeout
    # job-end events reach the status store asynchronously
    while any(store.job(j).status().toString() == "RUNNING" for j in job_ids):
        if time.monotonic() > deadline:
            raise RuntimeError(f"jobs of group {group} still running")
        time.sleep(0.05)
    out = {"jobs": float(len(job_ids)), "tasks": 0.0, "run_ms": 0.0, "shuffle_bytes": 0.0}
    seen: set[int] = set()
    for j in job_ids:
        stage_ids = store.job(j).stageIds()
        for i in range(stage_ids.size()):
            sid = stage_ids.apply(i)
            if sid in seen:
                continue
            seen.add(sid)
            sd = store.lastStageAttempt(sid)
            out["tasks"] += sd.numCompleteTasks()
            out["run_ms"] += sd.executorRunTime()
            out["shuffle_bytes"] += sd.shuffleWriteBytes()
    return out
