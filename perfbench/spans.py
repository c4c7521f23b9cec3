"""Instruments for the traced run: in-memory spans and Spark event-log
windows.

Spans are kept in memory (name, start, end, parent, run id) and written out
once, when the run ends. Engine counters come from the Spark event log of
the traced session: task, GC, shuffle and spill totals per ``europa:<stage>``
job tag (aggregated by ``tools/stage_bytes.parse_eventlog``), the Python UDF
SQL metrics, the on-heap memory peaks, and job start/end times for the
driver-only time.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

# SQL metric display names of the Python UDF nodes (Spark 4.1 PythonSQLMetrics)
PY_RUN_MS = "time to run Python workers"
PY_SENT_BYTES = "data sent to Python workers"
PY_RECV_BYTES = "data returned from Python workers"
# executor memory peaks that TaskEnd events carry while
# spark.executor.metrics.pollingInterval is set: the whole JVM heap in use,
# and the memory manager's execution (shuffle, sort, aggregation buffers)
# and storage (cached blocks, broadcasts) pools
MEMORY_PEAKS = ("JVMHeapMemory", "OnHeapExecutionMemory", "OnHeapStorageMemory")


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None
    run_id: str


class Tracer:
    """Spans around the benchmark's calls into the layer functions."""

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            self._stack.pop()
            self.spans.append(Span(name, start, end, parent, self.run_id))

    def get(self, name: str) -> Span:
        return next(s for s in self.spans if s.name == name)

    def duration(self, name: str) -> float:
        s = self.get(name)
        return s.end - s.start

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f, indent=1)


def event_log_file(log_dir: str) -> str:
    """The single (uncompressed, non-rolling) event log in ``log_dir``."""
    files = [os.path.join(log_dir, p) for p in os.listdir(log_dir)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, got {files}")
    return files[0]


_KINDS = tuple(
    f'{{"Event":"SparkListener{k}"'.encode() for k in ("JobStart", "JobEnd", "TaskEnd")
)


def window_metrics(log_path: str, t0: float, t1: float,
                   scratch_dir: str) -> dict:
    """Engine metrics of the jobs submitted in the wall-clock window
    [t0, t1] (seconds since the epoch), and the submission time of every
    job in the log, from one read of the log.

    The window's JobStart/TaskEnd events are copied to a scratch file and
    aggregated per job tag by ``tools/stage_bytes.parse_eventlog``; the job
    intervals, the Python UDF SQL metrics and the memory peaks are read
    here. Other events (plan and metric updates, most of the log by size)
    are skipped unparsed."""
    from tools.stage_bytes import parse_eventlog

    lo, hi = t0 * 1e3, t1 * 1e3
    jobs: dict[int, list[float]] = {}
    job_starts: list[float] = []
    stages: set[int] = set()
    py = dict.fromkeys((PY_RUN_MS, PY_SENT_BYTES, PY_RECV_BYTES), 0.0)
    peaks = dict.fromkeys(MEMORY_PEAKS, 0)
    path = os.path.join(scratch_dir, "window.json")
    with open(log_path, "rb") as src, open(path, "wb") as out:
        for line in src:
            if not line.startswith(_KINDS):
                continue
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                t = ev["Submission Time"]
                job_starts.append(t)
                if lo <= t <= hi:
                    jobs[ev["Job ID"]] = [t, hi]
                    stages.update(ev["Stage IDs"])
                    out.write(line)
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]][1] = ev["Completion Time"]
            elif ev["Stage ID"] in stages:
                out.write(line)
                for acc in ev["Task Info"].get("Accumulables", []):
                    if acc.get("Name") in py:
                        py[acc["Name"]] += float(acc.get("Update") or 0)
                task_peaks = ev.get("Task Executor Metrics") or {}
                for k in peaks:
                    peaks[k] = max(peaks[k], task_peaks.get(k, 0))
    by_tag = parse_eventlog(path)
    os.remove(path)
    return {
        "jobs": jobs,
        "job_starts": job_starts,
        "driver_s": (hi - lo - _covered(
            [(a, min(b, hi)) for a, b in jobs.values()])) / 1e3,
        "by_tag": by_tag,
        "python_s": py[PY_RUN_MS] / 1e3,
        "arrow_sent_mb": py[PY_SENT_BYTES] / 1e6,
        "arrow_recv_mb": py[PY_RECV_BYTES] / 1e6,
        **{k: v / 1e6 for k, v in peaks.items()},
    }


def jobs_between(job_starts: list[float], t0: float, t1: float) -> int:
    return sum(1 for start in job_starts if t0 * 1e3 <= start <= t1 * 1e3)


def _covered(intervals: list[tuple[float, float]]) -> float:
    total, cur_end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        a = max(a, cur_end)
        if b > a:
            total += b - a
            cur_end = b
    return total
