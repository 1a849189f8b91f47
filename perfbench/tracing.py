"""Measurement plumbing: in-memory spans, self-time arithmetic, Spark's
REST stage counters, process-tree CPU time and a resident-memory sampler.

Nothing here touches ``dataframework_spark``; the runner decides which
calls to wrap in spans.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
import urllib.parse
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass

# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run: str
    start: float
    end: float = 0.0
    cpu_start: float = 0.0
    cpu_end: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def cpu(self) -> float:
        return self.cpu_end - self.cpu_start


class Tracer:
    """Records nested spans in memory; ``dump`` writes them out once.
    With a ``cpu_clock`` each span also records CPU seconds."""

    def __init__(self, run_id: str, cpu_clock=None):
        self.run_id = run_id
        self.cpu_clock = cpu_clock
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        s = Span(len(self.spans), name, self._stack[-1] if self._stack else None, self.run_id,
                 time.perf_counter())
        if self.cpu_clock is not None:
            s.cpu_start = self.cpu_clock()
        self.spans.append(s)
        self._stack.append(s.id)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            if self.cpu_clock is not None:
                s.cpu_end = self.cpu_clock()
            self._stack.pop()

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover
    (children clipped to the parent's interval)."""
    children: dict[int, list[tuple[float, float]]] = {}
    by_id = {s.id: s for s in spans}
    for s in spans:
        if s.parent is not None and s.parent in by_id:
            p = by_id[s.parent]
            lo, hi = max(s.start, p.start), min(s.end, p.end)
            if hi > lo:
                children.setdefault(p.id, []).append((lo, hi))
    return {s.id: s.duration - _covered(children.get(s.id, [])) for s in spans}


# ---------------------------------------------------------------------------
# Summary statistics
# ---------------------------------------------------------------------------

_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def tail_percentile(n: int) -> float | None:
    """Highest reported percentile with at least ten samples beyond it."""
    for p in _PERCENTILES:
        if round(n * (100.0 - p) / 100.0, 9) >= 10:
            return p
    return None


def summarize(values: list[float]) -> dict:
    """Median, the tail percentile the sample count supports, and n."""
    out = {"median": statistics.median(values), "n": len(values)}
    p = tail_percentile(len(values))
    if p is not None:
        ranked = sorted(values)
        out[f"p{p:g}"] = ranked[min(len(ranked) - 1, int(len(ranked) * p / 100.0))]
    return out


# ---------------------------------------------------------------------------
# Spark's REST counters
# ---------------------------------------------------------------------------


@dataclass
class StageStats:
    """Counters summed over a set of jobs' completed stage attempts."""

    jobs: int = 0
    scan_bytes: int = 0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    tasks: int = 0
    empty_tasks: int = 0
    longest_stage_ms: int = -1
    task_skew: float = 0.0

    def add(self, other: "StageStats") -> None:
        for f in ("jobs", "scan_bytes", "shuffle_bytes", "spill_bytes", "tasks", "empty_tasks"):
            setattr(self, f, getattr(self, f) + getattr(other, f))
        if other.longest_stage_ms > self.longest_stage_ms:
            self.longest_stage_ms, self.task_skew = other.longest_stage_ms, other.task_skew

    @property
    def empty_task_frac(self) -> float:
        return self.empty_tasks / self.tasks if self.tasks else 0.0


def skew(task_ms: list[int]) -> float:
    """Max task time over median task time (1 ms floor on the median)."""
    if not task_ms:
        return 0.0
    return max(task_ms) / max(statistics.median(task_ms), 1.0)


class SparkCounters:
    """Reads job counts from the status tracker and stage metrics from the
    local REST API (``{uiWebUrl}/api/v1/applications/{id}``)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        url = urllib.parse.urlsplit(self.sc.uiWebUrl)
        # The UI binds every interface; read it over loopback.
        self.base = f"http://127.0.0.1:{url.port}/api/v1/applications/{self.sc.applicationId}"
        self.counted: set[int] = set()  # a group's tag recurs every pass

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status store holds the jobs that just ran."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def group(self, group: str) -> StageStats:
        """Counters of the jobs tagged ``group`` not counted before."""
        stats = StageStats()
        for job_id in self.sc.statusTracker().getJobIdsForGroup(group):
            if job_id in self.counted:
                continue
            self.counted.add(job_id)
            stats.jobs += 1
            for sid in self._get(f"/jobs/{job_id}")["stageIds"]:
                for attempt in self._get(f"/stages/{sid}?details=true"):
                    if attempt["status"] in ("COMPLETE", "FAILED"):
                        stats.add(self._stage(attempt))
        return stats

    @staticmethod
    def _stage(a: dict) -> StageStats:
        task_ms, empty = [], 0
        for t in (a.get("tasks") or {}).values():
            m = t.get("taskMetrics") or {}
            task_ms.append(m.get("executorRunTime", 0))
            sr = m.get("shuffleReadMetrics") or {}
            read = (m.get("inputMetrics") or {}).get("bytesRead", 0)
            read += sr.get("localBytesRead", 0) + sr.get("remoteBytesRead", 0)
            empty += read == 0
        return StageStats(
            jobs=0,
            scan_bytes=a.get("inputBytes", 0),
            shuffle_bytes=a.get("shuffleWriteBytes", 0),
            spill_bytes=a.get("diskBytesSpilled", 0),
            tasks=len(task_ms),
            empty_tasks=empty,
            longest_stage_ms=a.get("executorRunTime", 0),
            task_skew=skew(task_ms),
        )

    def executors(self) -> tuple[float, int]:
        """(GC seconds, failed tasks) over the application so far."""
        ex = self._get("/allexecutors")
        return (sum(e.get("totalGCTime", 0) for e in ex) / 1000.0,
                sum(e.get("failedTasks", 0) for e in ex))


# ---------------------------------------------------------------------------
# Resident memory and CPU time of this process tree
# ---------------------------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


_CLK_TCK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + system) of ``root`` and every process below it,
    including children they have reaped.  A guest kernel charges no
    process for the time its host steals from a virtual CPU, so on a
    shared host this moves far less with the neighbours than wall time."""
    root = os.getpid() if root is None else root
    total = 0
    for pid in [root, *_descendants(root)]:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # ended since the scan
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / _CLK_TCK


def descendants_rss_mb(root: int) -> float:
    return sum(_rss_kb(pid) for pid in _descendants(root)) / 1024.0


class RssSampler:
    """Samples the JVM-plus-workers resident set (every process below this
    one) on a background thread and keeps the peak."""

    def __init__(self, interval: float = 0.5):
        self.interval, self.peak_mb = interval, 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.peak_mb = max(self.peak_mb, descendants_rss_mb(os.getpid()))

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_mb = max(self.peak_mb, descendants_rss_mb(os.getpid()))
