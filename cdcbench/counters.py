"""Counters the benchmark reads around its calls into the engine.

Nothing here patches the engine: the metadata FileIO is handed to the
applier through its public ``io=`` seam, Spark work is counted from
``SparkContext.statusTracker()`` by job-id range, and host CPU comes
from ``/proc/stat``.
"""

from __future__ import annotations

import threading
import time
from collections import defaultdict
from contextlib import contextmanager

from giraffe_etl_spark.lake import PosixFileIO


class CountingIO(PosixFileIO):
    """POSIX metadata IO that counts what the lake asks of it.

    Commits run on two threads at once (the apply's quarantine route
    commits beside the merge), so the counters take a lock.
    """

    def __init__(self) -> None:
        super().__init__()
        self._lock = threading.Lock()
        self.counts = {"reads": 0, "writes": 0, "lists": 0, "bytes_read": 0}

    def _add(self, **kw: int) -> None:
        with self._lock:
            for k, v in kw.items():
                self.counts[k] += v

    def snapshot(self) -> dict:
        with self._lock:
            return dict(self.counts)

    def read_text(self, path: str) -> str:
        text = super().read_text(path)
        self._add(reads=1, bytes_read=len(text.encode()))
        return text

    def create_if_absent(self, path: str, content: str) -> None:
        super().create_if_absent(path, content)
        self._add(writes=1)

    def flip_pointer(self, path: str, content: str, expected: str | None = None) -> None:
        super().flip_pointer(path, content, expected)
        self._add(writes=1)

    def list_dir(self, path: str) -> list[str]:
        out = super().list_dir(path)
        self._add(lists=1)
        return out


class JobCounter:
    """Spark jobs, stages and tasks run since a mark, by job-id range.

    Job ids are sequential per SparkContext.  The engine sets no job
    groups, and its quarantine thread would not inherit one under
    pinned-thread mode anyway, so every job is listed under the
    ungrouped id set and a range around a call catches all of its work.
    """

    def __init__(self, sc) -> None:
        self.st = sc.statusTracker()

    def mark(self) -> int:
        return max(self.st.getJobIdsForGroup(None), default=-1)

    def since(self, mark: int) -> dict:
        jobs = [j for j in self.st.getJobIdsForGroup(None) if j > mark]
        stages = tasks = 0
        for j in jobs:
            info = self.st.getJobInfo(j)
            for s in (info.stageIds if info else []):
                si = self.st.getStageInfo(s)
                if si is not None and si.numCompletedTasks > 0:
                    stages += 1
                    tasks += si.numCompletedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks}


class Tracer:
    """Span recorder: wall time always, counters only when enabled.

    ``span(name)`` yields a dict the caller may add fields to; on exit
    it gains ``s`` (wall seconds) and, when tracing, the Spark-work and
    metadata-IO deltas of the call.  Spans stay in memory until the
    run reports.
    """

    def __init__(self, enabled: bool, jobs: JobCounter | None = None,
                 io: CountingIO | None = None) -> None:
        self.enabled = enabled
        self.jobs = jobs
        self.io = io
        self.spans: dict[str, list[dict]] = defaultdict(list)

    @contextmanager
    def span(self, name: str):
        rec: dict = {}
        if self.enabled:
            j0 = self.jobs.mark()
            io0 = self.io.snapshot()
        t0 = time.monotonic()
        yield rec
        rec["s"] = time.monotonic() - t0
        if self.enabled:
            rec.update(self.jobs.since(j0))
            io1 = self.io.snapshot()
            rec.update({f"meta_{k}": io1[k] - io0[k] for k in io1})
        self.spans[name].append(rec)

    def values(self, name: str, field: str = "s") -> list:
        return [r[field] for r in self.spans.get(name, []) if field in r]


def read_cpu() -> tuple[int, int, int]:
    """(busy, steal, total) jiffies of all CPUs from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    user, nice, system, idle, iowait, irq, softirq, steal = (fields + [0] * 8)[:8]
    total = user + nice + system + idle + iowait + irq + softirq + steal
    return total - idle - iowait - steal, steal, total


def cpu_shares(before: tuple[int, int, int], after: tuple[int, int, int]) -> dict:
    busy, steal, total = (a - b for a, b in zip(after, before))
    total = max(total, 1)
    return {"host.cpu_busy_share": busy / total, "host.steal_share": steal / total}
