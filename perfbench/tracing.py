"""Benchmark-side tracing: spans around calls into the package's layers,
Spark job/task counts per span, and a peak-RSS sampler.

Spans are kept in memory and written out once, when the run ends. Every
span records its name, start, end, parent and the run id; the Spark work
it caused is attributed through a job group set for exactly its duration.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager


class Tracer:
    """Collects spans and per-layer counts for one benchmark run.

    A layer is the part of a span name before the first dot
    (``detect.fused`` belongs to layer ``detect``)."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self.counts: dict[str, float] = {}
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "name": name, "run_id": self.run_id,
            "parent": parent["name"] if parent else None,
            "job_group": f"{self.run_id}:{len(self.spans)}:{name}",
            "start": time.time(),
        }
        self._stack.append(rec)
        self.sc.setJobGroup(rec["job_group"], name)
        t0 = time.monotonic()
        try:
            yield rec
        finally:
            rec["duration_s"] = time.monotonic() - t0
            rec["end"] = rec["start"] + rec["duration_s"]
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent["job_group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            rec["jobs"], rec["tasks"] = job_task_counts(self.sc, [rec["job_group"]])
            self.spans.append(rec)

    def count(self, name: str, value: float) -> None:
        """Record a count (or ratio) measured at a layer boundary."""
        self.counts[name] = value

    def seconds(self, name: str) -> float:
        """Total duration of the spans called ``name``."""
        return sum(s["duration_s"] for s in self.spans if s["name"] == name)

    def layer_jobs_tasks(self, layer: str) -> tuple[int, int]:
        """Jobs and tasks of every span of ``layer``, children included
        (a child's job group is its own, so nothing is counted twice)."""
        own = [s for s in self.spans if s["name"].split(".")[0] == layer]
        return (sum(s["jobs"] for s in own), sum(s["tasks"] for s in own))

    def dump(self, path: str, extra: dict | None = None) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans,
                       "counts": self.counts, **(extra or {})}, f, indent=1)


def job_task_counts(sc, groups: list[str]) -> tuple[int, int]:
    """(jobs, tasks run) of the given Spark job groups. A stage shared by
    several jobs counts once; skipped stages contribute no tasks."""
    tracker = sc.statusTracker()
    jobs: set[int] = set()
    for g in groups:
        jobs.update(tracker.getJobIdsForGroup(g))
    stages: set[int] = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    tasks = 0
    for s in stages:
        info = tracker.getStageInfo(s)
        if info is not None:
            tasks += info.numCompletedTasks
    return len(jobs), tasks


# ---------------------------------------------------------------------------
# peak resident memory of the process tree
# ---------------------------------------------------------------------------

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may contain spaces; fields resume after ')'
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, each shared page divided
    among the processes sharing it. Plain RSS would count a forked child
    (the JVM spawns helpers while writing files) as a second copy of its
    parent's whole heap."""
    with open(f"/proc/{pid}/smaps_rollup", "rb") as f:
        for line in f:
            if line.startswith(b"Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_rss_bytes(root: int) -> tuple[int, int]:
    """(resident bytes, process count) of ``root`` and its descendants."""
    kids = _children_map()
    total, n, todo = 0, 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            total += _pss_bytes(pid)
            n += 1
        except OSError:
            pass
    return total, n


RSS_INTERVAL_S = 0.2


class PeakRss:
    """One daemon thread sampling the RSS of this process's tree while
    active."""

    def __init__(self):
        self.root = os.getpid()
        self.peak = 0
        self.procs_at_peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True,
                                        name="peak-rss")

    def _sample(self) -> None:
        rss, n = tree_rss_bytes(self.root)
        if rss > self.peak:
            self.peak, self.procs_at_peak = rss, n

    def _run(self) -> None:
        while True:
            self._sample()
            if self._stop.wait(RSS_INTERVAL_S):
                return

    def __enter__(self) -> PeakRss:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20
