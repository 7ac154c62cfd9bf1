"""Span recorder and Spark status-store probe, both outside the engine.

Spans are recorded by the benchmark around its calls into each engine
layer (name, start, end, parent, run id), kept in memory and written
once at exit. The probe reads Spark's own status store for the jobs of
one job group; it works with ``spark.ui.enabled=false``.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager


class Elapsed:
    """Seconds a finished span took, in ``s``."""

    __slots__ = ("s",)

    def __init__(self):
        self.s = 0.0


class Spans:
    """In-memory span tree. ``span()`` times a block, nests it under the
    innermost open span and yields an ``Elapsed`` filled in at exit."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.records: list[tuple[int, str, float, float, int | None]] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        sid = len(self.records)
        parent = self._stack[-1] if self._stack else None
        start = time.perf_counter()
        self.records.append((sid, name, start, start, parent))
        self._stack.append(sid)
        elapsed = Elapsed()
        try:
            yield elapsed
        finally:
            self._stack.pop()
            end = time.perf_counter()
            self.records[sid] = (sid, name, start, end, parent)
            elapsed.s = end - start

    def add(self, name: str, start: float, end: float) -> None:
        """Record a top-level span timed before the recorder existed."""
        self.records.append((len(self.records), name, start, end, None))

    def durations(self, name: str) -> list[float]:
        return [end - start for _, n, start, end, _ in self.records if n == name]

    def self_times(self) -> dict[str, float]:
        """Seconds per layer (the span name up to its first ':'), each
        span's duration minus the time its child spans cover."""
        child = defaultdict(float)
        for _, _, start, end, parent in self.records:
            if parent is not None:
                child[parent] += end - start
        out: dict[str, float] = defaultdict(float)
        for sid, name, start, end, _ in self.records:
            out[name.split(":")[0]] += end - start - child[sid]
        return dict(out)

    def coverage(self, t0: float, t1: float) -> float:
        """Share of [t0, t1] covered by top-level spans."""
        top = sum(
            min(end, t1) - max(start, t0)
            for _, _, start, end, parent in self.records
            if parent is None and end > t0 and start < t1
        )
        return top / (t1 - t0)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for sid, name, start, end, parent in self.records:
                fh.write(
                    json.dumps(
                        {"run": self.run_id, "id": sid, "name": name,
                         "start": start, "end": end, "parent": parent}
                    )
                    + "\n"
                )


class StatusProbe:
    """Per-job-group counters from ``statusTracker()`` and
    ``statusStore().lastStageAttempt``."""

    KEYS = (
        "jobs", "stages", "tasks", "single_task_stages", "executor_run_s",
        "shuffle_write_mb", "failed_tasks", "exec_s",
    )

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        jsc = self.sc._jsc.sc()
        self.store = jsc.statusStore()
        self.bus = jsc.listenerBus()

    def set_group(self, group: str | None) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", group)

    def group(self, group: str) -> dict[str, float]:
        """Counters for every job of ``group``. ``exec_s`` is the union
        of the jobs' submit→complete intervals."""
        # the status listener runs on the listener bus: drain it so the
        # store holds the final state of every job that already returned
        self.bus.waitUntilEmpty()
        out = dict.fromkeys(self.KEYS, 0.0)
        spans = []
        for job_id in self.tracker.getJobIdsForGroup(group):
            job = self.store.job(job_id)
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                spans.append((sub.get().getTime(), done.get().getTime()))
            out["jobs"] += 1
            info = self.tracker.getJobInfo(job_id)
            for stage_id in info.stageIds if info else ():
                st = self.store.lastStageAttempt(stage_id)
                if st.status().toString() == "SKIPPED":
                    continue
                n = st.numTasks()
                out["stages"] += 1
                out["tasks"] += n
                out["single_task_stages"] += n == 1
                out["failed_tasks"] += st.numFailedTasks()
                out["executor_run_s"] += st.executorRunTime() / 1e3
                out["shuffle_write_mb"] += st.shuffleWriteBytes() / 2**20
        end = float("-inf")
        for a, b in sorted(spans):
            out["exec_s"] += max(0, b - max(a, end)) / 1e3
            end = max(end, b)
        return out

    def storage(self) -> tuple[int, float]:
        """(persisted RDD count, MiB they hold in memory and on disk)."""
        rdds = self.store.rddList(True)
        n, size = rdds.size(), 0
        for i in range(n):
            r = rdds.apply(i)
            size += r.memoryUsed() + r.diskUsed()
        return n, size / 2**20

    def self_check(self, group: str) -> None:
        """Raise unless ``group`` ran at least one job: a probe that
        reads nothing must fail loudly, not report zeros."""
        if self.group(group)["jobs"] <= 0:
            raise RuntimeError(f"status probe saw no jobs for job group {group!r}")
