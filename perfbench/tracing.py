"""Spans and Spark status-store reads for the traced run.

The benchmark sees the engine only through its public calls, so a query's
Spark work is read back from Spark's own status store
(``sc._jsc.sc().statusStore()``), which is populated with the UI disabled.
Jobs are attributed by job-id range: every job id allocated between two
boundaries of one client thread belongs to the phase between them. That
holds for streaming micro-batches too, which run on their own thread under
their own job group but take ids from the same counter.
"""

from __future__ import annotations

import itertools
import json
import os
from dataclasses import dataclass, field

MB = 1024 * 1024


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float
    attrs: dict = field(default_factory=dict)


class Spans:
    """In-memory span list, written out once when the run ends."""

    def __init__(self) -> None:
        self.items: list[Span] = []
        self._ids = itertools.count(1)

    def add(self, name: str, parent: int | None, start: float, end: float, **attrs) -> int:
        sid = next(self._ids)
        self.items.append(Span(sid, name, parent, start, end, attrs))
        return sid

    def get(self, sid: int) -> Span:
        return self.items[sid - 1]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([vars(s) for s in self.items], f)


def _union_len(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of it that its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: (s.end - s.start) - _union_len(kids.get(s.id, []), s.start, s.end)
        for s in spans
    }


def _opt(o):
    """Scala Option -> value or None."""
    return o.get() if o.isDefined() else None


def _ms(opt_date) -> float | None:
    d = _opt(opt_date)
    return d.getTime() / 1000.0 if d is not None else None


class StatusStore:
    """Reads finished jobs and their stages from one SparkContext's store."""

    def __init__(self, sc) -> None:
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._dag = self._jsc.dagScheduler()

    def next_job_id(self) -> int:
        """The id the next submitted job will get: a boundary between phases."""
        # An AtomicInteger, which py4j hands over as its current value.
        return self._dag.nextJobId()

    def jobs(self, lo: int, hi: int) -> list[dict]:
        """Jobs with ids in [lo, hi), which have all ended.

        Waits for the listener bus to drain so they are in the store. Read
        right after each query: Spark keeps only ~1000 jobs and stages by
        default."""
        self._jsc.listenerBus().waitUntilEmpty()
        out = []
        for job_id in range(lo, hi):
            j = self._store.job(job_id)
            ids = j.stageIds()
            out.append({
                "job_id": job_id,
                "status": j.status().toString(),
                "group": _opt(j.jobGroup()),
                "start": _ms(j.submissionTime()),
                "end": _ms(j.completionTime()),
                "stage_ids": [ids.apply(i) for i in range(ids.size())],
            })
        return out

    def stage(self, stage_id: int) -> dict:
        s = self._store.lastStageAttempt(stage_id)
        return {
            "stage_id": stage_id,
            "status": s.status().toString(),
            "attempt": s.attemptId(),
            "start": _ms(s.submissionTime()),
            "end": _ms(s.completionTime()),
            "tasks": s.numTasks(),
            "failed_tasks": s.numFailedTasks(),
            "killed_tasks": s.numKilledTasks(),
            "task_s": s.executorRunTime() / 1000.0,
            "cpu_s": s.executorCpuTime() / 1e9,
            "gc_s": s.jvmGcTime() / 1000.0,
            "shuffle_write_mb": s.shuffleWriteBytes() / MB,
            "shuffle_read_mb": s.shuffleReadBytes() / MB,
            "spill_mb": (s.memoryBytesSpilled() + s.diskBytesSpilled()) / MB,
        }


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:  # a file removed while walking
                pass
    return total


class QueryTrace:
    """Spans and Spark counters of one query execution.

    ``phase(name, start, end, lo, hi)`` records a build/sink/free span and
    the jobs with ids in [lo, hi), which were submitted inside it."""

    def __init__(self, spans: Spans, store: StatusStore, parent: int) -> None:
        self.spans, self.store, self.parent = spans, store, parent
        self.seen_stages: set[int] = set()
        self.counts = {k: 0.0 for k in (
            "jobs", "stages", "tasks", "task_s", "cpu_s", "gc_s",
            "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "task_failures",
        )}
        self.job_time: dict[str, float] = {}

    def phase(self, name: str, start: float, end: float, lo: int, hi: int) -> int:
        sid = self.spans.add(name, self.parent, start, end)
        jobs = self.store.jobs(lo, hi)
        intervals = []
        for j in jobs:
            js, je = j["start"] or start, j["end"] or end
            intervals.append((js, je))
            jid = self.spans.add(
                "spark.job", sid, js, je,
                job_id=j["job_id"], status=j["status"], group=j["group"],
            )
            self.counts["jobs"] += 1
            for stage_id in j["stage_ids"]:
                if stage_id in self.seen_stages:
                    continue
                st = self.store.stage(stage_id)
                if st["status"] == "SKIPPED":
                    continue
                self.seen_stages.add(stage_id)
                self.spans.add(
                    "spark.stage", jid, st["start"] or js, st["end"] or je,
                    stage_id=stage_id, attempt=st["attempt"],
                )
                self.counts["stages"] += 1
                self.counts["tasks"] += st["tasks"]
                self.counts["task_failures"] += (
                    st["failed_tasks"] + st["killed_tasks"] + st["attempt"]
                )
                for k in ("task_s", "cpu_s", "gc_s", "shuffle_write_mb",
                          "shuffle_read_mb", "spill_mb"):
                    self.counts[k] += st[k]
        self.job_time[name] = _union_len(intervals, start, end)
        self.counts[f"{name}_jobs"] = len(jobs)
        return sid
