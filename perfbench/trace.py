"""In-memory spans and Spark status-store rollups for the traced run.

Spans are recorded only around the calls the benchmark itself makes
into the program's layers (builder, action, processor ``run()``, drain
call); nothing inside the package is instrumented. A span has a name,
a layer, start and end, its parent span and the op (request) it belongs
to. The spans stay in memory and are written out once, at exit.

A layer's self time is the time its spans cover minus the part of that
interval their child spans cover. Spans opened by the benchmark's own
op bookkeeping carry the layer ``bench``.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """Span recorder. A disabled tracer records nothing and costs one
    attribute check per span; a traced run turns it off for the ops it
    runs untraced."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op = 0

    def new_op(self) -> int:
        self.op += 1
        return self.op

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op,
            "name": name,
            "layer": layer,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[str, float]:
        """Seconds of self time per layer. Children run on the same
        thread as their parent, so they never overlap each other."""
        child_time: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["end"] is not None:
                out[s["layer"]] += s["end"] - s["start"] - child_time[s["id"]]
        return dict(out)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_s": self.self_times()}, f)


class StageRollup:
    """Per-op rollup of the Spark jobs an op started, read from the
    driver's status store (kept even with the UI off).

    Jobs are found by id range: the scheduler numbers jobs in submit
    order and one client runs at a time, so the jobs submitted between
    two marks belong to the op between them (streaming drains run their
    jobs on the query's own thread, out of reach of a job group)."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()
        self._store = self._sc.statusStore()
        gw = sc._gateway
        self._q = gw.new_array(gw.jvm.double, 2)
        self._q[0], self._q[1] = 0.5, 1.0
        self.last_job = self.max_job_id()

    def _sync(self) -> None:
        # Job and stage events reach the store through the listener bus
        # asynchronously; drain it before reading.
        self._sc.listenerBus().waitUntilEmpty()

    def max_job_id(self) -> int:
        self._sync()
        jobs = self._store.jobsList(None)
        return jobs.apply(0).jobId() if jobs.size() else -1

    def jobs_since(self, mark: int) -> list:
        """Jobs with an id above ``mark``; the store lists newest first."""
        self._sync()
        jobs = self._store.jobsList(None)
        out = []
        for i in range(jobs.size()):
            job = jobs.apply(i)
            if job.jobId() <= mark:
                break
            out.append(job)
        return out

    def take(self) -> dict[str, float]:
        """Counts for every job submitted since the previous ``take``."""
        jobs = self.jobs_since(self.last_job)
        if jobs:
            self.last_job = max(j.jobId() for j in jobs)
        out = {
            "jobs": len(jobs), "stages": 0, "tasks": 0, "failed_tasks": 0,
            "shuffle_read_bytes": 0, "shuffle_write_bytes": 0, "spill_bytes": 0,
        }
        skews = []
        stage_ids = sorted({j.stageIds().apply(k) for j in jobs for k in range(j.stageIds().size())})
        for sid in stage_ids:
            st = self._store.lastStageAttempt(sid)
            if st.status().toString() != "COMPLETE":
                continue  # skipped: its shuffle output was reused
            out["stages"] += 1
            out["tasks"] += st.numTasks()
            out["failed_tasks"] += st.numFailedTasks()
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            if st.numTasks() > 1:
                summ = self._store.taskSummary(sid, st.attemptId(), self._q)
                if summ.isDefined():
                    run = summ.get().executorRunTime()
                    med, mx = run.apply(0), run.apply(1)
                    skews.append(mx / med if med > 0 else 1.0)
        out["skew"] = skews
        return out


def rollup_means(samples: list[dict]) -> dict[str, float]:
    """Per-op means of StageRollup counts plus the mean task skew over
    every multi-task stage seen."""
    keys = ("jobs", "stages", "tasks", "failed_tasks",
            "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")
    n = max(len(samples), 1)
    out = {f"exec.{k}": sum(s[k] for s in samples) / n for k in keys}
    skews = [x for s in samples for x in s["skew"]]
    out["exec.task_skew"] = statistics.fmean(skews) if skews else 1.0
    return out
