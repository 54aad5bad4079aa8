"""Spans around the benchmark's calls into the program's layers.

A span records name, start, end, parent span and operation id. When
tracing is on, the Spark counters are read at both edges of every
layer span: the highest job id from ``statusTracker()`` and the task,
run-time, GC, input, shuffle-write and storage-memory totals of
``statusStore().executorList(false)``. Both are fed by the listener
bus, which lags the action that caused them, so every read first waits
for the bus to drain; without that the same run read 889 jobs once and
888 the next time. Both sources work with the Spark UI disabled.

When tracing is off, ``span`` does nothing but yield, so the untraced
run times the program, not the tracer.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

COUNTERS = ("jobs", "tasks", "task_ms", "gc_ms", "input_b", "shuffle_w_b",
            "storage_b")


class SparkStatus:
    """Reads the session's listener-fed status after draining the bus."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        jsc = self._sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()

    def counters(self) -> dict:
        self._bus.waitUntilEmpty()
        ids = self._sc.statusTracker().getJobIdsForGroup()
        out = dict.fromkeys(COUNTERS, 0)
        out["jobs"] = max(ids) + 1 if ids else 0
        execs = self._store.executorList(False)
        for i in range(execs.size()):
            e = execs.apply(i)
            out["tasks"] += e.totalTasks()
            out["task_ms"] += e.totalDuration()
            out["gc_ms"] += e.totalGCTime()
            out["input_b"] += e.totalInputBytes()
            out["shuffle_w_b"] += e.totalShuffleWrite()
            out["storage_b"] += e.memoryUsed()
        return out

    def job_intervals(self, first: int, end: int) -> list:
        """(submitted, completed) wall-clock seconds of jobs
        ``first .. end-1``, for the jobs the store still holds."""
        from py4j.protocol import Py4JJavaError

        out = []
        for jid in range(first, end):
            try:
                job = self._store.job(jid)
            except Py4JJavaError:  # evicted from the store
                continue
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                out.append((sub.get().getTime() / 1e3,
                            done.get().getTime() / 1e3))
        return out


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.status: SparkStatus | None = None
        self.spans: list[dict] = []
        self.op: str | None = None
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "name": name, "op": self.op,
               "parent": self._stack[-1] if self._stack else None, **attrs}
        self.spans.append(rec)
        if self.status is not None:
            rec["c0"] = self.status.counters()
        self._stack.append(rec["id"])
        rec["t0"], rec["wall0"] = time.perf_counter(), time.time()
        try:
            yield rec
        finally:
            rec["t1"] = time.perf_counter()
            self._stack.pop()
            if self.status is not None:
                rec["c1"] = self.status.counters()
