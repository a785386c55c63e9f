"""Spans around the benchmark's calls into the engine, plus Spark counters.

Every span records a name, start, end, parent span and batch id. A span
opened with ``spark=True`` runs its body under its own Spark job group, and
on exit reads that group's jobs from the status tracker and each stage's
last attempt from the status store: job and task counts, executor run and
CPU time, shuffle write and spill bytes. Spans stay in memory and
are written once, by :meth:`Tracer.dump`.

With tracing off, :meth:`Tracer.span` yields a throwaway record and touches
neither the clock nor Spark's local properties, so the untraced run calls
the engine exactly as a user would.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

COUNTERS = ("jobs", "tasks", "run_s", "cpu_s", "shuffle_write_bytes", "spill_bytes")


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()
        self._groups = 0

    @contextmanager
    def span(self, name: str, batch=None, spark: bool = False):
        if not self.enabled:
            yield {}
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "batch": batch,
            "start": time.perf_counter() - self._t0,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        group = None
        if spark:
            self._groups += 1
            group = f"perfbench-{self._groups}"
            self.sc.setJobGroup(group, name, interruptOnCancel=False)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            self._stack.pop()
            if group is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
                rec["spark"] = self._harvest(group)

    def _harvest(self, group: str) -> dict:
        """Counters summed over every job the group ran."""
        jsc = self.sc._jsc.sc()
        # the status store is fed by the listener bus asynchronously
        jsc.listenerBus().waitUntilEmpty(10_000)
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        out = dict.fromkeys(COUNTERS, 0)
        for job_id in tracker.getJobIdsForGroup(group):
            out["jobs"] += 1
            info = tracker.getJobInfo(job_id)
            for stage_id in info.stageIds if info else ():
                try:
                    st = store.lastStageAttempt(stage_id)
                except Py4JJavaError:  # a stage the job skipped was never attempted
                    continue
                out["tasks"] += st.numCompleteTasks()
                out["run_s"] += st.executorRunTime() / 1e3
                out["cpu_s"] += st.executorCpuTime() / 1e9
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.memoryBytesSpilled()
        return out

    def dump(self, path: str, header: dict) -> None:
        with open(path, "w") as f:
            json.dump({"header": header, "spans": self.spans}, f)
