"""Spans around calls into the engine's layers, and per-op Spark
counters read from Spark's own status store.

Spans are kept in memory and written with the trace file at the end of
a traced run. Each span has a name, start, end, the span that caused
it, and free-form attributes (the op it belongs to, counters).
"""

from __future__ import annotations

import statistics
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        """Yield the span's attribute dict; the caller may add counters."""
        if not self.enabled:
            yield attrs
            return
        sid = len(self.spans)
        rec = {"id": sid, "parent": self._stack[-1] if self._stack else None,
               "name": name}
        self.spans.append(rec)
        self._stack.append(sid)
        start = time.perf_counter()
        try:
            yield attrs
        finally:
            rec.update(start=start, end=time.perf_counter(), **attrs)
            self._stack.pop()

    def total(self, name: str, **match) -> float:
        """Summed duration of the finished spans called ``name`` whose
        attributes include ``match``."""
        return sum(
            s["end"] - s["start"] for s in self.spans
            if s["name"] == name and "end" in s
            and all(s.get(k) == v for k, v in match.items())
        )


def spark_stats(sc, group: str) -> dict:
    """Jobs, stages and task metrics of every job run under the job
    group ``group`` (skipped stages are not counted)."""
    from py4j.protocol import Py4JJavaError

    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jobs = tracker.getJobIdsForGroup(group)
    stage_ids = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    out = {"jobs": len(jobs), "stages": 0, "tasks": 0, "executor_run_s": 0.0,
           "executor_cpu_s": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0,
           "task_skew": None}
    largest = None  # (run ms, stage id, attempt)
    for sid in stage_ids:
        try:
            sd = store.lastStageAttempt(sid)
        except Py4JJavaError:  # evicted or never submitted
            continue
        if sd.status().toString() == "SKIPPED":
            continue
        out["stages"] += 1
        out["tasks"] += sd.numTasks()
        out["executor_run_s"] += sd.executorRunTime() / 1e3
        out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
        out["shuffle_write_mb"] += sd.shuffleWriteBytes() / 1e6
        out["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / 1e6
        if largest is None or sd.executorRunTime() > largest[0]:
            largest = (sd.executorRunTime(), sid, sd.attemptId())
    if largest is not None:
        durations = []
        it = store.taskList(largest[1], largest[2], 100_000).iterator()
        while it.hasNext():
            d = it.next().duration()
            if d.isDefined():
                durations.append(d.get())
        if durations and statistics.median(durations) > 0:
            out["task_skew"] = max(durations) / statistics.median(durations)
    return out
