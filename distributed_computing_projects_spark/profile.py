"""One profile of one query run, read from Spark's own status stores.

Where the reference reports one elapsed time per MapleJuice job
(mp3/src/maplejuice.go:204-205), ``run`` splits a registry query's wall
time by layer: the ``fn`` call before the action, the action, jobs,
stages and tasks, executor run/CPU/GC time, shuffle and spill, task
skew, parallel efficiency, Python-worker time, and the final AQE plan
with per-node metrics. Jobs and stages come from
``sc._jsc.sc().statusStore()``, SQL executions, plans and plan-node
metrics (Python time among them, so no profiler conf is set) from
``sharedState().statusStore()``; both fill with the UI off. A ``noop``
write forces the result, and its own SQL execution holds the plan AQE
ran (``df.count()`` would plan a new query).
"""

from __future__ import annotations

import re
import time
import uuid
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

# metric strings as the SQL status store formats them: durations by
# Utils.msDurationToString, sizes by Utils.bytesToString
_UNITS = {"": 1, "ms": 1e-3, "s": 1, "m": 60, "h": 3600, "B": 1,
          "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
          "PiB": 2**50, "EiB": 2**60}
_VALUE = re.compile(r"([\d.,]+) ?([A-Za-z]*)$")
PYTHON_RUN = "time to run Python workers"
# pyspark/worker.py stamps a reused worker's start before it blocks on
# its next task, so this also counts the worker's idle time since its
# previous task: Python work is PYTHON_RUN
PYTHON_INIT = "time to initialize Python workers"


@contextmanager
def job_group(spark):
    """Run the block under a fresh Spark job group. Yields a function
    that returns the sorted ids of the jobs the group has started so
    far; it keeps working after the block exits."""
    sc = spark.sparkContext
    group = f"profile-{uuid.uuid4().hex}"

    def jobs() -> list[int]:
        # job events reach the status stores through the asynchronous
        # listener bus; drain it so no finished job is missed
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return sorted(sc.statusTracker().getJobIdsForGroup(group))

    sc.setJobGroup(group, group)
    try:
        yield jobs
    finally:
        sc.setJobGroup(None, None)


def _metric(text: str) -> float | None:
    """A plan-node metric as a number (the total of the "total (min,
    med, max ...)" form): durations in seconds, sizes in bytes;
    averages are skipped."""
    m = _VALUE.match(text.rsplit("\n", 1)[-1].split(" (")[0])
    if m is None or m.group(2) not in _UNITS:
        return None
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]


def _nodes(sql, execution_id: int) -> list[dict]:
    """Every node of an execution's (final) plan graph with its
    non-zero metrics."""
    values = sql.executionMetrics(execution_id)
    out = []
    nodes = sql.planGraph(execution_id).allNodes().iterator()
    while nodes.hasNext():
        node = nodes.next()
        metrics = {}
        it = node.metrics().iterator()
        while it.hasNext():
            m = it.next()
            v = values.get(m.accumulatorId())
            if v.isDefined() and (number := _metric(v.get())):
                metrics[m.name()] = number
        out.append({"node": node.name(), "metrics": metrics})
    return out


def _stages(sc, jobs: list[int]) -> list[dict]:
    """Per-stage figures of the stages the jobs ran (skipped stages,
    whose output an earlier job had already written, are left out)."""
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    ids = sorted({s for j in jobs for s in tracker.getJobInfo(j).stageIds})
    out = []
    for sid in ids:
        try:
            sd = store.lastStageAttempt(sid)
        except Py4JJavaError:
            # past spark.ui.retainedStages the store evicts skipped
            # stages first, newest ones included
            continue
        if sd.status().toString() == "SKIPPED":
            continue
        out.append({
            "stage": sid, "attempt": sd.attemptId(), "tasks": sd.numTasks(),
            "executor_run_s": sd.executorRunTime() / 1e3,
            "executor_cpu_s": sd.executorCpuTime() / 1e9,
            "jvm_gc_s": sd.jvmGcTime() / 1e3,
            "shuffle_write_mb": sd.shuffleWriteBytes() / 1e6,
            "spill_mb": (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / 1e6,
        })
    return out


def _task_skew(sc, stage: dict) -> float | None:
    """Max over median task duration of one stage."""
    gw = sc._gateway
    quantiles = gw.new_array(gw.jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0
    summary = sc._jsc.sc().statusStore().taskSummary(
        stage["stage"], stage["attempt"], quantiles)
    if not summary.isDefined():
        return None
    duration = summary.get().duration()
    return duration.apply(1) / duration.apply(0) if duration.apply(0) else None


def _first_line(plan: str) -> str:
    return next(ln for ln in plan.splitlines() if ln and not ln.startswith("=="))


def _executions(spark, jobs: list[int]) -> dict[int, dict]:
    """The SQL executions the jobs ran in, by execution id."""
    store = spark.sparkContext._jsc.sc().statusStore()
    sql = spark._jsparkSession.sharedState().statusStore()
    out: dict[int, dict] = {}
    for j in jobs:
        eid = store.jobWithAssociatedSql(j)._2()
        if eid.isDefined():
            out.setdefault(eid.get(), {"id": eid.get(), "jobs": []})["jobs"].append(j)
    for eid, rec in out.items():
        e = sql.execution(eid).get()
        end = e.completionTime()
        rec["duration_s"] = (
            (end.get().getTime() - e.submissionTime()) / 1e3
            if end.isDefined() else None)
        rec["plan"] = _first_line(e.physicalPlanDescription())
    return out


def run(spark, fn, sf_dir: str) -> dict:
    """Run ``fn(spark, sf_dir)`` and force its result with a ``noop``
    write, both under one fresh job group, after clearing the cache so
    persisted intermediates are recomputed. Returns one JSON-able
    record; its scalar fields are the layer split, the lists and the
    plan text the detail."""
    sc = spark.sparkContext
    sql = spark._jsparkSession.sharedState().statusStore()
    spark.catalog.clearCache()
    with job_group(spark) as jobs:
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        t1 = time.perf_counter()
        before = jobs()
        t2 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        t3 = time.perf_counter()
    all_jobs = jobs()
    stages = _stages(sc, all_jobs)
    executions = _executions(spark, all_jobs)
    action_jobs = set(all_jobs) - set(before)
    action = max((e for e in executions.values() if action_jobs & set(e["jobs"])),
                 key=lambda e: e["id"], default=None)
    nodes = {eid: _nodes(sql, eid) for eid in executions}
    wall = (t1 - t0) + (t3 - t2)
    rec = {
        "pre_action_s": t1 - t0, "action_s": t3 - t2,
        "jobs": len(all_jobs), "stages": len(stages),
        "tasks": sum(s["tasks"] for s in stages),
    }
    for key in ("executor_run_s", "executor_cpu_s", "jvm_gc_s",
                "shuffle_write_mb", "spill_mb"):
        rec[key] = sum(s[key] for s in stages)
    largest = max(stages, key=lambda s: s["executor_run_s"], default=None)
    rec["task_skew"] = _task_skew(sc, largest) if largest else None
    rec["parallel_eff"] = rec["executor_run_s"] / (wall * sc.defaultParallelism)
    for key, metric in (("python_run_s", PYTHON_RUN),
                        ("python_init_s", PYTHON_INIT)):
        rec[key] = sum(n["metrics"].get(metric, 0.0)
                       for ns in nodes.values() for n in ns)
    rec["stage_list"] = stages
    rec["executions"] = sorted(executions.values(), key=lambda e: e["id"])
    rec["final_plan"] = None if action is None else (
        sql.execution(action["id"]).get().physicalPlanDescription())
    rec["plan_metrics"] = [] if action is None else nodes[action["id"]]
    return rec
