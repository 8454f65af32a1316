"""Spark's own metrics, read through py4j after an action.

- plan SQL metrics walked from the final adaptive plan,
- ``QueryExecution.tracker()`` phase times,
- per-stage totals from the status store for a job group,
- the JVM's garbage-collector MXBeans,
- micro-batch phases from ``StreamingQuery.recentProgress``.
"""

from __future__ import annotations

from datetime import datetime

from py4j.protocol import Py4JError

MIB = 1024.0 * 1024.0

# Micro-batch phases in the order MicroBatchExecution runs them.
BATCH_PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")


def _seq(jseq):
    return [jseq.apply(i) for i in range(jseq.size())]


def plan_nodes(plan):
    """Every physical node of ``plan``, descending through the final
    adaptive plan and query stages."""
    todo = [plan]
    while todo:
        node = todo.pop()
        yield node
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.finalPhysicalPlan())
        elif cls.endswith("QueryStageExec"):
            todo.append(node.plan())
        else:
            todo.extend(_seq(node.children()))


def node_metrics(jvm, node) -> dict[str, int]:
    m = node.metrics()
    keys = jvm.scala.jdk.javaapi.CollectionConverters.asJava(m.keySet())
    return {k: m.apply(k).value() for k in keys}


def plan_metrics(jvm, plan) -> dict[str, dict[str, int]]:
    """SQL metrics summed per node class (``FlatMapGroupsInPandasExec``,
    ``ShuffleExchangeExec``, ...)."""
    out: dict[str, dict[str, int]] = {}
    for node in plan_nodes(plan):
        cls = node.getClass().getSimpleName()
        acc = out.setdefault(cls, {})
        for k, v in node_metrics(jvm, node).items():
            acc[k] = acc.get(k, 0) + v
    return out


def tracker_phases(qe) -> dict[str, float]:
    """Catalyst phase times (seconds) of one QueryExecution."""
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = opt.get().durationMs() / 1000.0 if opt.isDefined() else 0.0
    return out


def job_group_stats(spark, group: str) -> dict[str, float]:
    """Jobs, stages, tasks, shuffle-write and disk-spill bytes of every
    job run under ``group`` that the status store still holds."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jobs = tracker.getJobIdsForGroup(group)
    stages = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    tasks = shuffle = spill = 0
    for sid in stages:
        try:
            sd = store.lastStageAttempt(sid)
        except Py4JError:  # stage skipped (shuffle reused): never attempted
            continue
        tasks += sd.numTasks()
        shuffle += sd.shuffleWriteBytes()
        spill += sd.diskBytesSpilled()
    return {
        "jobs": len(jobs),
        "stages": len(stages),
        "tasks": tasks,
        "shuffle_mb": shuffle / MIB,
        "spill_mb": spill / MIB,
    }


def gc_totals(spark) -> tuple[int, float]:
    """(collections, seconds) summed over the JVM's collectors."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    count = secs = 0
    for b in beans:
        count += max(b.getCollectionCount(), 0)
        secs += max(b.getCollectionTime(), 0) / 1000.0
    return count, secs


def progress_start(p: dict) -> float:
    """Start of a micro-batch (epoch seconds) from its progress event."""
    return datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
