"""The Spark work of a block of driver code, read with the Spark UI off.

    with spark_work(spark, "search") as work:
        db.search("alpha beta")
    work.jobs, work.stages, work.tasks, work.driver_ms, work.per_stage

The block runs in a job group of its own; the caller's group is restored on
exit.  The group's jobs, their stages and the stages' task metrics are then
read from the status tracker and the application status store, which Spark
keeps with the UI off.  Job-end events reach the store asynchronously, so
the read first waits, at most ``_WAIT_S``, until no job of the group is
still running.  ``driver_ms`` is wall time minus the union of the stages'
spans.
"""

from __future__ import annotations

import itertools
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

_WAIT_S = 5.0
_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")
_blocks = itertools.count()


@dataclass
class SparkWork:
    """What one block ran; stage figures cover its jobs' completed stages."""

    name: str
    wall_ms: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_ms: float = 0.0
    executor_cpu_ms: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    input_mb: float = 0.0
    driver_ms: float = 0.0
    per_stage: list[dict] = field(default_factory=list)


def union_s(intervals) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


@contextmanager
def spark_work(spark, name: str):
    """Run the block in its own job group; fill the yielded ``SparkWork``
    on a normal exit."""
    sc = spark.sparkContext
    group = f"{name}#{next(_blocks)}"
    outer = {p: sc.getLocalProperty(p) for p in _GROUP_PROPS}
    work = SparkWork(name)
    sc.setJobGroup(group, name)
    t0 = time.perf_counter()
    try:
        yield work
    finally:
        work.wall_ms = (time.perf_counter() - t0) * 1000.0
        for p, v in outer.items():
            sc.setLocalProperty(p, v)  # None clears it
    _read(sc, group, work)


def _settled_jobs(sc, group: str) -> list:
    deadline = time.monotonic() + _WAIT_S
    tracker = sc.statusTracker()
    while True:
        infos = [tracker.getJobInfo(j) for j in tracker.getJobIdsForGroup(group)]
        if all(i is not None and i.status != "RUNNING" for i in infos) or time.monotonic() > deadline:
            return infos
        time.sleep(0.01)


def _read(sc, group: str, work: SparkWork) -> None:
    infos = _settled_jobs(sc, group)
    store = sc._jsc.sc().statusStore()
    spans, rows = [], work.per_stage
    for sid in sorted({s for i in infos if i is not None for s in i.stageIds}):
        try:
            sd = store.lastStageAttempt(sid)
        except Py4JJavaError:  # never submitted, or evicted from the store
            continue
        if sd.status().toString() != "COMPLETE":
            continue
        rows.append({
            "stage": sid, "name": sd.name()[:120], "tasks": sd.numCompleteTasks(),
            "run_ms": sd.executorRunTime(), "cpu_ms": round(sd.executorCpuTime() / 1e6, 3),
            "shuf_r_mb": round(sd.shuffleReadBytes() / 1e6, 6),
            "shuf_w_mb": round(sd.shuffleWriteBytes() / 1e6, 6),
            "in_mb": round(sd.inputBytes() / 1e6, 6),
        })
        sub, comp = sd.submissionTime(), sd.completionTime()
        if sub.isDefined() and comp.isDefined():
            spans.append((sub.get().getTime() / 1000.0, comp.get().getTime() / 1000.0))
    work.jobs, work.stages = len(infos), len(rows)
    work.tasks = sum(r["tasks"] for r in rows)
    work.executor_run_ms = sum(r["run_ms"] for r in rows)
    work.executor_cpu_ms = round(sum(r["cpu_ms"] for r in rows), 3)
    work.shuffle_read_mb = round(sum(r["shuf_r_mb"] for r in rows), 6)
    work.shuffle_write_mb = round(sum(r["shuf_w_mb"] for r in rows), 6)
    work.input_mb = round(sum(r["in_mb"] for r in rows), 6)
    work.driver_ms = max(0.0, work.wall_ms - union_s(spans) * 1000.0)
