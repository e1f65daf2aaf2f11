"""In-memory tracing for the traced run.

Spans are recorded around calls into the engine's public functions, from
the benchmark's own process: the engine's files are not changed.  Every span
has a name, a start, an end, its parent span and the id of the request it
belongs to.  A layer's self time is its span time minus the part of it that
its child spans cover.

Spark work is attributed per request with a job group set on the thread that
runs the request; job, stage and task counts and stage metrics are read from
the status tracker and status store, which work with the UI off.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    request: str | None


def union_ms(intervals: list[tuple[float, float]]) -> float:
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


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id → self time in ms: duration minus the union of its direct
    children's intervals, clipped to the parent."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        kids = [(max(c.start, s.start), min(c.end, s.end)) for c in children.get(s.sid, [])]
        kids = [(a, b) for a, b in kids if b > a]
        out[s.sid] = ((s.end - s.start) - union_ms(kids)) * 1000.0
    return out


class Tracer:
    """Span recorder.  ``request`` is set by the client before each call; the
    benchmark runs one client with one outstanding request, so the current
    request id is a single value shared with the server's handler thread."""

    def __init__(self):
        self.spans: list[Span] = []
        self.request: str | None = None
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next = 0
        self.overhead_s = 0.0   # time spent inside the wrappers themselves
        self.spark: SparkStats | None = None

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def wrap(self, name: str, fn, on_enter=None):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            t_in = time.perf_counter()
            stack = tracer._stack()
            with tracer._lock:
                sid = tracer._next
                tracer._next += 1
            parent = stack[-1] if stack else None
            stack.append(sid)
            if on_enter is not None:
                on_enter(args, kwargs)
            start = time.perf_counter()
            tracer.overhead_s += start - t_in
            try:
                return fn(*args, **kwargs)
            finally:
                end = time.perf_counter()
                stack.pop()
                with tracer._lock:
                    tracer.spans.append(Span(sid, name, start, end, parent, tracer.request))
                tracer.overhead_s += time.perf_counter() - end
        return traced

    def patch(self, owner, attr: str, name: str, on_enter=None) -> None:
        setattr(owner, attr, self.wrap(name, getattr(owner, attr), on_enter))

    def dump(self, path: str) -> None:
        st = self_times(self.spans)
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps({**asdict(s), "self_ms": st[s.sid]}) + "\n")


class SparkStats:
    """Per-request Spark scheduler counts, read after the request ends."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.store = self.sc._jsc.sc().statusStore()

    def begin(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def harvest(self, group: str, wall_ms: float, timeout_s: float = 5.0) -> dict:
        """Counts for the jobs of one group.  Job-end events reach the status
        store asynchronously, so wait until no job of the group is running."""
        deadline = time.monotonic() + timeout_s
        while True:
            jobs = list(self.tracker.getJobIdsForGroup(group))
            infos = [self.tracker.getJobInfo(j) for j in jobs]
            if all(i is not None and i.status != "RUNNING" for i in infos) or \
                    time.monotonic() > deadline:
                break
            time.sleep(0.01)
        from py4j.protocol import Py4JJavaError

        stages, tasks, run_ms, shuffle, spans = 0, 0, 0.0, 0, []
        for info in infos:
            if info is None:
                continue
            for sid in info.stageIds:
                try:
                    sd = self.store.lastStageAttempt(sid)
                except Py4JJavaError:  # stage evicted from the store or never submitted
                    continue
                if sd.status().toString() != "COMPLETE":
                    continue
                stages += 1
                tasks += sd.numCompleteTasks()
                run_ms += sd.executorRunTime()
                shuffle += sd.shuffleReadBytes() + sd.shuffleWriteBytes()
                sub, comp = sd.submissionTime(), sd.completionTime()
                if sub.isDefined() and comp.isDefined():
                    spans.append((sub.get().getTime() / 1000.0, comp.get().getTime() / 1000.0))
        stage_ms = union_ms(spans) * 1000.0
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks,
                "executor_ms": run_ms, "driver_ms": max(0.0, wall_ms - stage_ms),
                "shuffle_mb": shuffle / 1e6}
