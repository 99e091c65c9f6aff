"""In-memory spans and Spark counters for the benchmark.

Spans are recorded from the benchmark's own code around each call into
the package (run -> pass -> query or io step -> build/exec), kept in
memory and written out once at exit. Spark counters are read from the
driver's status store at the same boundaries; they are collected only
in a traced run, because draining the listener bus after every step
costs wall time.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Span:
    __slots__ = ("id", "parent", "name", "kind", "start", "end")

    def __init__(self, id_: int, parent: int | None, name: str, kind: str, start: float):
        self.id, self.parent, self.name, self.kind = id_, parent, name, kind
        self.start, self.end = start, start

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, kind: str):
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), parent, name, kind, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> list[tuple[str, float]]:
        """Per span kind: its spans' time not covered by child spans."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.duration
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.kind] = out.get(s.kind, 0.0) + s.duration - child[s.id]
        return sorted(out.items(), key=lambda kv: -kv[1])

    def write(self, path: str, meta: dict) -> None:
        t0 = self.spans[0].start if self.spans else 0.0
        with open(path, "w") as f:
            json.dump(
                {
                    "meta": meta,
                    "spans": [
                        {
                            "id": s.id,
                            "parent": s.parent,
                            "name": s.name,
                            "kind": s.kind,
                            "start_s": s.start - t0,
                            "end_s": s.end - t0,
                        }
                        for s in self.spans
                    ],
                },
                f,
                indent=1,
            )


class SparkCounters:
    """Per-step Spark counters, summed over the stages of the step's job
    group as the driver's status store records them.

    Stage data, not the executor summary: in local mode the executor's
    ``totalDuration`` grows with wall time while any task is active, so
    it cannot give task time."""

    FIELDS = ("tasks", "task_ms", "gc_ms", "input_b", "shuffle_read_b", "shuffle_write_b", "spill_b")

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()

    def begin(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def end(self, group: str) -> dict[str, int]:
        from py4j.protocol import Py4JJavaError

        self.jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stages: set[int] = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        store = self.jsc.statusStore()
        out = dict.fromkeys(self.FIELDS, 0)
        for sid in stages:
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:  # stage evicted from the status store
                continue
            out["tasks"] += st.numCompleteTasks()
            out["task_ms"] += st.executorRunTime()
            out["gc_ms"] += st.jvmGcTime()
            out["input_b"] += st.inputBytes()
            out["shuffle_read_b"] += st.shuffleReadBytes()
            out["shuffle_write_b"] += st.shuffleWriteBytes()
            out["spill_b"] += st.diskBytesSpilled()
        out["jobs"] = len(jobs)
        self.sc._jsc.clearJobGroup()
        return out
