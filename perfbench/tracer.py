"""Spans around calls into the program's layers, measured from outside.

A :class:`Tracer` keeps spans (name, start, end, parent span, op id) in
memory and writes them once, at the end of a run. Each span runs its
Spark jobs under a job group of its own; when the span closes, the
stages of those jobs are read back from Spark's status store, which
gives executor run time, executor CPU time, GC time, shuffle-write
bytes, spill and task counts per span. This works with the Spark UI
disabled.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import time
from dataclasses import asdict, dataclass, field

from py4j.protocol import Py4JJavaError

_STAGE_FIELDS = (
    ("run_ms", "executorRunTime"),
    ("cpu_ns", "executorCpuTime"),
    ("gc_ms", "jvmGcTime"),
    ("shuffle_bytes", "shuffleWriteBytes"),
    ("spill_mem", "memoryBytesSpilled"),
    ("spill_disk", "diskBytesSpilled"),
    ("tasks", "numCompleteTasks"),
)


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    op: int | None
    start: float
    end: float = 0.0
    jobs: list[int] = field(default_factory=list)
    stages: dict[str, int] = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self.op: int | None = None
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self._prefix = f"perfbench-{time.monotonic_ns()}-"

    @contextlib.contextmanager
    def span(self, name: str):
        """Time the block as span ``name``; on exit its Spark stage
        counters (and its children's) are in ``span.stages``."""
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        s = Span(next(self._ids), name, parent.sid if parent else None, self.op, 0.0)
        self._stack.append(s)
        sc.setJobGroup(self._prefix + str(s.sid), name)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(self._prefix + str(parent.sid), parent.name)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
            self._collect(s)
            if parent is not None:
                parent.jobs.extend(s.jobs)
                for k, v in s.stages.items():
                    parent.stages[k] = parent.stages.get(k, 0) + v
            self.spans.append(s)

    def _collect(self, s: Span) -> None:
        """Read the finished jobs of span ``s``'s own job group."""
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        store = jsc.statusStore()
        own = list(tracker.getJobIdsForGroup(self._prefix + str(s.sid)))
        s.jobs.extend(own)
        for job in own:
            info = tracker.getJobInfo(job)
            for stage_id in info.stageIds if info else ():
                try:
                    st = store.lastStageAttempt(stage_id)
                except Py4JJavaError:  # skipped stage: never attempted
                    continue
                for key, getter in _STAGE_FIELDS:
                    s.stages[key] = s.stages.get(key, 0) + int(getattr(st, getter)())

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")
