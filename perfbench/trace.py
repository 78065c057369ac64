"""Spans around the engine's public calls, plus Spark's per-span counters.

A traced run wraps each layer call the benchmark makes in a span (name,
start, end, parent, op id).  Every span runs its Spark work under its own
job group; after the op, the counters of that group's jobs (tasks, task
time, CPU, GC, shuffle bytes) are read from the driver's status store.
Reading the store runs no Spark job.  An untraced run uses the same
``Tracer`` with ``enabled=False``: ``span`` then records nothing and sets no
job group.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import time
import uuid
from dataclasses import asdict, dataclass, field

COUNTERS = (
    "jobs", "tasks", "task_busy_s", "task_cpu_s", "gc_s",
    "shuffle_read_bytes", "shuffle_write_bytes",
)


class SparkCounters:
    """Task metrics of the jobs run under one job group.

    Job ids come from ``statusTracker()``; stage metrics from the
    ``AppStatusStore`` (``stageData(stage, details=False, taskStatus=[],
    withSummaries=False, unsortedQuantiles=[])``), which also works with
    ``spark.ui.enabled=false``."""

    def __init__(self, sc):
        self.sc = sc
        self._tracker = sc.statusTracker()
        self._store = sc._jsc.sc().statusStore()

    def drain(self) -> None:
        """Wait until the listener bus has delivered every finished job to
        the status store (it is updated asynchronously)."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def for_group(self, group: str) -> dict:
        jvm = self.sc._jvm
        out = dict.fromkeys(COUNTERS, 0)
        stages: set[int] = set()
        jobs = self._tracker.getJobIdsForGroup(group)
        out["jobs"] = len(jobs)
        for j in jobs:
            info = self._tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        for s in sorted(stages):
            attempts = self._store.stageData(
                s, False, jvm.java.util.ArrayList(), False,
                self.sc._gateway.new_array(jvm.double, 0),
            )
            for i in range(attempts.size()):
                d = attempts.apply(i)
                if d.status().toString() == "SKIPPED":
                    continue
                out["tasks"] += d.numCompleteTasks()
                out["task_busy_s"] += d.executorRunTime() / 1e3
                out["task_cpu_s"] += d.executorCpuTime() / 1e9
                out["gc_s"] += d.jvmGcTime() / 1e3
                out["shuffle_read_bytes"] += d.shuffleReadBytes()
                out["shuffle_write_bytes"] += d.shuffleWriteBytes()
        return out


@dataclass
class Span:
    id: int
    name: str
    op: int | None
    parent: int | None
    start: float
    end: float = 0.0
    group: str = ""
    counters: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._reader = SparkCounters(sc) if enabled else None
        # job groups must not collide with another tracer's in this context
        self._prefix = f"perfbench-{uuid.uuid4().hex[:12]}"

    @contextlib.contextmanager
    def span(self, name: str, op: int | None = None):
        """Time ``name``; its Spark jobs run under the span's job group.
        ``op`` defaults to the enclosing span's op id."""
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = parent.op
        sp = Span(
            id=len(self.spans), name=name, op=op,
            parent=parent.id if parent else None, start=time.perf_counter(),
        )
        sp.group = f"{self._prefix}-span-{sp.id}"
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(sp.group, name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc._jsc.clearJobGroup()

    def collect_counters(self) -> None:
        """Fill in the Spark counters of every finished span that has none
        yet.  Call between ops, outside any timed region."""
        if not self.enabled:
            return
        self._reader.drain()
        for sp in self.spans:
            if not sp.counters and sp.end:
                sp.counters = self._reader.for_group(sp.group)

    def children(self, sp: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == sp.id]

    def subtree_counters(self, sp: Span) -> dict:
        """Counters of ``sp`` and every span below it."""
        out = dict(sp.counters) or dict.fromkeys(COUNTERS, 0)
        for c in self.children(sp):
            for k, v in self.subtree_counters(c).items():
                out[k] += v
        return out

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps(asdict(sp)) + "\n")


def spark_layers(tracer: Tracer, ops: list[Span]) -> dict:
    """``spark.<counter>``: per-op median of each counter over ``ops``,
    each op counted with every span below it."""
    per_op = [tracer.subtree_counters(sp) for sp in ops]
    return {
        f"spark.{c}": float(statistics.median(o[c] for o in per_op))
        for c in COUNTERS
    } if per_op else {}
