"""In-memory span tracer and Spark status-store readers for the traced run.

Spans are recorded from the benchmark's own code around calls into the
engine's layers; nothing inside the engine is instrumented. Before a span's
work runs, the Spark job group is set to the span id, so the jobs and stages
it launched can be read back from the status store afterwards (the store is
populated with the UI off).
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    span_id: str
    name: str
    parent: str | None
    run_id: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans in memory; ``write`` dumps them as JSON lines."""

    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1].span_id if self._stack else None
        sp = Span(f"{self.run_id}:{next(self._ids)}", name, parent, self.run_id, 0.0, attrs=dict(attrs))
        self._stack.append(sp)
        self.sc.setJobGroup(sp.span_id, name, interruptOnCancel=False)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1].span_id, self._stack[-1].name, interruptOnCancel=False)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(sp)

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.span_id]

    def self_time(self, span: Span) -> float:
        """Span duration minus the time its (sequential) children cover."""
        return span.duration - sum(c.duration for c in self.children(span))

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                row = {
                    "span_id": s.span_id,
                    "name": s.name,
                    "parent": s.parent,
                    "run_id": s.run_id,
                    "start": s.start,
                    "end": s.end,
                    "self_s": self.self_time(s),
                    **s.attrs,
                }
                f.write(json.dumps(row, default=str) + "\n")


def drain_listener_bus(sc, timeout_ms: int = 10_000) -> None:
    """Wait until the status store has seen every event posted so far."""
    sc._jsc.sc().listenerBus().waitUntilEmpty(timeout_ms)


def group_stats(sc, group: str) -> dict:
    """Jobs, tasks, bytes, spill, executor run time, GC and the wall time
    covered by at least one running job, for one job group, read from
    Spark's status store."""
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    out = dict(jobs=0, tasks=0, input_bytes=0, output_bytes=0, shuffle_write_bytes=0,
               spill_bytes=0, run_s=0.0, gc_s=0.0, job_wall_s=0.0)
    intervals = []
    for job_id in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job_id)
        if info is None:
            continue
        out["jobs"] += 1
        data = store.job(job_id)
        start, end = data.submissionTime(), data.completionTime()
        if start.isDefined() and end.isDefined():
            intervals.append((start.get().getTime(), end.get().getTime()))
        for stage_id in info.stageIds:
            try:
                st = store.lastStageAttempt(stage_id)
            except Exception:  # skipped stage: never ran, no attempt recorded
                continue
            out["tasks"] += st.numCompleteTasks()
            out["input_bytes"] += st.inputBytes()
            out["output_bytes"] += st.outputBytes()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.diskBytesSpilled()
            out["run_s"] += st.executorRunTime() / 1000.0
            out["gc_s"] += st.jvmGcTime() / 1000.0
    out["job_wall_s"] = _union_ms(intervals) / 1000.0
    return out


def _union_ms(intervals: list[tuple[int, int]]) -> int:
    """Total length of the union of [start, end] intervals."""
    total, cur_start, cur_end = 0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def jvm_gc_seconds(sc) -> float:
    """Total collection time of the driver JVM's garbage collectors."""
    beans = sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1000.0


def jvm_heap_peak_mb(sc, reset: bool = False) -> float:
    """Sum of the peak used sizes of the driver JVM's heap memory pools
    since their last reset, in MiB; ``reset`` starts a new peak."""
    total = 0
    for pool in sc._jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans():
        if pool.getType().name() == "HEAP":
            total += pool.getPeakUsage().getUsed()
            if reset:
                pool.resetPeakUsage()
    return total / 2**20


def python_seconds(df) -> float:
    """Time Python workers spent in the ``mapInPandas``/Arrow nodes of a
    DataFrame's executed plan (Spark's ``pythonTotalTime`` SQL metric,
    summed over tasks), read after the DataFrame was collected."""
    total_ms, stack = 0, [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if kind.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        metric = node.metrics().get("pythonTotalTime")
        if metric.isDefined():
            total_ms += metric.get().value()
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return total_ms / 1000.0
