"""Spans around the benchmark's calls into the engine.

A span records its name, parent, start and end, and runs its Spark jobs
under a job group of its own (``SparkContext.setJobGroup``), so the
jobs, stages and stage metrics of each call can be read back from the
status store once the run has finished. Spans stay in memory until
``finish``; nothing inside the engine is instrumented.

A disabled tracer yields ``None`` spans and touches neither the job
groups nor the clock, so untraced runs pay nothing for it.
"""

from __future__ import annotations

import itertools
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from stats import self_time

#: StageData fields summed per span (all in ms or bytes).
STAGE_FIELDS = {
    "executor_run_ms": "executorRunTime",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "memory_spill_bytes": "memoryBytesSpilled",
    "disk_spill_bytes": "diskBytesSpilled",
    "gc_ms": "jvmGcTime",
}


@dataclass
class Span:
    name: str
    id: int
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)
    # filled by Tracer.finish from the status store
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    stage_totals: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0

    @property
    def group(self) -> str:
        return f"perfbench-{self.id}"


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _set_group(self, span: Span | None) -> None:
        sc = self.spark.sparkContext
        if span is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(span.group, span.name, False)

    @contextmanager
    def span(self, name: str, active: bool = True, **attrs):
        """Time the block as a span named ``name`` under the calling
        thread's open span; yields None when tracing is off or the
        caller passes ``active=False``."""
        if not (self.enabled and active):
            yield None
            return
        stack = self._stack()
        with self._lock:
            span_id = next(self._ids)
        span = Span(name, span_id, stack[-1].id if stack else None, 0.0, attrs=attrs)
        stack.append(span)
        self._set_group(span)
        span.start = time.perf_counter()
        try:
            yield span
        finally:
            span.end = time.perf_counter()
            stack.pop()
            self._set_group(stack[-1] if stack else None)
            with self._lock:
                self.spans.append(span)

    def finish(self) -> None:
        """Read every span's jobs and stage metrics back from the status
        store, after the listener bus has delivered all events."""
        if not self.enabled:
            return
        sc = self.spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker, store = sc.statusTracker(), sc._jsc.sc().statusStore()
        for span in self.spans:
            totals = dict.fromkeys(STAGE_FIELDS, 0)
            for job_id in tracker.getJobIdsForGroup(span.group):
                span.jobs += 1
                info = tracker.getJobInfo(job_id)
                for stage_id in info.stageIds if info is not None else ():
                    data = store.lastStageAttempt(stage_id)
                    if data.status().toString() == "SKIPPED":
                        continue
                    span.stages += 1
                    span.tasks += data.numTasks()
                    for key, getter in STAGE_FIELDS.items():
                        totals[key] += getattr(data, getter)()
            span.stage_totals = totals

    def self_ms(self, span: Span) -> float:
        children = [(c.start, c.end) for c in self.spans if c.parent == span.id]
        return self_time(span.start, span.end, children) * 1000.0

    def children(self, span: Span, name: str | None = None) -> list[Span]:
        return [c for c in self.spans if c.parent == span.id and (name is None or c.name == name)]

    def dump(self) -> list[dict]:
        return [
            {
                "name": s.name,
                "id": s.id,
                "parent": s.parent,
                "ms": round(s.ms, 3),
                "self_ms": round(self.self_ms(s), 3),
                "jobs": s.jobs,
                "stages": s.stages,
                "tasks": s.tasks,
                **s.stage_totals,
                **s.attrs,
            }
            for s in self.spans
        ]


def catalyst_phases(df) -> dict[str, float]:
    """Analysis, optimization and planning time (ms) of ``df``'s own
    QueryExecution, planning it first if no action has done so."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        got = phases.get(phase)
        out[phase] = float(got.get().durationMs()) if got.isDefined() else 0.0
    return out
