"""Span recorder with Spark accounting, driven from outside the program.

A span marks one call into a layer: name, start, end, parent span and
run id, plus counters. Spark work is attributed through job groups:
entering a span sets a fresh ``spark.jobGroup.id`` on the calling
thread (restoring the parent's on exit), so every job the call runs is
tagged with the innermost open span. When the span closes its jobs,
stages, tasks, executor time and input/output/shuffle bytes are read
from the driver's status store at once, before
``spark.ui.retainedStages`` / ``retainedJobs`` can evict them.

Spans are kept in memory and written out by the caller when the run
ends. A disabled recorder opens no spans and touches no Spark state,
so the untraced run pays nothing.
"""

from __future__ import annotations

import functools
import itertools
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

_GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    span_id: int
    parent: int | None
    run_id: str
    layer: str
    name: str
    phase: str
    start: float
    end: float = 0.0
    # time spent reading this span's Spark accounting after it ended;
    # it lands inside the parent span, so self time subtracts it
    acct_s: float = 0.0
    counters: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class SpanRecorder:
    def __init__(self, spark, run_id: str, enabled: bool) -> None:
        self.spark = spark
        self.run_id = run_id
        self.enabled = enabled
        # the caller labels what the run is doing (setup, load, ...);
        # every span opened meanwhile carries the label
        self.phase = ""
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)

    @contextmanager
    def span(self, layer: str, name: str = ""):
        """Open a span around a call into ``layer``; yields the Span (or
        None when disabled) so the caller can add counters."""
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        s = Span(
            sid, parent.span_id if parent else None, self.run_id, layer,
            name or layer, self.phase, 0.0,
        )
        group = f"{self.run_id}-{sid}"
        prev = sc.getLocalProperty(_GROUP)
        sc.setLocalProperty(_GROUP, group)
        self._stack.append(s)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            sc.setLocalProperty(_GROUP, prev)
            s.counters.update(spark_counters(self.spark, group))
            s.acct_s = time.perf_counter() - s.end
            self.spans.append(s)

    def wrap(self, module, attr: str, layer: str, count=None) -> None:
        """Replace ``module.attr`` with a version that runs inside a
        span; ``count(span, result)`` may add counters."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(layer, attr) as s:
                out = fn(*args, **kwargs)
                if s is not None and count is not None:
                    count(s, out)
                return out

        setattr(module, attr, traced)

    def self_time(self, span: Span) -> float:
        """Duration minus what its direct children (and the reading of
        their accounting) cover."""
        kids = [c for c in self.spans if c.parent == span.span_id]
        return span.duration - sum(c.duration + c.acct_s for c in kids)

    def by_layer(self, phases: tuple[str, ...]) -> dict[str, dict]:
        """Per-layer sums of span time and counters over ``phases``."""
        out: dict[str, dict] = {}
        for s in self.spans:
            if s.phase not in phases:
                continue
            agg = out.setdefault(s.layer, {"time_s": 0.0, "calls": 0, "self_s": 0.0})
            agg["time_s"] += s.duration
            agg["self_s"] += self.self_time(s)
            agg["calls"] += 1
            for k, v in s.counters.items():
                agg[k] = agg.get(k, 0) + v
        return out

    def records(self) -> list[dict]:
        return [
            {
                "span_id": s.span_id, "parent": s.parent, "run_id": s.run_id,
                "layer": s.layer, "name": s.name, "phase": s.phase, "start": s.start,
                "end": s.end, "acct_s": s.acct_s, **s.counters,
            }
            for s in self.spans
        ]


def spark_counters(spark, group: str) -> dict:
    """Jobs, stages, tasks and I/O of every job tagged ``group``, read
    from the driver's status store (works with the UI disabled)."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    # job/stage end events reach the status store through the listener
    # bus asynchronously; drain it so the just-finished jobs are there
    jsc.listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    store = jsc.statusStore()
    c = {
        "jobs": 0, "stages": 0, "tasks": 0, "executor_run_s": 0.0,
        "input_bytes": 0, "input_records": 0, "output_bytes": 0,
        "shuffle_write_bytes": 0,
    }
    stage_ids: set[int] = set()
    for job_id in tracker.getJobIdsForGroup(group):
        c["jobs"] += 1
        info = tracker.getJobInfo(job_id)
        if info is not None:
            stage_ids.update(info.stageIds)
    for sid in stage_ids:
        try:
            st = store.lastStageAttempt(sid)
        except Py4JJavaError:  # never submitted (skipped) or evicted
            continue
        if st.status().toString() == "SKIPPED":
            continue
        c["stages"] += 1
        c["tasks"] += st.numCompleteTasks()
        c["executor_run_s"] += st.executorRunTime() / 1000.0
        c["input_bytes"] += st.inputBytes()
        c["input_records"] += st.inputRecords()
        c["output_bytes"] += st.outputBytes()
        c["shuffle_write_bytes"] += st.shuffleWriteBytes()
    return c
