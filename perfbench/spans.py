"""In-memory spans around the benchmark's calls into each layer.

A span has a name, start, end, parent and the id of the operation it belongs
to. While a span is open its Spark jobs run under a job group of its own
(``setJobGroup``); job, stage and task counts are read back through
``statusTracker()`` once the operation has finished. A span's counts include
those of its children. A disabled tracer records nothing and touches no
Spark state, so untraced runs pay nothing.
"""

from __future__ import annotations

import contextlib
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    span_id: int
    name: str
    op_id: int
    parent: int | None
    start: float
    end: float = 0.0
    groups: list[str] = field(default_factory=list)
    jobs: int = 0
    stages: int = 0
    tasks: int = 0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next_op = 0

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if parent is None:
            self._next_op += 1
        s = Span(
            span_id=len(self.spans),
            name=name,
            op_id=self._next_op,
            parent=parent.span_id if parent else None,
            start=time.perf_counter(),
        )
        s.groups.append(f"perfbench-{s.op_id}-{s.span_id}")
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s.groups[0], name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.groups[0], parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
                self._count_op(s.op_id)

    def add_group(self, span: Span | None, group: str) -> None:
        """Jobs Spark runs outside the calling thread (a streaming query's
        micro-batches run under the query's run id) belong to ``span`` too."""
        if span is not None:
            span.groups.append(group)

    def _count_op(self, op_id: int) -> None:
        tracker = self.sc.statusTracker()
        deadline = time.monotonic() + 5.0
        while tracker.getActiveJobsIds() and time.monotonic() < deadline:
            time.sleep(0.02)
        spans = [s for s in self.spans if s.op_id == op_id]
        for s in spans:
            for g in s.groups:
                for j in tracker.getJobIdsForGroup(g):
                    info = tracker.getJobInfo(j)
                    if info is None:
                        continue
                    s.jobs += 1
                    for st in info.stageIds:
                        si = tracker.getStageInfo(st)
                        s.stages += 1
                        s.tasks += si.numTasks if si is not None else 0
        # inclusive counts: children first (they were opened after parents)
        by_id = {s.span_id: s for s in spans}
        for s in sorted(spans, key=lambda s: -s.span_id):
            if s.parent in by_id:
                p = by_id[s.parent]
                p.jobs += s.jobs
                p.stages += s.stages
                p.tasks += s.tasks

    def self_seconds(self, span: Span) -> float:
        """Span duration minus the time its direct children cover."""
        kids = [s for s in self.spans if s.parent == span.span_id]
        return span.seconds - sum(k.seconds for k in kids)

    def records(self) -> list[dict]:
        return [
            {
                "id": s.span_id, "name": s.name, "op": s.op_id, "parent": s.parent,
                "start": round(s.start, 6), "end": round(s.end, 6),
                "self_s": round(self.self_seconds(s), 6),
                "jobs": s.jobs, "stages": s.stages, "tasks": s.tasks,
            }
            for s in self.spans
        ]
