"""Traced mode: in-memory spans around the benchmark's calls into each
layer, with the Spark jobs, stages and tasks each span ran, plus the
``/proc`` probes of the driver JVM.

A span runs its body under its own Spark job group, so the jobs counted
for a span are exactly the jobs started inside it and not inside a child
span. Spans stay in memory until :meth:`Tracer.write` at the end of the
run. When tracing is off, :meth:`Tracer.span` only yields.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


@dataclass
class Span:
    id: int
    name: str
    op: int
    parent: int | None
    layer: str
    start: float
    end: float
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1e3


class Tracer:
    """Spans of the ops run while :attr:`enabled` is set."""

    def __init__(self, sc):
        self.sc = sc
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @staticmethod
    def _group(span_id: int) -> str:
        return f"perfbench-{span_id}"

    @contextmanager
    def span(self, name: str, op: int, layer: str):
        """Time the body as span ``name`` of operation ``op``; ``layer``
        is one of ``op``, ``plan``, ``execute`` or ``engine``."""
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        span = Span(sid, name, op, parent, layer, 0.0, 0.0)
        self.spans.append(span)
        self._stack.append(sid)
        # the enclosing group is restored afterwards: inside foreachBatch
        # it is the streaming query's own group, which stop() cancels by
        saved = [self.sc.getLocalProperty(k) for k in _GROUP_PROPS]
        self.sc.setJobGroup(self._group(sid), name)
        span.start = time.perf_counter()
        try:
            yield
        finally:
            span.end = time.perf_counter()
            self._stack.pop()
            for key, value in zip(_GROUP_PROPS, saved):
                self.sc.setLocalProperty(key, value)
            self._count(span)

    def add(self, name: str, op: int, parent: int | None, start: float, ms: float,
            layer: str) -> int:
        """Record a span measured by someone else (a streaming progress
        phase), with no Spark counts of its own; returns its id."""
        sid = len(self.spans)
        self.spans.append(Span(sid, name, op, parent, layer, start, start + ms / 1e3))
        return sid

    def _count(self, span: Span) -> None:
        tracker = self.sc.statusTracker()
        for job_id in tracker.getJobIdsForGroup(self._group(span.id)):
            job = tracker.getJobInfo(job_id)
            if job is None:
                continue
            span.jobs += 1
            for stage_id in job.stageIds:
                stage = tracker.getStageInfo(stage_id)
                if stage is None or stage.numCompletedTasks + stage.numFailedTasks == 0:
                    continue  # skipped: its shuffle output was reused
                span.stages += 1
                span.tasks += stage.numCompletedTasks + stage.numFailedTasks
                span.failed_tasks += stage.numFailedTasks

    def self_ms(self) -> dict[int, float]:
        """Each span's duration minus the part its children cover."""
        out = {s.id: s.ms for s in self.spans}
        for s in self.spans:
            if s.parent is not None:
                out[s.parent] -= s.ms
        return out

    def per_op(self, layers: tuple[str, ...]) -> list[float]:
        """Per traced op: summed self time (ms) of its spans in ``layers``."""
        own = self.self_ms()
        ops: dict[int, float] = {}
        for s in self.spans:
            ops[s.op] = ops.get(s.op, 0.0) + (own[s.id] if s.layer in layers else 0.0)
        return list(ops.values())

    def per_op_counts(self, field: str) -> list[int]:
        ops: dict[int, int] = {}
        for s in self.spans:
            ops[s.op] = ops.get(s.op, 0) + getattr(s, field)
        return list(ops.values())

    def layer_table(self) -> dict[str, dict[str, float]]:
        """Per span name: call count, median ms and self ms, and the
        median jobs/stages/tasks per call."""
        own = self.self_ms()
        by_name: dict[str, list[Span]] = {}
        for s in self.spans:
            by_name.setdefault(s.name, []).append(s)
        return {
            name: {
                "calls": len(spans),
                "ms": statistics.median(s.ms for s in spans),
                "self_ms": statistics.median(own[s.id] for s in spans),
                "jobs": statistics.median(s.jobs for s in spans),
                "stages": statistics.median(s.stages for s in spans),
                "tasks": statistics.median(s.tasks for s in spans),
                "failed_tasks": sum(s.failed_tasks for s in spans),
            }
            for name, spans in sorted(by_name.items())
        }

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")


def proc_status(pid: int) -> dict[str, int]:
    """``VmHWM`` (kB) and ``Threads`` of a process, read from
    ``/proc/<pid>/status``."""
    out = {}
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            key, _, value = line.partition(":")
            if key in ("VmHWM", "Threads"):
                out[key] = int(value.split()[0])
    return out
