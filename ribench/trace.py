"""Spans recorded from outside the engine, with Spark job attribution.

A span covers one call into a layer of the engine. Each span sets its own
Spark job group while it is open, so every job the call submits is
counted in the innermost open span and in no other. The Spark status
tracker answers which jobs ran in a group, which stages they had and how
many tasks each stage ran; it works with the UI off.

Spans stay in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import functools
import itertools
import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from pathlib import Path


@dataclass
class Span:
    name: str
    span_id: int
    parent_id: int | None
    op_id: str                 # shared by every span of one batch or query
    start: float
    end: float = 0.0
    jobs: list[int] = field(default_factory=list)
    stages: int = 0
    tasks: int = 0

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans around layer calls; ``enabled=False`` makes every
    method a no-op so untraced runs pay nothing."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self._sc = spark.sparkContext
        self._status = self._sc.statusTracker()
        self._ids = itertools.count(1)
        self._stack: list[Span] = []
        self.spans: list[Span] = []
        self._pending: list[Span] = []
        self.op_id = ""
        self._restore: list[tuple[object, str, object]] = []

    # -- spans -------------------------------------------------------------

    def _group(self, span: Span | None) -> None:
        if span is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(f"ribench-{span.span_id}", span.name)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(name, next(self._ids),
                 parent.span_id if parent else None, self.op_id,
                 time.perf_counter())
        self._stack.append(s)
        self._group(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._group(self._stack[-1] if self._stack else None)
            self.spans.append(s)
            self._pending.append(s)

    def attach_jobs(self) -> None:
        """Look up the jobs, stages and tasks of every span closed since the
        last call. Callers do this outside their timed regions: it costs a
        few status-tracker calls per job."""
        for s in self._pending:
            self._attach_jobs(s)
        self._pending.clear()

    def _attach_jobs(self, s: Span) -> None:
        s.jobs = sorted(self._status.getJobIdsForGroup(f"ribench-{s.span_id}"))
        for j in s.jobs:
            info = self._status.getJobInfo(j)
            if info is None:
                continue
            for sid in info.stageIds:
                st = self._status.getStageInfo(sid)
                if st is not None and st.numTasks:
                    s.stages += 1
                    s.tasks += st.numTasks

    # -- wrapping layer functions -------------------------------------------

    def wrap(self, owner: object, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a spanned twin until ``unwrap_all``.
        ``owner`` is the module (or class) whose name the caller looks up,
        so an import-bound name is wrapped where it is bound."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def spanned(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        self._restore.append((owner, attr, orig))
        setattr(owner, attr, spanned)

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore.clear()

    # -- summaries -----------------------------------------------------------

    def children(self, s: Span) -> list[Span]:
        return [c for c in self.spans if c.parent_id == s.span_id]

    def self_time(self, s: Span) -> float:
        return s.duration - sum(c.duration for c in self.children(s))

    def subtree(self, s: Span) -> list[Span]:
        out = [s]
        for c in self.children(s):
            out.extend(self.subtree(c))
        return out

    def total(self, s: Span, attr: str) -> int:
        return sum(len(x.jobs) if attr == "jobs" else getattr(x, attr)
                   for x in self.subtree(s))

    def named(self, name: str, op_id: str | None = None) -> list[Span]:
        return [s for s in self.spans if s.name == name
                and (op_id is None or s.op_id == op_id)]

    def dump(self, path: Path) -> None:
        self.attach_jobs()
        path.parent.mkdir(parents=True, exist_ok=True)
        rows = [dict(asdict(s), self_s=self.self_time(s)) for s in self.spans]
        path.write_text(json.dumps(rows, indent=1))
