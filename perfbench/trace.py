"""Spans around layer calls, with Spark actions counted per span.

A span records name, start, end, its parent span and the run id. Each
span owns a Spark job group while it is the innermost open span, so the
jobs a layer submits are attributed to it and not to its parent. Spans
stay in memory until `dump`.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    span_id: int
    parent_id: int | None
    run_id: str
    start: float
    end: float = 0.0
    jobs: list[int] = field(default_factory=list)
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, sc, run_id: str):
        self.sc, self.run_id = sc, run_id
        self.spans: list[Span] = []
        self._open: list[Span] = []

    def _group(self, span: Span | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(f"{self.run_id}:{span.span_id}", span.name)

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._open[-1] if self._open else None
        s = Span(name, len(self.spans), parent.span_id if parent else None,
                 self.run_id, time.perf_counter(), attrs=dict(attrs))
        self.spans.append(s)
        self._open.append(s)
        self._group(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._open.pop()
            self._group(parent)
            s.jobs = list(self.sc.statusTracker().getJobIdsForGroup(
                f"{self.run_id}:{s.span_id}"))

    @property
    def current(self) -> Span:
        """The innermost open span."""
        return self._open[-1]

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent_id == span.span_id]

    def subtree(self, span: Span) -> list[Span]:
        out, stack = [], [span]
        while stack:
            s = stack.pop()
            out.append(s)
            stack.extend(self.children(s))
        return out

    def self_s(self, span: Span) -> float:
        """Span time minus the time its (sequential) children cover."""
        return span.seconds - sum(c.seconds for c in self.children(span))


def dump(tracers: list[Tracer], path: str) -> None:
    """Write every span of the given tracers, one JSON object a line."""
    with open(path, "w") as f:
        for t in tracers:
            for s in t.spans:
                f.write(json.dumps({**asdict(s), "self_s": t.self_s(s)}) + "\n")
