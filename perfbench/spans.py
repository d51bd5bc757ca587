"""In-memory span recorder for traced runs.

A span has a name, a start, an end, a parent and the id of the query it
belongs to. Spans are kept in a list and summarized when the run ends;
nothing is written while the workload runs. ``NullTracer`` is the
untraced stand-in: same interface, no clock reads.
"""

from __future__ import annotations

import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    query: str | None
    start: float
    end: float = 0.0


class Tracer:
    enabled = True

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, query: str | None = None):
        parent = self._stack[-1] if self._stack else None
        if query is None and parent is not None:
            query = self.spans[parent].query
        s = Span(len(self.spans), name, parent, query, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s.sid)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: a span's duration minus the
        part of it its children cover (children never overlap here,
        since one thread opens them one after another)."""
        child_time: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child_time[s.parent] += s.end - s.start
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s.name] += (s.end - s.start) - child_time[s.sid]
        return dict(out)

    def total(self, name: str) -> float:
        return sum(s.end - s.start for s in self.spans if s.name == name)


class NullTracer:
    enabled = False

    @contextmanager
    def span(self, name: str, query: str | None = None):
        yield None
