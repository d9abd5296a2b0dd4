"""In-memory spans for the traced run, and self-time arithmetic.

A span records a name, its start and end (epoch seconds, the clock the
Spark status store stamps jobs with) and the index of its parent span.
Spans are kept in memory and written out once, at the end of a run.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index into the owning list, None for a root


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted((max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi)
    total = 0.0
    cur_s = cur_e = None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Per span: its duration minus the part of it that its child spans
    cover (overlapping children are counted once)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return [
        (s.end - s.start) - union_length(children.get(i, []), s.start, s.end)
        for i, s in enumerate(spans)
    ]


def subtree(spans: list[Span], root: int) -> list[int]:
    """Indices of ``root`` and of every span below it (a span's parent
    is always recorded before it)."""
    inside = {root}
    for i, s in enumerate(spans):
        if s.parent in inside:
            inside.add(i)
    return sorted(inside)


class Tracer:
    """Records nested spans and names the Spark jobs each one runs.

    While a span is open, Spark jobs started from this thread carry the
    job group ``<prefix>/<span name>``; on exit the enclosing span's
    group is restored."""

    def __init__(self, sc, prefix: str):
        self.sc = sc
        self.prefix = prefix
        self.spans: list[Span] = []
        self._open: list[int] = []

    def group(self, name: str) -> str:
        return f"{self.prefix}/{name}"

    @contextmanager
    def span(self, name: str):
        parent = self._open[-1] if self._open else None
        idx = len(self.spans)
        self.spans.append(Span(name, time.time(), 0.0, parent))
        self._open.append(idx)
        self.sc.setJobGroup(self.group(name), name)
        try:
            yield self.spans[idx]
        finally:
            self.spans[idx].end = time.time()
            self._open.pop()
            self._restore()

    @contextmanager
    def aside(self, name: str):
        """Jobs run inside this block go to group ``<prefix>/<name>``
        without opening a span (work done only to measure)."""
        self.sc.setJobGroup(self.group(name), name)
        try:
            yield
        finally:
            self._restore()

    def _restore(self) -> None:
        if self._open:
            outer = self.spans[self._open[-1]].name
            self.sc.setJobGroup(self.group(outer), outer)
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
