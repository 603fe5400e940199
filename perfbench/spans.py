"""Spans recorded around calls into each layer, and self time from them.

A span is (name, start, end, parent). Spans are kept in memory and printed
when the traced run ends. A span's self time is its duration minus the
part of its interval that its child spans cover.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass
from typing import Callable, Iterator


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float | None = None

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


class Tracer:
    """Records nested spans. `on_enter(name)` runs as a span opens and again
    with the enclosing span's name (or None) as it closes; the traced run
    points it at SparkContext.setJobDescription so Spark's event log
    attributes every job to the innermost open span."""

    def __init__(
        self,
        clock: Callable[[], float] = time.perf_counter,
        on_enter: Callable[[str | None], None] | None = None,
    ):
        self.clock = clock
        self.on_enter = on_enter or (lambda _name: None)
        self.spans: list[Span] = []
        self._open: list[Span] = []

    @contextmanager
    def span(self, name: str) -> Iterator[Span]:
        parent = self._open[-1].id if self._open else None
        s = Span(len(self.spans), name, parent, self.clock())
        self.spans.append(s)
        self._open.append(s)
        self.on_enter(name)
        try:
            yield s
        finally:
            s.end = self.clock()
            self._open.pop()
            self.on_enter(self._open[-1].name if self._open else None)

    def self_times(self) -> dict[int, float]:
        return self_times(self.spans)


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """span id -> duration minus the union of its children's intervals,
    each child clipped to the parent's interval."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        end = s.end if s.end is not None else s.start
        clipped = [
            (max(c.start, s.start), min(c.end, end))
            for c in kids.get(s.id, [])
            if c.end is not None and c.end > s.start and c.start < end
        ]
        out[s.id] = s.duration - covered(clipped)
    return out


def render(spans: list[Span]) -> list[dict]:
    """JSON-ready rows: name, start/end relative to the first span, parent
    name, duration and self time."""
    if not spans:
        return []
    t0 = min(s.start for s in spans)
    selfs = self_times(spans)
    names = {s.id: s.name for s in spans}
    return [
        {
            "name": s.name,
            "start_s": round(s.start - t0, 4),
            "end_s": round((s.end or s.start) - t0, 4),
            "parent": names.get(s.parent),
            "dur_s": round(s.duration, 4),
            "self_s": round(selfs[s.id], 4),
        }
        for s in spans
    ]
