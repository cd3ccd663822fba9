"""In-memory spans: the benchmark's own layer boundaries, with Spark jobs,
stages and streaming triggers joined in afterwards as child spans.

A span's self time is its duration minus the part of its interval that
its children cover. Times are wall-clock epoch seconds, the clock Spark's
event log and streaming progress use too.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    layer: str
    start: float
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class Tracer:
    """Spans of one benchmark run, nested by the order they open."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        s = Span(len(self.spans), name, layer, time.time(),
                 parent=self._stack[-1] if self._stack else None, attrs=attrs)
        self.spans.append(s)
        self._stack.append(s.sid)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.time()

    def add(self, name: str, layer: str, start: float, end: float, parent: int, **attrs) -> Span:
        s = Span(len(self.spans), name, layer, start, end, parent, attrs)
        self.spans.append(s)
        return s

    def children(self) -> dict[int, list[Span]]:
        out: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                out.setdefault(s.parent, []).append(s)
        return out

    def innermost(self, t: float, within: Span, kids: dict[int, list[Span]]) -> Span:
        """The deepest descendant of ``within`` whose interval holds ``t``."""
        for child in kids.get(within.sid, []):
            if child.start <= t <= child.end:
                return self.innermost(t, child, kids)
        return within

    def self_times(self, root: Span) -> dict[str, float]:
        """Self time per layer over ``root``'s subtree."""
        kids = self.children()
        out: dict[str, float] = {}
        todo = [root]
        while todo:
            s = todo.pop()
            cs = kids.get(s.sid, [])
            todo.extend(cs)
            own = s.dur - covered([(c.start, c.end) for c in cs], s.start, s.end)
            out[s.layer] = out.get(s.layer, 0.0) + own
        return out

    def to_json(self) -> list[dict]:
        return [
            {"id": s.sid, "parent": s.parent, "name": s.name, "layer": s.layer,
             "start": round(s.start, 6), "end": round(s.end, 6), **s.attrs}
            for s in self.spans
        ]
