"""In-memory spans for the traced run, and self-time arithmetic over them."""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Collects spans in memory; :meth:`dump` writes them when the run ends.

    A disabled tracer still times :meth:`span` blocks for the caller but keeps
    nothing, so the untraced run pays only two clock reads per block."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> int:
        sid = len(self.spans)
        if self.enabled:
            self.spans.append(Span(sid, name, start, end, parent, self.run_id, attrs))
        return sid

    @contextmanager
    def span(self, name: str, **attrs):
        """Time the block as a child of the innermost open span; yields a
        dict the block may fill with attributes. The dict's ``"elapsed"`` key
        holds the duration once the block exits."""
        rec = dict(attrs)
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        if self.enabled:
            self.spans.append(Span(sid, name, 0.0, 0.0, parent, self.run_id, rec))
            self._stack.append(sid)
        t0 = time.time()
        try:
            yield rec
        finally:
            t1 = time.time()
            rec["elapsed"] = t1 - t0
            if self.enabled:
                self._stack.pop()
                s = self.spans[sid]
                s.start, s.end = t0, t1

    def current(self) -> int | None:
        return self._stack[-1] if self._stack else None

    def children(self) -> dict[int, list[Span]]:
        out: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                out.setdefault(s.parent, []).append(s)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by the union of ``intervals``."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span: Span, kids: list[Span]) -> float:
    """Span duration minus the part of it covered by its children."""
    clipped = [(max(k.start, span.start), min(k.end, span.end)) for k in kids]
    return (span.end - span.start) - union_length(clipped)


def innermost(spans: list[Span], candidates: list[int], t: float) -> int | None:
    """The latest-starting span among ``candidates`` whose interval holds ``t``."""
    best = None
    for sid in candidates:
        s = spans[sid]
        if s.start <= t <= s.end and (best is None or s.start >= spans[best].start):
            best = sid
    return best
