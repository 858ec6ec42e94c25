"""In-memory spans and per-layer self time.

A span is (name, start, end, parent, run id). ``Tracer.span`` wraps a call
into one layer; spans nest through a stack, so a span's parent is the span
open when it started. Spans stay in memory until ``dump`` writes them out as
JSON lines at the end of the run; ``self_times`` reads them back.

A disabled tracer records nothing and costs one attribute check per span, so
the untraced runs that give the end-to-end numbers go through the same code.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run: str


@dataclass
class Tracer:
    enabled: bool
    run: str = ""
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = Span(sid, name, time.perf_counter(), 0.0, parent, self.run)
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec.end = time.perf_counter()

    def dump(self, path: str | Path) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


def load(path: str | Path) -> list[Span]:
    with open(path) as f:
        return [Span(**json.loads(line)) for line in f]


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]: overlapping
    intervals count once."""
    total, reach = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, reach), min(b, hi)
        if b > a:
            total += b - a
            reach = b
    return total


def self_time(span: Span, children: list[Span]) -> float:
    """A span's duration minus the part of it its children cover."""
    return (span.end - span.start) - covered(
        [(c.start, c.end) for c in children], span.start, span.end
    )


def self_times(spans: list[Span]) -> dict[str, float]:
    """Total self time per span name."""
    kids: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append(s)
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        out[s.name] += self_time(s, kids[s.id])
    return dict(out)
