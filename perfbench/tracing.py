"""In-memory spans, self time, coverage and order statistics.

A span records a name, a start and end (``time.time()`` seconds), its
parent span and the run id. Spans stay in memory; :meth:`Tracer.dump`
writes them out once, when the run ends. A disabled tracer records
nothing, so an untraced run pays only a no-op context manager.
"""

from __future__ import annotations

import contextlib
import json
import math
import statistics
import time
from dataclasses import asdict, dataclass

# Percentiles a tail may be reported at, highest first.
TAIL_LADDER = (99.0, 95.0, 90.0, 75.0, 50.0)


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run: str

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        span = Span(sid, name, time.time(), math.nan, parent, self.run_id)
        self.spans.append(span)
        self._stack.append(sid)
        try:
            yield span
        finally:
            self._stack.pop()
            span.end = time.time()

    def add(self, name: str, start: float, end: float, parent: int | None = None) -> int | None:
        """Record a span timed elsewhere (e.g. by Spark's progress events)."""
        if not self.enabled:
            return None
        sid = len(self.spans)
        self.spans.append(Span(sid, name, start, end, parent, self.run_id))
        return sid

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def self_time(self, span: Span) -> float:
        return self_time(span, [s for s in self.spans if s.parent == span.id])

    def dump(self, path: str) -> None:
        """Write every span, with its self time, as one JSON list."""
        with open(path, "w") as f:
            json.dump([dict(asdict(s), self=self.self_time(s)) for s in self.spans], f)


def covered(intervals, lo: float | None = None, hi: float | None = None) -> float:
    """Length of the union of ``(start, end)`` intervals, clipped to
    ``[lo, hi]`` when given."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(clipped):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span: Span, children: list[Span]) -> float:
    """Span duration minus the part of its interval its children cover."""
    return span.duration - covered(
        [(c.start, c.end) for c in children], span.start, span.end
    )


def percentile(values, p: float) -> float:
    """Nearest-rank percentile (``p`` in 0..100) of a non-empty sample."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1]


def tail_percentile(n: int, min_beyond: int = 10) -> float | None:
    """Highest percentile on :data:`TAIL_LADDER` that leaves at least
    ``min_beyond`` of ``n`` samples strictly above its nearest rank, or
    None when even the median does not."""
    for p in TAIL_LADDER:
        rank = max(1, math.ceil(p / 100.0 * n))
        if n - rank >= min_beyond:
            return p
    return None


def median(values) -> float:
    return statistics.median(values)
