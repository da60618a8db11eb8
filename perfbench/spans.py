"""In-memory spans and counts recorded around calls into the engine's
modules, from the benchmark's own code.

A span has a name, start and end (``time.perf_counter``, which on Linux
is ``CLOCK_MONOTONIC`` and so comparable across processes on one host),
the id of its parent span, a request id, and the seconds the tracer
itself spent on it (its ``cost``). Spans are kept in memory and written
out when the run ends. A disabled tracer records nothing; the end-to-end
runs use one.

The tracing overhead of a traced run is measured, not estimated: each
span times its own bookkeeping, and calls the run makes only because it
is traced (Spark job groups, status-tracker reads) run inside
``Tracer.cost()``, whose whole duration is cost.
"""

from __future__ import annotations

import itertools
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    request: str | None
    cost: float = 0.0

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.counts: dict[str, list[float]] = defaultdict(list)
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextmanager
    def span(self, name: str, request: str | None = None):
        if not self.enabled:
            yield None
            return
        entered = time.perf_counter()
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        if request is None and parent is not None:
            request = parent.request
        span = Span(next(self._ids), name, 0.0, 0.0, parent and parent.id, request)
        stack.append(span)
        span.start = time.perf_counter()
        try:
            yield span
        finally:
            span.end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(span)
            span.cost = (span.start - entered) + (time.perf_counter() - span.end)

    @contextmanager
    def cost(self):
        """Work done only because the run is traced: a ``trace.instrument``
        span whose whole duration is cost."""
        with self.span("trace.instrument") as span:
            yield
        if span is not None:
            span.cost += span.end - span.start

    def count(self, name: str, value: float) -> None:
        if self.enabled:
            with self._lock:
                self.counts[name].append(value)

    def dump(self) -> dict:
        return {
            "spans": [s.__dict__ for s in self.spans],
            "counts": {k: list(v) for k, v in self.counts.items()},
        }


def load_spans(rows: list[dict]) -> list[Span]:
    return [Span(**r) for r in rows]


def self_times(spans: list[Span]) -> dict[str, float]:
    """Seconds of self time per layer: each span's duration minus the part
    of its interval that its child spans cover."""
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        covered, cursor = 0.0, s.start
        for c in sorted(children[s.id], key=lambda c: c.start):
            lo, hi = max(c.start, cursor), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                cursor = hi
        out[s.layer] += (s.end - s.start) - covered
    return dict(out)


def adopt(parents: list[Span], children: list[Span], match) -> None:
    """Attach spans recorded in another process to the spans that caused
    them: each child goes to the earliest-ending parent that ``match``es it,
    whose interval contains it and which has no child yet. The child takes
    the parent's request id."""
    free = sorted(parents, key=lambda p: p.end)
    for c in sorted(children, key=lambda c: c.end):
        for i, p in enumerate(free):
            if p.start <= c.start and c.end <= p.end and match(p, c):
                c.parent, c.request = p.id, p.request
                del free[i]
                break
