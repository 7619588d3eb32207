"""In-memory spans around the benchmark's calls into the library.

A span has a name (``<layer>.<call>``), start and end (``perf_counter``
seconds), the id of the span that caused it, and the trace id of the
operation it belongs to.  Spans are kept in memory and written out once,
when the run ends.  A span's self time is its duration minus the part of
its interval that its child spans cover; a layer's self time is the sum
of the self times of its spans.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    span_id: int
    name: str
    trace_id: int
    parent: int | None
    start: float
    end: float = float("nan")

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


class Tracer:
    """Records spans when ``enabled``; otherwise every call is a no-op."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._traces = itertools.count(1)
        self._stack: list[Span] = []

    @contextmanager
    def operation(self, name: str):
        """Root span of one benchmark operation; opens a new trace id."""
        with self._open(name, next(self._traces) if self.enabled else 0) as span:
            yield span

    @contextmanager
    def span(self, name: str):
        """Child span of the innermost open span (or a root of its own)."""
        trace_id = self._stack[-1].trace_id if self._stack else next(self._traces)
        with self._open(name, trace_id) as span:
            yield span

    @contextmanager
    def _open(self, name: str, trace_id: int):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1].span_id if self._stack else None
        span = Span(next(self._ids), name, trace_id, parent, time.perf_counter())
        self._stack.append(span)
        try:
            yield span
        finally:
            span.end = time.perf_counter()
            self._stack.pop()
            self.spans.append(span)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in sorted(self.spans, key=lambda s: s.span_id)], f)


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
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


def self_times(spans: list[Span]) -> dict[int, float]:
    """span_id -> duration minus the union of its children's intervals."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.span_id: (s.end - s.start) - covered(children.get(s.span_id, []), s.start, s.end)
        for s in spans
    }


def layer_self_times(spans: list[Span]) -> dict[str, float]:
    """layer -> summed self time of its spans."""
    own = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s.layer] = out.get(s.layer, 0.0) + own[s.span_id]
    return out
