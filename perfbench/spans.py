"""Spans recorded from the benchmark's side of each layer boundary.

A span is (name, start, end) on the ``time.perf_counter`` clock. Spans are
kept in memory and summarised when the run ends. Overlapping spans, such
as the concurrent table commits of a crawl round, are never summed: the
time a set of spans covers is the length of the *union* of their
intervals, so a parent's self time (its wall time minus what its children
cover) is never negative and self + covered always equals wall.
"""

from __future__ import annotations

import functools
import threading
import time
from dataclasses import dataclass, field


def union_length(intervals, lo: float | None = None, hi: float | None = None) -> float:
    """Total length covered by ``intervals`` (pairs of start, end), each
    clipped to [lo, hi] when given. Overlaps count once."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    clipped.sort()
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(start: float, end: float, children) -> float:
    """Wall time of [start, end] not covered by any child interval."""
    return (end - start) - union_length(children, start, end)


@dataclass
class Span:
    name: str
    start: float
    end: float
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Collects spans while ``enabled``; wrappers installed by ``wrap_method``
    and ``wrap_function`` call straight through when it is off."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._undo: list = []

    def record(self, name: str, start: float, end: float, **attrs) -> None:
        with self._lock:
            self.spans.append(Span(name, start, end, attrs))

    def _wrapper(self, name: str, fn, before=None, after=None):
        tracer = self

        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            state = before(*args, **kwargs) if before else None
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                t1 = time.perf_counter()
                attrs = after(state, *args, **kwargs) if after else {}
                tracer.record(name, t0, t1, **(attrs or {}))

        return wrapped

    def wrap_method(self, cls, method: str, name: str, before=None, after=None) -> None:
        """Replace ``cls.method`` by a timing wrapper (undone by ``restore``).
        Only the attribute defined on ``cls`` itself is replaced, so a
        subclass override stays a separate boundary."""
        original = cls.__dict__[method]
        setattr(cls, method, self._wrapper(name, original, before, after))
        self._undo.append((cls, method, original))

    def wrap_function(self, module, attr: str, name: str) -> None:
        """Replace a module-level function looked up at call time."""
        original = getattr(module, attr)
        setattr(module, attr, self._wrapper(name, original))
        self._undo.append((module, attr, original))

    def restore(self) -> None:
        for owner, attr, original in reversed(self._undo):
            setattr(owner, attr, original)
        self._undo.clear()

    def within(self, start: float, end: float, prefix: str = "") -> list[Span]:
        """Spans that overlap [start, end] whose name starts with ``prefix``."""
        return [
            s for s in self.spans
            if s.name.startswith(prefix) and s.end > start and s.start < end
        ]
