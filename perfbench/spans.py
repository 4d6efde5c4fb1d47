"""Spans and the statistics the benchmark reports.

A :class:`Tracer` records one span per call into a layer: name, start,
end, parent span and run id, kept in memory and written out when the run
ends. When it is given a SparkContext it also opens one Spark job group per
span, so the event log can attribute every job to the span that launched
it. A disabled tracer records nothing and touches no Spark state.
"""

from __future__ import annotations

import json
import math
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float  # epoch seconds
    end: float
    parent: int | None
    run_id: str
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        #: set to a SparkContext to open one job group per span
        self.sc = None
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def group_id(self, span: Span) -> str:
        return f"{self.run_id}:{span.id}"

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, time.time(), math.nan,
                 parent.id if parent else None, self.run_id, dict(attrs))
        self.spans.append(s)
        self._stack.append(s)
        if self.sc is not None:
            self.sc.setJobGroup(self.group_id(s), name)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if self.sc is not None:
                if parent is not None:
                    self.sc.setJobGroup(self.group_id(parent), parent.name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the part of ``[lo, hi]`` that the union of ``intervals``
    covers."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
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


def self_time(span: Span, spans: list[Span]) -> float:
    """The span's duration minus the part of it its direct children cover."""
    kids = [(c.start, c.end) for c in spans if c.parent == span.id]
    return span.duration - covered(kids, span.start, span.end)


def median(values: list[float]) -> float:
    v = sorted(values)
    n = len(v)
    if n == 0:
        raise ValueError("median of no values")
    return v[n // 2] if n % 2 else (v[n // 2 - 1] + v[n // 2]) / 2


def tail(values: list[float], beyond: int = 10) -> tuple[float, float]:
    """The highest percentile that still has at least ``beyond`` samples
    above it: returns ``(percentile, value)``. With n samples that is the
    (n - beyond)-th smallest, at percentile 100 * (n - beyond) / n. Needs
    more than ``beyond`` samples."""
    v = sorted(values)
    n = len(v)
    if n <= beyond:
        raise ValueError(f"{n} samples leave none with {beyond} beyond it")
    return 100.0 * (n - beyond) / n, v[n - beyond - 1]
