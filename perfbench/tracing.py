"""Outside-in spans and the statistics the benchmark reports.

Spans are recorded by the benchmark around each public call it makes into
a layer of the program, never inside the program.  Each span has a name,
a layer, start and end times, a parent and a request id (one per cron
run, report request or dedup run).  Spans stay in memory until the run
ends; `self_times` then charges every span its duration minus the part of
its interval that its children cover.

Nothing here imports pyspark, so the arithmetic is testable without a JVM.
"""

from __future__ import annotations

import json
import math
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    span_id: int
    name: str
    layer: str
    request: str
    parent: int | None
    start: float
    end: float = 0.0


class Tracer:
    """Collects spans when `enabled`; otherwise `span` records nothing, so
    a workload's code path is the same either way."""

    def __init__(self, enabled: bool, clock=time.perf_counter):
        self.enabled = enabled
        self.clock = clock
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, layer: str, request: str | None = None):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        req = request or (parent.request if parent else name)
        s = Span(len(self.spans), name, layer, req,
                 parent.span_id if parent else None, self.clock())
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield
        finally:
            s.end = self.clock()
            self._stack.pop()

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) | {"self_s": st} for s, st in
                       zip(self.spans, self_times(self.spans))], fh, indent=1)


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of `intervals`, clipped to [lo, hi]."""
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


def self_times(spans: list[Span]) -> list[float]:
    """Per span: its duration minus the union of its children's intervals."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return [
        (s.end - s.start) - _covered(children.get(s.span_id, []), s.start, s.end)
        for s in spans
    ]


def self_time_by_layer(spans: list[Span]) -> dict[str, float]:
    out: dict[str, float] = {}
    for s, st in zip(spans, self_times(spans)):
        out[s.layer] = out.get(s.layer, 0.0) + st
    return out


def tail(samples: list[float]) -> tuple[float, int, int] | None:
    """The highest percentile with at least 10 samples beyond it, by the
    nearest-rank rule: returns (value, percentile, samples beyond), or
    None when there are 10 samples or fewer."""
    n = len(samples)
    if n <= 10:
        return None
    pct = 100 * (n - 10) // n
    rank = max(1, math.ceil(pct * n / 100))
    return sorted(samples)[rank - 1], pct, n - rank

