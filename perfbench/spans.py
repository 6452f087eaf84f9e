"""Span recording and the per-layer self-time report.

A span is one layer call: name, start, end, parent span and the id of
the benchmark operation it belongs to. Spans are kept in memory while
the benchmark runs and written out when it ends. A span's self time is
its duration minus the part of it that its child spans cover.

Besides spans the tracer keeps *counts* (work done, summed) and
*samples* (values a layer reports about itself, such as Spark's
per-epoch progress, summarised by their median). Spans, counts and
samples are tagged with the phase they were recorded in: ``setup`` or
``loop``.
"""

from __future__ import annotations

import json
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: int
    phase: str


class Tracer:
    """Records spans opened with :meth:`span`. Single-threaded: the
    open span is the parent of the next one."""

    def __init__(self, clock=time.perf_counter):
        self.clock = clock
        self.phase = "setup"
        self.spans: list[Span] = []
        self.counts: dict[tuple[str, str], float] = defaultdict(float)
        self.samples: dict[tuple[str, str], list[float]] = \
            defaultdict(list)
        self._stack: list[Span] = []
        self._next_op = 0

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        if parent is None:
            self._next_op += 1
        s = Span(id=len(self.spans), name=name, start=self.clock(),
                 end=float("nan"), parent=parent.id if parent else None,
                 op=parent.op if parent else self._next_op,
                 phase=self.phase)
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = self.clock()
            self._stack.pop()

    def count(self, name: str, value: float) -> None:
        self.counts[(self.phase, name)] += value

    def sample(self, name: str, value: float) -> None:
        self.samples[(self.phase, name)].append(value)

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump({
                "spans": [asdict(s) for s in self.spans],
                "counts": {f"{p}/{n}": v
                           for (p, n), v in self.counts.items()},
                "samples": {f"{p}/{n}": v
                            for (p, n), v in self.samples.items()},
            }, fh)


def _covered(intervals: list[tuple[float, float]], lo: float,
             hi: float) -> float:
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


def self_times(spans: list[Span]) -> dict[str, list[float]]:
    """Self time of every span, grouped by span name."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append((s.start, s.end))
    out: dict[str, list[float]] = defaultdict(list)
    for s in spans:
        out[s.name].append(
            (s.end - s.start) - _covered(children[s.id], s.start, s.end))
    return out


def report(tracer: Tracer) -> str:
    """Self time (calls, median, total) per phase and span name, then
    samples and counts, as a plain-text table."""
    lines = [f"{'phase':6} {'span':38} {'calls':>6} {'median_s':>10} "
             f"{'total_s':>9}"]
    for phase in ("setup", "loop"):
        own = self_times([s for s in tracer.spans if s.phase == phase])
        for name, vals in sorted(own.items()):
            lines.append(f"{phase:6} {name:38} {len(vals):6d} "
                         f"{statistics.median(vals):10.5f} "
                         f"{sum(vals):9.3f}")
    for (phase, name), vals in sorted(tracer.samples.items()):
        lines.append(f"{phase:6} {name:38} {len(vals):6d} "
                     f"{statistics.median(vals):10.5f}  (sample)")
    for (phase, name), val in sorted(tracer.counts.items()):
        lines.append(f"{phase:6} {name:38} {val:17.0f}  (count)")
    return "\n".join(lines)
