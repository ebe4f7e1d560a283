"""In-memory spans around calls into the program's layers.

A span is (name, start, end, parent). Spans are recorded from the
benchmark's side of each call, kept in a list until the run ends, and turned
into per-layer self times: a span's duration minus the part of its interval
that its child spans cover. Nothing here imports Spark; the Spark counters
that ride along with a span come from ``sparkstats``.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float | None = None
    parent: int | None = None
    counts: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


class Tracer:
    """Records nested spans. ``probe`` (optional) has ``snapshot()``, taken
    at span entry and exit, and ``delta(before, after)``, whose dict of
    counts is stored on the span. Time spent in the probe accumulates in
    ``probe_s``."""

    def __init__(self, clock=time.perf_counter, probe=None) -> None:
        self.clock = clock
        self.probe = probe
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.probe_s = 0.0

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        t0 = self.clock()
        before = self.probe.snapshot() if self.probe else None
        self.probe_s += self.clock() - t0
        sp = Span(name, self.clock(), parent=parent)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            sp.end = self.clock()
            self._stack.pop()
            if self.probe:
                sp.counts.update(self.probe.delta(before, self.probe.snapshot()))
                self.probe_s += self.clock() - sp.end


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
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


def self_times(spans: list[Span]) -> list[float]:
    """Self time of each span: its duration minus its children's coverage."""
    children: dict[int, list[tuple[float, float]]] = {}
    for sp in spans:
        if sp.parent is not None:
            children.setdefault(sp.parent, []).append((sp.start, sp.end))
    return [
        sp.duration - _covered(children.get(i, []), sp.start, sp.end)
        for i, sp in enumerate(spans)
    ]


def layer_table(spans: list[Span], only: list[int] | None = None) -> dict[str, dict]:
    """name -> {calls, total_s, self_s, counts summed over calls}, over the
    spans at indices ``only`` (all spans by default)."""
    out: dict[str, dict] = {}
    selfs = self_times(spans)
    for i in range(len(spans)) if only is None else only:
        sp, st = spans[i], selfs[i]
        row = out.setdefault(sp.name, {"calls": 0, "total_s": 0.0, "self_s": 0.0, "counts": {}})
        row["calls"] += 1
        row["total_s"] += sp.duration
        row["self_s"] += st
        for k, v in sp.counts.items():
            row["counts"][k] = row["counts"].get(k, 0) + v
    return out


def unaccounted_share(spans: list[Span], root: int = 0) -> float:
    """1 - (sum of layer self time inside the root span) / root duration.
    The root span is the traced wall; its own self time is the part no layer
    span covers."""
    st = self_times(spans)
    wall = spans[root].duration
    if wall <= 0:
        return 0.0
    inside = [i for i in range(len(spans)) if descends(spans, i, root)]
    return 1.0 - sum(st[i] for i in inside) / wall


def descends(spans: list[Span], i: int, root: int) -> bool:
    """Whether span ``i`` lies (at any depth) under span ``root``."""
    p = spans[i].parent
    while p is not None:
        if p == root:
            return True
        p = spans[p].parent
    return False
