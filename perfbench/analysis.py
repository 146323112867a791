"""Pure arithmetic over what a run recorded: percentiles, freshness
attribution, generator lateness and trace spans. No Spark, so the
tests exercise it directly."""

from __future__ import annotations

import time
from dataclasses import dataclass, field


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * q / 100
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tp_offsets(offsets: dict | None) -> dict[int, int]:
    """Progress offsets ``{"topic,partition": offset}`` → ``{partition:
    offset}`` (the run reads a single topic)."""
    return {int(k.rpartition(",")[2]): int(v)
            for k, v in (offsets or {}).items()}


def batch_ranges(progress: list[dict]) -> dict[int, dict[int, tuple]]:
    """``batchId`` → ``{partition: (start, end)}`` for every progress
    entry that consumed input."""
    out = {}
    for p in progress:
        src = p["sources"][0]
        start = tp_offsets(src.get("startOffset"))
        end = tp_offsets(src.get("endOffset"))
        ranges = {part: (start.get(part, 0), e) for part, e in end.items()
                  if e > start.get(part, 0)}
        if ranges:
            out[p["batchId"]] = ranges
    return out


def attribute(ranges: dict[int, dict[int, tuple]],
              done: dict[int, float],
              due: dict[tuple[int, int], float]) -> list[tuple[float, int]]:
    """Freshness samples: for every document ``(partition, offset)`` the
    batches in ``ranges`` consumed, ``done[batch] - due[doc]`` with the
    batch id."""
    return [(done[bid] - due[(part, off)], bid)
            for bid, parts in ranges.items()
            for part, (start, end) in parts.items()
            for off in range(start, end)]


def lateness(records) -> list[float]:
    """Seconds each open-loop send ran behind its schedule."""
    return [max(0.0, sent - due) for *_rest, due, sent in records]


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None     # index of the parent span
    trigger: int | None = None
    children: list[int] = field(default_factory=list)

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur = 0.0, lo
    for s, e in sorted(intervals):
        s, e = max(s, cur), min(e, hi)
        if e > s:
            total += e - s
            cur = e
    return total


class Tracer:
    """In-memory spans, one call stack (``foreachBatch`` runs its
    callback on one thread). Disabled tracers record nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.trigger: int | None = None

    def wrap(self, name: str, fn):
        if not self.enabled:
            return fn

        def traced(*args, **kwargs):
            span = Span(name, time.perf_counter(),
                        parent=self._stack[-1] if self._stack else None,
                        trigger=self.trigger)
            i = len(self.spans)
            self.spans.append(span)
            if span.parent is not None:
                self.spans[span.parent].children.append(i)
            self._stack.append(i)
            try:
                return fn(*args, **kwargs)
            finally:
                self._stack.pop()
                span.end = time.perf_counter()
        return traced

    def self_time(self, i: int) -> float:
        """Span duration minus the part its children cover."""
        s = self.spans[i]
        kids = [(self.spans[c].start, self.spans[c].end) for c in s.children]
        return s.duration - covered(kids, s.start, s.end)

    def durations(self, name: str, triggers=None) -> list[float]:
        return [s.duration for s in self.spans if s.name == name
                and (triggers is None or s.trigger in triggers)]

    def as_json(self) -> list[dict]:
        return [{"name": s.name, "start": s.start, "end": s.end,
                 "parent": s.parent, "trigger": s.trigger,
                 "self": self.self_time(i)}
                for i, s in enumerate(self.spans)]
