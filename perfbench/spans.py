"""The benchmark's own spans, recorded around calls into the program.

A span has a name, a wall-clock interval (epoch seconds, so it lines up
with the millisecond timestamps in Spark's event log), the span that
caused it, and free-form attributes.  Spans stay in memory and are written
out once, when the run ends.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        # one monotonic timeline, anchored to the wall clock once
        self._wall0 = time.time()
        self._mono0 = time.perf_counter()

    def now(self) -> float:
        return self._wall0 + (time.perf_counter() - self._mono0)

    @contextmanager
    def span(self, name: str, **attrs):
        s = Span(
            sid=len(self.spans),
            name=name,
            start=self.now(),
            parent=self._stack[-1] if self._stack else None,
            attrs=attrs,
        )
        self.spans.append(s)
        self._stack.append(s.sid)
        try:
            yield s
        finally:
            s.end = self.now()
            self._stack.pop()

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def covered(start: float, end: float, intervals: list[tuple[float, float]]) -> float:
    """Length of ``[start, end]`` that the intervals cover."""
    return union_length([(max(s, start), min(e, end)) for s, e in intervals])


def self_time(start: float, end: float, children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its children cover."""
    return (end - start) - covered(start, end, children)
