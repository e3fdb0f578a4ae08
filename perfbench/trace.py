"""In-memory spans recorded from the benchmark's own files, around each
call into a layer of the package.

A span has a name (``<layer>.<what>``), a start, an end, a parent and the
id of the operation (request, query or epoch) it belongs to. Spark jobs
are added afterwards as children of the span that ran them, from the
status store's job submission and completion times. Spans stay in memory
and are written out as JSON lines when the run ends (:func:`dump_spans`).
"""

from __future__ import annotations

import itertools
import json
import time
from collections import defaultdict
from collections.abc import Iterator
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


class Tracer:
    """Records spans when enabled; a disabled tracer only runs the body.

    Times are ``time.time()`` seconds so Spark's epoch-millisecond job and
    progress timestamps land on the same clock."""

    def __init__(self, enabled: bool, ids: Iterator[int] | None = None) -> None:
        """``ids`` shares span ids with another tracer whose spans are
        written out in the same file."""
        self.enabled = enabled
        self.spans: list[Span] = []
        self.ids = ids if ids is not None else itertools.count(1)
        self._stack: list[int] = []
        self.cost_s = 0.0  # time spent on tracing inside the traced window

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        sid = next(self.ids)
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self._by_id(parent).op
        s = Span(sid, name, time.time(), 0.0, parent, op)
        self.spans.append(s)
        self._stack.append(sid)
        self.cost_s += time.perf_counter() - t0
        try:
            yield s
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            s.end = time.time()
            self.cost_s += time.perf_counter() - t1

    @contextmanager
    def overhead(self):
        """Counts the body as tracing cost: work a traced run does that an
        untraced one skips."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.cost_s += time.perf_counter() - t0

    def add(self, name: str, start: float, end: float, parent: int | None, op: str | None) -> Span:
        """Record a span measured elsewhere (a Spark job, a streaming
        epoch phase)."""
        s = Span(next(self.ids), name, start, end, parent, op)
        self.spans.append(s)
        return s

    def _by_id(self, sid: int) -> Span:
        for s in reversed(self.spans):
            if s.id == sid:
                return s
        raise KeyError(sid)

    def self_times(self) -> dict[str, float]:
        """layer -> summed self time (s): each span's duration minus the part
        of its interval that its children cover."""
        children: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                children[s.parent].append(s)
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            covered = union_length(
                [(max(c.start, s.start), min(c.end, s.end)) for c in children[s.id]]
            )
            out[s.layer] += max(s.end - s.start - covered, 0.0)
        return dict(out)



def dump_spans(spans: list[Span], fh) -> None:
    for s in spans:
        fh.write(json.dumps(asdict(s)) + "\n")


def job_intervals(jobs: list[dict], span) -> list[tuple[float, float]]:
    """The jobs' [start, end] intervals clipped to the span that ran them
    (the status store stamps in whole milliseconds)."""
    out = []
    for j in jobs:
        if j["start"] is not None and j["end"] is not None:
            a, b = max(j["start"], span.start), min(j["end"], span.end)
            if b > a:
                out.append((a, b))
    return out


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_start, cur_end = 0.0, None, None
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total
