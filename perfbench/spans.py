"""In-memory spans for the traced benchmark run.

A span records a name, start, end, the span that was open when it began
(its parent) and the run id shared by every span of one invocation. The
spans stay in memory and are written out once, when the run ends.

A span's self time is its duration minus the part of its interval that
its child spans cover, counting overlapping children once.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from typing import Callable, Dict, Iterator, List, Optional, Tuple


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: Optional[int]
    run_id: str

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: List[Tuple[float, float]], lo: float, hi: float
            ) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, reach = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, reach), min(b, hi)
        if b > a:
            total += b - a
            reach = b
    return total


class Tracer:
    """Collects spans; ``clock`` is injectable so the arithmetic can be
    tested without sleeping."""

    def __init__(self, run_id: str,
                 clock: Callable[[], float] = time.perf_counter):
        self.run_id = run_id
        self.clock = clock
        self.spans: List[Span] = []
        self._open: List[int] = []

    @contextmanager
    def span(self, name: str) -> Iterator[Span]:
        parent = self._open[-1] if self._open else None
        sp = Span(len(self.spans), name, self.clock(), float("nan"),
                  parent, self.run_id)
        self.spans.append(sp)
        self._open.append(sp.id)
        try:
            yield sp
        finally:
            self._open.pop()
            sp.end = self.clock()

    def children(self, span: Span) -> List[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def self_time(self, span: Span) -> float:
        kids = [(c.start, c.end) for c in self.children(span)]
        return span.duration - covered(kids, span.start, span.end)

    def self_times(self) -> Dict[str, float]:
        """Self time summed per span name."""
        out: Dict[str, float] = {}
        for s in self.spans:
            out[s.name] = out.get(s.name, 0.0) + self.self_time(s)
        return out

    def durations(self) -> Dict[str, float]:
        """Duration summed per span name."""
        out: Dict[str, float] = {}
        for s in self.spans:
            out[s.name] = out.get(s.name, 0.0) + s.duration
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**asdict(s),
                                    "self": self.self_time(s)}) + "\n")


def span_cost_s(n: int = 10_000) -> float:
    """Seconds one span adds around the code it wraps, measured by
    opening and closing ``n`` spans on a throwaway tracer."""
    tr = Tracer("cost")
    t0 = time.perf_counter()
    for _ in range(n):
        with tr.span("x"):
            pass
    return (time.perf_counter() - t0) / n


def unattributed(job_s: float, layer_self: Dict[str, float],
                 in_job: List[str]) -> float:
    """Job wall time the isolated layer timings do not account for:
    ``job_s`` minus the self times of the layers the job runs. Negative
    when the job overlaps layers that were timed one after another."""
    return job_s - sum(layer_self.get(name, 0.0) for name in in_job)
