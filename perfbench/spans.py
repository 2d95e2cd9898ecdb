"""In-memory spans recorded around the benchmark's calls into each layer.

A span holds a name, the layer it times, its start and end, the span
that caused it and the run id; spans that time Spark work also carry a
counter window (``spark_counters.Window``). Spans are kept in memory and
written out once, when the run ends, so that recording costs two clock
reads and, for windowed spans, two reads of the scheduler's id counters.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from spark_counters import SparkCounters, Window


@dataclass
class Span:
    id: int
    name: str
    layer: str
    parent: int | None
    start: float
    end: float = 0.0
    window: Window | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans.

    The untraced run records only the spans its end-to-end metrics need;
    the traced run records a span at every layer boundary and runs each
    windowed span under a job group of its own.
    """

    def __init__(self, run_id: str, counters: SparkCounters, traced: bool) -> None:
        self.run_id = run_id
        self.counters = counters
        self.traced = traced
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, layer: str, window: bool = False, always: bool = False):
        """Time the body; untraced runs skip spans not marked ``always``."""
        if not (self.traced or always):
            yield None
            return
        parent = self._stack[-1].id if self._stack else None
        sp = Span(len(self.spans), name, layer, parent, 0.0)
        self.spans.append(sp)
        self._stack.append(sp)
        if window:
            sp.window = self.counters.open(name, grouped=self.traced)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            if sp.window is not None:
                self.counters.close(sp.window)
            self._stack.pop()

    def leaf_windows(self) -> list[Window]:
        """Windows of windowed spans that contain no other windowed span."""
        outer = set()
        for sp in self.spans:
            if sp.window is None:
                continue
            p = sp.parent
            while p is not None:
                outer.add(p)
                p = self.spans[p].parent
        return [sp.window for sp in self.spans if sp.window is not None and sp.id not in outer]

    def self_seconds(self) -> dict[int, float]:
        """Each span's duration minus the time its direct children cover."""
        own = {sp.id: sp.seconds for sp in self.spans}
        for sp in self.spans:
            if sp.parent is not None:
                own[sp.parent] -= sp.seconds
        return own

    def records(self) -> list[dict]:
        own = self.self_seconds()
        t0 = self.spans[0].start if self.spans else 0.0
        return [
            {
                "run_id": self.run_id,
                "id": sp.id,
                "parent": sp.parent,
                "name": sp.name,
                "layer": sp.layer,
                "start_s": sp.start - t0,
                "end_s": sp.end - t0,
                "self_s": own[sp.id],
                **sp.attrs,
            }
            for sp in self.spans
        ]
