"""Benchmark-side spans around calls into fmx.

A span records name, start, end, parent span, request id and the Spark
job group its calls ran under; the job group links the span to Spark's
stage counters (``sparkstats.group_stats``).  Spans stay in memory and
are written out once, when the run ends.  With tracing off, ``span``
only yields a record with its start and end, so the timed regions of an
untraced run cost the same clock reads and nothing else.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

from sparkstats import GroupStats, group_stats


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    request: int | None
    group: str | None
    start: float = 0.0
    end: float = 0.0

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, request: int | None = None):
        parent = self._stack[-1] if self._stack else None
        group = f"{name}#{len(self.spans)}" if self.enabled else None
        s = Span(len(self.spans), name, parent.id if parent else None,
                 request if request is not None
                 else (parent.request if parent else None), group)
        if self.enabled:
            self.spans.append(s)
            self.sc.setJobGroup(group, name)
        self._stack.append(s)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self.enabled:
                # jobs after the span belong to the enclosing span
                if parent is not None:
                    self.sc.setJobGroup(parent.group, parent.name)
                else:
                    self.sc.setJobGroup("idle", "")

    def stats(self, *spans: Span) -> GroupStats:
        """Spark counters of the given spans and all their descendants."""
        out = GroupStats()
        if not self.enabled:
            return out
        wanted = {s.id for s in spans}
        for s in self.spans:
            if s.id in wanted or s.parent in wanted:
                wanted.add(s.id)
                out += group_stats(self.sc, s.group)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)
