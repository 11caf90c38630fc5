"""In-memory spans around the benchmark's calls into the engine's layers.

A span records (name, start, end, parent, pass id). Spans are kept in a list
and written out once, at exit. ``Tracer.span`` also labels the Spark jobs the
wrapped call submits (``setJobDescription``), so the event log names them;
jobs submitted from other threads (the aggregate stage's thread pool, the
streaming query's micro-batches) carry no label and are attributed to a span
by time instead (see ``eventlog.EventLog.window``).
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    pass_id: str | None
    cpu: object = None  # sampler delta over the span, when a sampler is set


class Tracer:
    def __init__(self, sampler=None):
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._sc = None
        self._sampler = sampler

    def bind(self, spark) -> None:
        """Label jobs of this (possibly restarted) session from now on."""
        self._sc = spark.sparkContext

    @contextmanager
    def span(self, name: str, pass_id: str | None = None):
        parent = self._stack[-1] if self._stack else None
        if pass_id is None and parent is not None:
            pass_id = self.spans[parent].pass_id
        sid = len(self.spans)
        self.spans.append(Span(sid, name, time.time(), 0.0, parent, pass_id))
        self._stack.append(sid)
        if self._sc is not None:
            self._sc.setJobDescription(name)
        cpu0 = self._sampler() if self._sampler else None
        try:
            yield self.spans[sid]
        finally:
            self.spans[sid].end = time.time()
            if cpu0 is not None:
                self.spans[sid].cpu = self._sampler() - cpu0
            self._stack.pop()
            if self._sc is not None:
                outer = self.spans[self._stack[-1]].name if self._stack else None
                self._sc.setJobDescription(outer)

    def durations(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)
