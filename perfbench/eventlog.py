"""Stdlib reader for Spark's uncompressed JSON-lines event log.

The session is started with ``spark.eventLog.enabled=true`` and
``spark.eventLog.compress=false``, so every listener event is one JSON object
per line. ``EventLog.window(start, end)`` sums the task metrics of every job
submitted inside a wall-clock window — the window of one span — which also
covers jobs that carry no description (thread-pool and micro-batch jobs).
Each stage is charged to the first job that lists it: a later job that reuses
its shuffle output lists it too, but as a skipped stage that runs no tasks.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass


@dataclass
class SparkTotals:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0  # disk bytes spilled (memory-side size not included)


@dataclass
class _Stage:
    tasks: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_write: int = 0
    spill: int = 0


class EventLog:
    def __init__(self, path: str):
        self.path = path
        self.jobs: list[tuple[float, list[int]]] = []  # (submit s, stage ids)
        self.stages: dict[int, _Stage] = {}
        with open(path) as f:
            for line in f:
                self._add(json.loads(line))
        self._stage_job: dict[int, int] = {}
        for j, (_, stage_ids) in sorted(enumerate(self.jobs), key=lambda t: t[1][0]):
            for sid in stage_ids:
                self._stage_job.setdefault(sid, j)

    @staticmethod
    def find(log_dir: str) -> str:
        """The one finished application log in ``log_dir``."""
        names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
        done = [n for n in names if not n.endswith(".inprogress")]
        if len(done) != 1:
            raise RuntimeError(f"expected one finished event log in {log_dir}, found {names}")
        return os.path.join(log_dir, done[0])

    def _add(self, ev: dict) -> None:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            self.jobs.append((ev["Submission Time"] / 1000.0, list(ev["Stage IDs"])))
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics")
            if not m:
                return
            st = self.stages.setdefault(ev["Stage ID"], _Stage())
            st.tasks += 1
            st.cpu_ns += m.get("Executor CPU Time", 0)
            st.gc_ms += m.get("JVM GC Time", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            st.shuffle_write += sw.get("Shuffle Bytes Written", 0)
            st.spill += m.get("Disk Bytes Spilled", 0)

    def window(self, start: float, end: float) -> SparkTotals:
        out = SparkTotals()
        for j, (submitted, stage_ids) in enumerate(self.jobs):
            if not start <= submitted <= end:
                continue
            out.jobs += 1
            for sid in stage_ids:
                st = self.stages.get(sid)
                if st is None or self._stage_job[sid] != j or not st.tasks:
                    continue  # skipped here, or run under an earlier job
                out.stages += 1
                out.tasks += st.tasks
                out.executor_cpu_s += st.cpu_ns / 1e9
                out.gc_s += st.gc_ms / 1000.0
                out.shuffle_write_bytes += st.shuffle_write
                out.spill_bytes += st.spill
        return out
