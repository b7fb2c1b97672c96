"""Spans around calls into the program, and Spark event-log counters
attributed to them.

A span times one call from the outside. Its Spark jobs are tagged with
``setJobGroup(<span name>)``, so the ``SparkListenerTaskEnd`` records of
the event log can be summed per span afterwards. Jobs that Spark runs
under a job group of its own (a streaming query sets its run id) are
given to the span whose time window holds their submission time; the
benchmark runs one call at a time, so the windows do not overlap.

The event log must be written uncompressed
(``spark.eventLog.compress=false``); it is complete once the
SparkContext has stopped.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float  # epoch seconds
    end: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class Counters:
    """Task-level sums over the Spark jobs of one span."""
    jobs: int = 0
    tasks: int = 0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    memory_spill_mb: float = 0.0
    disk_spill_mb: float = 0.0
    output_mb: float = 0.0


@dataclass
class Tracer:
    spark: object
    spans: list[Span] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        """Time the body and tag the Spark jobs it runs with ``name``."""
        sc = self.spark.sparkContext
        sc.setJobGroup(name, name)
        s = Span(name, time.time())
        try:
            yield s
        finally:
            s.end = time.time()
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            self.spans.append(s)

    def seconds(self, name: str) -> float:
        return sum(s.seconds for s in self.spans if s.name == name)


_MB = 2**20


def read_event_log(directory: str) -> list[dict]:
    """Events of the one finished application log in ``directory``.

    Spark writes either a single file or, with rolling logs (the default
    since Spark 4.0), a directory ``eventlog_v2_<app>`` of numbered
    ``events_<n>_<app>`` files beside an ``appstatus_<app>`` marker that
    loses its ``.inprogress`` suffix when the application ends."""
    logs = [p for p in glob.glob(os.path.join(directory, "*"))
            if not p.endswith(".inprogress")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {directory}, "
                           f"found {sorted(os.listdir(directory))}")
    files = [logs[0]]
    if os.path.isdir(logs[0]):
        if glob.glob(os.path.join(logs[0], "appstatus_*.inprogress")):
            raise RuntimeError(f"event log {logs[0]} is still in progress")
        files = sorted(glob.glob(os.path.join(logs[0], "events_*")),
                       key=lambda p: int(os.path.basename(p).split("_")[1]))
    events = []
    for path in files:
        with open(path, encoding="utf-8") as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


def counters_by_span(events: list[dict],
                     spans: list[Span]) -> dict[str, Counters]:
    """Sum task metrics per span name; jobs outside every span are
    reported under ``""``."""
    names = {s.name for s in spans}

    def owner(job: dict) -> str:
        group = (job.get("Properties") or {}).get("spark.jobGroup.id")
        if group in names:
            return group
        t = job["Submission Time"] / 1000.0
        for s in spans:
            if s.start <= t <= s.end:
                return s.name
        return ""

    out: dict[str, Counters] = {}
    stage_owner: dict[int, str] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            name = owner(ev)
            out.setdefault(name, Counters()).jobs += 1
            for sid in ev.get("Stage IDs", []):
                stage_owner.setdefault(sid, name)
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics")
            name = stage_owner.get(ev["Stage ID"], "")
            c = out.setdefault(name, Counters())
            c.tasks += 1
            if not m:  # a task that failed before reporting metrics
                continue
            c.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            c.gc_s += m.get("JVM GC Time", 0) / 1e3
            c.shuffle_write_mb += (m.get("Shuffle Write Metrics", {})
                                   .get("Shuffle Bytes Written", 0)) / _MB
            c.memory_spill_mb += m.get("Memory Bytes Spilled", 0) / _MB
            c.disk_spill_mb += m.get("Disk Bytes Spilled", 0) / _MB
            c.output_mb += (m.get("Output Metrics", {})
                            .get("Bytes Written", 0)) / _MB
    return out


def total(counters: dict[str, Counters]) -> Counters:
    """Sum of all spans' counters."""
    t = Counters()
    for c in counters.values():
        for f in t.__dataclass_fields__:
            setattr(t, f, getattr(t, f) + getattr(c, f))
    return t
