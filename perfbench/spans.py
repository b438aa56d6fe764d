"""Spans around layer calls, and the Spark event log folded onto them.

A span is opened by the benchmark around each call it makes into an
engine layer.  Each span sets the Spark job group to its own id, so the
event log ties every job, stage and task to the span that caused it.
Spans are kept in memory; :func:`fold_event_log` reads the log once the
session has stopped.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    start: float
    end: float = 0.0
    # layer-specific counts recorded by the caller (memo builds, ...)
    counts: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(f"{name}#{len(self.spans)}", name, parent.id if parent else None, time.time())
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(sp.id, name)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.id, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def children(self, sp: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == sp.id]

    def self_time(self, sp: Span) -> float:
        """Wall time minus the part covered by child spans (children of
        one span run one after another on the driver thread)."""
        return sp.wall - sum(c.wall for c in self.children(sp))


def union_length(intervals: list[tuple[float, float]]) -> float:
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


@dataclass
class Job:
    id: int
    group: str | None
    start: float
    end: float = 0.0
    stage_ids: list[int] = field(default_factory=list)
    stage_names: list[str] = field(default_factory=list)


@dataclass
class Stage:
    id: int
    start: float
    end: float
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    # reads parquet files (a FileScanRDD) or their footers
    scan: bool = False


@dataclass
class EventLog:
    jobs: dict[int, Job]
    stages: dict[int, Stage]
    # (start time in seconds, physical plan text) per SQL execution
    sql: list[tuple[float, str]]

    def jobs_in(self, group_ids: set[str]) -> list[Job]:
        return [j for j in self.jobs.values() if j.group in group_ids]

    def stages_of(self, jobs: list[Job]) -> list[Stage]:
        ids = {s for j in jobs for s in j.stage_ids}
        return [self.stages[i] for i in sorted(ids) if i in self.stages]


_MB = 1024.0 * 1024.0


def fold_event_log(path: str) -> EventLog:
    """Parse an uncompressed, non-rolling Spark event log."""
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    sql: list[tuple[float, str]] = []
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = Job(
                    ev["Job ID"],
                    props.get("spark.jobGroup.id"),
                    ev["Submission Time"] / 1000.0,
                    stage_ids=list(ev.get("Stage IDs", [])),
                    stage_names=[s.get("Stage Name", "") for s in ev.get("Stage Infos", [])],
                )
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                if "Submission Time" not in info or "Completion Time" not in info:
                    continue
                st = stages.setdefault(info["Stage ID"], Stage(info["Stage ID"], 0.0, 0.0))
                st.start = info["Submission Time"] / 1000.0
                st.end = info["Completion Time"] / 1000.0
                st.scan = info.get("Stage Name", "").startswith("parquet at ") or any(
                    r.get("Name") == "FileScanRDD" for r in info.get("RDD Info", [])
                )
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                st = stages.setdefault(ev["Stage ID"], Stage(ev["Stage ID"], 0.0, 0.0))
                st.tasks += 1
                st.run_s += m.get("Executor Run Time", 0) / 1000.0
                st.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                st.gc_s += m.get("JVM GC Time", 0) / 1000.0
                sr = m.get("Shuffle Read Metrics") or {}
                st.shuffle_read_mb += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / _MB
                sw = m.get("Shuffle Write Metrics") or {}
                st.shuffle_write_mb += sw.get("Shuffle Bytes Written", 0) / _MB
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                sql.append((ev["time"] / 1000.0, ev.get("physicalPlanDescription", "")))
    return EventLog(jobs, stages, sql)
