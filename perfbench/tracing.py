"""Spans, Spark job groups and event-log aggregation for the traced run.

A span is recorded around each call the benchmark makes into a layer of
the program.  While a span is open, every job the Spark driver submits
carries the span's job group, so the run's event log attributes task
metrics to layers by measurement rather than by guessing from stage
position.  Nothing here imports pyspark: the span arithmetic and the
event-log aggregation are plain Python and unit-tested on a fixture log.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    group: str | None = None

    @property
    def wall_s(self) -> float:
        return self.end - self.start


def self_time(spans: list[Span], idx: int) -> float:
    """Duration of ``spans[idx]`` minus the part of its interval that its
    direct children cover; overlapping children are counted once and
    clipped to the parent's interval."""
    parent = spans[idx]
    pieces = sorted(
        (max(s.start, parent.start), min(s.end, parent.end))
        for s in spans
        if s.parent == idx
    )
    covered = 0.0
    cur_lo = cur_hi = None
    for lo, hi in pieces:
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return parent.wall_s - covered


class Tracer:
    """Records spans in memory.  With a SparkContext attached, each span
    that names a layer also sets one job group (``<name>#<n>``) for its
    duration, restoring the enclosing span's group on exit."""

    def __init__(self, sc=None, clock=time.perf_counter) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._sc = sc
        self._clock = clock
        self._seq: dict[str, int] = {}

    def attach(self, sc) -> None:
        self._sc = sc

    def _set_group(self, group: str | None) -> None:
        if self._sc is None:
            return
        if group is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(group, group)

    @contextmanager
    def span(self, name: str, spark_group: bool = True):
        parent = self._stack[-1] if self._stack else None
        group = None
        if spark_group:
            n = self._seq.get(name, 0)
            self._seq[name] = n + 1
            group = f"{name}#{n}"
        sp = Span(name, self._clock(), parent=parent, group=group)
        self.spans.append(sp)
        idx = len(self.spans) - 1
        self._stack.append(idx)
        if group is not None:
            self._set_group(group)
        try:
            yield sp
        finally:
            sp.end = self._clock()
            self._stack.pop()
            if group is not None:
                self._set_group(self._enclosing_group())

    def _enclosing_group(self) -> str | None:
        for i in reversed(self._stack):
            if self.spans[i].group is not None:
                return self.spans[i].group
        return None

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def to_json(self) -> list[dict]:
        t0 = self.spans[0].start if self.spans else 0.0
        return [
            {
                "name": s.name, "group": s.group, "parent": s.parent,
                "start_s": round(s.start - t0, 6),
                "wall_s": round(s.wall_s, 6),
                "self_s": round(self_time(self.spans, i), 6),
            }
            for i, s in enumerate(self.spans)
        ]


# --------------------------------------------------------------------------
# Event log → per-job-group task metrics
# --------------------------------------------------------------------------

_MB = 1024.0 * 1024.0


@dataclass
class GroupMetrics:
    jobs: set = field(default_factory=set)
    stages: set = field(default_factory=set)
    task_ms: list = field(default_factory=list)
    cpu_ns: int = 0
    gc_ms: int = 0
    failed_tasks: int = 0
    shuffle_read_b: int = 0
    shuffle_write_b: int = 0
    spill_b: int = 0
    peak_exec_mem_b: int = 0

    def summary(self, wall_s: float, cores: int) -> dict:
        task_s = sum(self.task_ms) / 1000.0
        cpu_s = self.cpu_ns / 1e9
        med = statistics.median(self.task_ms) if self.task_ms else 0.0
        return {
            "wall_s": wall_s,
            "task_s": task_s,
            "jvm_cpu_s": cpu_s,
            "py_s": max(task_s - cpu_s, 0.0),
            "gc_s": self.gc_ms / 1000.0,
            "slot_util": task_s / (wall_s * cores) if wall_s > 0 else 0.0,
            "jobs": len(self.jobs),
            "stages": len(self.stages),
            "tasks": len(self.task_ms),
            "task_skew": max(self.task_ms) / med if med > 0 else 0.0,
            "failed_tasks": self.failed_tasks,
            "shuffle_read_mb": self.shuffle_read_b / _MB,
            "shuffle_write_mb": self.shuffle_write_b / _MB,
            "spill_mb": self.spill_b / _MB,
            "peak_exec_mem_mb": self.peak_exec_mem_b / _MB,
        }


def read_event_log(path: str) -> list[dict]:
    events = []
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            line = line.strip()
            if line:
                events.append(json.loads(line))
    return events


def aggregate_by_group(
    events: list[dict],
) -> tuple[dict[str, GroupMetrics], dict]:
    """Sum task metrics per Spark job group.

    A stage belongs to the group of the job that submitted it (the
    ``spark.jobGroup.id`` property of its StageSubmitted event, else of
    the first job listing it).  A streaming query's jobs carry its run id
    as their group.  Returns (group → metrics, totals); totals carries the
    task time of the whole log and of the tasks that landed in no group,
    so the caller can state what share of the log the groups cover."""
    stage_group: dict[int, str | None] = {}
    job_group: dict[int, str | None] = {}

    def grp(props: dict | None) -> str | None:
        return (props or {}).get("spark.jobGroup.id")

    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            g = grp(ev.get("Properties"))
            job_group[ev["Job ID"]] = g
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, g)
        elif kind == "SparkListenerStageSubmitted":
            sid = ev["Stage Info"]["Stage ID"]
            g = grp(ev.get("Properties"))
            if g is not None or sid not in stage_group:
                stage_group[sid] = g

    groups: dict[str, GroupMetrics] = {}
    for jid, g in job_group.items():
        if g is not None:
            groups.setdefault(g, GroupMetrics()).jobs.add(jid)

    total_ms = 0
    ungrouped_ms = 0
    for ev in events:
        if ev.get("Event") != "SparkListenerTaskEnd":
            continue
        tm = ev.get("Task Metrics") or {}
        run_ms = tm.get("Executor Run Time", 0)
        total_ms += run_ms
        g = stage_group.get(ev["Stage ID"])
        if g is None:
            ungrouped_ms += run_ms
            continue
        m = groups.setdefault(g, GroupMetrics())
        m.stages.add(ev["Stage ID"])
        m.task_ms.append(run_ms)
        m.cpu_ns += tm.get("Executor CPU Time", 0)
        m.gc_ms += tm.get("JVM GC Time", 0)
        info = ev.get("Task Info") or {}
        if info.get("Failed") or info.get("Killed"):
            m.failed_tasks += 1
        sr = tm.get("Shuffle Read Metrics") or {}
        m.shuffle_read_b += sr.get("Remote Bytes Read", 0) + sr.get(
            "Local Bytes Read", 0)
        sw = tm.get("Shuffle Write Metrics") or {}
        m.shuffle_write_b += sw.get("Shuffle Bytes Written", 0)
        m.spill_b += tm.get("Memory Bytes Spilled", 0) + tm.get(
            "Disk Bytes Spilled", 0)
        m.peak_exec_mem_b = max(
            m.peak_exec_mem_b, tm.get("Peak Execution Memory", 0))
    return groups, {"task_s": total_ms / 1000.0,
                    "ungrouped_task_s": ungrouped_ms / 1000.0}
