"""Span self-time arithmetic, job-group bookkeeping and the event-log
aggregation, on a small checked-in event log."""

import os

import pytest

from tracing import Span, Tracer, aggregate_by_group, read_event_log, self_time

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures",
                       "eventlog_small.jsonl")


def test_self_time_subtracts_children_once():
    spans = [
        Span("pass", 0.0, 10.0),
        Span("parse", 1.0, 4.0, parent=0),
        Span("compact", 3.0, 6.0, parent=0),   # overlaps parse by 1 s
        Span("inner", 3.5, 3.9, parent=1),     # grandchild: not subtracted
        Span("write", 8.0, 12.0, parent=0),    # clipped to the parent end
    ]
    assert self_time(spans, 0) == pytest.approx(10.0 - 5.0 - 2.0)
    assert self_time(spans, 1) == pytest.approx(3.0 - 0.4)
    assert self_time(spans, 4) == pytest.approx(4.0)


def test_self_time_zero_length_and_no_children():
    spans = [Span("a", 2.0, 2.0), Span("b", 0.0, 5.0),
             Span("c", 1.0, 1.0, parent=1)]
    assert self_time(spans, 0) == 0.0
    assert self_time(spans, 1) == pytest.approx(5.0)


class FakeSC:
    def __init__(self):
        self.group = None
        self.calls = []

    def setJobGroup(self, group, desc):
        self.group = group
        self.calls.append(group)

    def setLocalProperty(self, key, value):
        if key == "spark.jobGroup.id":
            self.group = value
            self.calls.append(value)


def test_tracer_sets_and_restores_job_groups():
    ticks = iter(range(100))
    sc = FakeSC()
    tr = Tracer(sc, clock=lambda: float(next(ticks)))
    with tr.span("job.extract.pass"):
        assert sc.group == "job.extract.pass#0"
        with tr.span("bench.note", spark_group=False):
            assert sc.group == "job.extract.pass#0"
        with tr.span("job.extract.parse"):
            assert sc.group == "job.extract.parse#0"
        assert sc.group == "job.extract.pass#0"
    assert sc.group is None
    with tr.span("job.extract.pass"):
        assert sc.group == "job.extract.pass#1"
    names = [s["name"] for s in tr.to_json()]
    assert names == ["job.extract.pass", "bench.note", "job.extract.parse",
                     "job.extract.pass"]
    assert [s.parent for s in tr.spans] == [None, 0, 0, None]


def test_untraced_tracer_records_spans_without_spark():
    tr = Tracer()
    with tr.span("setup.corpus") as sp:
        pass
    assert sp.group == "setup.corpus#0" and sp.wall_s >= 0.0


def test_event_log_aggregates_per_job_group():
    groups, totals = aggregate_by_group(read_event_log(FIXTURE))
    assert set(groups) == {"job.extract.parse#0", "job.extract.compact#0",
                           "job.extract.write#0"}

    parse = groups["job.extract.parse#0"].summary(wall_s=2.0, cores=4)
    assert parse["tasks"] == 4 and parse["jobs"] == 1 and parse["stages"] == 1
    assert parse["task_s"] == pytest.approx(6.0)
    assert parse["jvm_cpu_s"] == pytest.approx(0.5)
    assert parse["py_s"] == pytest.approx(5.5)
    assert parse["slot_util"] == pytest.approx(6.0 / 8.0)
    assert parse["task_skew"] == pytest.approx(3.0)

    compact = groups["job.extract.compact#0"].summary(wall_s=1.0, cores=4)
    # job 2 re-lists the already-run stage 1: two jobs, two stages
    assert compact["jobs"] == 2 and compact["stages"] == 2
    assert compact["tasks"] == 4 and compact["failed_tasks"] == 1
    assert compact["task_s"] == pytest.approx(2.0)
    assert compact["gc_s"] == pytest.approx(0.1)
    assert compact["shuffle_write_mb"] == pytest.approx(4.0)
    assert compact["shuffle_read_mb"] == pytest.approx(4.0)
    assert compact["spill_mb"] == pytest.approx(1.0)
    assert compact["peak_exec_mem_mb"] == pytest.approx(16.0)
    assert compact["task_skew"] == pytest.approx(1.2)

    # a stage submitted without properties inherits its job's group
    write = groups["job.extract.write#0"].summary(wall_s=1.0, cores=4)
    assert write["task_s"] == pytest.approx(0.2)

    assert totals["task_s"] == pytest.approx(8.3)
    assert totals["ungrouped_task_s"] == pytest.approx(0.1)


def test_empty_group_summary_is_zero():
    from tracing import GroupMetrics

    s = GroupMetrics().summary(wall_s=0.0, cores=4)
    assert s["task_s"] == 0.0 and s["slot_util"] == 0.0
    assert s["task_skew"] == 0.0
