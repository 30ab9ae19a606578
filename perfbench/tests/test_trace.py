"""Spans, self time, and the roll-up of event-log job groups onto spans."""

import json

import pytest

from perfbench.trace import (Span, Tracer, parse_event_log, rollup,
                             self_time, union_length)


def test_union_length_merges_overlaps_and_skips_empty():
    assert union_length([(1, 3), (2, 5), (8, 10), (4, 4)]) == 6
    assert union_length([]) == 0


def test_self_time_subtracts_children_clipped_to_the_span():
    parent = Span("s1", "p", None, None, 0.0, 10.0)
    kids = [Span("s2", "a", "s1", None, 1.0, 3.0),
            Span("s3", "b", "s1", None, 2.0, 5.0),
            Span("s4", "c", "s1", None, 8.0, 12.0)]
    assert self_time(parent, kids) == pytest.approx(4.0)
    assert self_time(parent, []) == pytest.approx(10.0)


class FakeSparkContext:
    def __init__(self):
        self.group = None

    def setJobGroup(self, gid, desc):
        self.group = gid

    def setLocalProperty(self, key, value):
        if key == "spark.jobGroup.id":
            self.group = value


def test_tracer_tags_the_innermost_span_and_restores_the_parent():
    sc = FakeSparkContext()
    tr = Tracer(sc)
    with tr.span("request", request="q1") as outer:
        assert sc.group == outer.id
        with tr.span("retrieve.search") as inner:
            assert sc.group == inner.id
            assert inner.parent == outer.id
            assert inner.request == "q1"
        assert sc.group == outer.id
    assert sc.group is None
    assert outer.end >= inner.end >= inner.start >= outer.start


def _event_log(lines):
    return [json.dumps(e) for e in lines]


def _task(stage, run_ms, py=0, shuffle=0, gc=0, out=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Accumulables": [
                {"Name": "data sent to Python workers", "Update": py},
                {"Name": "data returned from Python workers", "Update": py},
                {"Name": "number of output rows", "Update": 99}]},
            "Task Metrics": {"Executor Run Time": run_ms, "JVM GC Time": gc,
                             "Peak Execution Memory": run_ms * 10,
                             "Memory Bytes Spilled": 1, "Disk Bytes Spilled": 2,
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
                             "Output Metrics": {"Bytes Written": out}}}


def _job(jid, group, submit_ms, end_ms, stages):
    props = {"spark.jobGroup.id": group} if group else {}
    return [{"Event": "SparkListenerJobStart", "Job ID": jid,
             "Submission Time": submit_ms, "Stage IDs": stages,
             "Properties": props},
            {"Event": "SparkListenerJobEnd", "Job ID": jid,
             "Completion Time": end_ms}]


def test_rollup_attributes_jobs_by_group_and_sums_up_the_tree():
    # span s1 [0, 10 s] with children s2 [1, 4 s] and s3 [5, 9 s]
    spans = [Span("s1", "request", None, "q1", 0.0, 10.0),
             Span("s2", "retrieve.search", "s1", "q1", 1.0, 4.0),
             Span("s3", "retrieve.execute", "s1", "q1", 5.0, 9.0)]
    events = (_job(0, "s2", 1000, 2000, [0])
              + _job(1, "s3", 5000, 8000, [1, 2])
              # job 2 lists stage 1 again (a reused, skipped stage)
              + _job(2, "s3", 8000, 9000, [1, 3])
              + _job(3, None, 9500, 9600, [4])        # untagged: nobody's
              + [_task(0, 100, py=5), _task(1, 200, shuffle=7),
                 _task(1, 300, shuffle=3), _task(2, 50, gc=4),
                 _task(3, 10, out=11), _task(4, 1000)])
    jobs, stages = parse_event_log(_event_log(events))
    assert jobs[2].stages == [3]      # stage 1 ran under job 1, not job 2
    r = rollup(spans, jobs, stages)

    assert (r["s2"].jobs, r["s2"].stages) == (1, 1)
    assert r["s2"].cost.python_bytes == 10
    assert r["s2"].driver_gap_ms == pytest.approx(2000.0)

    assert (r["s3"].jobs, r["s3"].stages) == (2, 3)
    assert r["s3"].cost.task_ms == 560
    assert r["s3"].cost.shuffle_write_bytes == 10
    assert r["s3"].cost.gc_ms == 4
    assert r["s3"].cost.output_bytes == 11
    assert r["s3"].driver_gap_ms == pytest.approx(0.0)

    parent = r["s1"]
    assert (parent.jobs, parent.stages) == (3, 4)
    assert parent.cost.task_ms == 660
    assert parent.cost.spill_bytes == 3 * 5
    assert parent.cost.peak_exec_mem == 3000
    assert parent.self_ms == pytest.approx(3000.0)
    # 10 s of wall, jobs cover [1,2] and [5,9]: 5 s without a job
    assert parent.driver_gap_ms == pytest.approx(5000.0)
