"""Tests for the benchmark's own trace arithmetic and event-log parser,
on a canned event log and span list (no Spark).

Run from the checkout root: ``python3 -m pytest perfbench/tests -q``.
"""

import json
from concurrent.futures import ThreadPoolExecutor

import pytest

from perfbench import trace
from perfbench.trace import Job, Span, Tracer
from perfbench.workloads import pair_recall


def _ev(**kw):
    return json.dumps(kw)


def _task(stage, run_ms, cpu_ns=0, gc_ms=0, read=(0, 0), written=0,
          spill=0, py=()):
    return _ev(**{
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Accumulables": [
            {"Name": n, "Update": u} for n, u in py]},
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
            "JVM GC Time": gc_ms, "Disk Bytes Spilled": spill,
            "Shuffle Read Metrics": {"Remote Bytes Read": read[0],
                                     "Local Bytes Read": read[1]},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": written}}})


CANNED_LOG = [
    _ev(Event="SparkListenerLogStart", **{"Spark Version": "4.1.2"}),
    _ev(Event="SparkListenerJobStart", **{
        "Job ID": 0, "Submission Time": 10_000, "Stage IDs": [0, 1],
        "Properties": {"spark.job.description": "span:3"}}),
    _task(0, 400, cpu_ns=300_000_000, gc_ms=20, written=1000),
    _task(0, 600, cpu_ns=500_000_000, written=2000,
          py=[("data sent to Python workers", 70),
              ("data returned from Python workers", 30),
              ("time to run Python workers", 999)]),
    _task(1, 100, read=(500, 2500), spill=64),
    _ev(Event="SparkListenerJobEnd", **{"Job ID": 0,
                                        "Completion Time": 11_500}),
    _ev(Event="SparkListenerJobStart", **{
        "Job ID": 1, "Submission Time": 12_000, "Stage IDs": [2],
        "Properties": {"spark.job.description": "some callsite"}}),
    _task(2, 50),
    _ev(Event="SparkListenerJobEnd", **{"Job ID": 1,
                                        "Completion Time": 12_250}),
]


def test_parse_event_log_groups_tasks_by_job_and_span():
    j0, j1 = trace.parse_event_log(CANNED_LOG)
    assert (j0.id, j0.span, j0.start, j0.end) == (0, 3, 10.0, 11.5)
    assert j0.tasks == 3
    assert j0.task_s == pytest.approx(1.1)
    assert j0.cpu_s == pytest.approx(0.8)
    assert j0.gc_s == pytest.approx(0.02)
    assert (j0.shuffle_write, j0.shuffle_read, j0.spill) == (3000, 3000, 64)
    assert j0.python_bytes == 100
    assert (j1.span, j1.tasks, j1.end) == (None, 1, 12.25)


def test_read_event_log_rolling_directory(tmp_path):
    app = tmp_path / "log" / "eventlog_v2_local-1"
    app.mkdir(parents=True)
    # parts are ordered by their index, not by name
    (app / "events_10_local-1").write_text("\n".join(CANNED_LOG[6:]) + "\n")
    (app / "events_2_local-1").write_text("\n".join(CANNED_LOG[:6]) + "\n")
    (app / "appstatus_local-1").write_text("")
    jobs = trace.read_event_log(str(tmp_path / "log"))
    assert [j.id for j in jobs] == [0, 1]
    assert jobs[1].tasks == 1


def test_interval_arithmetic():
    assert trace.union([(3, 4), (0, 1), (0.5, 2), (5, 5)]) == [(0, 2), (3, 4)]
    assert trace.covered([(0, 2), (1, 3), (5, 9)], 1, 6) == pytest.approx(3)
    assert trace.intersect([(0, 4)], [(1, 2), (3, 6)]) == pytest.approx(2)


def test_self_time_counts_concurrent_children_once():
    parent = Span(0, "p", None, "MainThread", 0.0, 10.0)
    kids = [Span(1, "a", 0, "MainThread", 1.0, 4.0),
            Span(2, "b", 0, "pool-1", 2.0, 6.0),
            Span(3, "c", 0, "MainThread", 8.0, 12.0)]  # runs past the end
    assert trace.self_time(parent, kids) == pytest.approx(10 - 5 - 2)


def _canned_spans():
    s = [
        Span(0, "session.start", None, "MainThread", 0.0, 2.0),
        Span(1, "op", None, "MainThread", 10.0, 20.0),
        Span(2, "checkpoint.write:vocab", 1, "MainThread", 10.0, 13.0,
             {"bytes": 100, "files": 2}),
        Span(3, "checkpoint.load:vocab", 2, "MainThread", 12.5, 13.0),
        Span(4, "checkpoint.write:simhash_pairs", 1, "pool-0", 11.0, 15.0,
             {"bytes": 50, "files": 1}),
        Span(5, "cc.dispatch", 1, "MainThread", 14.0, 17.0),
        Span(6, "cc.fixpoint", 5, "MainThread", 14.5, 17.0,
             {"rounds": 3, "edges": 40}),
        Span(7, "driver.collect", 1, "MainThread", 18.0, 19.0),
        # a second operation, so per-operation means are taken
        Span(8, "op", None, "MainThread", 30.0, 34.0),
        Span(9, "checkpoint.write:vocab", 8, "MainThread", 30.0, 31.0,
             {"bytes": 100, "files": 2}),
        Span(10, "cc.union_find", 8, "MainThread", 31.0, 32.0,
             {"edges": 10}),
    ]
    jobs = [Job(0, 3, 12.6, 12.9, tasks=4, task_s=1.0, shuffle_write=7),
            Job(1, 4, 11.0, 14.0, tasks=2, task_s=3.0),
            Job(2, 6, 15.0, 16.0, tasks=8, task_s=4.0, cpu_s=2.0),
            Job(3, 9, 30.0, 31.0, tasks=1, task_s=2.0),
            Job(4, None, 40.0, 41.0, tasks=9, task_s=9.0)]  # outside ops
    return s, jobs


def test_layer_metrics_from_canned_spans_and_jobs():
    spans, jobs = _canned_spans()
    m = trace.layer_metrics(spans, jobs, [1, 8], cores=4,
                            queries=("q1",), extra={"incremental.inc_cc_s": 2})
    assert m["session.start_s"] == 2.0                     # per run
    assert m["cc.fixpoint"] == 1.0                         # per run
    assert m["checkpoint.writes"] == 1.5                   # 3 writes / 2 ops
    assert m["checkpoint.write_s"] == pytest.approx((3 + 4 + 1) / 2)
    assert m["checkpoint.readback_s"] == pytest.approx(0.25)
    assert m["checkpoint.bytes_written"] == 125
    assert m["bags.vocab_s"] == pytest.approx(2.0)
    assert m["bags.task_s"] == pytest.approx((1 + 2) / 2)
    assert m["bags.shuffle_bytes"] == 3.5
    assert m["candidates.task_s"] == pytest.approx(1.5)
    assert m["cc.edges"] == 25
    assert m["cc.fixpoint_rounds"] == 1.5
    assert m["cc.jobs"] == 0.5
    assert m["incremental.inc_cc_s"] == 2
    assert m["query.q1.jobs"] == 0
    assert m["driver.roundtrips"] == 0.5
    assert m["spark.jobs"] == 2.0                          # job 4 excluded
    assert m["spark.tasks"] == 7.5
    # op 1: jobs cover [11, 14] + [15, 16] of [10, 20]; op 2: [30, 31]
    assert m["pipeline.driver_gap_s"] == pytest.approx((6 + 3) / 2)
    assert m["pipeline.busy_ratio"] == pytest.approx(10 / (14 * 4))
    # the pool-thread write overlaps main-thread spans during [11, 13]
    # and [14, 15]
    assert m["pipeline.overlap_s"] == pytest.approx(3 / 2)
    # op 1's children cover [10, 17] and [18, 19]; op 2's [30, 32]
    assert m["trace.wall_s"] == pytest.approx(7.0)
    assert m["trace.unattributed_s"] == pytest.approx((2 + 2) / 2)
    assert m["trace.overlap_s"] == pytest.approx((11 - 8) / 2)


def test_tracer_parents_and_carried_work():
    t = Tracer()
    with t.span("op") as op:
        t.root = op.id
        with t.span("child") as child:
            def work():
                with t.span("pooled") as s:
                    return s
            with ThreadPoolExecutor(1) as pool:
                carried = pool.submit(t.carry(work)).result(timeout=10)
                loose = pool.submit(work).result(timeout=10)
        t.root = None
    with t.span("after") as after:
        pass
    assert child.parent == op.id
    # carried work hangs under the span that handed it over; work handed
    # over bare hangs under the operation
    assert carried.parent == child.id
    assert carried.thread != "MainThread"
    assert loose.parent == op.id
    assert after.parent is None
    assert op.end >= child.end >= carried.end >= carried.start >= op.start


def test_disabled_tracer_records_nothing():
    t = Tracer(enabled=False)
    with t.span("op") as s:
        assert s is None
    assert t.spans == []


def test_pair_recall():
    pairs = [("a", "b"), ("a", "c"), ("d", "e")]
    assert pair_recall(pairs, {"a": 1, "b": 1, "c": 2}) == pytest.approx(1 / 3)
    assert pair_recall([], {}) == 1.0
