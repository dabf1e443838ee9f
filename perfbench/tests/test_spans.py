"""Span arithmetic and event-log attribution used by the traced run.

Run with: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys
import threading

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [HERE, os.path.dirname(HERE)]  # perfbench/, then the checkout root

from spans import (  # noqa: E402
    SPAN_PROPERTY,
    JobStats,
    Span,
    Tracer,
    attach_orphans,
    attribute_jobs,
    children_of,
    clipped_union,
    covered_share,
    descendants,
    read_event_log,
    self_time,
    union_length,
)

MAIN, POOL_A, POOL_B = 1, 2, 3


def test_union_merges_overlaps_and_ignores_empty():
    assert union_length([]) == 0.0
    assert union_length([(0, 1), (2, 3)]) == 2.0
    assert union_length([(0, 2), (1, 3)]) == 3.0
    assert union_length([(1, 3), (0, 4)]) == 4.0  # nested
    assert union_length([(0, 1), (1, 2)]) == 2.0  # touching
    assert union_length([(5, 5), (3, 2)]) == 0.0  # empty and inverted


def test_clipped_union_restricts_to_window():
    assert clipped_union([(0, 10)], 2, 5) == 3.0
    assert clipped_union([(0, 1), (9, 12)], 2, 5) == 0.0
    assert clipped_union([(1, 3), (2, 6)], 2, 5) == 3.0


def test_self_time_subtracts_union_not_sum_of_overlapping_children():
    parent = Span(0, "engine.round", 0.0, 10.0, MAIN)
    # two concurrent children overlap on [2, 4]: union 5 s, sum 7 s
    kids = [
        Span(1, "snaptable.append", 1.0, 4.0, POOL_A, 0),
        Span(2, "snaptable.merge", 2.0, 6.0, POOL_B, 0),
    ]
    assert self_time(parent, kids) == pytest.approx(5.0)
    # a child running past its parent only counts inside the parent
    late = Span(3, "snaptable.expire", 9.0, 12.0, MAIN, 0)
    assert self_time(parent, [late]) == pytest.approx(9.0)


def test_self_times_handles_nesting_levels():
    spans = [
        Span(0, "engine.round", 0.0, 10.0, MAIN),
        Span(1, "snaptable.merge", 1.0, 6.0, POOL_A, 0),
        Span(2, "snaptable.replace_buckets", 3.0, 5.0, POOL_A, 1),
    ]
    kids = children_of(spans)
    st = {s.id: self_time(s, kids.get(s.id, [])) for s in spans}
    assert st[0] == pytest.approx(5.0)
    assert st[1] == pytest.approx(3.0)
    assert st[2] == pytest.approx(2.0)
    assert descendants(spans, 0) == {0, 1, 2}


def test_orphans_attach_to_innermost_containing_driver_span():
    spans = [
        Span(0, "engine.run", 0.0, 100.0, MAIN),
        Span(1, "engine.round", 10.0, 20.0, MAIN, 0),
        Span(2, "engine.round", 20.0, 30.0, MAIN, 0),
        Span(3, "snaptable.append", 12.0, 19.0, POOL_A),
        Span(4, "snaptable.append", 21.0, 22.0, POOL_B),
        # a pool span that outlives every round falls back to the run
        Span(5, "snaptable.append", 25.0, 35.0, POOL_A),
        # nested pool span keeps its same-thread parent
        Span(6, "snaptable.replace_buckets", 13.0, 14.0, POOL_A, 3),
    ]
    attach_orphans(spans, MAIN)
    parents = {s.id: s.parent for s in spans}
    assert parents[3] == 1
    assert parents[4] == 2
    assert parents[5] == 0
    assert parents[6] == 3
    # a pool-thread span never becomes the parent of a sibling it
    # happens to contain in time
    assert parents[4] != 5


def test_covered_share_counts_time_with_any_inner_span_open():
    rounds = [
        Span(0, "engine.round", 0.0, 10.0, MAIN),
        Span(1, "engine.round", 10.0, 20.0, MAIN),
    ]
    inner = [
        Span(2, "snaptable.append", 1.0, 5.0, POOL_A),
        Span(3, "snaptable.merge", 3.0, 6.0, POOL_B),  # overlaps: 5 s union
        Span(4, "snaptable.expire", 19.0, 21.0, MAIN),  # 1 s inside
    ]
    assert covered_share(rounds, inner) == pytest.approx(6.0 / 20.0)
    assert covered_share([], inner) == 0.0


def _events():
    return [
        {
            "Event": "SparkListenerJobStart",
            "Job ID": 0,
            "Submission Time": 1_000_500,
            "Stage IDs": [0, 1],
            "Properties": {SPAN_PROPERTY: "1"},
        },
        {
            "Event": "SparkListenerJobStart",
            "Job ID": 1,
            "Submission Time": 1_002_000,
            "Stage IDs": [2],
            "Properties": {},
        },
        {
            "Event": "SparkListenerJobStart",
            "Job ID": 2,
            "Submission Time": 1_050_000,
            "Stage IDs": [3],
        },
        {
            "Event": "SparkListenerTaskEnd",
            "Stage ID": 0,
            "Task Metrics": {
                "Executor Run Time": 1500,
                "JVM GC Time": 100,
                "Shuffle Write Metrics": {"Shuffle Bytes Written": 2048},
                "Memory Bytes Spilled": 10,
                "Disk Bytes Spilled": 5,
            },
        },
        {
            "Event": "SparkListenerTaskEnd",
            "Stage ID": 1,
            "Task Metrics": {
                "Executor Run Time": 500,
                "Shuffle Read Metrics": {
                    "Remote Bytes Read": 1000,
                    "Local Bytes Read": 48,
                },
            },
        },
        {
            "Event": "SparkListenerTaskEnd",
            "Stage ID": 2,
            "Task Metrics": {"Executor Run Time": 250},
        },
        # a task whose stage no job claimed, and a failed task without
        # metrics, are both ignored
        {"Event": "SparkListenerTaskEnd", "Stage ID": 99, "Task Metrics": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 3, "Task Metrics": None},
    ]


def test_event_log_totals_per_job():
    jobs = {j.job_id: j for j in read_event_log(json.dumps(e) for e in _events())}
    assert sorted(jobs) == [0, 1, 2]
    j0 = jobs[0]
    assert (j0.span, j0.tasks) == (1, 2)
    assert j0.task_s == pytest.approx(2.0)
    assert j0.gc_s == pytest.approx(0.1)
    assert (j0.shuffle_write_b, j0.shuffle_read_b, j0.spill_b) == (2048, 1048, 15)
    assert (jobs[1].span, jobs[1].tasks) == (None, 1)
    assert jobs[2].tasks == 0
    assert jobs[1].submit_s == pytest.approx(1002.0)


def test_jobs_attribute_by_property_then_by_driver_time():
    epoch = 1000.0  # span clock 0 == epoch second 1000
    spans = [
        Span(0, "engine.round", 0.0, 10.0, MAIN),
        Span(1, "snaptable.append", 0.2, 8.0, POOL_A, 0),
        Span(2, "engine.round", 10.0, 20.0, MAIN),
    ]
    jobs = [
        JobStats(0, 1000.5, 1),  # carries the property
        JobStats(1, 1002.0, None),  # pool job outside a wrapped call
        JobStats(2, 1015.0, 7),  # unknown span id: fall back to time
        JobStats(3, 1050.0, None),  # after every span
    ]
    assert attribute_jobs(jobs, spans, MAIN, epoch) == {0: 1, 1: 0, 2: 2, 3: None}


class _Box:
    def work(self, x):
        return x * 2

    def fail(self):
        raise RuntimeError("boom")


def test_tracer_wraps_records_parents_and_uninstalls():
    orig = _Box.__dict__["work"]
    tr = Tracer()
    tr.wrap(_Box, "work", "box.work", table_of=lambda a: "t")
    tr.wrap(_Box, "fail", "box.fail")
    b = _Box()
    assert b.work(3) == 6
    assert tr.spans == []  # disabled: no spans
    tr.enabled = True
    with tr.span("outer"):
        assert b.work(4) == 8
        with pytest.raises(RuntimeError):
            b.fail()
        th = threading.Thread(target=b.work, args=(1,))
        th.start()
        th.join(timeout=10)
        assert not th.is_alive()
    names = {s.name: s for s in tr.spans}
    outer = names["outer"]
    inner = [s for s in tr.spans if s.name == "box.work"]
    assert len(inner) == 2
    same_thread = [s for s in inner if s.thread == outer.thread]
    other_thread = [s for s in inner if s.thread != outer.thread]
    assert same_thread[0].parent == outer.id
    assert same_thread[0].attrs == {"table": "t"}
    assert other_thread[0].parent is None  # attached later by time
    assert names["box.fail"].parent == outer.id  # closed despite raising
    attach_orphans(tr.spans, tr.driver_thread)
    assert other_thread[0].parent == outer.id
    tr.uninstall()
    assert _Box.__dict__["work"] is orig


def test_same_rows_allows_one_cent_only_in_cent_rounded_columns():
    import pandas as pd

    from compare import same_rows

    ref = pd.DataFrame(
        {
            "k": [1, 2, 3],
            "revenue": [858911.31, 10.5, 1200.1],
            "avg": [0.0499, 0.05, 0.1234],
            "qty": [1000.0, 17.0, 3.0],
        }
    )
    mine = ref.iloc[::-1].reset_index(drop=True).copy()
    assert same_rows(mine, ref)  # row order does not matter
    mine.loc[mine.k == 1, "revenue"] = 858911.30  # half-cent tie rounded down
    assert same_rows(mine, ref)
    mine.loc[mine.k == 1, "revenue"] = 858911.28
    assert not same_rows(mine, ref)
    for col, k, value in (
        ("revenue", 3, 1200.2),  # a whole unit of the value's last decimal
        ("avg", 2, 0.0599),  # the column is rounded to 4 places, not 2
        ("avg", 3, 0.1236),  # two units at four places
        ("qty", 1, 1001.0),  # whole numbers get no tolerance
    ):
        off = ref.copy()
        off.loc[off.k == k, col] = value
        assert not same_rows(off, ref), (col, value)
    assert not same_rows(ref.iloc[:1], ref)
    assert not same_rows(ref.assign(k=[1, 3, 4]), ref)


def test_drift_ratio_compares_last_third_with_first_third():
    from spans import drift_ratio

    assert drift_ratio([]) == 1.0
    assert drift_ratio([5.0]) == 1.0
    assert drift_ratio([10.0, 8.0]) == pytest.approx(0.8)
    assert drift_ratio([12.0, 10.0, 11.0, 9.0, 9.0, 6.0]) == pytest.approx(15.0 / 22.0)


def test_always_wrapper_records_while_disabled_without_naming_spark():
    class _Ctx:
        props: list = []

        def setLocalProperty(self, key, value):
            self.props.append((key, value))

    ctx = _Ctx()
    tr = Tracer(ctx)
    tr.wrap(_Box, "work", "box.work", always=True)
    tr.wrap(_Box, "fail", "box.fail")
    b = _Box()
    b.work(1)
    with pytest.raises(RuntimeError):
        b.fail()
    assert [s.name for s in tr.spans] == ["box.work"]
    assert ctx.props == []  # timing-only spans are not passed to Spark
    tr.enabled = True
    b.work(2)
    assert len(tr.spans) == 2
    assert ctx.props == [(SPAN_PROPERTY, str(tr.spans[1].id)), (SPAN_PROPERTY, None)]
    tr.uninstall()


def test_layer_metrics_match_benchmark_json():
    from layers import METRICS

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer"]
    assert [(m["name"], m["unit"]) for m in declared] == METRICS
