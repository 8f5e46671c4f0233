"""Tests for the benchmark's own helpers.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import random
import sys
import threading

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import layers, workloads  # noqa: E402
from perfbench.stats import (  # noqa: E402
    OpLog,
    closed_loop,
    pass_seconds,
    percentile,
    self_time,
    tail,
    tail_percentile,
    union_length,
)
from perfbench.trace import Tracer  # noqa: E402


def test_tail_percentile_leaves_ten_samples_beyond():
    assert tail_percentile(19) is None
    assert tail_percentile(20) == 50
    assert tail_percentile(28) == 64
    assert tail_percentile(62) == 83
    assert tail_percentile(100) == 90
    assert tail_percentile(1000) == 99
    for n in range(20, 500):
        p = tail_percentile(n)
        assert n * (100 - p) / 100 >= 10
        assert p == 99 or n * (100 - (p + 1)) / 100 < 10


def test_tail_falls_back_to_max_below_twenty_samples():
    assert tail([1.0, 5.0, 2.0]) == (5.0, "max")
    xs = [float(i) for i in range(1, 101)]
    value, label = tail(xs)
    assert label == "p90" and value == percentile(xs, 90)
    assert sum(x > value for x in xs) >= 10


def test_self_time_counts_overlapping_children_once():
    # children overlap each other and the second one runs past the parent
    children = [(1.0, 4.0), (3.0, 6.0), (8.0, 12.0)]
    assert union_length([(1.0, 4.0), (3.0, 6.0)]) == 5.0
    assert self_time(0.0, 10.0, children) == pytest.approx(3.0)
    assert self_time(0.0, 10.0, []) == 10.0
    assert self_time(0.0, 10.0, [(0.0, 10.0), (2.0, 3.0)]) == 0.0


class _FakeContext:
    def __init__(self):
        self.props = threading.local()

    def _d(self):
        if not hasattr(self.props, "d"):
            self.props.d = {}
        return self.props.d

    def getLocalProperty(self, k):
        return self._d().get(k)

    def setLocalProperty(self, k, v):
        if v is None:
            self._d().pop(k, None)
        else:
            self._d()[k] = v

    def setJobGroup(self, gid, desc):
        self._d().update({"spark.jobGroup.id": gid, "spark.job.description": desc})


class _FakeSpark:
    sparkContext = _FakeContext()


def test_tracer_parents_pool_spans_and_restores_job_group():
    tr = Tracer(_FakeSpark(), enabled=True)
    sc = _FakeSpark.sparkContext
    with tr.span("cycle") as outer:
        assert sc.getLocalProperty("spark.jobGroup.id") == outer.group

        def commit(name):
            with tr.span(name):
                pass

        ts = [threading.Thread(target=commit, args=(f"c{i}",)) for i in range(3)]
        for t in ts:
            t.start()
        for t in ts:
            t.join(timeout=10)
        assert not any(t.is_alive() for t in ts)
    assert sc.getLocalProperty("spark.jobGroup.id") is None
    kids = [s for s in tr.spans if s.parent == outer.id]
    assert sorted(s.name for s in kids) == ["c0", "c1", "c2"]
    assert 0.0 <= tr.self_s(outer) <= outer.end - outer.start


def test_tracer_off_records_nothing():
    tr = Tracer(_FakeSpark(), enabled=False)
    with tr.span("x") as sp:
        assert sp is None
    assert tr.spans == []


def test_op_fail_ratio_counts_exceptions_and_wrong_outputs():
    ctx = workloads.Ctx(None, Tracer(_FakeSpark(), enabled=False), 0, 1.0, "")
    ok, out, _ = ctx.op("query", lambda: 42, span="q")
    assert ok.ok and out == 42
    bad, out, _ = ctx.op("query", lambda: 1 / 0, span="q")
    assert not bad.ok and out is None
    wrong, _, _ = ctx.op("probe", lambda: [], span="p")
    ctx.fail(wrong, "probe: wrong result")
    assert (ctx.ops.attempted, ctx.ops.failed) == (3, 2)
    assert ctx.ops.fail_ratio() == pytest.approx(2 / 3)
    assert OpLog().fail_ratio() == 0.0


def test_pass_seconds_sums_each_operations_median():
    log = OpLog()
    for cycle, probe in ((10.0, 1.0), (30.0, 2.0), (12.0, 9.0)):
        log.add("cycle", cycle)
        log.add("probe", probe).label = "q"
    log.add("warmup", 100.0)
    log.add("probe", 0.5).label = "r"
    # median cycle 12 + median probe "q" 2 + the one probe "r" 0.5
    assert pass_seconds(log.ops, ("cycle", "probe")) == pytest.approx(14.5)
    assert pass_seconds(log.ops, ("query",)) == 0.0


def test_set_up_operations_open_no_span():
    ctx = workloads.Ctx(None, Tracer(_FakeSpark(), enabled=True), 0, 1.0, "")
    op, out, sp = ctx.op("warmup", lambda: 7, span=None)
    assert (op.kind, out, sp) == ("warmup", 7, None)
    assert ctx.tracer.spans == [] and ctx.ops.attempted == 1


def test_closed_loop_stops_when_the_next_op_would_overrun():
    now = [0.0]
    durations = iter([4.0, 4.0, 4.0, 4.0])

    def op():
        now[0] += next(durations)

    assert closed_loop(10.0, op, clock=lambda: now[0]) == 2
    assert now[0] == 8.0  # a third 4 s op would end at 12 s
    now[0] = 0.0
    bump = lambda: now.__setitem__(0, now[0] + 5.0)  # noqa: E731
    assert closed_loop(1.0, bump, clock=lambda: now[0]) == 1
    assert now[0] == 5.0  # the first op always runs


def test_seed_picks_the_same_windows_and_order():
    assert workloads.drain_offset(3) == workloads.drain_offset(3)
    offsets = {workloads.drain_offset(s) for s in range(workloads.DRAIN_WINDOWS)}
    assert len(offsets) == workloads.DRAIN_WINDOWS
    assert min(b - a for a, b in zip(sorted(offsets), sorted(offsets)[1:])) >= (
        workloads.DRAIN_URLS
    )
    a, b = list(workloads.REGISTRY_LEAVES), list(workloads.REGISTRY_LEAVES)
    random.Random(7).shuffle(a)
    random.Random(7).shuffle(b)
    assert a == b


def test_same_seed_generates_the_same_seed_urls():
    pytest.importorskip("pyspark")
    from omni_crawler_spark.session import get_spark

    spark = get_spark("perfbench-test", cpus=2)
    one = workloads.seed_window(spark, workloads.drain_offset(5), 200, 4).collect()
    two = workloads.seed_window(spark, workloads.drain_offset(5), 200, 4).collect()
    other = workloads.seed_window(spark, workloads.drain_offset(6), 200, 4).collect()
    assert one == two and len(one) == 200
    assert not {r.url for r in one} & {r.url for r in other}


def test_benchmark_json_matches_the_metrics_the_runner_prints():
    from perfbench.run import END_TO_END

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [m["name"] for m in spec["end_to_end"]] == [n for n, _ in END_TO_END]
    assert [m["unit"] for m in spec["end_to_end"]] == [u for _, u in END_TO_END]
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == [
        tuple(x) for x in layers.PER_LAYER
    ]
    assert {w["name"] for w in spec["workloads"]} <= set(workloads.WORKLOADS)
    assert len(layers.PER_LAYER) <= 128
