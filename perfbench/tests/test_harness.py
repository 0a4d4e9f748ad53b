"""Tests of the benchmark's own bookkeeping. They need no JVM:

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import re
import sys
from types import SimpleNamespace

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import harness  # noqa: E402
import layers  # noqa: E402
from harness import OpsCounter, Span, Tracer, self_times, tail_percentile  # noqa: E402

SPEC = harness.load_spec(os.path.join(ROOT, "BENCHMARK.json"))


# ------------------------------------------------------------ percentiles
@pytest.mark.parametrize("n, pct", [
    (5, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0),
    (99, 75.0), (100, 90.0), (200, 95.0), (999, 95.0), (1000, 99.0),
    (10000, 99.9),
])
def test_tail_is_highest_percentile_with_ten_beyond(n, pct):
    samples = [float(i) for i in range(1, n + 1)]
    got_pct, value, count = tail_percentile(samples)
    assert count == n
    assert got_pct == pct
    if pct is None:
        assert value is None
    else:
        # nearest rank: the smallest sample with at least pct% of samples at or below it
        assert sum(x <= value for x in samples) >= pct / 100 * n - 1e-9
        assert sum(x < value for x in samples) < pct / 100 * n
        assert sum(x > value for x in samples) >= harness.TAIL_MIN_BEYOND


def test_tail_ignores_sample_order():
    assert tail_percentile([5.0, 1.0, 3.0] * 20) == tail_percentile(sorted([5.0, 1.0, 3.0] * 20))


def test_median_even_and_odd():
    assert harness.median([3, 1, 2]) == 2
    assert harness.median([4, 1, 3, 2]) == 2.5


# ------------------------------------------------------------- self time
def _span(i, parent, start, end, layer="x"):
    return Span(f"s{i}", layer, i, parent, start, end)


def test_self_time_subtracts_children():
    spans = [_span(0, None, 0, 10), _span(1, 0, 1, 3), _span(2, 0, 5, 9)]
    assert self_times(spans) == {0: 4, 1: 2, 2: 4}


def test_self_time_merges_overlapping_and_clips_children():
    spans = [_span(0, None, 0, 10), _span(1, 0, 2, 6), _span(2, 0, 4, 8),
             _span(3, 0, 9, 12)]
    # children cover [2, 8] and [9, 10] of the parent
    assert self_times(spans)[0] == pytest.approx(3.0)


def test_self_time_counts_direct_children_only():
    spans = [_span(0, None, 0, 10), _span(1, 0, 0, 6), _span(2, 1, 1, 5)]
    st = self_times(spans)
    assert st == {0: 4, 1: 2, 2: 4}
    assert sum(st.values()) == 10  # self times partition the root


# ----------------------------------------------------------------- tracer
class FakeStatus:
    def __init__(self, groups, jobs, stages):
        self.groups, self.jobs, self.stages = groups, jobs, stages

    def getJobIdsForGroup(self, g):
        return self.groups.get(g, [])

    def getJobInfo(self, jid):
        return SimpleNamespace(stageIds=self.jobs[jid])

    def getStageInfo(self, sid):
        done, failed = self.stages[sid]
        return SimpleNamespace(numCompletedTasks=done, numFailedTasks=failed)


class FakeSc:
    def __init__(self, status):
        self.status = status
        self.props = {}
        self.calls = []

    def setJobGroup(self, g, desc):
        self.props["spark.jobGroup.id"] = g
        self.calls.append(g)

    def setLocalProperty(self, k, v):
        self.props[k] = v

    def statusTracker(self):
        return self.status


def test_tracer_attributes_jobs_and_restores_parent_group():
    status = FakeStatus(
        groups={"r:0": [0], "r:1": [1, 2]},
        jobs={0: [10], 1: [11, 10], 2: [12]},
        stages={10: (4, 0), 11: (8, 1), 12: (2, 0)},
    )
    sc = FakeSc(status)
    t = Tracer(True, "r", get_sc=lambda: sc)
    with t.span("outer", "phase"):
        with t.span("inner", "engine"):
            assert sc.props["spark.jobGroup.id"] == "r:1"
        assert sc.props["spark.jobGroup.id"] == "r:0"
    assert sc.props["spark.jobGroup.id"] is None
    outer, inner = t.spans
    assert inner.parent == outer.span_id
    assert inner.jobs == [1, 2] and outer.jobs == [0]
    # stage 10 ran in the inner span's job 1; outer job 0 reuses it
    assert inner.tasks == 4 + 8 + 2 and inner.failed_tasks == 1
    assert outer.tasks == 0
    lines = [json.loads(x) for x in t.lines()]
    assert {x["run_id"] for x in lines} == {"r"}
    assert [x["parent"] for x in lines] == [None, 0]


def test_disabled_tracer_records_nothing():
    t = Tracer(False, "r", get_sc=lambda: pytest.fail("no Spark calls when disabled"))
    with t.span("a", "phase") as s:
        assert s is None
    assert t.spans == [] and t.overhead_s == 0.0


def test_span_closes_on_exception():
    t = Tracer(True, "r")
    with pytest.raises(RuntimeError):
        with t.span("a", "phase"):
            raise RuntimeError("boom")
    assert t.spans[0].end is not None and t._stack == []


# ------------------------------------------------------------- operations
def test_failed_operations_are_counted_against_attempted():
    ops = OpsCounter()
    with ops.op("fine"):
        pass
    with pytest.raises(ValueError):
        with ops.op("raises"):
            raise ValueError("bad input")
    assert ops.check("true", lambda: True)
    assert not ops.check("false", lambda: False)
    assert not ops.check("raises", lambda: 1 / 0)
    assert (ops.attempted, ops.failed) == (5, 3)
    assert ops.failures[0].startswith("raises: ValueError")
    assert ops.failures[1] == "false: mismatch"


# ----------------------------------------------------------------- result
def _values(trace):
    return {m["name"]: 1.5 for m in SPEC["per_layer" if trace else "end_to_end"]}


@pytest.mark.parametrize("trace", [False, True])
def test_result_line_has_exactly_the_spec_metrics_with_units(trace):
    ops = OpsCounter()
    ops.check("ok", lambda: True)
    out = harness.result_line(SPEC, trace, _values(trace), ops)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["attempted"] == 1 and out["failed"] == 0
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert list(out["metrics"]) == [m["name"] for m in spec]
    for m in spec:
        assert out["metrics"][m["name"]] == {"value": 1.5, "unit": m["unit"]}


def test_result_line_rejects_missing_extra_and_nonfinite():
    ops = OpsCounter()
    ops.check("ok", lambda: True)
    v = _values(False)
    with pytest.raises(ValueError, match="missing"):
        harness.result_line(SPEC, False, {k: x for k, x in v.items() if k != "total_s"}, ops)
    with pytest.raises(ValueError, match="extra"):
        harness.result_line(SPEC, False, {**v, "bogus_s": 1.0}, ops)
    with pytest.raises(ValueError, match="finite"):
        harness.result_line(SPEC, False, {**v, "total_s": float("nan")}, ops)


def test_result_is_incorrect_when_an_operation_failed():
    ops = OpsCounter()
    ops.check("bad", lambda: False)
    out = harness.result_line(SPEC, False, _values(False), ops)
    assert out["correct"] is False and out["failed"] == 1


# ------------------------------------------------------- spec and layers
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def test_spec_follows_its_format():
    assert set(SPEC) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    names = [w["name"] for w in SPEC["workloads"]]
    names += [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    for w in SPEC["workloads"]:
        assert set(w) == {"name", "why"} and 0 < len(w["why"]) <= 200 and "\n" not in w["why"]
    for m in SPEC["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25 and UNIT.match(m["unit"])
    for m in SPEC["per_layer"]:
        assert set(m) == {"name", "unit", "better"} and UNIT.match(m["unit"])
    setup = [m for m in SPEC["end_to_end"] if m["name"] == "setup_s"]
    assert setup == [{"name": "setup_s", "unit": "s", "better": "lower",
                      "bound": max(m["bound"] for m in SPEC["end_to_end"])}]
    assert 1 <= SPEC["run_seconds"] <= 60


def _fake_pass():
    rec = SimpleNamespace(wall_s=0.3, mode="dense", processed_edges=100, bytes_shipped=8)
    spans = [Span("ingest", "phase", 0, None, 0.0, 5.0),
             Span("sources.extract_links", "sources", 1, 0, 0.0, 2.0, jobs=[1, 2], tasks=8)]
    out = {"sizes": {"links": 10, "edges": 10, "vertices": 5},
           "eng_pagerank": SimpleNamespace(metrics=[rec] * 20),
           "eng_cc": SimpleNamespace(metrics=[rec] * 30)}
    return {"times": {"ingest": 5.0, "analytics": 6.0}, "total": 11.0, "out": out, "spans": spans}


def test_layers_produce_exactly_the_spec_metrics():
    setup = {"session": [6.0, 0.1, 0.1], "first_call": [3.0, 2.0, 2.5],
             "total": [9.0, 2.1, 2.6]}
    for trace, key in ((False, "end_to_end"), (True, "per_layer")):
        v = layers.values(trace, setup, [_fake_pass()], overhead_s=0.01)
        v.update(peak_rss_mb=1.0, **{"mem.driver_py_peak_mb": 1.0})
        want = {m["name"] for m in SPEC[key]}
        assert set(v) >= want and not (set(v) - want - {"peak_rss_mb", "mem.driver_py_peak_mb"})
    v = layers.values(True, setup, [_fake_pass()], overhead_s=0.01)
    assert v["sources.jobs"] == 2 and v["sources.extract_s"] == 2.0
    assert v["self.phase_s"] == 3.0 and v["self.sources_s"] == 2.0
    assert v["engine.superstep_samples"] == 50 and v["engine.superstep_tail_pct"] == 75.0
    assert v["engine.pagerank.supersteps"] == 20 and v["engine.pagerank.processed_edges"] == 2000
    e2e = layers.values(False, setup, [_fake_pass()], overhead_s=0.0)
    assert e2e["setup_s"] == 2.6 and e2e["total_s"] == 11.0
