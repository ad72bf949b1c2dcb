"""Tests of the benchmark harness's own helpers (no Spark session needed).

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
from pathlib import Path

import numpy as np
import pytest

from perfbench import inputs, measure, trace
from perfbench.oracle_check import _materialized, compare

FIXTURE = Path(__file__).parent / "fixtures" / "eventlog_read.jsonl"


# -- percentiles ----------------------------------------------------------------

def test_percentile_nearest_rank():
    v = list(range(1, 101))
    assert measure.percentile(v, 50) == 50
    assert measure.percentile(v, 90) == 90
    assert measure.percentile(v, 100) == 100
    assert measure.percentile([7.0], 90) == 7.0
    with pytest.raises(ValueError):
        measure.percentile([], 50)


def test_p90_needs_ten_samples_beyond():
    # 100 samples: p90 is rank 90, with exactly 10 beyond it
    assert measure.p90(list(range(1, 101))) == 90
    assert measure.p90(list(range(100, 0, -1))) == 90
    # 99 samples: p90 is rank 90 with only 9 beyond it
    assert measure.p90(list(range(1, 100))) is None
    assert measure.p90(list(range(1, 11))) is None
    assert measure.p90([]) is None


# -- due-time latency -----------------------------------------------------------

def test_latency_is_charged_from_the_due_time():
    r = measure.Request(due=10.0, sent=10.5, done=11.25)
    assert r.latency == pytest.approx(1.25)   # includes the 0.5 s wait
    assert r.late == pytest.approx(0.5)
    assert r.service == pytest.approx(0.75)


def test_schedule_lag_flags_a_backlog_that_never_drains():
    on_time = [measure.Request(i, i + 0.01, i + 0.5) for i in range(20)]
    lag = measure.schedule_lag(on_time)
    assert not lag["behind"]
    assert lag["late_max_s"] == pytest.approx(0.01)
    # a stall late in the run: the last quarter is sent ever later
    stalled = [measure.Request(i, i + max(0.0, (i - 12) * 0.8), i + 5)
               for i in range(20)]
    lag = measure.schedule_lag(stalled)
    assert lag["behind"]
    assert lag["late_max_s"] == pytest.approx(7 * 0.8)
    assert measure.schedule_lag([]) == {"late_p50_s": 0.0, "late_max_s": 0.0,
                                        "behind": False}


# -- open-loop schedule ------------------------------------------------------------

def test_schedule_is_seeded_and_deletes_the_pinned_ids_first():
    def plan(seed):
        gen = inputs.QueryGen(np.random.default_rng(seed), ["alpha", "beta", "gamma"],
                              ["alpha beta gamma delta"])
        return inputs.serve_schedule(gen, 1.3, 12, 1000, pinned=[7, 3])
    a = plan(5)
    assert a == plan(5)
    assert len(a) == 16 and [p.rid for p in a] == list(range(16))
    assert all(x.due <= y.due for x, y in zip(a, a[1:]))
    deletes = [p for p in a if p.kind == "delete"]
    assert len(deletes) == 2 and deletes[0].delete_ids[:2] == (7, 3)
    ids = [d for p in deletes for d in p.delete_ids]
    assert len(ids) == len(set(ids)) == 2 * inputs.DELETES_PER_REQUEST


# -- spans ------------------------------------------------------------------------

def _span(sid, start, end, parent=None):
    return trace.Span(sid, sid, start, end, parent=parent)


def test_covered_merges_overlaps_and_clips():
    assert trace.covered([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4)
    assert trace.covered([(0, 10)], 2, 4) == pytest.approx(2)
    assert trace.covered([(0, 1)], 2, 4) == 0
    assert trace.covered([]) == 0


def test_self_time_subtracts_only_what_children_cover():
    parent = _span("p", 0.0, 10.0)
    kids = [_span("a", 1.0, 4.0, "p"), _span("b", 3.0, 5.0, "p"),
            _span("c", 9.0, 12.0, "p")]      # overlapping, and running past
    assert trace.self_time(parent, kids) == pytest.approx(10 - 4 - 1)
    assert trace.self_time(parent, []) == pytest.approx(10)


def test_tracer_nests_spans_per_thread_and_keeps_request_ids():
    t = trace.Tracer(enabled=True)
    with t.span("outer", rid=7) as outer:
        with t.span("inner") as inner:
            pass
    assert inner.parent == outer.sid and inner.rid == 7
    assert outer.parent is None
    assert [s.name for s in t.spans] == ["inner", "outer"]


def test_disabled_tracer_records_nothing():
    t = trace.Tracer(enabled=False)

    class Obj:
        def f(self):
            return 3
    o = Obj()
    t.wrap(o, "f", "obj.f")
    with t.span("x") as s:
        assert s is None
    assert o.f() == 3 and t.spans == []


def test_wrap_records_result_counts():
    t = trace.Tracer(enabled=True)

    class Obj:
        def rows(self, n):
            return list(range(n))
    o = Obj()
    t.wrap(o, "rows", "obj.rows", results=len)
    assert o.rows(4) == [0, 1, 2, 3]
    assert t.spans[0].name == "obj.rows" and t.spans[0].attrs["results"] == 4


# -- event log --------------------------------------------------------------------

def test_event_log_parsing_on_recorded_fixture():
    """A recorded Spark 4.1 event log of one traced read (a wand_topk call
    over a streaming root): its jobs carry the span id as job group, and
    the kernel's Python metrics are named only by the adaptive plan update
    logged after its stage completed."""
    log = trace.read_event_log(FIXTURE)
    groups = {j.group for j in log.jobs.values()}
    assert groups == {"s4"}
    spans = [trace.Span("s4", "query.wand_topk", 0.0, 1e12)]
    cost = trace.charge(spans, log)["s4"]
    assert cost.jobs == len(log.jobs)
    assert cost.tasks == sum(st.tasks for st in log.stages.values())
    assert cost.rows["kernel"] > 0
    assert trace.py_total(cost, "run", "kernel") > 0
    assert trace.py_total(cost, "init") > 0
    assert trace.py_total(cost, "run", "analyzer") == 0
    assert all(w >= 0 for w in cost.queue_waits)
    assert len(cost.job_intervals) == cost.jobs


def test_event_log_resolves_metrics_logged_before_their_plan():
    plan = {"nodeName": "FlatMapGroupsInPandas", "simpleString": "x",
            "metrics": [{"name": "time to run Python workers",
                         "accumulatorId": 9, "metricType": "timing"},
                        {"name": "number of output rows",
                         "accumulatorId": 10, "metricType": "sum"}],
            "children": []}
    lines = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0], "Properties": {"spark.jobGroup.id": "g"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Info": {"Launch Time": 1250},
         "Task Metrics": {"Executor Run Time": 40, "JVM GC Time": 5}},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 0, "Accumulables": [
             {"ID": 9, "Name": "time to run Python workers", "Value": "1500"},
             {"ID": 10, "Name": "number of output rows", "Value": "12"}]}},
        {"Event": "org.apache.spark.sql.execution.ui."
                  "SparkListenerSQLAdaptiveExecutionUpdate",
         "sparkPlanInfo": plan},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 3000},
    ]
    log = trace.parse_event_log(json.dumps(e) for e in lines)
    st = log.stages[0]
    assert st.py[("kernel", "run")] == pytest.approx(1.5)
    assert st.rows["kernel"] == 12
    assert st.run_s == pytest.approx(0.04) and st.gc_s == pytest.approx(0.005)
    cost = trace.charge([trace.Span("g", "x", 0.5, 3.5)], log)["g"]
    assert cost.queue_waits == [pytest.approx(0.25)]
    assert trace.driver_time(trace.Span("g", "x", 0.5, 3.5), cost) == pytest.approx(1.0)


# -- oracle helpers ---------------------------------------------------------------

def test_materialized_marks_each_repeated_cte_once():
    sql = "WITH docs AS (x), sel AS (y), tf AS (z), dl AS (w), tf_dl AS (v) SELECT 1"
    out = _materialized(sql)
    for name in ("docs", "sel", "tf", "dl"):
        assert f"{name} AS MATERIALIZED (" in out
    assert "tf_dl AS (v)" in out


def test_compare_rounds_scores_and_reports_first_difference():
    want = [(1, 5, 2.000001), (2, 9, 1.5)]
    assert compare("q", [(1, 5, 2.0), (2, 9, 1.5)], want) is None
    assert "row 1" in compare("q", [(1, 5, 2.0), (2, 8, 1.5)], want)
    assert "1 rows" in compare("q", [(1, 5, 2.0)], want)
