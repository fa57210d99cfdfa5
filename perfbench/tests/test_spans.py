"""Span recorder and event-log reader on synthetic input (no Spark).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from layers import layer_metrics, metric_names  # noqa: E402
from spans import EventLog, SpanRecorder, span_figures, self_time, union_length  # noqa: E402


class Clock:
    def __init__(self):
        self.t = 0.0

    def __call__(self) -> float:
        return self.t


def ev(kind: str, **fields) -> str:
    return json.dumps({"Event": kind, **fields})


def job(jid: int, group: str | None, start: float, end: float, stages=()) -> list[str]:
    props = {"spark.jobGroup.id": group} if group else {}
    return [
        ev("SparkListenerJobStart", **{"Job ID": jid, "Submission Time": int(start * 1000),
                                        "Stage IDs": list(stages), "Properties": props}),
        ev("SparkListenerJobEnd", **{"Job ID": jid, "Completion Time": int(end * 1000)}),
    ]


def task(stage: int, shuffle_b=0, spill_b=0, cpu_ns=0, accums=()) -> str:
    return ev(
        "SparkListenerTaskEnd",
        **{
            "Stage ID": stage,
            "Task Metrics": {"Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_b},
                             "Disk Bytes Spilled": spill_b, "Executor CPU Time": cpu_ns},
            "Task Info": {"Accumulables": [{"ID": i, "Name": n, "Update": u} for i, n, u in accums]},
        },
    )


def recorded():
    """outer [0, 10] with child [2, 5]; a second top-level span [20, 22]."""
    clock, groups = Clock(), []
    rec = SpanRecorder(groups.append, clock)
    with rec.span("outer") as outer:
        clock.t = 2.0
        with rec.span("child") as child:
            clock.t = 5.0
        clock.t = 10.0
    clock.t = 20.0
    with rec.span("later") as later:
        clock.t = 22.0
    return rec, groups, outer, child, later


def test_recorder_nests_and_restores_job_group():
    rec, groups, outer, child, later = recorded()
    assert child.parent == outer.id and outer.parent is None and later.parent is None
    # entry sets the span's own group, exit restores the enclosing one
    assert groups == [outer.id, child.id, outer.id, None, later.id, None]
    assert rec.subtree_ids(outer.id) == {outer.id, child.id}
    assert (outer.wall, child.wall) == (10.0, 3.0)


def test_self_time_subtracts_children():
    rec, _, outer, child, _ = recorded()
    assert self_time(rec, outer) == pytest.approx(7.0)
    assert self_time(rec, child) == pytest.approx(3.0)


def test_union_length_merges_overlaps():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4.0)
    assert union_length([]) == 0.0


def test_jobs_attributed_by_group_and_driver_gap():
    rec, _, outer, child, later = recorded()
    lines = (
        job(0, outer.id, 0.5, 1.5, stages=[0])
        + job(1, child.id, 2.5, 4.0, stages=[1])
        + job(2, child.id, 3.0, 4.5, stages=[2])  # overlaps job 1
        + job(3, later.id, 20.5, 21.0)
        + job(4, None, 11.0, 12.0)  # outside every span
        + [task(0, shuffle_b=2_000_000, cpu_ns=10**9), task(1, spill_b=3_000_000), task(2, shuffle_b=1_000_000)]
    )
    log = EventLog(lines)

    figs = span_figures(rec, log, outer)
    assert figs["jobs"] == 3  # its own job plus its child's two
    assert figs["shuffle_write_mb"] == pytest.approx(3.0)
    # covered: [0.5, 1.5] and [2.5, 4.5] -> 3 s of 10
    assert figs["driver_gap_s"] == pytest.approx(7.0)
    assert figs["self_s"] == pytest.approx(7.0)

    cfigs = span_figures(rec, log, child)
    assert cfigs["jobs"] == 2
    assert cfigs["driver_gap_s"] == pytest.approx(1.0)
    assert span_figures(rec, log, later)["jobs"] == 1
    assert log.stage_totals({child.id}).spill_b == 3_000_000

    # clipped to an interval: only the jobs submitted inside it
    clipped = span_figures(rec, log, outer, [(2.0, 3.5)])
    assert clipped["jobs"] == 2 and clipped["wall_s"] == pytest.approx(1.5)
    assert clipped["driver_gap_s"] == pytest.approx(0.5)  # jobs cover [2.5, 3.5]


def test_python_time_is_split_by_plan_node():
    plan = {
        "nodeName": "Project", "metrics": [],
        "children": [
            {"nodeName": "MapInPandas", "metrics": [{"name": "time to run Python workers", "accumulatorId": 7}],
             "children": []},
            {"nodeName": "ArrowEvalPython", "metrics": [{"name": "time to run Python workers", "accumulatorId": 8}],
             "children": []},
        ],
    }
    lines = [
        ev("org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart", sparkPlanInfo=plan),
        ev("SparkListenerStageSubmitted", **{"Stage Info": {"Stage ID": 4}, "Properties": {"spark.jobGroup.id": "g"}}),
        task(4, accums=[(7, "time to run Python workers", 1500), (8, "time to run Python workers", 250),
                        (9, "other", 99)]),
    ]
    st = EventLog(lines).stage_totals({"g"})
    assert st.python_ms == {"MapInPandas": 1500, "ArrowEvalPython": 250}


def test_layer_metrics_epilogue_and_coverage():
    """A web pipeline span: two stage writes, then counts, a query and the
    cache release; everything after the last stage is accounted for."""
    clock = Clock()
    rec = SpanRecorder(clock=clock)
    with rec.span("pipeline.run_web_pipeline"):
        with rec.span("lineage.materialize.text_extracted") as st1:
            clock.t = 4.0
        with rec.span("lineage.materialize.pages_xml") as st2:
            clock.t = 6.0
        clock.t = 7.0  # result counts
        with rec.span("sparql.sparql_query") as q:
            clock.t = 7.5
        clock.t = 9.0  # query execution
        with rec.span("session.release_scoped_caches") as rel:
            rel.counts["released"] = 3
            clock.t = 9.5
    top = rec.spans[0]
    lines = (
        job(0, st1.id, 1.0, 3.0) + job(1, st2.id, 4.5, 5.5) + job(2, top.id, 6.2, 6.8)
        + job(3, top.id, 7.6, 8.9) + job(4, q.id, 7.1, 7.2)
    )
    m = layer_metrics(rec, EventLog(lines), n_units=1, timed_s=9.5)
    assert set(m) == set(metric_names())
    assert m["lineage.materialize.text_extracted.wall_s"] == pytest.approx(4.0)
    assert m["lineage.materialize.text_extracted.jobs"] == 1
    assert m["pipeline.epilogue.wall_s"] == pytest.approx(1.0 + 0.5)
    assert m["pipeline.epilogue.jobs"] == 1
    assert m["sparql.sparql_query.plan_s"] == pytest.approx(0.5)
    assert m["sparql.sparql_query.exec_s"] == pytest.approx(1.5)
    assert m["sparql.sparql_query.jobs"] == 2
    assert m["session.release_scoped_caches.released"] == 3
    assert m["spark.jobs_total"] == 5
    assert m["trace.unattributed_frac"] == pytest.approx(0.0)
    assert m["render.collect_xml_file.wall_s"] == 0.0  # not reached by this workload


def test_benchmark_json_lists_every_layer_metric():
    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        declared = [m["name"] for m in json.load(fh)["per_layer"]]
    assert declared == metric_names()
