"""Trace tooling: self time, quartiles and the event-log join.

Run: python3 -m pytest perfbench/tests -q
"""

import json
import os
import statistics
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from spans import Span, group_metrics, join_condition, quartiles, read_events, self_times, union_length  # noqa: E402


def _span(i, parent, start, end):
    return Span(i, f"layer{i}.fn", parent, "run", 0, start, end)


def test_union_length_merges_overlaps():
    assert union_length([]) == 0
    assert union_length([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)


def test_self_time_subtracts_children_once():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),
        _span(2, 0, 3.0, 6.0),  # overlaps its sibling: covered part counted once
        _span(3, 1, 2.0, 3.0),  # grandchild: only subtracted from its parent
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0)
    assert st[1] == pytest.approx(3.0 - 1.0)
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(1.0)
    # self times of a tree add up to the root's duration
    assert sum(st.values()) == pytest.approx(10.0 + 1.0)  # the sibling overlap counts in both


def test_self_time_sum_equals_root_without_overlap():
    spans = [_span(0, None, 0.0, 8.0), _span(1, 0, 1.0, 3.0), _span(2, 1, 1.5, 2.0), _span(3, 0, 5.0, 7.5)]
    assert sum(self_times(spans).values()) == pytest.approx(8.0)


def test_quartiles_match_statistics():
    vals = [3.0, 1.0, 4.0, 1.5, 5.0, 9.0, 2.5, 6.0, 5.5, 3.5]
    q1, med, q3 = quartiles(vals)
    assert (q1, med, q3) == tuple(statistics.quantiles(vals, n=4))
    assert med == statistics.median(vals)
    assert quartiles([2.0]) == (2.0, 2.0, 2.0)


def _plan(node, children=(), rows_acc=None, **extra):
    d = {"nodeName": node, "simpleString": node, "children": list(children), "metrics": []}
    if rows_acc is not None:
        d["metrics"].append({"name": "number of output rows", "accumulatorId": rows_acc, "metricType": "sum"})
    d.update(extra)
    return d


def _task(stage, accs, ok=True, cpu_ns=2e9, gc_ms=500, shuffle=2**20, spill=0, peak=3 * 2**20):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task End Reason": {"Reason": "Success" if ok else "ExceptionFailure"},
        "Task Info": {"Accumulables": [{"ID": i, "Name": n, "Update": str(u)} for i, n, u in accs]},
        "Task Metrics": {
            "Executor CPU Time": cpu_ns, "JVM GC Time": gc_ms, "Disk Bytes Spilled": spill,
            "Peak Execution Memory": peak, "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
        },
    }


def test_join_condition():
    assert join_condition("BroadcastHashJoin [a#1L], [a#2L], Inner, BuildRight, false") == ""
    assert join_condition(
        "BroadcastHashJoin [c#1L], [c#2L], Inner, BuildRight, (SQRT(((x#3 - y#4) * 2.0)) < 25.0), false"
    ) == "(SQRT(((x#3 - y#4) * 2.0)) < 25.0)"
    assert join_condition("SortMergeJoin [a#1L], [a#2L], Inner") == ""


def test_group_metrics_joins_tasks_and_sql_nodes_on_job_group(tmp_path):
    # A hash join carrying a refine condition whose build side is an
    # explode (the candidate-pair shape), a Python UDF node, a plain
    # equi-join, and a second group.
    cond = "BroadcastHashJoin [k#1L], [k#2L], Inner, BuildRight, (d#3 < 25.0), false"
    plan = _plan("WholeStageCodegen (1)", [
        _plan("Project", [
            _plan("BroadcastHashJoin", [
                _plan("Scan parquet", rows_acc=1),
                _plan("BroadcastQueryStage", [_plan("BroadcastExchange", [
                    _plan("Generate", [_plan("Scan", rows_acc=2)], rows_acc=8)])]),
            ], rows_acc=3, simpleString=cond),
        ]),
        _plan("ArrowEvalPython", [_plan("Scan", rows_acc=5)], rows_acc=6),
        _plan("BroadcastHashJoin", [_plan("Scan", rows_acc=10), _plan("Scan", rows_acc=11)], rows_acc=12,
              simpleString="BroadcastHashJoin [k#1L], [k#2L], Inner, BuildRight, false"),
    ])
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "run/0"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1, 2],
         "Properties": {"spark.jobGroup.id": "run/1"}},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart", "sparkPlanInfo": plan},
        _task(0, [(3, "number of output rows", 10), (8, "number of output rows", 900),
                  (6, "number of output rows", 70), (7, "time to run Python workers", 1500),
                  (12, "number of output rows", 4)]),
        _task(1, [(3, "number of output rows", 5), (8, "number of output rows", 100)], ok=False),
        _task(2, [], cpu_ns=1e9, peak=2**20),
        {"Event": "SparkListenerTaskEnd", "Stage ID": 9, "Task End Reason": {"Reason": "Success"},
         "Task Info": {}, "Task Metrics": {}},  # a stage of no group is ignored
    ]
    path = tmp_path / "events"
    path.write_text("".join(json.dumps(e) + "\n" for e in events))
    g = group_metrics(read_events(str(path)))
    assert set(g) == {"run/0", "run/1"}
    a = g["run/0"]
    assert a.cpu_s == pytest.approx(4.0)  # stage 1 belongs to the first job's group
    assert a.gc_s == pytest.approx(1.0)
    assert a.python_s == pytest.approx(1.5)
    assert a.shuffle_write_mb == pytest.approx(2.0)
    assert a.peak_exec_mem_mb == pytest.approx(3.0)
    assert a.failed_tasks == 1
    assert a.python_rows == 70
    assert a.refine_joins == [(15, 1000, True)]  # the plain equi-join is no refine
    b = g["run/1"]
    assert b.cpu_s == pytest.approx(1.0) and b.refine_joins == [] and b.failed_tasks == 0


def test_refine_without_explode_and_rolling_log_dir(tmp_path):
    cond = "BroadcastHashJoin [id#1L], [id#2L], Inner, BuildLeft, (j#3 >= 0.5), false"
    plan = _plan("BroadcastHashJoin", [_plan("BroadcastExchange", [_plan("Scan", rows_acc=1)]),
                                       _plan("Scan", rows_acc=2)], rows_acc=3, simpleString=cond)
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0], "Properties": {"spark.jobGroup.id": "g"}},
        {"Event": "SparkListenerSQLAdaptiveExecutionUpdate", "sparkPlanInfo": plan},
        # the broadcast's build-side rows arrive as a driver-side update
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates",
         "executionId": 0, "accumUpdates": [[1, 40]]},
        _task(0, [(3, "number of output rows", 4)]),
    ]
    d = tmp_path / "eventlog_v2_app"
    d.mkdir()
    (d / "events_2_app").write_text(json.dumps(events[3]) + "\n")
    (d / "events_1_app").write_text("".join(json.dumps(e) + "\n" for e in events[:3]))
    assert group_metrics(read_events(str(d)))["g"].refine_joins == [(4, 40, False)]
