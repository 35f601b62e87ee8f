"""Span self time and event-log attribution by job group."""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from spans import Tracer, attribute, read_event_logs, self_times  # noqa: E402


def test_self_time_subtracts_children():
    spans = [
        {"id": "a", "parent": None, "start": 0.0, "end": 10.0},
        {"id": "b", "parent": "a", "start": 1.0, "end": 4.0},
        {"id": "c", "parent": "a", "start": 3.0, "end": 6.0},  # overlaps b
        {"id": "d", "parent": "b", "start": 2.0, "end": 3.0},
    ]
    st = self_times(spans)
    assert st == {"a": 5.0, "b": 2.0, "c": 3.0, "d": 1.0}


def test_disabled_tracer_records_nothing():
    t = Tracer(False)
    with t.span("query.x") as sp:
        assert sp == {}
    assert t.spans == []


def test_event_log_attributed_by_job_group(tmp_path):
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "s1"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2], "Properties": {}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 2}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
            "Executor Run Time": 7, "Executor CPU Time": 3_000_000, "JVM GC Time": 2,
            "Memory Bytes Spilled": 5, "Disk Bytes Spilled": 1,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 11},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 13}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": {"Executor Run Time": 99}},
    ]
    (d / "events_1_local-1").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    (d / "appstatus_local-1").write_text("")
    groups = read_event_logs(str(tmp_path))
    assert set(groups) == {"s1"}
    g = groups["s1"]
    assert (g["jobs"], g["stages"], g["tasks"]) == (1, 1, 1)
    assert (g["executor_run_ms"], g["executor_cpu_ms"], g["gc_ms"]) == (7, 3.0, 2)
    assert (g["spill_bytes"], g["shuffle_read_bytes"], g["shuffle_write_bytes"]) == (6, 11, 13)
    spans = [{"id": "s1"}, {"id": "s2"}]
    attribute(spans, groups)
    assert spans[0]["spark"]["tasks"] == 1 and spans[1]["spark"]["tasks"] == 0


def _agg(acc: int, keys: str, funcs: str, children=()) -> dict:
    return {"nodeName": "HashAggregate", "simpleString": f"HashAggregate(keys=[{keys}], functions=[{funcs}])",
            "children": list(children), "metrics": [{"name": "number of output rows", "accumulatorId": acc}]}


def test_grouped_aggregate_rows_from_sql_plans(tmp_path):
    plan = {"nodeName": "AdaptiveSparkPlan", "simpleString": "AdaptiveSparkPlan", "metrics": [], "children": [
        _agg(10, "k#1", "count(1)", [_agg(11, "k#1", "partial_count(1)")]),  # final over partial
        _agg(12, "k#1", ""),   # dropDuplicates: no functions
        _agg(13, "", "count(1)"),  # global count: no keys
    ]}
    events = [
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart", "executionId": 0,
         "sparkPlanInfo": plan},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0], "Properties": {"spark.jobGroup.id": "p"}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0, "Accumulables": [
            {"ID": 10, "Value": "4"}, {"ID": 11, "Value": "9"}, {"ID": 12, "Value": 7}, {"ID": 13, "Value": 1}]}},
        # a node added by a later adaptive re-plan is still found
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate", "executionId": 0,
         "sparkPlanInfo": _agg(20, "k#1", "min(v#2)")},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1], "Properties": {"spark.jobGroup.id": "p"}},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 1, "Accumulables": [{"ID": 20, "Value": 3}]}},
    ]
    (tmp_path / "app-1").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    assert read_event_logs(str(tmp_path))["p"]["grouped_agg_rows"] == 7
