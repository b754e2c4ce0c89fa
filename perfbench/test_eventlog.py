"""Tests for the event-log reducer, the per-layer mapping and the metric
lists, on a tiny event log built here (no Spark needed).

    python3 -m pytest perfbench/
"""

from __future__ import annotations

import json
import os
import re
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import eventlog  # noqa: E402
import layers  # noqa: E402

SQL = "org.apache.spark.sql.execution.ui."


def _task(stage: int, run_ms: int, cpu_ns: int, accums: list[tuple[int, str, int]],
          shuffle_w: int = 0, local_r: int = 0, remote_r: int = 0,
          fetch_ms: int = 0, spill: int = 0, records: int = 0) -> dict:
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage, "Stage Attempt ID": 0,
        "Task Info": {"Accumulables": [
            {"ID": i, "Name": n, "Update": str(v), "Value": str(v)} for i, n, v in accums]},
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns, "JVM GC Time": 5,
            "Disk Bytes Spilled": spill, "Memory Bytes Spilled": 0,
            "Shuffle Read Metrics": {"Local Bytes Read": local_r,
                                     "Remote Bytes Read": remote_r,
                                     "Fetch Wait Time": fetch_ms},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_w},
            "Input Metrics": {"Records Read": records},
        },
    }


def _log() -> list[str]:
    plan_info = {"nodeName": "WholeStageCodegen (1)", "metrics": [], "children": [
        {"nodeName": "ArrowEvalPython", "metrics": [
            {"name": "number of output rows", "accumulatorId": 7},
            {"name": "time to run Python workers", "accumulatorId": 8}],
         "children": [{"nodeName": "Scan parquet", "metrics": [
             {"name": "number of output rows", "accumulatorId": 9}], "children": []}]}]}
    plan_text = ("== Physical Plan ==\nExecute InsertIntoHadoopFsRelationCommand (3)\n\n"
                 "(1) Scan parquet \nLocation: InMemoryFileIndex [file:/r/run/docs/data]\n\n"
                 "(3) Execute InsertIntoHadoopFsRelationCommand\nInput: []\n"
                 "Arguments: file:/r/run/spans/data, false, Parquet, [path=x], Overwrite, []\n")
    events = [
        {"Event": SQL + "SparkListenerSQLExecutionStart", "executionId": 0,
         "jobGroupId": "spans#1", "time": 1000, "physicalPlanDescription": plan_text,
         "sparkPlanInfo": plan_info},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "spans#1"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0}},
        _task(0, 400, 300_000_000, [(7, "number of output rows", 100),
                                    (9, "number of output rows", 100),
                                    (8, "time to run Python workers", 250),
                                    (11, "data sent to Python workers", 4000),
                                    (12, "data returned from Python workers", 900)],
              shuffle_w=500, records=100),
        _task(0, 600, 500_000_000, [(7, "number of output rows", 50),
                                    (11, "data sent to Python workers", 2000)],
              shuffle_w=300, records=50, spill=64),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 0, "Submission Time": 1100, "Completion Time": 1500}},
        _task(1, 100, 50_000_000, [], local_r=700, remote_r=100, fetch_ms=20),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 1, "Submission Time": 1400, "Completion Time": 1700}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0},
        {"Event": SQL + "SparkListenerSQLExecutionEnd", "executionId": 0, "time": 1800},
        # a job outside any group is ignored
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2], "Properties": {}},
        _task(2, 999, 1, []),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 2, "Submission Time": 1900, "Completion Time": 1950}},
    ]
    return [json.dumps(e) for e in events]


def test_reduce_event_log_counts_per_group():
    groups = eventlog.reduce_event_log(_log())
    assert set(groups) == {"spans#1"}
    g = groups["spans#1"]
    assert (g["jobs"], g["stages"], g["tasks"]) == (1, 2, 3)
    assert abs(g["executor_run_s"] - 1.1) < 1e-9
    assert abs(g["executor_cpu_s"] - 0.85) < 1e-9
    assert abs(g["gc_s"] - 0.015) < 1e-9
    assert g["shuffle_write_bytes"] == 800
    assert g["shuffle_read_bytes"] == 800
    assert abs(g["fetch_wait_s"] - 0.02) < 1e-9
    assert g["spill_bytes"] == 64
    assert g["records_read"] == 150
    # only the Python node's row counter counts as rows sent to Python
    assert g["py_rows_in"] == 150
    assert (g["py_bytes_in"], g["py_bytes_out"]) == (6000, 900)
    assert abs(g["py_worker_s"] - 0.25) < 1e-9
    assert eventlog.write_seconds(g, "/spans/data") == 0.8
    assert eventlog.write_seconds(g, "/docs/data") == 0.0  # read, not written


def test_call_profile_driver_gap():
    groups = eventlog.reduce_event_log(_log())
    spans = [{"group": "spans#1", "start_ms": 1000, "end_ms": 2000},
             {"group": "idle#1", "start_ms": 0, "end_ms": 500}]
    prof = eventlog.call_profile(groups, spans)
    # stages cover [1100, 1700] → 600 of 1000 ms busy
    assert abs(prof["spans#1"]["driver_gap_s"] - 0.4) < 1e-9
    assert prof["spans#1"]["wall_s"] == 1.0
    assert prof["idle#1"]["jobs"] == 0 and prof["idle#1"]["driver_gap_s"] == 0.5


def test_covered_ms_merges_and_clips():
    assert eventlog.covered_ms([(0, 10), (5, 20), (30, 40)], 0, 100) == 30
    assert eventlog.covered_ms([(0, 10), (5, 20)], 8, 12) == 4
    assert eventlog.covered_ms([], 0, 10) == 0


def test_metric_lists_match_benchmark_json():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == layers.PER_LAYER
    names = [m["name"] for k in ("end_to_end", "per_layer") for m in bench[k]]
    names += [w["name"] for w in bench["workloads"]]
    assert len(set(names)) == len(names)
    assert all(re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n) for n in names)


def test_per_layer_emits_every_metric():
    groups = eventlog.reduce_event_log(_log())
    # the same counters under two more groups: 150 rows and 0.25 s in the
    # Python node are the PIP candidates and the Vincenty UDF's worker time
    for g in ("pip_join#1", "vincenty_udf#1"):
        groups[g] = {**groups["spans#1"], "sql": []}
    spans = [{"group": "spans#1", "call": "pipeline_fresh", "layer": "plans.checkpoint",
              "pass": 1, "start_ms": 1000, "end_ms": 2000, "build_s": 0.9, "force_s": 0.1},
             {"group": "cell_bfs#1", "call": "cell_bfs", "layer": "operators.dbscan",
              "pass": 1, "start_ms": 2000, "end_ms": 2500, "build_s": 0.4, "force_s": 0.1},
             {"group": "pip_join#1", "call": "pip_join", "layer": "operators.pip",
              "pass": 1, "start_ms": 1000, "end_ms": 2000, "build_s": 0.1, "force_s": 0.9},
             {"group": "vincenty_udf#1", "call": "vincenty_udf", "layer": "functions",
              "pass": 1, "start_ms": 1000, "end_ms": 2000, "build_s": 0.1, "force_s": 0.9}]
    prof = eventlog.call_profile(groups, spans)
    facts = {"bytes": 300, "data_bytes": 200, "hits": 30}
    m = layers.per_layer(facts, prof, spans, {"vincenty": (1000, 0.5)}, session_s=8.0,
                         gen_s=0.5, pass_s=2.0, rows=100, overhead=1.1, peak_rss_mb=900.0,
                         jvm_cpu={"jit": 1.5, "gc": 0.25})
    assert list(m) == [name for name, _ in layers.PER_LAYER]
    assert all(v["unit"] == unit for (name, unit), v in zip(layers.PER_LAYER, m.values()))
    assert m["workload.rows_per_s"]["value"] == 50
    assert m["plans.checkpoint.write_amp"]["value"] == 1.5
    assert m["operators.pip.candidates"]["value"] == 150
    assert m["operators.pip.hit_ratio"]["value"] == 0.2
    assert m["operators.spans.exec_s"]["value"] == 0.8
    assert m["operators.dbscan.cell_bfs.jobs"]["value"] == 0  # no events for that group
    assert m["operators.dbscan.cell_bfs.exec_s"]["value"] == 0.5
    assert m["spark.jobs"]["value"] == 3
    assert m["spark.jvm_jit_cpu_s"]["value"] == 1.5
    assert m["geo.vincenty.numpy_rows_per_s"]["value"] == 2000
    assert m["functions.overhead_ratio.vincenty"]["value"] == 0.5
    assert m["functions.overhead_ratio.albers_fwd"]["value"] == 0
