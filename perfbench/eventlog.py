"""Per-layer trace: benchmark-side spans plus a reducer for Spark's event log.

The benchmark runs every call under its own Spark job group
(``<call>#<pass>``) and records a span around it.  ``reduce_event_log``
folds an uncompressed, non-rolling event log into per-group counters;
``call_profile`` joins them with the spans to get each call's driver gap
(wall time not covered by any running stage).
"""

from __future__ import annotations

import json
import re
from collections import defaultdict
from collections.abc import Iterable

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"
SQL_AQE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"

# plan nodes that hand rows to Python workers
_PY_NODES = ("Python", "InPandas", "InArrow")

# task-level SQL accumulables summed per group, by name
_ACCUMS = {
    "data sent to Python workers": "py_bytes_in",
    "data returned from Python workers": "py_bytes_out",
    "time to run Python workers": "py_worker_ms",
}

COUNTERS = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "shuffle_write_bytes", "shuffle_read_bytes", "fetch_wait_s",
    "spill_bytes", "records_read", "py_rows_in", "py_bytes_in",
    "py_bytes_out", "py_worker_s",
)


def _python_row_accumulators(node: dict, out: set) -> None:
    """Accumulator ids of 'number of output rows' on Python-eval nodes —
    those nodes emit exactly the rows they sent to Python."""
    if any(k in node.get("nodeName", "") for k in _PY_NODES):
        for m in node.get("metrics", ()):
            if m.get("name") == "number of output rows":
                out.add(m["accumulatorId"])
    for child in node.get("children", ()):
        _python_row_accumulators(child, out)


def reduce_event_log(lines: Iterable[str]) -> dict[str, dict]:
    """{job group: counters, stage windows and SQL executions}.

    ``windows`` are (submit_ms, complete_ms) of every stage that ran;
    ``sql`` holds (start_ms, end_ms, physical plan text) per execution.
    """
    events = [json.loads(line) for line in lines if line.strip()]
    py_rows = set()
    for e in events:
        if e["Event"] in (SQL_START, SQL_AQE) and "sparkPlanInfo" in e:
            _python_row_accumulators(e["sparkPlanInfo"], py_rows)

    job_group: dict[int, str | None] = {}
    stage_job: dict[int, int] = {}
    sql: dict[int, dict] = {}
    groups: dict[str, dict] = defaultdict(
        lambda: {**{k: 0 for k in COUNTERS}, "windows": [], "sql": []})

    def group_of_stage(sid: int) -> str | None:
        return job_group.get(stage_job.get(sid))

    for e in events:
        ev = e["Event"]
        if ev == "SparkListenerJobStart":
            g = (e.get("Properties") or {}).get("spark.jobGroup.id")
            job_group[e["Job ID"]] = g
            for sid in e.get("Stage IDs", ()):
                stage_job.setdefault(sid, e["Job ID"])
            if g is not None:
                groups[g]["jobs"] += 1
        elif ev == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            g = group_of_stage(info["Stage ID"])
            if g is not None and "Submission Time" in info:
                groups[g]["stages"] += 1
                groups[g]["windows"].append(
                    (info["Submission Time"], info["Completion Time"]))
        elif ev == "SparkListenerTaskEnd":
            g = group_of_stage(e["Stage ID"])
            if g is None:
                continue
            c = groups[g]
            m = e.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            c["tasks"] += 1
            c["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            c["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            c["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            c["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            c["shuffle_read_bytes"] += (sr.get("Local Bytes Read", 0)
                                        + sr.get("Remote Bytes Read", 0))
            c["fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
            c["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            c["records_read"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
            for a in (e.get("Task Info") or {}).get("Accumulables", ()):
                upd = a.get("Update")
                if upd is None:
                    continue
                if a.get("ID") in py_rows:
                    c["py_rows_in"] += int(upd)
                key = _ACCUMS.get(a.get("Name"))
                if key == "py_worker_ms":
                    c["py_worker_s"] += int(upd) / 1e3
                elif key is not None:
                    c[key] += int(upd)
        elif ev == SQL_START:
            sql[e["executionId"]] = {
                "group": e.get("jobGroupId"), "start": e["time"], "end": None,
                "plan": e.get("physicalPlanDescription", ""),
            }
        elif ev == SQL_END and e["executionId"] in sql:
            sql[e["executionId"]]["end"] = e["time"]
    for s in sql.values():
        if s["group"] is not None and s["end"] is not None:
            groups[s["group"]]["sql"].append((s["start"], s["end"], s["plan"]))
    return dict(groups)


def covered_ms(windows: list[tuple[int, int]], lo: float, hi: float) -> float:
    """Length of the union of ``windows`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in windows):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


_WRITE_TARGET = re.compile(
    r"\(\d+\) Execute InsertIntoHadoopFsRelationCommand\s*\n(?:.*\n)*?Arguments: ([^,\s]+)")


def write_seconds(group: dict, suffix: str) -> float:
    """Wall seconds of the group's SQL executions that write a file
    relation whose path ends with ``suffix`` (one checkpoint stage's
    ``/data`` or ``/_lineage``)."""
    total = 0.0
    for a, b, plan in group["sql"]:
        m = _WRITE_TARGET.search(plan)
        if m and m.group(1).rstrip("/").endswith(suffix):
            total += (b - a) / 1e3
    return total


def call_profile(groups: dict[str, dict], spans: list[dict]) -> dict[str, dict]:
    """{group: counters + wall_s + driver_gap_s} for every recorded span."""
    out = {}
    for sp in spans:
        g = groups.get(sp["group"]) or {**{k: 0 for k in COUNTERS},
                                         "windows": [], "sql": []}
        wall_ms = sp["end_ms"] - sp["start_ms"]
        busy = covered_ms(g["windows"], sp["start_ms"], sp["end_ms"])
        out[sp["group"]] = {
            **{k: g[k] for k in COUNTERS},
            "wall_s": wall_ms / 1e3,
            "driver_gap_s": (wall_ms - busy) / 1e3,
            "sql": g["sql"],
        }
    return out
