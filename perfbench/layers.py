"""Per-layer metrics of a traced run, named after the engine's modules.

Every metric in ``PER_LAYER`` is emitted on every workload; a layer the
workload does not run reads 0.  ``BENCHMARK.json`` lists the same names.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict

import eventlog

SPARK = ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
         "shuffle_write_bytes", "shuffle_read_bytes", "fetch_wait_s",
         "spill_bytes", "driver_gap_s")
_SPARK_UNITS = {"jobs": "count", "stages": "count", "tasks": "count",
                "shuffle_write_bytes": "bytes", "shuffle_read_bytes": "bytes",
                "spill_bytes": "bytes"}
KERNELS = {  # numpy kernel → (layer prefix, UDF call that runs it in Spark)
    "albers_fwd": ("proj", "albers_fwd_udf"),
    "vincenty": ("geo", "vincenty_udf"),
}
LOOPS = {  # call → metric prefix
    "connected_components": "operators.cluster.connected_components",
    "cell_bfs": "operators.dbscan.cell_bfs",
    "flow_accumulation": "operators.raster.flow_accumulation",
}

PER_LAYER: list[tuple[str, str]] = [
    # wall time of the untraced passes: too unsteady on a shared host to
    # carry a bound (see README), so reported here
    ("workload.pass_s", "s"),
    ("workload.rows_per_s", "rows/s"),
    ("session.start_s", "s"),
    ("sources.gen_s", "s"),
    ("functions.py_rows_in", "rows"),
    ("functions.py_bytes_in", "bytes"),
    ("functions.py_bytes_out", "bytes"),
    ("functions.py_worker_s", "s"),
    *[(f"functions.overhead_ratio.{k}", "ratio") for k in KERNELS],
    *[(f"{layer}.{k}.numpy_rows_per_s", "rows/s") for k, (layer, _) in KERNELS.items()],
    ("operators.warp.call_s", "s"),
    ("operators.warp.exec_s", "s"),
    ("operators.warp.taps", "count"),
    ("operators.pip.call_s", "s"),
    ("operators.pip.exec_s", "s"),
    ("operators.pip.candidates", "count"),
    ("operators.pip.hits", "count"),
    ("operators.pip.hit_ratio", "ratio"),
    ("operators.pip.interior_share", "ratio"),
    ("index.cover_cells", "count"),
    ("operators.spans.exec_s", "s"),
    ("plans.checkpoint.write_s", "s"),
    ("plans.checkpoint.lineage_s", "s"),
    ("plans.checkpoint.resume_s", "s"),
    ("plans.checkpoint.bytes_written", "bytes"),
    ("plans.checkpoint.files_written", "count"),
    ("plans.checkpoint.write_amp", "ratio"),
    ("plans.spatial_sink.write_s", "s"),
    ("plans.spatial_sink.read_s", "s"),
    ("plans.spatial_sink.files", "count"),
    ("plans.spatial_sink.rows_scanned_per_row_returned", "ratio"),
    *[(f"{p}.{m}", "count" if m == "jobs" else "s")
      for p in LOOPS.values() for m in ("jobs", "exec_s")],
    *[(f"spark.{k}", _SPARK_UNITS.get(k, "s")) for k in SPARK],
    # CPU of the JVM's JIT-compiler and GC threads per untraced pass: left
    # out of cpu_s (see README), so reported here
    ("spark.jvm_jit_cpu_s", "s"),
    ("spark.jvm_gc_cpu_s", "s"),
    ("spark.peak_rss_mb", "MB"),
    ("trace.overhead_ratio", "ratio"),
]


def numpy_probe(wl) -> dict[str, tuple[int, float]]:
    """{kernel: (rows, seconds)}: single-thread numpy time of each UDF
    kernel on the same rows the workload sends through Spark (median of
    three timings)."""
    out = {}
    for name, (fn, rows) in wl.numpy_kernels().items():
        times = []
        for _ in range(3):
            t0 = time.perf_counter()
            fn()
            times.append(time.perf_counter() - t0)
        out[name] = (rows, statistics.median(times))
    return out


def profile(event_log_lines, spans: list[dict]) -> dict[str, dict]:
    return eventlog.call_profile(eventlog.reduce_event_log(event_log_lines), spans)


def _by_call(prof: dict, spans: list[dict]) -> dict[str, list[dict]]:
    """{call: [per-pass record]} over the timed passes (pass ≥ 1)."""
    out = defaultdict(list)
    for sp in spans:
        if sp["pass"] >= 1:
            out[sp["call"]].append({**prof[sp["group"]], **sp})
    return out


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def _med(recs: list[dict], key) -> float:
    if not recs:
        return 0.0
    return statistics.median(key(r) if callable(key) else r[key] for r in recs)


def per_layer(facts: dict, prof: dict, spans: list[dict],
              numpy: dict[str, tuple[int, float]], session_s: float, gen_s: float,
              pass_s: float, rows: int, overhead: float, peak_rss_mb: float,
              jvm_cpu: dict[str, float]) -> dict:
    calls = _by_call(prof, spans)
    m = {name: 0 for name, _ in PER_LAYER}
    m["workload.pass_s"] = pass_s
    m["workload.rows_per_s"] = rows / pass_s
    m["session.start_s"] = session_s
    m["sources.gen_s"] = gen_s
    m["trace.overhead_ratio"] = overhead
    m["spark.peak_rss_mb"] = peak_rss_mb
    m["spark.jvm_jit_cpu_s"] = jvm_cpu["jit"]
    m["spark.jvm_gc_cpu_s"] = jvm_cpu["gc"]

    # per pass sums over all calls → median over passes
    passes = defaultdict(lambda: defaultdict(float))
    for recs in calls.values():
        for r in recs:
            for k in (*SPARK, "py_rows_in", "py_bytes_in", "py_bytes_out", "py_worker_s"):
                passes[r["pass"]][k] += r[k]
    for k in SPARK:
        m[f"spark.{k}"] = _med(list(passes.values()), k)
    for k in ("py_rows_in", "py_bytes_in", "py_bytes_out", "py_worker_s"):
        m[f"functions.{k}"] = _med(list(passes.values()), k)

    for k, (layer, call) in KERNELS.items():
        if k in numpy:
            rows, numpy_s = numpy[k]
            m[f"{layer}.{k}.numpy_rows_per_s"] = rows / numpy_s
            # Python-worker seconds of the UDF call alone: the scan,
            # cell_id and aggregate around it are not counted
            m[f"functions.overhead_ratio.{k}"] = _med(calls.get(call, []),
                                                      "py_worker_s") / numpy_s

    # a workload that does not run a layer leaves its metrics at 0; the
    # facts are input properties, or counts the checks read off the outputs
    def fact(k: str) -> float:
        return facts.get(k, 0)

    def call_med(call: str, key) -> float:
        return _med(calls.get(call, []), key)

    m["operators.warp.call_s"] = call_med("warp", "build_s")
    m["operators.warp.exec_s"] = call_med("warp", "force_s")
    m["operators.warp.taps"] = fact("warp_taps")

    m["operators.pip.call_s"] = call_med("pip_join", "build_s")
    m["operators.pip.exec_s"] = call_med("pip_join", "force_s")
    # candidate pairs = rows entering the winding refine's Python node
    candidates = call_med("pip_join", "py_rows_in")
    m["operators.pip.candidates"] = candidates
    m["operators.pip.hits"] = fact("hits")
    m["operators.pip.hit_ratio"] = _ratio(fact("hits"), candidates)
    m["operators.pip.interior_share"] = fact("interior_share")
    m["index.cover_cells"] = fact("cover_cells")

    m["operators.spans.exec_s"] = call_med(
        "pipeline_fresh", lambda r: eventlog.write_seconds(r, "/spans/data"))
    m["plans.checkpoint.write_s"] = call_med("pipeline_fresh", "wall_s")
    m["plans.checkpoint.lineage_s"] = call_med(
        "pipeline_fresh", lambda r: eventlog.write_seconds(r, "/_lineage"))
    m["plans.checkpoint.resume_s"] = call_med("pipeline_resume", "wall_s")
    m["plans.checkpoint.bytes_written"] = fact("bytes")
    m["plans.checkpoint.files_written"] = fact("files")
    m["plans.checkpoint.write_amp"] = _ratio(fact("bytes"), fact("data_bytes"))
    m["plans.spatial_sink.write_s"] = call_med("sink_write", "wall_s")
    m["plans.spatial_sink.read_s"] = call_med("sink_read", "wall_s")
    m["plans.spatial_sink.files"] = fact("sink_files")
    m["plans.spatial_sink.rows_scanned_per_row_returned"] = _ratio(
        call_med("sink_read", "records_read"), fact("sink_rows"))

    for call, prefix in LOOPS.items():
        m[f"{prefix}.jobs"] = call_med(call, "jobs")
        m[f"{prefix}.exec_s"] = call_med(call, "wall_s")

    units = dict(PER_LAYER)
    return {k: {"value": v, "unit": units[k]} for k, v in m.items()}


def report(prof: dict, spans: list[dict], out_dir: str) -> None:
    """Print the per-call Spark profile (medians over timed passes) with
    each call's and each layer's share of the pass, and keep it as
    ``profile.json`` in ``out_dir``."""
    calls = _by_call(prof, spans)
    table = {}
    for call, recs in calls.items():
        table[call] = {k: _med(recs, k) for k in
                       ("wall_s", "build_s", "force_s", *SPARK, "py_rows_in",
                        "py_bytes_in", "py_bytes_out", "py_worker_s", "records_read")}
        table[call]["layer"] = recs[0]["layer"]
    pass_s = sum(t["wall_s"] for t in table.values())
    by_layer = defaultdict(float)
    for call, t in table.items():
        t["pass_share"] = _ratio(t["wall_s"], pass_s)
        by_layer[t["layer"]] += t["pass_share"]
        print(f"  call {call} ({t['layer']}): wall {t['wall_s']:.3f} s "
              f"({100 * t['pass_share']:.0f} % of the pass; build {t['build_s']:.3f} s, "
              f"no stage running {t['driver_gap_s']:.3f} s), "
              f"jobs {t['jobs']:.0f}, stages {t['stages']:.0f}, tasks {t['tasks']:.0f}, "
              f"executor {t['executor_run_s']:.3f} s, python workers {t['py_worker_s']:.3f} s "
              f"on {t['py_rows_in']:.0f} rows, shuffle w/r "
              f"{t['shuffle_write_bytes']:.0f}/{t['shuffle_read_bytes']:.0f} B")
    gap = sum(t["driver_gap_s"] for t in table.values())
    print("  share of the pass by layer: "
          + ", ".join(f"{k} {100 * v:.0f} %" for k, v in by_layer.items())
          + f"; no stage running {100 * _ratio(gap, pass_s):.0f} %")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "profile.json"), "w") as f:
        json.dump(table, f, indent=1, sort_keys=True)
