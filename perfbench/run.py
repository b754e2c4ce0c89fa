"""Seeded, closed-loop benchmark of the projcl_spark engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

One driver process at ``local[1]`` runs the workload's calls one
after another (a closed loop with a single client), forcing and checking
every output.  ``--trace 0`` prints the end-to-end metrics; ``--trace 1``
runs traced passes (Spark event log on) and then one untraced pass in the
same session, and prints the per-layer metrics.  The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  Exit code 0 only if
every call succeeded and matched its reference.

All files go to ``.perfbench_work/`` at the root of the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
# One task slot: at these input sizes a pass is mostly per-query planning
# and scheduling, and on a 4-vCPU host local[1] ran the passes faster and
# with less CPU than local[2] or local[4] (the JIT-compiler threads and
# the Python workers no longer compete with the task threads).
TASK_SLOTS = 1


def _fail(msg: str, code: int = 2) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def _environment(work: str) -> None:
    """Keep every file the run makes inside ``work`` and put the checkout
    on the Python workers' path (they start from the JVM, not this cwd)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    import tempfile

    tempfile.tempdir = tmp


def _session(app: str, work: str, cores: int, event_dir: str | None):
    from projcl_spark.session import get_spark

    extra = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.projcl.scratchDir": os.path.join(work, "scratch"),
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "true" if event_dir else "false",
    }
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        extra.update({
            "spark.eventLog.dir": f"file://{event_dir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(app, cores=cores, extra=extra)


def _stop_spark() -> None:
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()


def _shutdown_jvm() -> None:
    """Stop the py4j gateway JVM this process started and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)


class Runner:
    """Runs passes of one workload and accumulates per-call records."""

    def __init__(self, wl, procfs):
        self.wl = wl
        self.procfs = procfs
        self.threads = procfs.ServiceThreads(procfs.jvm_pid(os.getpid()))
        self.attempted = 0
        self.failed = 0
        self.spans: list[dict] = []

    def run_pass(self, idx: int) -> dict:
        """One pass: every call in order.  Returns the wall seconds of the
        timed steps (build + force, checks excluded), the CPU seconds of
        the process tree over them less the JVM's JIT and GC threads, and
        the CPU seconds of those threads."""
        from reference import CheckFailed

        sc = self.wl.ctx.spark.sparkContext
        me = os.getpid()
        self.wl.before_pass()
        wall = cpu = jit = gc = 0.0
        for call in self.wl.calls():
            group = f"{call.name}#{idx}"
            self.attempted += 1
            sc.setJobGroup(group, group)
            c0 = self.procfs.cpu_seconds(me)
            s0 = self.threads.seconds()
            t0 = time.time()
            try:
                obj = call.build()
                t1 = time.time()
                out = call.force(obj)
            except Exception:
                self.failed += 1
                print(f"perfbench: call {group} raised:\n{traceback.format_exc()}",
                      file=sys.stderr)
                continue
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            t2 = time.time()
            c1 = self.procfs.cpu_seconds(me)
            s1 = self.threads.seconds()
            d_jit, d_gc = s1["jit"] - s0["jit"], s1["gc"] - s0["gc"]
            wall += t2 - t0
            cpu += c1 - c0 - d_jit - d_gc
            jit += d_jit
            gc += d_gc
            self.spans.append({"group": group, "call": call.name, "layer": call.layer,
                               "pass": idx, "start_ms": t0 * 1e3, "end_ms": t2 * 1e3,
                               "build_s": t1 - t0, "force_s": t2 - t1,
                               "cpu_s": c1 - c0 - d_jit - d_gc})
            try:
                call.check(out)
            except CheckFailed as ex:
                self.failed += 1
                print(f"perfbench: check {group} failed: {ex}", file=sys.stderr)
            except Exception:  # an output the check cannot even read
                self.failed += 1
                print(f"perfbench: check {group} raised:\n{traceback.format_exc()}",
                      file=sys.stderr)
        return {"wall": wall, "cpu": cpu, "jit": jit, "gc": gc}

    def timed_passes(self, seconds: float, min_passes: int) -> list[dict]:
        """Passes back to back until ``seconds`` have elapsed (at least
        ``min_passes``)."""
        out = []
        t_end = time.time() + seconds
        while len(out) < min_passes or time.time() < t_end:
            out.append(self.run_pass(len(out) + 1))
        return out

    def cpu_seconds(self) -> float:
        """Sum over the pass's calls of each call's lowest CPU seconds over
        the timed passes."""
        low: dict[str, float] = {}
        for sp in self.spans:
            if sp["pass"] >= 1:
                low[sp["call"]] = min(low.get(sp["call"], sp["cpu_s"]), sp["cpu_s"])
        return sum(low.values())

    def call_report(self) -> None:
        by_call: dict[str, list[dict]] = {}
        warm: dict[str, dict] = {}
        for sp in self.spans:
            if sp["pass"] >= 1:
                by_call.setdefault(sp["call"], []).append(sp)
            else:
                warm[sp["call"]] = sp
        for call, sps in by_call.items():
            w = warm.get(call)
            cold = (f"; warm-up {w['build_s'] + w['force_s']:.3f} s, cpu {w['cpu_s']:.2f} s"
                    if w else "")
            print(f"  call {call}: build {statistics.median(s['build_s'] for s in sps):.3f} s, "
                  f"force {statistics.median(s['force_s'] for s in sps):.3f} s, "
                  f"cpu {min(s['cpu_s'] for s in sps):.2f} s (lowest of {len(sps)}){cold}")


def _setup(wl, runner) -> dict:
    """Seeded input generation, the driver-side references, then one
    untimed warm-up pass (checks included).  Returns the seconds of each
    step; ``prepare`` is the benchmark's own work, which ``setup_s``
    leaves out."""
    shutil.rmtree(os.path.join(wl.ctx.work, "data"), ignore_errors=True)
    t0 = time.perf_counter()
    wl.gen()
    t1 = time.perf_counter()
    wl.prepare()
    t2 = time.perf_counter()
    runner.run_pass(0)
    return {"gen": t1 - t0, "prepare": t2 - t1, "warm": time.perf_counter() - t2}


def _quantile_report(name: str, vals: list[float], unit: str) -> None:
    vals = sorted(vals)
    n = len(vals)
    # highest percentile with at least ten samples beyond it
    pct = 100 * (1 - 10 / n) if n >= 20 else None
    extra = (f", p{pct:.0f} {vals[int(pct / 100 * n) - 1]:.4f}" if pct
             else " (fewer than 20 passes: no percentile beyond the median)")
    print(f"  {name}: median {statistics.median(vals):.4f} {unit}, "
          f"max {vals[-1]:.4f}, n={n}{extra}")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path[:0] = [HERE, ROOT]
    if not os.path.isdir(os.path.join(ROOT, "projcl_spark")):
        _fail(f"engine package projcl_spark not found under {ROOT}")
    import procfs

    t_start = procfs.process_start_epoch()
    steal0 = procfs.steal_ticks()
    import workloads as W

    if args.workload not in W.WORKLOADS:
        _fail(f"unknown workload {args.workload!r}; have {sorted(W.WORKLOADS)}")
    shutil.rmtree(WORK, ignore_errors=True)
    _environment(WORK)
    cores = TASK_SLOTS

    try:
        if args.trace:
            result = run_traced(W, procfs, args, cores, t_start)
        else:
            result = run_plain(W, procfs, args, cores, t_start)
    finally:
        _stop_spark()
        _shutdown_jvm()
    result["env"]["steal_ticks"] = procfs.steal_ticks() - steal0
    print("environment: " + json.dumps(result["env"], sort_keys=True))
    ok = result["failed"] == 0
    print(json.dumps({"correct": ok, "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": result["metrics"]}))
    for name in os.listdir(WORK):  # keep only the small trace profile
        if name != "trace":
            shutil.rmtree(os.path.join(WORK, name), ignore_errors=True)
    sys.exit(0 if ok else 1)


def _env(spark, cores: int) -> dict:
    import numpy
    import pyspark

    return {"nproc": len(os.sched_getaffinity(0)), "task_slots": cores,
            "python": platform.python_version(),
            "pyspark": pyspark.__version__, "numpy": numpy.__version__,
            "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
            "master": spark.sparkContext.master}


def _start(W, args, cores, event_dir=None):
    spark = _session(f"perfbench-{args.workload}", WORK, cores, event_dir)
    ctx = W.Ctx(spark=spark, seed=args.seed, work=WORK)
    return W.WORKLOADS[args.workload](ctx)


def run_plain(W, procfs, args, cores, t_start) -> dict:
    wl = _start(W, args, cores)
    session_s = time.time() - t_start
    runner = Runner(wl, procfs)
    setup = _setup(wl, runner)
    # process start → first timed pass, less the reference computation
    setup_s = time.time() - t_start - setup["prepare"]
    with procfs.RssSampler(os.getpid(), runner.threads) as rss:
        passes = runner.timed_passes(args.seconds, wl.MIN_PASSES)
    pass_s = statistics.median(p["wall"] for p in passes)
    cpu_s = runner.cpu_seconds()
    metrics = {
        "setup_s": {"value": setup_s, "unit": "s"},
        "cpu_s": {"value": cpu_s, "unit": "s"},
    }
    print(f"workload {args.workload} seed {args.seed}: {wl.rows} input rows, "
          f"local[{cores}], closed loop, 1 client")
    print(f"  set-up: session {session_s:.3f} s, input generation {setup['gen']:.3f} s, "
          f"warm-up pass {setup['warm']:.3f} s (references {setup['prepare']:.3f} s, "
          f"not counted)")
    _quantile_report("pass_s", [p["wall"] for p in passes], "s")
    print("  passes: " + ", ".join(
        f"{p['wall']:.3f} s ({p['cpu']:.2f} cpu-s; JIT {p['jit']:.2f}, GC {p['gc']:.2f})"
        for p in passes))
    runner.call_report()
    print(f"  setup_s: {setup_s:.4f} s")
    print(f"  pass_s: {pass_s:.4f} s")
    print(f"  rows_per_s: {wl.rows / pass_s:.1f} rows/s")
    print(f"  cpu_s: {cpu_s:.4f} s")
    print(f"  peak_rss_mb: {rss.peak / 2**20:.1f} MB (driver, JVM and Python workers)")
    print(f"  fail_ratio: {runner.failed / runner.attempted:.4f} "
          f"({runner.failed} of {runner.attempted} calls)")
    return {"attempted": runner.attempted, "failed": runner.failed,
            "metrics": metrics, "env": _env(wl.ctx.spark, cores)}


def _close_event_log(spark) -> None:
    """Deliver every queued event to the event log, then detach and close
    it: later passes of the same session run untraced.  (Spark logs an
    error when it finds the log already closed at ``stop``.)"""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    logger = sc.eventLogger().get()
    sc.removeSparkListener(logger)
    logger.stop()


def run_traced(W, procfs, args, cores, t_start) -> dict:
    """Traced passes (event log on from the start), then, with the log
    closed, one untraced pass of the same session as the overhead
    baseline; it follows more JIT warm-up, so the overhead reads high
    rather than low."""
    import layers

    event_dir = os.path.join(WORK, "eventlog")
    wl = _start(W, args, cores, event_dir)
    session_s = time.time() - t_start
    traced = Runner(wl, procfs)
    setup = _setup(wl, traced)
    with procfs.RssSampler(os.getpid(), traced.threads) as rss:
        passes = traced.timed_passes(args.seconds, wl.MIN_PASSES)
    env = _env(wl.ctx.spark, cores)
    _close_event_log(wl.ctx.spark)
    (log,) = os.listdir(event_dir)
    with open(os.path.join(event_dir, log)) as f:
        prof = layers.profile(f, traced.spans)

    plain = Runner(wl, procfs)
    with procfs.RssSampler(os.getpid(), plain.threads):
        (base,) = plain.timed_passes(0, 1)
    numpy_probe = layers.numpy_probe(wl)

    traced_s = min(p["wall"] for p in passes)
    plain_s = base["wall"]
    metrics = layers.per_layer(wl.facts, prof, traced.spans, numpy_probe, session_s=session_s,
                               gen_s=setup["gen"], pass_s=plain_s, rows=wl.rows,
                               overhead=traced_s / plain_s, peak_rss_mb=rss.peak / 2**20,
                               jvm_cpu={k: base[k] for k in ("jit", "gc")})
    print(f"workload {args.workload} seed {args.seed}: traced pass_s {traced_s:.4f} s, "
          f"untraced {plain_s:.4f} s")
    layers.report(prof, traced.spans, os.path.join(WORK, "trace"))
    for k, m in metrics.items():
        print(f"  {k}: {m['value']:.6g} {m['unit']}")
    return {"attempted": plain.attempted + traced.attempted,
            "failed": plain.failed + traced.failed, "metrics": metrics, "env": env}


if __name__ == "__main__":
    main()
