"""Benchmark of the monotonic-optimal-binning engine: one workload per run.

    python3 perfbench/run.py --workload pit_features --seed 1 --seconds 12 --trace 0

Closed loop: one driver process submits one pipeline rep at a time to a
fresh local[<CPUs - 1>] Spark session. Set-up (session start, seeded input
generation and parquet write, model fits, warm-up) is timed as ``setup_s``;
then reps run until ``--seconds`` have passed, each between two runs of a
fixed probe job that gauge the host's speed at that moment, and times are
reported at a reference host speed (see PROBE_REF_S). Every rep's outputs
are checked. The last stdout line is the result JSON: end-to-end
metrics with ``--trace 0``; with ``--trace 1`` untraced and traced reps
alternate and the per-layer metrics of the traced reps are reported instead.
The line before it carries diagnostics (probe and rep times, input sizes,
failures).

Inputs, shuffle files and temp files live under ``.perfbench_work/`` at the
root of the checkout and are removed when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "monotonic_optimal_binning_spark"
# heap fixed and pre-touched: G1 otherwise grows the heap, and touches it,
# by timing-dependent steps, and the JVM's peak RSS moved by about 10%
# between runs of one build and with the number of reps a run completed
DRIVER_MEMORY = "2g"

# a fixed count, not "until the rep time settles": on a host whose speed
# drifts, a settle test follows the host, and a varying count moves both
# setup_s and where on the JIT warm-up curve the timed reps start
WARMUP_REPS = 2

# The shared host this was built on changed speed by 1.5x within minutes
# (60 s medians of a fixed single-thread loop: 22 to 33 ms) and by 3x within
# an hour, so raw times of runs made minutes apart differ by more than any
# bound. Times are therefore reported at a reference speed: each rep's time
# is divided by the mean of the probe times just before and after it, and
# the median ratio is multiplied by PROBE_REF_S; setup_s is scaled the same
# way by the median of all the run's probes, warm-up probes included. A
# value reads as seconds on a host where the probe takes PROBE_REF_S (a
# round figure within the 0.27 to 1.27 s the probe took on the 4-vCPU VM
# this was written on). Raw times are in the diagnostics.
PROBE_REF_S = 0.5
PROBE_WARMUP = 4

LAYER_METRICS = {
    # metric: (source key in Tracer.totals, unit)
    "sources.read_s": ("sources.s", "s"),
    "sources.rows": ("sources.rows", "count"),
    "windows.s": ("windows.s", "s"),
    "windows.shuffle_mb": ("windows.shuffle_write_mb", "MB"),
    "windows.task_s": ("windows.task_s", "s"),
    "asof.s": ("asof.s", "s"),
    "asof.shuffle_mb": ("asof.shuffle_write_mb", "MB"),
    "asof.spill_mb": ("asof.spill_mb", "MB"),
    "asof.match_ratio": ("asof.match_ratio", "ratio"),
    "binning.scan_s": ("binning.scan.s", "s"),
    "binning.scan_jobs": ("binning.scan.jobs", "count"),
    "binning.stats_rows": ("binning.stats_rows", "count"),
    "core.solve_s": ("core.solve.s", "s"),
    "core.groups": ("core.groups", "count"),
    "core.solve_ms_per_group": (None, "ms"),
    "core.merge_steps": ("core.merge_steps", "count"),
    "binning.transform_s": ("binning.transform.s", "s"),
    "binning.transform_python_nodes": ("binning.transform_python_nodes", "count"),
    "scorecard.s": ("scorecard.s", "s"),
    "scorecard.python_nodes": ("scorecard.python_nodes", "count"),
    "calibration.s": ("calibration.s", "s"),
    "calibration.python_nodes": ("calibration.python_nodes", "count"),
    "spark.jobs": ("rep.jobs", "count"),
    "spark.tasks": ("rep.tasks", "count"),
    "spark.task_s": ("rep.task_s", "s"),
    "spark.shuffle_write_mb": ("rep.shuffle_write_mb", "MB"),
    "spark.spill_mb": ("rep.spill_mb", "MB"),
    "jvm.peak_rss_mb": (None, "MB"),
    "py.peak_rss_mb": (None, "MB"),
    "tracing.overhead_s": (None, "s"),
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def task_threads() -> int:
    """Spark task threads: one fewer than the CPUs the process may use, so
    the Python driver, the JIT and GC threads are not queued behind a full
    set of task threads."""
    return max(1, len(os.sched_getaffinity(0)) - 1)


def build_session(work: Path, threads: int):
    from pyspark.sql import SparkSession

    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    # Python-side temp files (pyspark's own, Arrow spills) stay in the work dir
    os.environ["TMPDIR"] = str(tmp)
    # the JVM takes its shuffle dirs from this variable over spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    spark = (
        SparkSession.builder.master(f"local[{threads}]")
        .appName("perfbench")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.driver.extraJavaOptions", f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp}")
        .config("spark.sql.warehouse.dir", str(work / "warehouse"))
        .config("spark.sql.shuffle.partitions", str(threads * 4))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it owns)
    to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        # raises when a signal cut a Py4J call short; the JVM goes anyway
        spark.stop()
        gateway.shutdown()
    finally:
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)


def probe(spark, threads: int) -> float:
    """Fixed Spark job on every task thread, a hash scan plus a shuffle and
    a sort, so that its time tracks the host's current speed for the kinds
    of work the pipelines do."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    spark.range(0, 20_000_000, 1, threads * 4).select(
        F.sum(F.shiftright(F.xxhash64("id", F.lit(7)), 32))
    ).collect()
    spark.range(0, 500_000, 1, threads * 4).select(
        F.xxhash64("id", F.lit(7)).alias("h")
    ).repartition(threads * 4).sortWithinPartitions("h").select(
        F.sum(F.col("h") % 1000)
    ).collect()
    return time.perf_counter() - t0


class Runner:
    """Runs reps of one workload and keeps their times and failures."""

    def __init__(self, workload, tracer):
        self.wl = workload
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.failures = []

    def rep(self, traced: bool = False):
        """One rep; its time up to the end of the pipeline, or None when it
        failed."""
        from perfbench.workloads import Rep

        self.attempted += 1
        r = Rep(self.tracer if traced else None, self.attempted)
        t0 = time.perf_counter()
        try:
            fails = self.wl.rep(r)
        except Exception:  # a failed rep is counted, the run goes on
            fails = [traceback.format_exc()]
        finally:
            r.close()
        elapsed = (r.t_end or time.perf_counter()) - t0
        if fails:
            self.failed += 1
            self.failures.append({"rep": r.idx, "fails": fails[:5]})
            print(f"rep {r.idx} failed: {fails[:5]}", file=sys.stderr)
            return None
        return elapsed


def warm_up(runner: Runner, spark, threads: int):
    """Warm-up reps, each followed by a probe; (rep times, probe times).
    The probe runs PROBE_WARMUP times first: in a fresh session its first
    run took about 8 times as long as later ones and its second about a
    third longer, and a probe that is still speeding up would read as a
    slowing engine."""
    for _ in range(PROBE_WARMUP):
        probe(spark, threads)
    times, probes = [], []
    for _ in range(WARMUP_REPS):
        times.append(runner.rep())
        probes.append(probe(spark, threads))
    return times, probes


def layer_metrics(tracer, traced_reps, untraced, traced, jvm_mb, py_mb):
    med = {}
    for name, (key, _) in LAYER_METRICS.items():
        if key is not None:
            med[name] = statistics.median(
                tracer.totals(i).get(key, 0.0) for i in traced_reps
            )
    med["core.solve_ms_per_group"] = (
        1000.0 * med["core.solve_s"] / med["core.groups"]
        if med["core.groups"] else 0.0
    )
    med["jvm.peak_rss_mb"] = jvm_mb
    med["py.peak_rss_mb"] = py_mb
    med["tracing.overhead_s"] = statistics.median(traced) - statistics.median(untraced)
    return {
        name: {"value": med[name], "unit": unit}
        for name, (_, unit) in LAYER_METRICS.items()
    }


def main(argv=None) -> int:
    t_start = time.perf_counter()
    args = parse_args(argv)
    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"perfbench: no {PACKAGE}/ package next to perfbench/ in {ROOT}",
              file=sys.stderr)
        return 2
    # import the benchmark as the package perfbench, with the engine beside it
    sys.path[0] = str(ROOT)
    from perfbench.tracing import Tracer, process_pids, vm_hwm_mb
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    # a plain kill still stops Spark and removes the work dir (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    threads = task_threads()
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    spark = build_session(work, threads)
    try:
        session_s = time.perf_counter() - t_start
        wl = WORKLOADS[args.workload](spark, str(work / "inputs"), args.seed)
        wl.setup()
        inputs_s = time.perf_counter() - t_start - session_s
        tracer = Tracer(spark)
        runner = Runner(wl, tracer)
        warm, probes = warm_up(runner, spark, threads)
        setup_s = time.perf_counter() - t_start

        untraced, ratios, traced, traced_reps = [], [], [], []
        t_measure = time.perf_counter()
        while time.perf_counter() - t_measure < args.seconds:
            t = runner.rep()
            probes.append(probe(spark, threads))
            if t is not None:
                untraced.append(t)
                ratios.append(t / statistics.mean(probes[-2:]))
            if args.trace:
                t = runner.rep(traced=True)
                if t is not None:
                    traced.append(t)
                    traced_reps.append(runner.attempted)
                probes.append(probe(spark, threads))
        measure_s = time.perf_counter() - t_measure
        jvm_pid, py_pid = process_pids(spark)
        jvm_mb, py_mb = vm_hwm_mb(jvm_pid), vm_hwm_mb(py_pid)
    finally:
        t_stop = time.perf_counter()
        try:
            stop_session(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        teardown_s = time.perf_counter() - t_stop

    diag = {
        "workload": args.workload,
        "seed": args.seed,
        "task_threads": threads,
        "input_rows": wl.rows,
        "input_bytes": wl.input_bytes,
        "raw_setup_s": setup_s,
        "session_s": session_s,
        "inputs_s": inputs_s,
        "warmup_rep_s": warm,
        "probe_s": probes,
        "rep_s": untraced,
        "rep_over_probe": ratios,
        "raw_wall_s": statistics.median(untraced) if untraced else None,
        "traced_rep_s": traced,
        "measure_s": measure_s,
        "teardown_s": teardown_s,
        "total_s": time.perf_counter() - t_start,
        "failures": runner.failures,
    }
    if args.trace:
        diag["spans"] = tracer.spans
        diag["counts"] = tracer.counts
    print(json.dumps({"diagnostics": diag}))
    if not untraced or (args.trace and not traced):
        print("perfbench: no rep completed", file=sys.stderr)
        return 1

    if args.trace:
        metrics = layer_metrics(tracer, traced_reps, untraced, traced,
                                jvm_mb, py_mb)
    else:
        wall = PROBE_REF_S * statistics.median(ratios)
        setup_ref_s = PROBE_REF_S * setup_s / statistics.median(probes)
        metrics = {
            "rows_per_s": {"value": wl.rows / wall, "unit": "rows/s"},
            "wall_s": {"value": wall, "unit": "s"},
            "setup_s": {"value": setup_ref_s, "unit": "s"},
            "peak_rss_mb": {"value": jvm_mb + py_mb, "unit": "MB"},
        }
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
