"""Spans around layer calls, with Spark stage metrics read from the
application status store (works with the UI disabled).

Spans and counts stay in memory until the run ends; ``Tracer.totals`` sums
them per rep and run.py prints them with the diagnostics.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager

MB = 1024.0 * 1024.0


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set size (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def python_nodes(df) -> int:
    """ArrowEvalPython/BatchEvalPython operators in the physical plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.count("ArrowEvalPython") + plan.count("BatchEvalPython")


class StageCounters:
    """Job and stage counters of one SparkContext, summed over the jobs and
    stages submitted after a mark."""

    FIELDS = ("jobs", "tasks", "task_s", "shuffle_write_mb", "spill_mb")

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._no_quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)

    def _lists(self):
        # stage metrics arrive through the listener bus; drain it so the
        # store reflects every job that has already returned
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        return (
            store.jobsList(None),
            store.stageList(None, False, False, self._no_quantiles, None),
        )

    def mark(self):
        """(last job id, last stage id) so far."""
        jobs, stages = self._lists()
        return (
            max((j.jobId() for j in _iter(jobs)), default=-1),
            max((s.stageId() for s in _iter(stages)), default=-1),
        )

    def since(self, mark) -> dict:
        last_job, last_stage = mark
        jobs, stages = self._lists()
        out = dict.fromkeys(self.FIELDS, 0.0)
        out["jobs"] = float(sum(1 for j in _iter(jobs) if j.jobId() > last_job))
        for s in _iter(stages):
            if s.stageId() <= last_stage:
                continue
            out["tasks"] += s.numCompleteTasks()
            out["task_s"] += s.executorRunTime() / 1000.0
            out["shuffle_write_mb"] += s.shuffleWriteBytes() / MB
            out["spill_mb"] += s.diskBytesSpilled() / MB
        return out


def _iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


class Tracer:
    """Records one span per layer call: wall time plus the Spark counters
    that moved while it ran. Closed loop, one job at a time, so every
    counter delta inside a span belongs to that span."""

    def __init__(self, spark):
        self._stages = StageCounters(spark)
        self.spans = []
        self.counts = {}

    def begin(self):
        return time.perf_counter(), self._stages.mark()

    def end(self, name: str, rep: int, start) -> None:
        t0, mark = start
        wall = time.perf_counter() - t0
        rec = {"name": name, "rep": rep, "start": t0, "s": wall}
        rec.update(self._stages.since(mark))
        self.spans.append(rec)

    @contextmanager
    def span(self, name: str, rep: int):
        start = self.begin()
        yield
        self.end(name, rep, start)

    def count(self, name: str, rep: int, value: float) -> None:
        self.counts.setdefault(rep, {})
        self.counts[rep][name] = self.counts[rep].get(name, 0.0) + value

    def totals(self, rep: int) -> dict:
        """Per-rep sums of span fields, keyed ``<span>.<field>``."""
        out = {}
        for r in self.spans:
            if r["rep"] != rep:
                continue
            for k in ("s", *StageCounters.FIELDS):
                key = f"{r['name']}.{k}"
                out[key] = out.get(key, 0.0) + r[k]
        out.update(self.counts.get(rep, {}))
        return out


def process_pids(spark):
    """(JVM pid, Python driver pid)."""
    return int(spark._jvm.ProcessHandle.current().pid()), os.getpid()
