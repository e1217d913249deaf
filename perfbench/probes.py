"""Measurement helpers for the benchmark runner.

Everything here observes the engine from outside: process-tree CPU and
memory from ``/proc``, Spark job/stage counters read by job group from
the driver's status store over py4j, and SQL plan metrics from the SQL
status store.  Nothing in ``tslearn_spark`` is instrumented.
"""

from __future__ import annotations

import os
import re
import time
from collections import defaultdict
from contextlib import contextmanager

_CLK = os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------------------
# process tree: driver Python + JVM + Python workers
# ---------------------------------------------------------------------------

def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    # the command name may hold spaces and parentheses: split after the last ')'
    return s[s.rindex(")") + 2:].split()


def tree_pids(root: int) -> list[int]:
    """``root`` and every live descendant."""
    kids = defaultdict(list)
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None:
                kids[int(f[1])].append(int(name))
    out, stack = [], [root]
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(kids.get(p, ()))
    return out


def running(pid: int) -> bool:
    """Whether ``pid`` exists and has not exited (a zombie has exited)."""
    f = _stat_fields(pid)
    return f is not None and f[0] != "Z"


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def machine_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole machine since boot; their
    ratio over an interval is the share of CPU the hypervisor withheld."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


class ProcTree:
    """CPU seconds and peak resident memory of a process tree.

    CPU counts each live process's own time plus the time of its reaped
    children (``cutime``/``cstime``), so a Python worker that exits
    between two samples still counts, in its parent.  Peak memory is the
    largest sum, over the samples, of the high-water marks of the
    processes alive at that sample: an upper bound on the memory the
    tree held at once that never adds up a process and its replacement.
    """

    def __init__(self, root: int):
        self.root = root
        self.peak_kb = 0

    def sample(self) -> float:
        cpu_ticks = hwm_kb = 0
        for pid in tree_pids(self.root):
            f = _stat_fields(pid)
            if f is None:
                continue
            # fields 14-17 of proc(5): utime stime cutime cstime
            cpu_ticks += sum(int(x) for x in f[11:15])
            hwm_kb += _hwm_kb(pid)
        self.peak_kb = max(self.peak_kb, hwm_kb)
        return cpu_ticks / _CLK

    def peak_rss_mb(self) -> float:
        return self.peak_kb / 1024.0


# ---------------------------------------------------------------------------
# Spark status store, by job group
# ---------------------------------------------------------------------------

def _opt_ms(opt) -> float | None:
    """Scala ``Option[java.util.Date]`` -> epoch milliseconds."""
    return float(opt.get().getTime()) if opt.isDefined() else None


def interval_union(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class SparkProbe:
    """Job, stage and SQL-plan counters of the jobs one job group ran."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()

    def jvm_jit_gc_s(self) -> tuple[float, float]:
        """(JIT compile, GC) seconds the JVM has spent since it started."""
        mf = self.sc._jvm.java.lang.management.ManagementFactory
        gc = sum(max(b.getCollectionTime(), 0) for b in mf.getGarbageCollectorMXBeans())
        return mf.getCompilationMXBean().getTotalCompilationTime() / 1e3, gc / 1e3

    def job_ids(self, group: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def counts(self, group: str) -> dict:
        """Jobs, completed stages and completed tasks of one job group."""
        jobs = stages = tasks = 0
        for jid in self.job_ids(group):
            j = self.store.job(jid)
            jobs += 1
            stages += j.numCompletedStages()
            tasks += j.numCompletedTasks()
        return {"jobs": jobs, "stages": stages, "tasks": tasks}

    def job_submit_ms(self, group: str) -> list[float]:
        out = []
        for jid in self.job_ids(group):
            t = _opt_ms(self.store.job(jid).submissionTime())
            if t is not None:
                out.append(t)
        return sorted(out)

    def stage_profile(self, group: str, t0_ms: float, wall_s: float) -> dict:
        """Per-layer Spark runtime figures for one op.

        ``t0_ms`` is the op's start on the epoch clock the JVM also uses
        (local mode: one machine clock)."""
        out = dict(self.counts(group))
        stage_ids, submits = set(), []
        for jid in self.job_ids(group):
            j = self.store.job(jid)
            t = _opt_ms(j.submissionTime())
            if t is not None:
                submits.append(t)
            ids = j.stageIds()
            for i in range(ids.size()):
                stage_ids.add(int(ids.apply(i)))
        run_ms = cpu_ns = gc_ms = rd = wr = 0
        intervals = []
        for sid in stage_ids:
            s = self.store.lastStageAttempt(sid)
            if s.status().toString() != "COMPLETE":
                continue  # skipped: its shuffle output was reused
            run_ms += s.executorRunTime()
            cpu_ns += s.executorCpuTime()
            gc_ms += s.jvmGcTime()
            rd += s.shuffleReadBytes()
            wr += s.shuffleWriteBytes()
            a, b = _opt_ms(s.submissionTime()), _opt_ms(s.completionTime())
            if a is not None and b is not None:
                intervals.append((a, b))
        busy = interval_union(intervals) / 1000.0
        out.update({
            "stage_busy_s": busy,
            "outside_stage_s": max(wall_s - busy, 0.0),
            "first_job_delay_s": ((min(submits) - t0_ms) / 1000.0
                                  if submits else wall_s),
            "task_run_s": run_ms / 1000.0,
            "task_cpu_s": cpu_ns / 1e9,
            "gc_s": gc_ms / 1000.0,
            "shuffle_read_bytes": int(rd),
            "shuffle_write_bytes": int(wr),
        })
        return out

    def cached_bytes(self) -> int:
        rdds = self.store.rddList(True)
        return int(sum(rdds.apply(i).memoryUsed() + rdds.apply(i).diskUsed()
                       for i in range(rdds.size())))

    # -- SQL plan metrics ---------------------------------------------------
    def last_execution_id(self) -> int:
        n = self.sql_store.executionsCount()
        if n == 0:
            return -1
        last = self.sql_store.executionsList(n - 1, 1)
        return int(last.apply(0).executionId())

    def plan_metrics(self, after_id: int) -> list[tuple[str, str, str, float]]:
        """(node name, node description, metric name, value) for every
        SQL metric of every execution with id > ``after_id``."""
        out = []
        for eid in range(after_id + 1, self.last_execution_id() + 1):
            if self.sql_store.execution(eid).isEmpty():
                continue
            values = self.sql_store.executionMetrics(eid)
            nodes = self.sql_store.planGraph(eid).allNodes()
            for i in range(nodes.size()):
                node = nodes.apply(i)
                ms = node.metrics()
                for k in range(ms.size()):
                    m = ms.apply(k)
                    v = values.get(m.accumulatorId())
                    val = parse_metric(v.get()) if v.isDefined() else None
                    if val is not None:
                        out.append((node.name(), node.desc(), m.name(), val))
        return out


_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}


def parse_metric(text: str) -> float | None:
    """Value of one SQL metric as the SQL status store formats it.

    Counts read ``"12,345"``; sizes and timings read
    ``"total (min, med, max ...)\\n12.3 MiB (...)"`` and come back in
    bytes and seconds.  Averages, which have no total, give None."""
    line = text.strip().split("\n")[-1].strip()
    m = re.match(r"([-0-9.,]+)\s*([A-Za-z]*)", line)
    if m is None:
        return None
    num = float(m.group(1).replace(",", ""))
    return num * _UNITS.get(m.group(2), 1)


# ---------------------------------------------------------------------------
# spans around calls into the engine's public functions
# ---------------------------------------------------------------------------

class Spans:
    """Wall-clock spans of one op, recorded by the benchmark around its
    calls into ``tslearn_spark``.  ``traced`` ops may also split their
    work so that phases time apart; untraced ops never do."""

    def __init__(self, traced: bool, group: str = ""):
        self.traced = traced
        self.group = group
        self.records: list[tuple[str, float, float]] = []  # name, epoch start, secs
        self.plan_metrics: list = []

    @contextmanager
    def __call__(self, name: str):
        e0, t0 = time.time(), time.perf_counter()
        try:
            yield
        finally:
            self.records.append((name, e0, time.perf_counter() - t0))

    def total(self, name: str) -> float:
        return sum(d for n, _, d in self.records if n == name)

    def end_epoch_ms(self, name: str) -> float:
        e0, d = next((e, d) for n, e, d in self.records if n == name)
        return 1000.0 * (e0 + d)
