"""Benchmark runner: one workload, one seed, one closed-loop client.

Run from the repository root::

    python3 perfbench/run.py --workload knn_dtw --seed 1 --seconds 10 --trace 0

Set-up starts a ``local[nproc]`` session, loads the C kernel, generates
the seeded inputs, writes them to parquet and runs ``WARMUP_OPS``
untimed ops.  The timed loop then runs one op at a time until
``--seconds`` have passed (at least ``MIN_OPS``), clearing Spark's cache
before each op and checking each op's output outside the timed region.
``--trace 1`` alternates untraced and traced ops and reports the
per-layer metrics instead of the end-to-end ones.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``.  The line before it records the settings,
every op and every check.  See README.md for the metrics.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

import checks  # noqa: E402
from metrics import END_TO_END, PER_LAYER  # noqa: E402
from probes import (ProcTree, Spans, SparkProbe, machine_ticks,  # noqa: E402
                    running, tree_pids)
from workloads import WORKLOADS, KMeansFit, KnnDtw  # noqa: E402

ROOT = os.getcwd()
# untimed ops in set-up: the first pays the cold start (Python workers,
# code generation) and runs 3-6x longer than a warm op; the next two, as
# the JVM's JIT catches up, still run 20-70% longer than later ops
WARMUP_OPS = 3
# timed ops per run at least (a traced run alternates untraced and traced
# ones).  Ops still get a little faster through a run, as the JIT keeps
# compiling, and the processes' peak memory still creeps up, so a run
# whose op count followed the clock would report from a point of those
# curves that depends on the machine's speed.  At the sizes of
# workloads.SIZES eight ops take longer than the --seconds of
# BENCHMARK.json, so every run times the same eight.
MIN_OPS = 8
DRIVER_MEM = "2g"  # get_spark's 16g default does not fit a 16 GB box
# The JVM heap starts at its maximum (-Xms = -Xmx).  Grown on demand, the
# heap's resident size followed G1's expansion steps, which landed at
# different ops in different runs of the same code and input (run peaks
# 2.2-2.9 GB on dedup_text).  peak_rss_mb then moves with the driver
# process, the Python workers and the JVM's memory outside the heap.
JAVA_OPTS = f"-Xms{DRIVER_MEM}"


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _isolate(work: str, nproc: int) -> None:
    """Keep every file Spark, the JVM, the workers and the C-kernel build
    write inside the work dir, and pin the session settings."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # the compiled kernel is cached per checkout, like a build
    os.environ["TSLEARN_SPARK_CK_DIR"] = os.path.join(os.path.dirname(work), "ckernel")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options {shlex.quote(f'-Djava.io.tmpdir={tmp} {JAVA_OPTS}')} pyspark-shell")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)


def _worker_c_path(spark) -> bool:
    """Whether a Python worker loads the compiled kernel: one task."""
    def probe(batches):
        import pandas as pd

        from tslearn_spark import ckernel

        for _ in batches:
            pass
        yield pd.DataFrame({"c": [ckernel.lib_or_none() is not None]})

    df = spark.range(1, numPartitions=1).mapInPandas(probe, "c boolean")
    return bool(df.collect()[0]["c"])


def _gcc_version() -> str:
    try:
        out = subprocess.run(["gcc", "--version"], capture_output=True,
                             text=True, timeout=30).stdout
        return out.splitlines()[0] if out else "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def _kernel_us_per_pair(sample) -> tuple[float, float]:
    """(median microseconds per pair, mean band cells per pair) of the
    batched DTW kernel on one driver thread."""
    import numpy as np

    from tslearn_spark import kernels as K

    a, b, radius = sample
    K.dtw_banded_batch_mixed(a[:64], b[:64], radius)
    secs = []
    for _ in range(3):
        t0 = time.perf_counter()
        K.dtw_banded_batch_mixed(a, b, radius)
        secs.append(time.perf_counter() - t0)
    la = np.array([len(x) for x in a])
    lb = np.array([len(x) for x in b])
    cells = float(checks.band_cells(la, lb, radius).mean())
    return statistics.median(secs) / len(a) * 1e6, cells


def _stop() -> None:
    """Kill the JVM and the Python workers and wait until each has exited.

    Nothing is measured after this, and a graceful stop costs seconds of
    every run."""
    from pyspark import SparkContext

    children = tree_pids(os.getpid())[1:]
    for p in children:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    if SparkContext._gateway is not None:
        SparkContext._gateway.proc.wait()
    while any(running(p) for p in children):
        time.sleep(0.02)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def failed_frac(ops: list) -> float:
    """Ops that raised or failed their output check, over ops attempted."""
    return sum(1 for o in ops if o["errors"]) / max(len(ops), 1)


def end_to_end(ops: list, setup_s: float, items: int, peak_mb: float) -> dict:
    """The end-to-end metrics: medians over the untraced ops."""
    plain = [o for o in ops if not o["traced"]]
    op_s = _median([o["op_s"] for o in plain])
    return {
        "setup_s": setup_s,
        "op_s": op_s,
        "items_per_s": items / op_s if op_s else 0.0,
        "cpu_s": _median([o["cpu_s"] for o in plain]),
        "peak_rss_mb": peak_mb,
        "ok_frac": 1.0 - failed_frac(ops),
    }


def count_mismatch(ops: list) -> list[str]:
    """An error when timed ops of one kind ran unequal (jobs, stages):
    then the ops did not all do the same work, e.g. one read a cache."""
    errs = []
    for traced in (False, True):
        counts = {(o["jobs"], o["stages"]) for o in ops if o["traced"] == traced}
        if len(counts) > 1:
            errs.append(f"timed ops ran unequal (jobs, stages): {sorted(counts)}")
    return errs


class Runner:
    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.nproc = len(os.sched_getaffinity(0))
        self.errors: list[str] = []
        self.ops: list[dict] = []
        self.setup: dict = {}

    # -- set-up ---------------------------------------------------------------
    def set_up(self):
        self.tree = ProcTree(os.getpid())
        t0 = time.perf_counter()
        from tslearn_spark import ckernel, get_spark

        self.spark = get_spark(f"perfbench-{self.args.workload}")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.setup["session.get_spark_s"] = time.perf_counter() - t0
        self.c_path = ckernel.lib_or_none() is not None
        t0 = time.perf_counter()
        self.wl = WORKLOADS[self.args.workload](self.args.seed, self.work)
        self.wl.write_inputs()
        self.setup["setup.generate_s"] = time.perf_counter() - t0
        self.probe = SparkProbe(self.spark)
        sc = self.spark.sparkContext
        t0 = time.perf_counter()
        sc.setJobGroup("warmup", "perfbench warm-up ops")
        for k in range(WARMUP_OPS):
            self.spark.catalog.clearCache()
            out = os.path.join(self.work, f"warmup-{k}")
            try:
                self.wl.op(self.spark, out, Spans(False, "warmup"))
            except Exception:  # the timed ops will fail too and say why
                self.errors.append("warm-up op raised: " + traceback.format_exc(limit=3))
                break
            shutil.rmtree(out, ignore_errors=True)
        self.setup["setup.warmup_s"] = time.perf_counter() - t0
        # after the warm-up, so the probe finds the workers already started
        sc.setJobGroup("probe", "perfbench fast-path probe")
        self.worker_c_path = _worker_c_path(self.spark)
        self.setup_s = time.perf_counter() - T_START
        self.tree.sample()

    # -- the closed loop --------------------------------------------------------
    def timed_loop(self):
        sc = self.spark.sparkContext
        sc.setJobGroup("check", "perfbench output checks")
        t0 = time.perf_counter()
        self.wl.prepare()
        self.prepare_s = time.perf_counter() - t0
        fast_path_lost = self.wl.needs_ckernel and not (self.c_path and self.worker_c_path)
        trace = bool(self.args.trace)
        steal0, total0 = machine_ticks()
        t_loop = time.perf_counter()
        i = 0
        while i < MIN_OPS or time.perf_counter() - t_loop < self.args.seconds:
            traced = trace and i % 2 == 1
            group = f"op-{i}"
            out = os.path.join(self.work, f"out-{i}")
            spans = Spans(traced, group)
            self.spark.catalog.clearCache()
            eid0 = self.probe.last_execution_id() if traced else None
            sc.setJobGroup(group, f"perfbench {self.args.workload} op {i}")
            jit0, gc0 = self.probe.jvm_jit_gc_s()
            cpu0 = self.tree.sample()
            e0 = time.time()
            t0 = time.perf_counter()
            handle, errs = None, []
            try:
                handle = self.wl.op(self.spark, out, spans)
            except Exception:
                errs.append("op raised: " + traceback.format_exc(limit=3))
            op_s = time.perf_counter() - t0
            cpu = self.tree.sample() - cpu0
            sc.setJobGroup("check", "perfbench output checks")
            jit1, gc1 = self.probe.jvm_jit_gc_s()
            rec = {"i": i, "traced": traced, "op_s": op_s, "cpu_s": cpu,
                   "jit_s": jit1 - jit0, "jvm_gc_s": gc1 - gc0,
                   "peak_rss_mb": self.tree.peak_rss_mb()}
            rec.update(self.probe.counts(group))
            if traced and not errs:
                rec["layers"] = self._layers(group, e0, op_s, spans, handle, eid0)
            t1 = time.perf_counter()
            if not errs:
                try:
                    errs += self.wl.check_op(self.spark, handle, out)
                except Exception:
                    errs.append("check raised: " + traceback.format_exc(limit=3))
            rec["check_s"] = time.perf_counter() - t1
            shutil.rmtree(out, ignore_errors=True)
            if fast_path_lost:
                errs.append("ran without the compiled kernel "
                            f"(driver {self.c_path}, workers {self.worker_c_path})")
            rec["errors"] = errs
            self.ops.append(rec)
            print(f"[perfbench] {self.args.workload} op {i}{' traced' if traced else ''}: "
                  f"{op_s:.3f}s cpu {cpu:.2f}s jobs {rec['jobs']} stages {rec['stages']}"
                  f"{' FAILED ' + errs[0][:200] if errs else ''}", file=sys.stderr)
            i += 1
        steal1, total1 = machine_ticks()
        self.steal_frac = (steal1 - steal0) / max(total1 - total0, 1)
        try:
            self.errors += self.wl.check_run(self.spark)
        except Exception:
            self.errors.append("run check raised: " + traceback.format_exc(limit=3))
        self.errors += count_mismatch(self.ops)

    def _layers(self, group, e0, op_s, spans, handle, eid0) -> dict:
        """Per-layer figures of one traced op, read after it finished."""
        prof = self.probe.stage_profile(group, 1000.0 * e0, op_s)
        lay = {f"spark.{k}": v for k, v in prof.items()}
        lay["spark.cached_bytes_after"] = self.probe.cached_bytes()
        spans.plan_metrics = self.probe.plan_metrics(eid0)
        lay["udf.to_python_bytes"] = sum(
            v for _, _, m, v in spans.plan_metrics if m == "data sent to Python workers")
        lay["udf.from_python_bytes"] = sum(
            v for _, _, m, v in spans.plan_metrics if m == "data returned from Python workers")
        self.spark.sparkContext.setJobGroup("layers", "perfbench per-layer extras")
        lay.update(self.wl.layers(self.spark, self.probe, handle, spans))
        self.spark.sparkContext.setJobGroup("check", "perfbench output checks")
        lay["spans"] = [(n, d) for n, _, d in spans.records]
        return lay

    # -- results ----------------------------------------------------------------
    def settings(self) -> dict:
        import numpy as np
        import pyspark

        return {
            "workload": self.args.workload, "seed": self.args.seed,
            "seconds": self.args.seconds, "trace": self.args.trace,
            "sizes": self.wl.sizes, "warmup_ops": WARMUP_OPS, "min_ops": MIN_OPS,
            "nproc": self.nproc,
            "master": self.spark.sparkContext.master,
            "driver_memory": DRIVER_MEM, "java_opts": JAVA_OPTS, "spark": pyspark.__version__,
            "numpy": np.__version__, "gcc": _gcc_version(),
            "python": sys.version.split()[0],
        }

    def _clustering_probe(self) -> dict:
        """The clustering layer, measured on one kmeans_fit op (its own
        inputs, from the run's seed) after the timed loop, for workloads
        whose op does not reach it."""
        km = KMeansFit(self.args.seed, self.work)
        km.write_inputs()
        spans = Spans(True, "clustering-probe")
        self.spark.catalog.clearCache()
        self.spark.sparkContext.setJobGroup(spans.group, "perfbench clustering probe")
        model = km.op(self.spark, os.path.join(self.work, "clustering-probe"), spans)
        return km.layers(self.spark, self.probe, model, spans)

    def per_layer(self) -> dict:
        """Medians over the traced ops, plus the set-up, kernel and
        clustering figures.  Other layers the workload's op does not
        reach read 0."""
        traced = [o["layers"] for o in self.ops if o.get("layers")]
        out = dict.fromkeys(PER_LAYER, 0.0)
        for key in out:
            vals = [lay[key] for lay in traced if key in lay]
            if vals:
                out[key] = _median(vals)
        if not isinstance(self.wl, KMeansFit):
            try:
                out.update(self._clustering_probe())
            except Exception:
                self.errors.append("clustering probe raised: " + traceback.format_exc(limit=3))
        out.update(self.setup)
        knn = self.wl if isinstance(self.wl, KnnDtw) else KnnDtw(self.args.seed, self.work)
        us, cells = _kernel_us_per_pair(knn.kernel_sample())
        out["kernels.dtw_us_per_pair"] = us
        out["kernels.dtw_cells_per_pair"] = cells
        out["ckernel.c_path"] = int(self.c_path)
        out["ckernel.worker_c_path"] = int(self.worker_c_path)
        plain = _median([o["op_s"] for o in self.ops if not o["traced"]])
        pairs = out["neighbors.pairs"]
        kernel_cpu = pairs * us * 1e-6
        out["kernels.dtw_share"] = kernel_cpu / (plain * self.nproc) if plain else 0.0
        if out["udf.to_python_bytes"]:
            out["udf.python_other_s"] = (out["spark.task_run_s"] - out["spark.task_cpu_s"]
                                         - kernel_cpu)
        out["trace.overhead_s"] = _median(
            [o["op_s"] for o in self.ops if o["traced"]]) - plain
        return out

    def result(self) -> dict:
        if self.args.trace:
            vals, names = self.per_layer(), PER_LAYER
        else:
            vals = end_to_end(self.ops, self.setup_s, self.wl.items,
                              self.tree.peak_rss_mb())
            names = END_TO_END
        metrics = {k: {"value": vals[k], "unit": names[k][0]} for k in names}
        ops_failed = sum(1 for o in self.ops if o["errors"])
        return {"correct": not ops_failed and not self.errors,
                "attempted": len(self.ops), "failed": ops_failed,
                "metrics": metrics}


def main(argv=None) -> int:
    if not os.path.isfile(os.path.join(ROOT, "tslearn_spark", "__init__.py")):
        print("perfbench: run from the repository root (no tslearn_spark/ here)",
              file=sys.stderr)
        return 2
    args = parse_args(argv)
    base = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=base)
    runner = Runner(args, work)
    _isolate(work, runner.nproc)
    sys.path.insert(0, ROOT)
    try:
        try:
            runner.set_up()
            runner.timed_loop()
            result = runner.result()
            record = {"settings": runner.settings(), "setup_s": runner.setup_s,
                      "setup": runner.setup, "prepare_s": runner.prepare_s,
                      "steal_frac": runner.steal_frac, "ops": runner.ops,
                      "failed_frac": failed_frac(runner.ops),
                      "errors": runner.errors}
        finally:
            _stop()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    record["wall_s"] = time.perf_counter() - T_START
    print(json.dumps({"perfbench_record": record}, default=str))
    print(json.dumps(result))
    sys.stdout.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
