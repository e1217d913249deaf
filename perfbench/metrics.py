"""Every metric the benchmark reports, with its unit and direction.

``BENCHMARK.json`` lists the same names; ``test_perfbench.py`` keeps the
two in step.  README.md says which end-to-end metric each per-layer
metric should move, and on which workload.
"""

# name -> (unit, better, bound as a share of the parent's median).
# On a shared 4-vCPU VM a run's timings follow its neighbours' load (runs
# that overlap a burst of CPU steal are 1.5-2x slower), which sets the
# timing bounds at the largest allowed; see STEADINESS.md.  setup_s has
# the largest bound.
END_TO_END = {
    "setup_s": ("s", "lower", 0.25),
    "op_s": ("s", "lower", 0.24),
    "items_per_s": ("1/s", "higher", 0.24),
    "cpu_s": ("s", "lower", 0.24),
    "peak_rss_mb": ("MB", "lower", 0.24),
    "ok_frac": ("ratio", "higher", 0.01),
}

# name -> (unit, better); reported by a traced run (--trace 1)
PER_LAYER = {
    "spark.jobs": ("count", "lower"),
    "spark.stages": ("count", "lower"),
    "spark.tasks": ("count", "lower"),
    "spark.stage_busy_s": ("s", "lower"),
    "spark.outside_stage_s": ("s", "lower"),
    "spark.first_job_delay_s": ("s", "lower"),
    "spark.task_run_s": ("s", "lower"),
    "spark.task_cpu_s": ("s", "lower"),
    "spark.gc_s": ("s", "lower"),
    "spark.shuffle_read_bytes": ("B", "lower"),
    "spark.shuffle_write_bytes": ("B", "lower"),
    "spark.cached_bytes_after": ("B", "lower"),
    "kernels.dtw_us_per_pair": ("us", "lower"),
    "kernels.dtw_cells_per_pair": ("count", "lower"),
    "kernels.dtw_share": ("ratio", "lower"),
    "ckernel.c_path": ("flag", "higher"),
    "ckernel.worker_c_path": ("flag", "higher"),
    "udf.to_python_bytes": ("B", "lower"),
    "udf.from_python_bytes": ("B", "lower"),
    "udf.python_other_s": ("s", "lower"),
    "preprocessing.zscore_s": ("s", "lower"),
    "neighbors.pairs": ("count", "lower"),
    "clustering.n_iter": ("count", "lower"),
    "clustering.s_per_iter": ("s", "lower"),
    "clustering.jobs_per_iter": ("count", "lower"),
    "clustering.predict_s": ("s", "lower"),
    "dedup.pairs_s": ("s", "lower"),
    "dedup.components_s": ("s", "lower"),
    "dedup.write_s": ("s", "lower"),
    "dedup.pairs_out": ("count", "lower"),
    "dedup.candidate_rows": ("count", "lower"),
    "dedup.useful_ratio": ("ratio", "higher"),
    "dedup.components": ("count", "lower"),
    "session.get_spark_s": ("s", "lower"),
    "setup.generate_s": ("s", "lower"),
    "setup.warmup_s": ("s", "lower"),
    "trace.overhead_s": ("s", "lower"),
}
