"""Self-tests of the benchmark: metric names, output checks, job-count
equality.  No Spark session is started.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

import json
import os

import numpy as np
import pytest

import checks
import run
import spread
from metrics import END_TO_END, PER_LAYER
from probes import interval_union, parse_metric
from workloads import WORKLOADS, DedupText, KnnDtw

HERE = os.path.dirname(os.path.abspath(__file__))

PINNED_END_TO_END = {"setup_s", "op_s", "items_per_s", "cpu_s", "peak_rss_mb"}
PINNED_PER_LAYER = {
    "spark.jobs", "spark.stages", "spark.tasks", "spark.stage_busy_s",
    "spark.outside_stage_s", "spark.first_job_delay_s", "spark.task_run_s",
    "spark.task_cpu_s", "spark.gc_s", "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes", "spark.cached_bytes_after",
    "kernels.dtw_us_per_pair", "kernels.dtw_cells_per_pair", "kernels.dtw_share",
    "ckernel.c_path", "ckernel.worker_c_path",
    "udf.to_python_bytes", "udf.from_python_bytes", "udf.python_other_s",
    "preprocessing.zscore_s", "neighbors.pairs",
    "clustering.n_iter", "clustering.s_per_iter", "clustering.jobs_per_iter",
    "clustering.predict_s",
    "dedup.pairs_s", "dedup.components_s", "dedup.write_s", "dedup.pairs_out",
    "dedup.candidate_rows", "dedup.useful_ratio", "dedup.components",
    "session.get_spark_s", "setup.generate_s", "setup.warmup_s",
}


# -- metric names ---------------------------------------------------------------

def test_metric_names_pinned():
    # failed_frac is 0 on a healthy run, so the gated metric is its
    # complement ok_frac; failed_frac itself is in the run record
    assert set(END_TO_END) == PINNED_END_TO_END | {"ok_frac"}
    assert set(PER_LAYER) == PINNED_PER_LAYER | {"trace.overhead_s"}


def test_benchmark_json_matches_registry():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert bench["command"] == ["python3", "perfbench/run.py"]
    assert {w["name"] for w in bench["workloads"]} <= set(WORKLOADS)
    e2e = {m["name"]: (m["unit"], m["better"], m["bound"]) for m in bench["end_to_end"]}
    assert e2e == END_TO_END
    assert max(b for _, _, b in e2e.values()) == e2e["setup_s"][2]
    layers = {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]}
    assert layers == PER_LAYER


def test_end_to_end_values_and_failed_frac():
    ops = [{"traced": False, "op_s": s, "cpu_s": 2 * s, "errors": e}
           for s, e in ((2.0, []), (4.0, ["bad"]), (3.0, []))]
    ops.append({"traced": True, "op_s": 9.0, "cpu_s": 9.0, "errors": []})
    vals = run.end_to_end(ops, setup_s=10.0, items=300, peak_mb=100.0)
    assert set(vals) == set(END_TO_END)
    assert vals["op_s"] == 3.0 and vals["cpu_s"] == 6.0
    assert vals["items_per_s"] == 100.0
    assert run.failed_frac(ops) == 0.25
    assert vals["ok_frac"] == 0.75


# -- equal job counts across timed ops -------------------------------------------

def _op(jobs, stages, traced=False):
    return {"jobs": jobs, "stages": stages, "traced": traced}


def test_count_mismatch():
    assert run.count_mismatch([_op(9, 9), _op(9, 9), _op(9, 9)]) == []
    # traced ops may split their work into more jobs; only like is compared
    assert run.count_mismatch([_op(9, 9), _op(11, 11, True), _op(9, 9),
                               _op(11, 11, True)]) == []
    assert run.count_mismatch([_op(13, 13), _op(5, 5), _op(13, 13)])
    assert run.count_mismatch([_op(9, 9), _op(9, 10)])
    assert run.count_mismatch([_op(9, 9, True), _op(8, 9, True)])


# -- run-to-run spread ---------------------------------------------------------------

def test_spread_is_the_quartile_distance_over_the_median():
    assert spread.seed_list("801-804") == [801, 802, 803, 804]
    assert spread.seed_list("5,1") == [5, 1]
    med, q1, q3, s = spread.spread([1.0, 2.0, 3.0, 4.0, 5.0])
    assert (med, q1, q3) == (3.0, 1.5, 4.5) and s == 1.0


# -- status-store parsing ----------------------------------------------------------

def test_parse_metric():
    assert parse_metric("12,345") == 12345
    assert parse_metric("total (min, med, max (stageId: taskId))\n"
                        "12.5 MiB (1.0 MiB, 2.0 MiB, 3.0 MiB (stage 1.0: task 2))"
                        ) == 12.5 * 2 ** 20
    assert parse_metric("total (min, med, max)\n1.5 s (0 ms, 1 ms, 2 ms)") == 1.5
    assert parse_metric("(min, med, max (stageId: taskId)):\n(1.6, 1.6, 1.6)") is None


def test_interval_union():
    assert interval_union([]) == 0
    assert interval_union([(0, 2), (1, 3), (5, 6)]) == 4
    assert interval_union([(5, 6), (0, 10)]) == 10


# -- knn_dtw checks -----------------------------------------------------------------

def _mask(n, m, radius):
    """tslearn's sakoe_chiba_mask, transcribed: True where a cell is allowed."""
    allowed = np.zeros((n, m), dtype=bool)
    if n > m:
        width = n - m + radius
        for j in range(m):
            allowed[max(0, j - radius): min(n, j + width) + 1, j] = True
    else:
        width = m - n + radius
        for i in range(n):
            allowed[i, max(0, i - radius): min(m, i + width) + 1] = True
    return allowed


def _loop_dtw(a, b, radius):
    """Textbook cell-by-cell DTW over the mask."""
    n, m = len(a), len(b)
    allowed = _mask(n, m, radius)
    C = np.full((n + 1, m + 1), np.inf)
    C[0, 0] = 0.0
    for i in range(n):
        for j in range(m):
            if allowed[i, j]:
                C[i + 1, j + 1] = (a[i] - b[j]) ** 2 + min(C[i, j], C[i, j + 1],
                                                          C[i + 1, j])
    return np.sqrt(C[n, m])


def test_naive_dtw_matches_textbook_loop():
    rs = np.random.RandomState(0)
    a = [rs.randn(rs.randint(3, 20)) for _ in range(30)]
    b = [rs.randn(rs.randint(3, 20)) for _ in range(30)]
    for radius in (0, 1, 5):
        got = checks.naive_dtw(a, b, radius)
        want = [_loop_dtw(x, y, radius) for x, y in zip(a, b)]
        np.testing.assert_array_equal(got, want)
    assert checks.naive_dtw([np.array([1.0, 2, 3])], [np.array([1.0, 2, 2, 3])], 1)[0] == 0


def test_band_cells_counts_the_mask():
    la, lb = np.array([5, 7, 6, 9]), np.array([7, 5, 6, 3])
    want = [int(_mask(n, m, 1).sum()) for n, m in zip(la, lb)]
    assert checks.band_cells(la, lb, 1).tolist() == want


def test_knn_checks_fail_on_corruption():
    rs = np.random.RandomState(1)
    train = [rs.randn(rs.randint(8, 16)) for _ in range(12)]
    queries = [rs.randn(rs.randint(8, 16)) for _ in range(3)]
    idx, dist = checks.nn_oracle(queries, train, 2)
    assert checks.check_knn_neighbors(idx, dist, idx, dist) == []
    wrong = idx.copy()
    wrong[1] = (wrong[1] + 1) % len(train)
    assert checks.check_knn_neighbors(wrong, dist, idx, dist)
    assert checks.check_knn_neighbors(idx, dist * (1 + 1e-6), idx, dist)
    pred = {i: str(i % 3) for i in range(10)}
    want = {2: "2", 7: "1"}
    assert checks.check_knn_predictions(pred, 10, want) == []
    assert checks.check_knn_predictions({**pred, 7: "0"}, 10, want)
    del pred[4]
    assert checks.check_knn_predictions(pred, 10, want)


# -- kmeans_fit checks ---------------------------------------------------------------

def test_kmeans_check_fails_on_corruption():
    rs = np.random.RandomState(2)
    centers = rs.randn(3, 8) * 5
    y = np.arange(60) % 3
    X = centers[y] + 0.1 * rs.randn(60, 8)
    labels = dict(enumerate(y.tolist()))
    assert checks.check_kmeans(labels, X, centers[..., None], 4, 4, 3) == []
    assert checks.check_kmeans({**labels, 5: (labels[5] + 1) % 3}, X, centers, 4, 4, 3)
    assert checks.check_kmeans(labels, X, centers, 3, 4, 3)
    far = np.vstack([centers, [[1e3] * 8]])
    assert checks.check_kmeans(labels, X, far, 4, 4, 4)  # one empty cluster
    del labels[0]
    assert checks.check_kmeans(labels, X, centers, 4, 4, 3)


# -- dedup_text checks ---------------------------------------------------------------

def test_shingles_follow_the_engine_tokenizer():
    assert checks.shingles("A b,, C d", 3) == {"a b c", "b c d"}
    assert checks.shingles("one two", 3) == {"one two"}
    sets = checks.capped_sets({1: "x y z", 2: "x y z", 3: "x y w"}, 3, 1)
    assert sets == {1: set(), 2: set(), 3: {"x y w"}}


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    wl = DedupText(7, str(tmp_path_factory.mktemp("dedup")))
    wl.prepare()
    return wl


def test_planted_families_reach_the_threshold(corpus):
    thr = corpus.cfg["threshold"]
    ok = [f for f in corpus.families
          if all(checks.jaccard(corpus._sets[f[0]], corpus._sets[m]) >= thr
                 for m in f[1:])]
    assert len(ok) >= 0.9 * len(corpus.families)


def test_dedup_checks_fail_on_corruption(corpus):
    thr = corpus.cfg["threshold"]
    keep = {m: min(f) for f in corpus.families for m in f}
    assert checks.check_families(keep, corpus.families, corpus._sets, thr) == []
    fam = next(f for f in corpus.families
               if checks.check_families({}, [f], corpus._sets, thr))
    bad = {**keep, fam[0]: fam[0] + 10 ** 6}
    assert checks.check_families(bad, corpus.families, corpus._sets, thr)
    ids = list(corpus.texts)
    kept = [d for d in ids if keep.get(d, d) == d]
    assert checks.check_kept(kept, ids, keep) == []
    assert checks.check_kept(kept + kept[:1], ids, keep)
    assert checks.check_kept(kept[1:], ids, keep)
    assert checks.check_kept(kept + [max(fam)], ids, keep)
    a, b = sorted(fam[:2])
    jac = checks.jaccard(corpus._sets[a], corpus._sets[b])
    assert checks.check_pairs([(a, b, jac)], corpus._sets, thr) == []
    assert checks.check_pairs([(a, b, jac + 1e-9)], corpus._sets, thr)
    assert checks.check_pairs([(b, a, jac)], corpus._sets, thr)
    far = next(d for d in ids if d not in keep)
    x, y = sorted((a, far))
    assert checks.check_pairs([(x, y, 0.9)], corpus._sets, thr)


# -- seeded inputs -------------------------------------------------------------------

def test_inputs_follow_the_seed(tmp_path):
    a, b, c = (KnnDtw(s, str(tmp_path)) for s in (3, 3, 4))
    assert all(np.array_equal(x, y) for x, y in zip(a.series, b.series))
    assert not all(len(x) == len(y) and np.array_equal(x, y)
                   for x, y in zip(a.series, c.series))
    d1, d2 = DedupText(3, str(tmp_path)), DedupText(3, str(tmp_path))
    assert d1.texts == d2.texts and d1.families == d2.families
