"""Replay of the reference's own unit-test files (SURVEY.md §5: the
reference test strategy is the model) against the Spark twins.

Each sklearn-free reference test file is exec'd AT TEST TIME from the
read-only reference checkout — nothing is copied into this repo — under
the same ``tslearn.* -> tslearn_spark`` import shim the doctest replay
uses, plus a minimal ``scipy.spatial.distance.cdist`` stand-in (the
files only use the euclidean/sqeuclidean forms).  Every ``test_*``
function in a file becomes one parametrized case; non-passes must be
explained in XFAIL.

Every reference test FILE is now replayed except test_estimators.py,
whose patched check_estimator battery has its own dedicated replay
module (tests/test_reference_estimator_checks.py) — sklearn names are
covered by the minimal shim below (NotFittedError, clone, KFold,
cross_val_score, cross_validate), tensorflow by a duck-typed optimizer
shim, scipy by a cdist stand-in.
"""

from __future__ import annotations

import ast
import os
import sys
import types

import numpy as np
import pytest

from tests.test_reference_doctests import (  # noqa: F401  (fixture reuse)
    _SHIM,
    _ref_random_walk_blobs,
    _ref_random_walks,
    tslearn_shim,
)

REF_TESTS = "/root/reference/tslearn/tests"

FILES = [
    "test_metrics.py",
    "test_barycenters.py",
    "test_clustering.py",
    "test_neighbors.py",
    "test_preprocessing.py",
    "test_matrixprofile.py",
    "test_utils.py",
    # these import sklearn only for NotFittedError/clone/KFold/
    # cross_val_score — covered by the minimal sklearn shim below
    "test_piecewise.py",
    "test_serialize_models.py",
    "test_variablelength.py",
    # round 9: the last two files — cross_validate joins the sklearn
    # shim, a duck-typed tensorflow shim satisfies importorskip +
    # tf.optimizers.Adam, and the engine grew the _preprocess_sklearn
    # compat surface the svm tests introspect
    "test_shapelets.py",
    "test_svm.py",
]

# explained non-passes: "<file>::<test_name>" or whole "<file>";
# "skip:" prefix skips instead of xfail
XFAIL: dict[str, str] = {
    "test_serialize_models.py::test_hdftools": "skip: the test itself "
    "uses the numpy.int/numpy.float aliases removed in numpy 1.24 (and "
    "h5py is absent in this environment; the layout is round-trip "
    "tested skip-if-absent in our own suite)",
    "test_metrics.py::test_ctw": "engine ctw_path returns (path, A, B, "
    "score) — the reference's middle value is a fitted sklearn CCA "
    "object (from-scratch CCA here; same deviation as the ctw_path "
    "doctest xfail)",
    "test_clustering.py::test_kmeans": "rng-draw alignment: the test "
    "threads ONE RandomState through several fits before drawing the "
    "fixed-init DBA data; engines consume different draw counts inside "
    "fit, so that later draw differs — with our draws the fixed "
    "explicit init leaves a cluster empty on the first assignment, and "
    "(reference semantics) every retry of a FIXED init fails "
    "identically, so fit legitimately returns _X_fit=None.  All "
    "assertions before that data draw pass (euclidean/dtw/softdtw "
    "labels vs cdist argmin, predict equality, the n_clusters=101 "
    "silent-failure contract, variable-length fits, the k-means++ "
    "paths and the euclidean init ValueError)",
    "test_metrics.py::test_softdtw": "one-ulp: asserts EXACT equality "
    "between dtw_path's sqrt-then-squared score and the gamma=0 "
    "soft-DTW accumulation; both come from the same forward pass, but "
    "sqrt then square need not round-trip (values agree to 1 ulp, "
    "assert_allclose-level agreement is pinned by our own kernels "
    "tests)",
}


def _collect():
    cases = []
    for fn in FILES:
        path = os.path.join(REF_TESTS, fn)
        if not os.path.exists(path):
            continue
        tree = ast.parse(open(path).read())
        names = [n.name for n in tree.body
                 if isinstance(n, ast.FunctionDef) and n.name.startswith("test_")]
        for name in names:
            cases.append((fn, name))
    return cases


CASES = _collect()


def _euclidean_cdist(XA, XB, metric="euclidean"):
    XA = np.asarray(XA, dtype=np.float64)
    XB = np.asarray(XB, dtype=np.float64)
    d2 = (
        np.sum(XA * XA, axis=1)[:, None]
        + np.sum(XB * XB, axis=1)[None, :]
        - 2.0 * (XA @ XB.T)
    )
    np.maximum(d2, 0.0, out=d2)
    if metric == "sqeuclidean":
        return d2
    if metric == "euclidean":
        return np.sqrt(d2)
    raise NotImplementedError(metric)


@pytest.fixture(scope="module")
def sklearn_shim():
    """Minimal sklearn stand-in for the two names the replayed files
    import: exceptions.NotFittedError (sklearn's IS a ValueError
    subclass, and the engine's unfitted errors are ValueErrors) and
    base.clone (reconstruct from get_params)."""
    saved = {k: sys.modules.get(k)
             for k in ("sklearn", "sklearn.exceptions", "sklearn.base",
                       "sklearn.model_selection")}
    sk = types.ModuleType("sklearn")
    exceptions = types.ModuleType("sklearn.exceptions")
    exceptions.NotFittedError = ValueError
    base = types.ModuleType("sklearn.base")
    base.clone = lambda est: type(est)(**est.get_params())
    msel = types.ModuleType("sklearn.model_selection")

    class _KFold:
        """Documented sklearn KFold semantics: shuffled index
        permutation split into n_splits contiguous folds, the first
        n % n_splits folds one element larger."""

        def __init__(self, n_splits=5, shuffle=False, random_state=None):
            self.n_splits = n_splits
            self.shuffle = shuffle
            self.random_state = random_state

        def split(self, X, y=None):
            n = len(X)
            idx = np.arange(n)
            if self.shuffle:
                rs = (self.random_state
                      if isinstance(self.random_state, np.random.RandomState)
                      else np.random.RandomState(self.random_state))
                rs.shuffle(idx)
            sizes = np.full(self.n_splits, n // self.n_splits)
            sizes[: n % self.n_splits] += 1
            start = 0
            for sz in sizes:
                test = idx[start:start + sz]
                train = np.concatenate([idx[:start], idx[start + sz:]])
                yield train, test
                start += sz

    def _cross_val_score(estimator, X, y=None, cv=None):
        y = np.asarray(y)
        scores = []
        for train, test in cv.split(X, y):
            est = base.clone(estimator)
            est.fit(X[train], y[train])
            scores.append(est.score(X[test], y[test]))
        return np.asarray(scores)

    def _cross_validate(estimator, X, y=None, cv=None):
        """Documented sklearn cross_validate semantics (subset): k-fold
        fit+score, returning the fit_time/score_time/test_score dict."""
        import time as _time

        if cv is None or isinstance(cv, int):
            cv = _KFold(cv or 5)
        y = np.asarray(y)
        out = {"fit_time": [], "score_time": [], "test_score": []}
        for train, test in cv.split(X, y):
            est = base.clone(estimator)
            t0 = _time.perf_counter()
            est.fit(X[train], y[train])
            t1 = _time.perf_counter()
            out["test_score"].append(est.score(X[test], y[test]))
            out["fit_time"].append(t1 - t0)
            out["score_time"].append(_time.perf_counter() - t1)
        return {k: np.asarray(v) for k, v in out.items()}

    msel.KFold = _KFold
    msel.cross_val_score = _cross_val_score
    msel.cross_validate = _cross_validate
    sk.exceptions = exceptions
    sk.base = base
    sk.model_selection = msel
    sys.modules["sklearn"] = sk
    sys.modules["sklearn.exceptions"] = exceptions
    sys.modules["sklearn.base"] = base
    sys.modules["sklearn.model_selection"] = msel
    yield
    for k, v in saved.items():
        if v is None:
            sys.modules.pop(k, None)
        else:
            sys.modules[k] = v


@pytest.fixture(scope="module")
def tensorflow_shim():
    """Duck-typed tensorflow stand-in for the shapelet tests: the
    reference gates them on importorskip('tensorflow') because ITS
    LearningShapelets is keras-backed; the engine's is from-scratch and
    needs only ``tf.optimizers.Adam(lr)`` (an optimizer OBJECT the
    engine maps by class name) and the seeding call."""
    saved = sys.modules.get("tensorflow")
    tf = types.ModuleType("tensorflow")

    class Adam:
        def __init__(self, learning_rate=0.001):
            self.learning_rate = learning_rate

    class SGD:
        def __init__(self, learning_rate=0.01):
            self.learning_rate = learning_rate

    opt = types.SimpleNamespace(Adam=Adam, SGD=SGD)
    tf.optimizers = opt
    tf.random = types.SimpleNamespace(set_seed=lambda seed=None: None)
    sys.modules["tensorflow"] = tf
    yield
    if saved is None:
        sys.modules.pop("tensorflow", None)
    else:
        sys.modules["tensorflow"] = saved


@pytest.fixture(scope="module")
def scipy_shim():
    """Minimal scipy.spatial.distance.cdist — the replayed files use
    only the euclidean and sqeuclidean metrics."""
    saved = {k: sys.modules.get(k)
             for k in ("scipy", "scipy.spatial", "scipy.spatial.distance")}
    scipy = types.ModuleType("scipy")
    spatial = types.ModuleType("scipy.spatial")
    distance = types.ModuleType("scipy.spatial.distance")
    distance.cdist = _euclidean_cdist
    spatial.distance = distance
    scipy.spatial = spatial
    sys.modules["scipy"] = scipy
    sys.modules["scipy.spatial"] = spatial
    sys.modules["scipy.spatial.distance"] = distance
    yield
    for k, v in saved.items():
        if v is None:
            sys.modules.pop(k, None)
        else:
            sys.modules[k] = v


_MODULE_CACHE: dict[str, dict] = {}


def _load(fn):
    if fn not in _MODULE_CACHE:
        path = os.path.join(REF_TESTS, fn)
        file_alias = path
        if fn == "test_serialize_models.py":
            # the file anchors its tmp dir next to __file__ — the
            # reference checkout is read-only, so alias __file__ into a
            # writable sandbox for the whole module's lifetime
            import tempfile

            file_alias = os.path.join(
                tempfile.mkdtemp(prefix="ref_serialize_"), fn)
        ns = {"__name__": f"ref_{fn[:-3]}", "__file__": file_alias}
        code = compile(open(path).read(), path, "exec")
        exec(code, ns)
        # generator names resolve to the reference-RNG numpy twins
        ns["random_walks"] = _ref_random_walks
        ns["random_walk_blobs"] = _ref_random_walk_blobs
        # r12: the hdf5 leg runs everywhere — hdftools falls back to the
        # from-scratch purehdf5 subset writer when h5py is absent, so
        # the serialize-models matrix no longer needs the env gate that
        # used to trim all_formats to json/pickle here
        _MODULE_CACHE[fn] = ns
    return _MODULE_CACHE[fn]


@pytest.mark.parametrize("fn,name", CASES,
                         ids=[f"{fn}::{name}" for fn, name in CASES])
def test_reference_unittest(fn, name, spark, tslearn_shim, scipy_shim,
                            sklearn_shim, tensorflow_shim, tmp_path,
                            monkeypatch):
    reason = XFAIL.get(f"{fn}::{name}") or XFAIL.get(fn)
    if reason and reason.startswith("skip:"):
        pytest.skip(reason[5:].strip())
    monkeypatch.chdir(tmp_path)  # tests that write tempfiles stay sandboxed
    # a few reference tests draw from the GLOBAL numpy RNG (e.g. kshape's
    # seed indices) — pin it so the replay is deterministic run-to-run
    np.random.seed(0)
    try:
        ns = _load(fn)
        ns[name]()
    except Exception as exc:  # noqa: BLE001 — triaged via the registry
        if reason:
            pytest.xfail(f"{reason}: {exc!r}"[:500])
        raise
    if reason:
        pytest.fail(f"XPASS: {fn}::{name} passes but is marked xfail "
                    f"({reason}) — remove the entry")
