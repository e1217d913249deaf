"""Vectorized-numpy dynamic-programming kernels for elastic similarity.

These are the irreducible per-pair cores (reference semantics:
``tslearn/metrics/dtw_variants.py``, ``softdtw_variants.py``,
``soft_dtw_fast.pyx``, ``cycc.pyx``).  They are *driver- and
executor-side pure functions* — no Spark imports — so they can be unit
tested standalone and wrapped in Arrow-batched pandas UDFs for the
distributed pair-join path (tslearn_spark.metrics).

Implementation notes (Spark-first, not a port):

* DTW and soft-DTW share one forward pass, ``_dtw_forward``: the
  reference recurrence with one add per cell, vectorized across
  anti-diagonals (cells of one anti-diagonal depend only on the previous
  two) and across a stack of pairs.  The accumulated matrix is stored
  diagonal-major so every neighbour read is a slice.  Constraint bands
  are +inf cost cells.  The C kernel (``tslearn_spark.ckernel``) runs
  the same recurrence row by row and gives the same bits: min is exact
  and each cell does one add.
* GAK and LCSS use the same anti-diagonal vectorization.
* No numba/Cython: the container has neither; numpy vectorization keeps
  per-pair cost at ~sz numpy ops.

All kernels take 2-D float64 arrays ``(sz, d)``; 1-D input is treated as
``(sz, 1)``.  Semantics (shape handling, NaN trimming, tie-breaking,
normalization) match the reference where cited.
"""

from __future__ import annotations

import logging
import threading
import warnings

import numpy as np

GLOBAL_CONSTRAINT_CODE = {None: 0, "": 0, "itakura": 1, "sakoe_chiba": 2}

_log = logging.getLogger(__name__)
# the C-kernel fallback warning fires once per process (_dtw_c_or_none)
_c_fallback_warned = False
_c_fallback_lock = threading.Lock()


# ---------------------------------------------------------------------------
# shape / NaN utilities (reference: tslearn/utils/utils.py:111-153, 386-424)
# ---------------------------------------------------------------------------

def to_2d(ts) -> np.ndarray:
    """Coerce a series to float64 (sz, d); trim trailing all-NaN rows."""
    arr = np.asarray(ts, dtype=np.float64)
    if arr.ndim == 1:
        arr = arr.reshape((-1, 1))
    # trailing all-NaN rows are padding, not data
    if arr.size and np.isnan(arr[-1]).all():
        last = arr.shape[0]
        while last > 0 and np.isnan(arr[last - 1]).all():
            last -= 1
        arr = arr[:last]
    return arr


def ts_size(ts) -> int:
    """Logical length after trailing-NaN trim (utils.py:386-424)."""
    return to_2d(ts).shape[0]


# ---------------------------------------------------------------------------
# constraint masks (reference: dtw_variants.py:906-1058)
# ---------------------------------------------------------------------------

def sakoe_chiba_bounds(sz1: int, sz2: int, radius: int) -> tuple[np.ndarray, np.ndarray]:
    """Per-row [lo, hi] inclusive column bounds of the Sakoe-Chiba band.

    Matches dtw_variants.py:906-956: the band follows the resampled
    diagonal when sz1 != sz2, with half-width ``radius``.
    """
    if sz1 > sz2:
        width = sz1 - sz2 + radius
        lo = np.maximum(0, np.arange(sz1) - width)
        hi = np.minimum(sz2 - 1, np.arange(sz1) + radius)
    else:
        width = sz2 - sz1 + radius
        lo = np.maximum(0, np.arange(sz1) - radius)
        hi = np.minimum(sz2 - 1, np.arange(sz1) + width)
    return lo.astype(np.int64), hi.astype(np.int64)


def _itakura_col_bounds(sz1: int, sz2: int, max_slope: float = 2.0) -> tuple[np.ndarray, np.ndarray]:
    """Reference-exact per-COLUMN row bounds of the Itakura parallelogram.

    Reproduces _njit_itakura_mask (dtw_variants.py:959-1006) to the digit:
    slopes scaled by sz1/sz2, each line value rounded to 2 decimals, then
    ceil for the lower bound and floor(x+1) for the (exclusive) upper bound.
    Column ``j`` allows rows ``lower[j] <= i < upper[j]`` with numpy slice
    semantics (a negative ``upper`` wraps, exactly as the reference's
    ``mask[int(lo):int(hi), j] = 0`` does).
    """
    min_slope = (1.0 / float(max_slope)) * (float(sz1) / float(sz2))
    max_slope = float(max_slope) * (float(sz1) / float(sz2))
    j = np.arange(sz2, dtype=np.float64)
    lower = np.ceil(np.maximum(
        np.round(min_slope * j, 2),
        np.round((sz1 - 1) - max_slope * (sz2 - 1) + max_slope * j, 2)))
    upper = np.floor(np.minimum(
        np.round(max_slope * j, 2),
        np.round((sz1 - 1) - min_slope * (sz2 - 1) + min_slope * j, 2)) + 1)
    return lower.astype(np.int64), upper.astype(np.int64)


def itakura_mask_array(sz1: int, sz2: int, max_slope: float = 2.0) -> np.ndarray:
    """Full (sz1, sz2) Itakura mask, 0 feasible / inf outside — bit-for-bit
    the reference's _njit_itakura_mask output (dtw_variants.py:959-1006),
    including its slice semantics for out-of-range bounds."""
    lower, upper = _itakura_col_bounds(sz1, sz2, max_slope)
    mask = np.full((sz1, sz2), np.inf)
    for jj in range(sz2):
        mask[int(lower[jj]):int(upper[jj]), jj] = 0.0
    return mask


def warn_if_itakura_infeasible(finite: np.ndarray) -> None:
    """Reference infeasibility warning (dtw_variants.py:1040-1055) when a
    full row or column of the mask has no finite cell; ``finite`` is the
    boolean feasibility matrix.  Shared by itakura_bounds and the public
    metrics.itakura_mask so the wording/condition live in one place."""
    if (not finite.any(axis=1).all()) or (not finite.any(axis=0).all()):
        warnings.warn("'itakura_max_slope' constraint is unfeasible "
                      "(ie. leads to no admissible path) for the "
                      "provided time series sizes",
                      RuntimeWarning)


# (sz1, sz2, max_slope) combos whose infeasibility warning already fired
# in this process (see itakura_bounds); bounded — distinct size pairs in a
# workload are few relative to pairs
_ITAKURA_WARNED: set[tuple[int, int, float]] = set()


def itakura_bounds(sz1: int, sz2: int, max_slope: float = 2.0) -> tuple[np.ndarray, np.ndarray]:
    """Per-row [lo, hi] inclusive column bounds of the Itakura parallelogram.

    Derived column bounds of the reference-exact feasible set (see
    _itakura_col_bounds): row ``i`` spans the first..last column whose
    [lower, upper) row window contains i — one vectorized boolean
    broadcast + argmax per edge (this runs once per PAIR in the
    DTW/LCSS kernels, so no per-row Python loop / np.nonzero calls and
    no float mask build).  Rows with no feasible column (infeasible
    size/slope combos, which the reference warns about) get lo > hi and
    the DP leaves them at inf.
    """
    lower, upper = _itakura_col_bounds(sz1, sz2, max_slope)
    # replicate the mask's numpy-slice semantics: a negative upper wraps
    # (mask[lo:hi, j] with hi < 0 means rows lo .. sz1+hi-1)
    lo_r = np.clip(lower, 0, sz1)
    up = np.where(upper < 0, upper + sz1, np.minimum(upper, sz1))
    finite = (np.arange(sz1)[:, None] >= lo_r[None, :]) & (
        np.arange(sz1)[:, None] < up[None, :])
    # warn once per (sz1, sz2, max_slope): this runs per PAIR inside the
    # DTW/LCSS kernels, and an infeasible combo in a large cdist would
    # otherwise emit one warnings.warn call per pair — registry-deduped
    # for display but still per-pair overhead, and an 'always'/'error'
    # warning filter would flood or raise mid-job.
    key = (sz1, sz2, max_slope)
    if key not in _ITAKURA_WARNED:
        _ITAKURA_WARNED.add(key)
        warn_if_itakura_infeasible(finite)
    any_row = finite.any(axis=1)
    lo = np.where(any_row, finite.argmax(axis=1), 0).astype(np.int64)
    hi = np.where(any_row, sz2 - 1 - finite[:, ::-1].argmax(axis=1),
                  -1).astype(np.int64)
    return lo, hi


def _bounds(sz1, sz2, global_constraint=None, sakoe_chiba_radius=None, itakura_max_slope=None):
    """Dispatch constraint → per-row [lo,hi] (dtw_variants.py:1060-1127)."""
    if global_constraint == "sakoe_chiba" or (
        global_constraint in (None, "") and sakoe_chiba_radius is not None
    ):
        radius = 1 if sakoe_chiba_radius is None else int(sakoe_chiba_radius)
        return sakoe_chiba_bounds(sz1, sz2, radius)
    if global_constraint == "itakura" or (
        global_constraint in (None, "") and itakura_max_slope is not None
    ):
        slope = 2.0 if itakura_max_slope is None else float(itakura_max_slope)
        return itakura_bounds(sz1, sz2, slope)
    lo = np.zeros(sz1, dtype=np.int64)
    hi = np.full(sz1, sz2 - 1, dtype=np.int64)
    return lo, hi


# ---------------------------------------------------------------------------
# squared-distance matrices
# ---------------------------------------------------------------------------

def _sq_cost(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """(n, sz1, sz2) squared Euclidean costs between the timestamps of
    stacked pairs ``A`` (n, sz1, d) and ``B`` (n, sz2, d).

    Dimensions are summed one at a time starting from 0, the order of
    the C kernel's ``dw += t * t``, so both build the same doubles
    (einsum may sum in another order).  The direct difference is exact
    where the (a-b)^2 expansion would cancel.
    """
    D = np.zeros((A.shape[0], A.shape[1], B.shape[1]))
    for k in range(A.shape[2]):
        t = A[:, :, None, k] - B[:, None, :, k]
        D += t * t
    return D


def sq_dist_matrix(s1: np.ndarray, s2: np.ndarray) -> np.ndarray:
    """Pairwise squared Euclidean distances between timestamps, (sz1, sz2)."""
    return _sq_cost(to_2d(s1)[None], to_2d(s2)[None])[0]


def _mask_outside(D: np.ndarray, lo, hi) -> np.ndarray:
    """Set cost cells outside the per-row inclusive column window
    [lo, hi] to +inf (in place; ``lo``/``hi`` broadcast against the row
    axis), so no warping path can use them."""
    j = np.arange(D.shape[-1])
    D[(j < lo) | (j > hi)] = np.inf
    return D


# ---------------------------------------------------------------------------
# DTW / soft-DTW forward pass (reference: dtw_variants.py:24-57,
# soft_dtw_fast.pyx:40-67)
# ---------------------------------------------------------------------------

def _dtw_forward(D: np.ndarray, gamma: float = 0.0,
                 open_begin: bool = False) -> np.ndarray:
    """The one DTW / soft-DTW forward pass, over a stack of cost matrices.

    ``D`` is (n, sz1, sz2); cells a pair must not use are +inf.  Each
    pair's bordered accumulated matrix R (sz1+1, sz2+1) follows the
    reference recurrence with one add per cell::

        R[i, j] = D[i-1, j-1] + softmin(R[i-1, j], R[i, j-1], R[i-1, j-1])

    where softmin is ``_softmin3`` at ``gamma`` (plain min at 0, i.e.
    DTW).  Border: R[0, 0] = 0 and +inf elsewhere, or row 0 all 0 for
    subsequence DTW's open begin.  Returns the (sz1+1, sz2+1, n) stack of
    R as a view of a diagonal-major store ``S[i + j, i, p] = R_p[i, j]``:
    anti-diagonal k depends only on k-1 and k-2, and each of its three
    neighbour reads is a contiguous slice.

    S is indexed by the shorter side, so it holds
    (sz1+sz2+1)(min(sz1, sz2)+1) cells per pair: when sz1 > sz2 the pass
    runs on the transposed costs and returns the transposed view.  Up and
    left trade places there, and min and softmin are symmetric in them,
    so the bits are the same.  With the min combine every cell is one
    correctly rounded add of exact operands, so the C kernel's row sweep
    gives the same bits too.
    """
    n, sz1, sz2 = D.shape
    swap = sz1 > sz2
    if swap:
        D, sz1, sz2 = D.transpose(0, 2, 1), sz2, sz1
    S = np.full((sz1 + sz2 + 1, sz1 + 1, n), np.inf)
    e, w = S.itemsize, sz1 + 1
    R = np.lib.stride_tricks.as_strided(
        S, (w, sz2 + 1, n), ((w + 1) * n * e, w * n * e, e))
    R[1:, 1:] = D.transpose(1, 2, 0)
    R[0, 0] = 0.0
    if open_begin:  # the pair's row 0 is column 0 of its transpose
        if swap:
            R[:, 0] = 0.0
        else:
            R[0] = 0.0
    for k in range(2, sz1 + sz2 + 1):
        i0, i1 = max(1, k - sz2), min(sz1, k - 1) + 1  # cells i in [i0, i1)
        up, left = S[k - 1, i0 - 1:i1 - 1], S[k - 1, i0:i1]
        S[k, i0:i1] += _softmin3(up, left, S[k - 2, i0 - 1:i1 - 1], gamma)
    return R.transpose(1, 0, 2) if swap else R


def _accumulated(D: np.ndarray, gamma: float = 0.0,
                 open_begin: bool = False) -> np.ndarray:
    """Single-pair ``_dtw_forward`` of a (sz1, sz2) cost matrix, as the
    classic (sz1+2, sz2+2) bordered matrix (an extra +inf last row and
    column, which the soft-DTW backward pass uses); cell (i, j) of the
    pair is at [i+1, j+1]."""
    sz1, sz2 = D.shape
    R = np.full((sz1 + 2, sz2 + 2), np.inf)
    R[:-1, :-1] = _dtw_forward(D[None], gamma, open_begin)[..., 0]
    return R


def _dtw_end_cells(D: np.ndarray, la: np.ndarray, lb: np.ndarray,
                   gamma: float = 0.0) -> np.ndarray:
    """Accumulated cost at each pair's own (la, lb) cell of a zero-padded
    stack: the recurrence only moves forward, so padded cells beyond a
    pair's lengths never reach that cell."""
    return _dtw_forward(D, gamma)[la, lb, np.arange(len(la))]


def dtw_accumulated_matrix(s1, s2, global_constraint=None, sakoe_chiba_radius=None,
                           itakura_max_slope=None) -> np.ndarray:
    """Full accumulated-cost matrix (squared costs), inf outside the band."""
    s1, s2 = to_2d(s1), to_2d(s2)
    sz1, sz2 = s1.shape[0], s2.shape[0]
    lo, hi = _bounds(sz1, sz2, global_constraint, sakoe_chiba_radius, itakura_max_slope)
    D = _mask_outside(sq_dist_matrix(s1, s2), lo[:, None], hi[:, None])
    return _accumulated(D)[1:-1, 1:-1]


def dtw(s1, s2, global_constraint=None, sakoe_chiba_radius=None,
        itakura_max_slope=None) -> float:
    """DTW distance ``sqrt(min-path sum of squared dists)`` (dtw_variants.py:384-465)."""
    C = dtw_accumulated_matrix(s1, s2, global_constraint, sakoe_chiba_radius, itakura_max_slope)
    return float(np.sqrt(C[-1, -1]))


def _dtw_c_or_none(kernel, *args):
    """Compiled-DP dispatch (guide §4.2): ``kernel(*args)`` (a
    ``tslearn_spark.ckernel`` entry) when the C kernel is loaded, else
    None so the caller falls through to the numpy path.  Values are
    bit-identical to the numpy forward pass (tslearn_spark.ckernel
    docstring; pinned by tests/test_ckernel.py); the C path only removes
    the per-diagonal numpy dispatch overhead (~200us/pair numpy on random
    64-128-length pairs vs ~1.5us/pair C on the knn_dtw 65 x 1,000 block,
    radius 5, one thread of a 4-vCPU AVX2 VM).  A kernel that raises
    falls back too, with one WARNING per process, because the numpy path
    is that much slower."""
    global _c_fallback_warned
    from tslearn_spark import ckernel

    if ckernel.lib_or_none() is None:
        return None
    try:
        return kernel(*args)
    except Exception as exc:
        with _c_fallback_lock:
            first, _c_fallback_warned = not _c_fallback_warned, True
        if first:
            _log.warning("compiled DTW kernel raised %s (%s); running the "
                         "numpy kernel instead", type(exc).__name__, exc,
                         exc_info=exc)
        return None


def dtw_index_batch(sa, sb, ia, ib, radius: int | None = None,
                    tau2: np.ndarray | None = None) -> np.ndarray:
    """DTW of index-addressed pairs: pair p is (``sa`` series ``ia[p]``,
    ``sb`` series ``ib[p]``) over two ``ckernel.SeriesSet``s, with the
    radius/tau2 semantics of ``dtw_banded_batch_mixed``.  The C kernel
    reads both sets in place; without it the pairs become per-pair views
    for the numpy batcher."""
    from tslearn_spark import ckernel

    c = _dtw_c_or_none(ckernel.dtw_index, sa, sb, ia, ib, radius, tau2)
    if c is not None:
        return c
    return dtw_banded_batch_mixed([sa.series(i) for i in ia],
                                  [sb.series(j) for j in ib], radius, tau2)


def dtw_banded_batch_mixed(arrs_a: list, arrs_b: list, radius: int | None = None,
                           tau2: np.ndarray | None = None) -> np.ndarray:
    """DTW for a batch of mixed-shape pairs (pair p = arrs_a[p], arrs_b[p]),
    Sakoe-Chiba banded at ``radius`` (sakoe_chiba_bounds semantics,
    dtw_variants.py:906-956) or unconstrained when it is None.

    Runs the C kernel when it is loaded.  Otherwise the pairs go through
    ``_dtw_forward`` in length-sorted, zero-padded chunks
    (``_grid_mixed``), with each pair's out-of-band cells set to +inf.

    ``tau2``: optional per-pair SQUARED distance caps (early abandon).
    A pair whose running per-row band minimum exceeds its cap can never
    finish below the cap (every warping path crosses every row), so the
    C kernel stops it and reports +inf.  The numpy path ignores the caps
    and returns exact values.  Callers pass the current k-th-best
    squared distance and treat both +inf and a value above the cap as
    "provably worse than the current top-k".
    """
    from tslearn_spark import ckernel

    c = _dtw_c_or_none(ckernel.dtw_batch, arrs_a, arrs_b, radius, tau2)
    if c is not None:
        return c

    def core(A, B, la, lb):
        D = _sq_cost(A, B)
        if radius is not None:
            i = np.arange(A.shape[1])[None, :, None]
            r = int(radius)
            _mask_outside(D, i - r - np.maximum(la - lb, 0)[:, None, None],
                          i + r + np.maximum(lb - la, 0)[:, None, None])
        return np.sqrt(_dtw_end_cells(D, la, lb))

    return _grid_mixed(core, arrs_a, arrs_b)


def _return_path(C: np.ndarray) -> list[tuple[int, int]]:
    """Backtrack optimal path; diagonal preferred on ties (dtw_variants.py:85-106)."""
    i, j = C.shape[0] - 1, C.shape[1] - 1
    path = [(i, j)]
    while i > 0 or j > 0:
        if i == 0:
            j -= 1
        elif j == 0:
            i -= 1
        else:
            cands = (C[i - 1, j - 1], C[i - 1, j], C[i, j - 1])
            k = int(np.argmin(cands))  # first-on-tie == diagonal preferred
            if k == 0:
                i, j = i - 1, j - 1
            elif k == 1:
                i -= 1
            else:
                j -= 1
        path.append((i, j))
    return path[::-1]


def dtw_path(s1, s2, global_constraint=None, sakoe_chiba_radius=None,
             itakura_max_slope=None) -> tuple[list[tuple[int, int]], float]:
    """DTW + backtracked optimal alignment path (dtw_variants.py:109-198)."""
    C = dtw_accumulated_matrix(s1, s2, global_constraint, sakoe_chiba_radius, itakura_max_slope)
    return _return_path(C), float(np.sqrt(C[-1, -1]))


def _ground_dist_matrix(s1, s2, metric) -> np.ndarray:
    """Pairwise ground-metric matrix for *_from_metric variants.

    metric: "euclidean" | "sqeuclidean" | "cityblock" | "chebyshev" |
    callable(x, y) -> float | precomputed 2-D array (passed via s1).
    """
    if isinstance(metric, np.ndarray):
        return metric
    s1, s2 = to_2d(s1), to_2d(s2)
    if metric == "euclidean":
        return np.sqrt(sq_dist_matrix(s1, s2))
    if metric == "sqeuclidean":
        return sq_dist_matrix(s1, s2)
    diff = s1[:, None, :] - s2[None, :, :]
    if metric == "cityblock":
        return np.abs(diff).sum(axis=-1)
    if metric == "chebyshev":
        return np.abs(diff).max(axis=-1)
    if callable(metric):
        return np.array([[metric(a, b) for b in s2] for a in s1])
    raise ValueError(f"unknown ground metric {metric!r}")


def dtw_from_metric(s1, s2=None, metric="euclidean") -> float:
    """DTW over an arbitrary ground metric; the returned score is the raw
    path sum (NOT sqrt'd — matches dtw_path_from_metric semantics,
    dtw_variants.py:234-381)."""
    D = _ground_dist_matrix(s1, s2, metric) if not isinstance(s1, np.ndarray) or s2 is not None \
        else s1
    if not isinstance(D, np.ndarray) or D.ndim != 2:
        D = _ground_dist_matrix(s1, s2, metric)
    return float(_accumulated(np.asarray(D, dtype=np.float64))[-2, -2])


def dtw_path_from_metric(s1, s2=None, metric="euclidean",
                         global_constraint=None, sakoe_chiba_radius=None,
                         itakura_max_slope=None, **kwds):
    """(path, score) over an arbitrary or precomputed ground metric,
    with the reference's global-constraint support
    (dtw_variants.py:234-381)."""
    if s2 is None and isinstance(s1, np.ndarray) and s1.ndim == 2:
        D = s1
    else:
        if kwds and not callable(metric):
            raise NotImplementedError(
                "extra metric kwds are only supported for callable metrics"
            )
        if kwds and callable(metric):
            from functools import partial

            metric = partial(metric, **kwds)
        D = _ground_dist_matrix(s1, s2, metric)
    D = np.array(D, dtype=np.float64)  # a copy: masking writes into it
    lo, hi = _bounds(D.shape[0], D.shape[1], global_constraint,
                     sakoe_chiba_radius, itakura_max_slope)
    C = _accumulated(_mask_outside(D, lo[:, None], hi[:, None]))[1:-1, 1:-1]
    return _return_path(C), float(C[-1, -1])


def lcss_path_from_metric(s1, s2=None, eps: float = 1.0, metric="euclidean",
                          global_constraint=None, sakoe_chiba_radius=None,
                          itakura_max_slope=None, **kwds):
    """LCSS path/score with an arbitrary ground metric and the
    reference's global-constraint support (dtw_variants.py:1721-1879).
    Masked semantics are reference-literal: out-of-window cells stay 0
    in the DP (njit_lcss_accumulated_matrix_from_dist_matrix:1685-1718)
    and the backtrack only matches in-window cells."""
    if s2 is None and isinstance(s1, np.ndarray) and s1.ndim == 2:
        D = s1
        sz1, sz2 = D.shape
    else:
        if kwds and not callable(metric):
            raise NotImplementedError(
                "extra metric kwds are only supported for callable metrics"
            )
        if kwds and callable(metric):
            from functools import partial

            metric = partial(metric, **kwds)
        D = _ground_dist_matrix(s1, s2, metric)
        sz1, sz2 = D.shape
    lo, hi = _bounds(sz1, sz2, global_constraint, sakoe_chiba_radius,
                     itakura_max_slope)
    in_win = (np.arange(sz2)[None, :] >= lo[:, None]) & (
        np.arange(sz2)[None, :] <= hi[:, None])
    match = (D <= eps) & in_win
    acc = np.zeros((sz1 + 1, sz2 + 1), dtype=np.int64)
    for i in range(sz1):
        row = acc[i + 1]
        prev = acc[i]
        for j in range(sz2):
            if not in_win[i, j]:
                continue  # reference leaves masked cells at 0
            if match[i, j]:
                row[j + 1] = prev[j] + 1
            else:
                row[j + 1] = max(row[j], prev[j + 1])
    i, j = sz1, sz2
    path = []
    # reference-literal backtrack (dtw_variants.py:1559-1574): in-window
    # close pairs always take the diagonal; non-match ties move j
    while i > 0 and j > 0:
        if match[i - 1, j - 1]:
            path.append((i - 1, j - 1))
            i -= 1
            j -= 1
        elif acc[i - 1, j] > acc[i, j - 1]:
            i -= 1
        else:
            j -= 1
    path.reverse()
    return path, float(acc[-1, -1]) / min(sz1, sz2)


# ---------------------------------------------------------------------------
# subsequence DTW (reference: dtw_variants.py:746-903)
# ---------------------------------------------------------------------------

def subsequence_cost_matrix(subseq, longseq) -> np.ndarray:
    """Open-begin accumulated matrix: free first row (dtw_variants.py:746-780)."""
    D = sq_dist_matrix(subseq, longseq)
    # open begin: a zero border row lets each column start a match
    return _accumulated(D, open_begin=True)[1:-1, 1:-1]


def subsequence_path(acc_cost_mat: np.ndarray,
                     idx_path_end: int) -> list[tuple[int, int]]:
    """Backtrack from (last_row, idx_path_end) up to row 0
    (dtw_variants.py:782-843); first parameter name matches the
    reference so keyword calls bind."""
    C = acc_cost_mat
    i, j = C.shape[0] - 1, int(idx_path_end)
    path = [(i, j)]
    while i > 0:
        if j == 0:
            i -= 1
        else:
            cands = (C[i - 1, j - 1], C[i - 1, j], C[i, j - 1])
            k = int(np.argmin(cands))
            if k == 0:
                i, j = i - 1, j - 1
            elif k == 1:
                i -= 1
            else:
                j -= 1
        path.append((i, j))
    return path[::-1]


def dtw_subsequence_path(subseq, longseq) -> tuple[list[tuple[int, int]], float]:
    """Best match of a short query inside a long series (dtw_variants.py:846-903)."""
    C = subsequence_cost_matrix(subseq, longseq)
    j_best = int(np.argmin(C[-1]))
    return subsequence_path(C, j_best), float(np.sqrt(C[-1, j_best]))


# ---------------------------------------------------------------------------
# limited warping length DTW (reference: dtw_variants.py:468-745)
# ---------------------------------------------------------------------------

def _limited_warping_length_cost(s1, s2, max_length):
    """3-D DP over path length; dict of reachable (i,j)->costs per step count.

    Semantics of dtw_variants.py:499-546 (cost indexed by number of steps).
    """
    s1, s2 = to_2d(s1), to_2d(s2)
    D = sq_dist_matrix(s1, s2)
    sz1, sz2 = D.shape
    # C[l, i, j] = best cost of a path of exactly l+? — use (max_length, sz1, sz2)
    C = np.full((max_length, sz1, sz2), np.inf)
    C[0, 0, 0] = D[0, 0]
    for step in range(1, max_length):
        prev = C[step - 1]
        cur = np.full((sz1, sz2), np.inf)
        cur[1:, 1:] = prev[:-1, :-1]
        cur[1:, :] = np.minimum(cur[1:, :], prev[:-1, :])
        cur[:, 1:] = np.minimum(cur[:, 1:], prev[:, :-1])
        C[step] = cur + D
        C[step, 0, 0] = np.inf
    C[0] = np.where(np.arange(sz1)[:, None] + np.arange(sz2)[None, :] == 0, C[0], np.inf)
    return C


def dtw_limited_warping_length(s1, s2, max_length) -> float:
    """DTW s.t. path length <= max_length (dtw_variants.py:549-623)."""
    s1, s2 = to_2d(s1), to_2d(s2)
    if max_length < max(s1.shape[0], s2.shape[0]):
        raise ValueError(
            "Cannot find a path of length {} to align given time series.".format(max_length)
        )
    C = _limited_warping_length_cost(s1, s2, max_length)
    return float(np.sqrt(np.min(C[:, -1, -1])))


def dtw_path_limited_warping_length(s1, s2, max_length):
    """As above + backtracked path (dtw_variants.py:624-745)."""
    s1, s2 = to_2d(s1), to_2d(s2)
    if max_length < max(s1.shape[0], s2.shape[0]):
        raise ValueError(
            "Cannot find a path of length {} to align given time series.".format(max_length)
        )
    C = _limited_warping_length_cost(s1, s2, max_length)
    step = int(np.argmin(C[:, -1, -1]))
    score = float(np.sqrt(C[step, -1, -1]))
    i, j = C.shape[1] - 1, C.shape[2] - 1
    path = [(i, j)]
    while step > 0:
        cands = []
        moves = []
        if i > 0 and j > 0:
            cands.append(C[step - 1, i - 1, j - 1]); moves.append((i - 1, j - 1))
        if i > 0:
            cands.append(C[step - 1, i - 1, j]); moves.append((i - 1, j))
        if j > 0:
            cands.append(C[step - 1, i, j - 1]); moves.append((i, j - 1))
        k = int(np.argmin(cands))
        i, j = moves[k]
        path.append((i, j))
        step -= 1
    return path[::-1], score


# ---------------------------------------------------------------------------
# LB_Keogh envelope + bound (reference: dtw_variants.py:1224-1368)
# ---------------------------------------------------------------------------

def lb_envelope(ts, radius: int = 1) -> tuple[np.ndarray, np.ndarray]:
    """(lower, upper) running min/max over [i-r, i+r] (dtw_variants.py:1299-1368).

    In Spark this is a pure window-frame expression; this numpy twin exists
    for kernel-side pruning and tests.
    """
    arr = to_2d(ts)
    sz = arr.shape[0]
    lower = np.empty_like(arr)
    upper = np.empty_like(arr)
    for i in range(sz):
        seg = arr[max(0, i - radius):min(sz, i + radius + 1)]
        lower[i] = seg.min(axis=0)
        upper[i] = seg.max(axis=0)
    return lower, upper


def lb_keogh(ts_query, ts_candidate=None, radius: int = 1, envelope_candidate=None) -> float:
    """LB_Keogh lower bound on DTW, univariate equal-size (dtw_variants.py:1224-1296)."""
    q = to_2d(ts_query)
    if envelope_candidate is None:
        lower, upper = lb_envelope(ts_candidate, radius)
    else:
        lower, upper = envelope_candidate
        lower, upper = to_2d(lower), to_2d(upper)
    above = np.maximum(q - upper, 0.0)
    below = np.maximum(lower - q, 0.0)
    return float(np.sqrt(np.sum(above ** 2) + np.sum(below ** 2)))


# ---------------------------------------------------------------------------
# LCSS (reference: dtw_variants.py:1370-1540)
# ---------------------------------------------------------------------------

def lcss_accumulated_matrix(s1, s2, eps: float = 1.0, global_constraint=None,
                            sakoe_chiba_radius=None, itakura_max_slope=None) -> np.ndarray:
    """LCSS DP table, 1-indexed with zero border (dtw_variants.py:1370-1409).

    Match predicate: sup-norm <= eps per timestamp pair... reference uses
    Euclidean distance <= eps on the (possibly multivariate) points.
    """
    s1, s2 = to_2d(s1), to_2d(s2)
    sz1, sz2 = s1.shape[0], s2.shape[0]
    lo, hi = _bounds(sz1, sz2, global_constraint, sakoe_chiba_radius, itakura_max_slope)
    D = np.sqrt(sq_dist_matrix(s1, s2))
    match = D <= eps
    acc = np.zeros((sz1 + 1, sz2 + 1), dtype=np.int64)
    for i in range(sz1):
        row = acc[i + 1]
        prev = acc[i]
        li, hi_i = lo[i], hi[i]
        # literal reference recurrence, row-sequential (cheap: int ops).
        # Out-of-band cells stay 0 exactly like the reference's masked
        # loop (dtw_variants.py:1399-1407 writes only where the mask is
        # finite) — inheriting values past the band changes in-band
        # results for itakura bands (caught by the property sweep in
        # tests/test_kernels.py::test_lcss_banded_matches_reference_dp).
        for j in range(li, hi_i + 1):
            if match[i, j]:
                row[j + 1] = prev[j] + 1
            else:
                row[j + 1] = max(row[j], prev[j + 1])
    return acc


def lcss(s1, s2, eps: float = 1.0, global_constraint=None, sakoe_chiba_radius=None,
         itakura_max_slope=None) -> float:
    """LCSS similarity in [0,1], normalized by min length (dtw_variants.py:1441-1540)."""
    s1, s2 = to_2d(s1), to_2d(s2)
    acc = lcss_accumulated_matrix(s1, s2, eps, global_constraint,
                                  sakoe_chiba_radius, itakura_max_slope)
    return float(acc[-1, -1]) / min(s1.shape[0], s2.shape[0])


def lcss_path(s1, s2, eps: float = 1.0, global_constraint=None,
              sakoe_chiba_radius=None,
              itakura_max_slope=None) -> tuple[list[tuple[int, int]], float]:
    """LCSS + matched-pair path (dtw_variants.py:1541-1683)."""
    s1, s2 = to_2d(s1), to_2d(s2)
    acc = lcss_accumulated_matrix(s1, s2, eps, global_constraint,
                                  sakoe_chiba_radius, itakura_max_slope)
    i, j = s1.shape[0], s2.shape[0]
    path: list[tuple[int, int]] = []
    D = np.sqrt(sq_dist_matrix(s1, s2))
    lo, hi = _bounds(s1.shape[0], s2.shape[0], global_constraint,
                     sakoe_chiba_radius, itakura_max_slope)
    # reference-literal backtrack (dtw_variants.py:1542-1555): in-band
    # cells take the diagonal whenever the pair is close (no acc
    # recheck), and non-match ties between acc[i-1][j] and acc[i][j-1]
    # move j (strict > moves i) — the order the test corpus pins, e.g.
    # lcss_path([1,2,3], [-2,5,7], eps=3) == [(0, 0), (2, 1)].
    # The reference gates every move on isfinite(mask[i-1,j-1]) and
    # does NOTHING when the cell is out of band (an infinite loop there
    # — its tests never leave the band); we instead step back toward
    # the band (right of band → decrease j, left of band → decrease i),
    # which is path-identical wherever the reference terminates and
    # never appends a pair the accumulated matrix did not count.
    while i > 0 and j > 0:
        if j - 1 > hi[i - 1]:
            j -= 1
        elif j - 1 < lo[i - 1]:
            i -= 1
        elif D[i - 1, j - 1] <= eps:
            path.append((i - 1, j - 1))
            i -= 1
            j -= 1
        elif acc[i - 1, j] > acc[i, j - 1]:
            i -= 1
        else:
            j -= 1
    path.reverse()
    sim = float(acc[-1, -1]) / min(s1.shape[0], s2.shape[0])
    return path, sim


# ---------------------------------------------------------------------------
# soft-DTW (reference: softdtw_variants.py:316-448, soft_dtw_fast.pyx:22-104)
# ---------------------------------------------------------------------------

def _softmin3(a, b, c, gamma):
    """-gamma * logsumexp(-[a,b,c]/gamma), elementwise over arrays."""
    if gamma == 0.0:
        return np.minimum(np.minimum(a, b), c)
    stack = np.stack([a, b, c])
    m = np.min(stack, axis=0)
    # guard inf - inf
    with np.errstate(invalid="ignore", over="ignore"):
        z = np.exp(-(stack - m) / gamma)
        z[~np.isfinite(stack)] = 0.0
        out = m - gamma * np.log(np.sum(z, axis=0))
    out = np.where(np.isfinite(m), out, m)
    return out


def soft_dtw(ts1, ts2, gamma: float = 1.0, return_matrix: bool = False):
    """Soft-DTW score; gamma=0 reduces to squared DTW (softdtw_variants.py:316-374).

    The shared ``_dtw_forward`` pass at ``gamma`` (soft_dtw_fast.pyx:40-67).
    R is the (sz1+2, sz2+2) accumulated matrix with the classic border.
    Parameter names ts1/ts2 match the reference signature.
    """
    D = sq_dist_matrix(ts1, ts2)
    sz1, sz2 = D.shape
    R = _accumulated(D, gamma)
    if return_matrix:
        return R
    return float(R[sz1, sz2])


def soft_dtw_alignment(ts1, ts2, gamma: float = 1.0):
    """Soft alignment matrix E = dScore/dD + score (softdtw_variants.py:377-448).

    Backward pass of soft_dtw_fast.pyx:70-104, anti-diagonal vectorized.
    Parameter names ts1/ts2 match the reference signature.
    """
    D = sq_dist_matrix(ts1, ts2)
    sz1, sz2 = D.shape
    R = _accumulated(D, gamma)
    score = float(R[sz1, sz2])
    if gamma == 0.0:
        # hard DTW: alignment is the 0/1 optimal path indicator
        E = np.zeros((sz1, sz2))
        for (i, j) in _return_path(R[1:-1, 1:-1]):
            E[i, j] = 1.0
        return E, score
    return _sdtw_backward(D, R, gamma), score


def _sdtw_backward(D: np.ndarray, R: np.ndarray, gamma: float) -> np.ndarray:
    """Anti-diagonal backward pass (soft_dtw_fast.pyx:70-104): the soft
    alignment matrix E = dScore/dD over a cost matrix and its forward R."""
    sz1, sz2 = D.shape
    # pad D with a zero row/col; R border per reference backward pass
    Dp = np.zeros((sz1 + 1, sz2 + 1))
    Dp[:sz1, :sz2] = D
    Rb = R.copy()
    Rb[sz1 + 1, sz2 + 1] = Rb[sz1, sz2]
    Rb[:, sz2 + 1] = -np.inf
    Rb[sz1 + 1, :] = -np.inf
    Rb[sz1 + 1, sz2 + 1] = Rb[sz1, sz2]
    E = np.zeros((sz1 + 2, sz2 + 2))
    E[sz1 + 1, sz2 + 1] = 1.0
    for k in range(sz1 + sz2 - 2, -1, -1):
        i0 = max(0, k - sz2 + 1)
        i1 = min(sz1 - 1, k)
        ii = np.arange(i1, i0 - 1, -1)
        jj = k - ii
        i_, j_ = ii + 1, jj + 1
        with np.errstate(over="ignore", invalid="ignore"):
            ea = np.exp((Rb[i_ + 1, j_] - Rb[i_, j_] - Dp[i_, j_ - 1]) / gamma)
            eb = np.exp((Rb[i_, j_ + 1] - Rb[i_, j_] - Dp[i_ - 1, j_]) / gamma)
            ec = np.exp((Rb[i_ + 1, j_ + 1] - Rb[i_, j_] - Dp[i_, j_]) / gamma)
        ea = np.nan_to_num(ea, nan=0.0, posinf=0.0)
        eb = np.nan_to_num(eb, nan=0.0, posinf=0.0)
        ec = np.nan_to_num(ec, nan=0.0, posinf=0.0)
        E[i_, j_] = E[i_ + 1, j_] * ea + E[i_, j_ + 1] * eb + E[i_ + 1, j_ + 1] * ec
    return E[1:sz1 + 1, 1:sz2 + 1]


class SquaredEuclidean:
    """Pairwise squared-euclidean cost-matrix helper
    (softdtw_variants.py:681-728): the D producer for the SoftDTW class."""

    def __init__(self, X, Y):
        self.X = to_2d(X).astype(np.float64)
        self.Y = to_2d(Y).astype(np.float64)

    def compute(self) -> np.ndarray:
        return sq_dist_matrix(self.X, self.Y)

    def jacobian_product(self, E: np.ndarray) -> np.ndarray:
        """[m x d, m x n] * [m x n] -> (m, d): grad wrt X given dScore/dD."""
        E = np.asarray(E, dtype=np.float64)
        return 2.0 * (self.X * E.sum(axis=1, keepdims=True) - E @ self.Y)


class SoftDTW:
    """Cost-matrix soft-DTW with stored accumulated matrix
    (softdtw_variants.py:608-678): compute() -> score, grad() -> dScore/dD.

    Accepts a raw (m, n) cost array or anything with a ``compute()``
    method (e.g. SquaredEuclidean), like the reference.
    """

    def __init__(self, D, gamma: float = 1.0):
        self.D = D.compute() if hasattr(D, "compute") else np.asarray(D)
        self.D = self.D.astype(np.float64)
        self.gamma = float(gamma)
        self.computed = False

    def compute(self) -> float:
        m, n = self.D.shape
        self.R_ = _accumulated(self.D, self.gamma)
        self.computed = True
        return float(self.R_[m, n])

    def grad(self) -> np.ndarray:
        if not self.computed:
            raise ValueError("Needs to call compute() first.")
        return _sdtw_backward(self.D, self.R_, self.gamma)


def soft_dtw_grad(s1, s2, gamma: float = 1.0):
    """(value, grad wrt s1) for barycenter L-BFGS (SoftDTW.grad + jacobian).

    grad_Z softDTW(Z, X) = jacobian_product_sq_euc(Z, X, E):
    G[i] = sum_j E[i,j] * 2 * (Z[i] - X[j])   (soft_dtw_fast.pyx:107-118)
    """
    Z, X = to_2d(s1), to_2d(s2)
    E, score = soft_dtw_alignment(Z, X, gamma)
    G = 2.0 * (Z * E.sum(axis=1, keepdims=True) - E @ X)
    return score, G


# ---------------------------------------------------------------------------
# GAK (reference: softdtw_variants.py:22-137)
# ---------------------------------------------------------------------------

def unnormalized_gak(s1, s2, sigma: float = 1.0) -> float:
    """Global Alignment Kernel, unnormalized (softdtw_variants.py:45-93).

    Gram: exp(-d2/(2 sigma^2)) with the half-Gaussian correction
    ``k / (2 - k)`` of _gak_gram (softdtw_variants.py:39-42); then the
    sum-product DP of njit_gak (softdtw_variants.py:22-36), anti-diagonal
    vectorized in log space is unnecessary at these sizes — plain sums.
    """
    s1, s2 = to_2d(s1), to_2d(s2)
    d2 = sq_dist_matrix(s1, s2)
    k = np.exp(-d2 / (2.0 * sigma ** 2))
    gram = k / (2.0 - k)
    sz1, sz2 = gram.shape
    R = np.zeros((sz1 + 1, sz2 + 1))
    R[0, 0] = 1.0
    for kdiag in range(sz1 + sz2 - 1):
        i0 = max(0, kdiag - sz2 + 1)
        i1 = min(sz1 - 1, kdiag)
        ii = np.arange(i0, i1 + 1)
        jj = kdiag - ii
        R[ii + 1, jj + 1] = gram[ii, jj] * (R[ii, jj + 1] + R[ii + 1, jj] + R[ii, jj])
    return float(R[sz1, sz2])


def gak(s1, s2, sigma: float = 1.0) -> float:
    """Normalized GAK: k(x,y)/sqrt(k(x,x) k(y,y)) (softdtw_variants.py:96-137)."""
    num = unnormalized_gak(s1, s2, sigma)
    den = np.sqrt(unnormalized_gak(s1, s1, sigma) * unnormalized_gak(s2, s2, sigma))
    return float(num / den)



def check_random_state(random_state) -> np.random.RandomState:
    """sklearn's protocol: None -> global, RandomState -> itself,
    int -> fresh RandomState (public surfaces accept all three)."""
    if random_state is None:
        return np.random.mtrand._rand
    if isinstance(random_state, np.random.RandomState):
        return random_state
    return np.random.RandomState(random_state)

def sigma_gak(dataset, n_samples: int = 100, random_state=None) -> float:
    """Bandwidth heuristic: median pairwise dist * sqrt(median sz) (softdtw_variants.py:221-272)."""
    rs = check_random_state(random_state)
    series = [to_2d(ts) for ts in dataset]
    med_sz = int(np.median([s.shape[0] for s in series]))
    pts = np.vstack(series)
    n = min(n_samples, pts.shape[0])
    idx = rs.choice(pts.shape[0], n, replace=False)
    sample = pts[idx]
    diff = sample[:, None, :] - sample[None, :, :]
    dists = np.sqrt(np.einsum("ijk,ijk->ij", diff, diff))
    iu = np.triu_indices(n, k=1)
    return float(np.median(dists[iu]) * np.sqrt(med_sz))


def gamma_soft_dtw(dataset, n_samples: int = 100, random_state=None) -> float:
    """gamma = 2 * sigma_gak^2 (softdtw_variants.py:275-313)."""
    return 2.0 * sigma_gak(dataset, n_samples, random_state) ** 2


# ---------------------------------------------------------------------------
# batched anti-diagonal kernels (executor hot path for soft-DTW / GAK / LCSS)
# ---------------------------------------------------------------------------

def soft_dtw_batch(A: np.ndarray, B: np.ndarray, gamma: float = 1.0,
                   la: np.ndarray | None = None,
                   lb: np.ndarray | None = None) -> np.ndarray:
    """Batched soft-DTW scores: ``_dtw_forward`` over the whole stack,
    one numpy op per anti-diagonal for the batch.  Matches soft_dtw()
    exactly.  With (la, lb) per-pair lengths the stacks may be
    zero-PADDED mixed shapes (see ``_dtw_end_cells``).
    """
    n, sz1, _ = A.shape
    if la is None:
        la, lb = np.full(n, sz1), np.full(n, B.shape[1])
    return _dtw_end_cells(_sq_cost(A, B), la, lb, gamma)


def gak_batch(A: np.ndarray, B: np.ndarray, sigma: float = 1.0,
              normalized: bool = True,
              la: np.ndarray | None = None,
              lb: np.ndarray | None = None) -> np.ndarray:
    """Batched (optionally normalized) GAK — anti-diagonal sum-product.

    (la, lb) allow zero-padded mixed-shape stacks (see soft_dtw_batch).
    """

    def _unnorm(X, Y, lx=None, ly=None):
        n, s1, _ = X.shape
        s2 = Y.shape[1]
        d2 = _sq_cost(X, Y)
        kk = np.exp(-d2 / (2.0 * sigma ** 2))
        gram = kk / (2.0 - kk)
        R = np.zeros((n, s1 + 1, s2 + 1))
        R[:, 0, 0] = 1.0
        for k in range(s1 + s2 - 1):
            i0 = max(0, k - s2 + 1)
            i1 = min(s1 - 1, k)
            ii = np.arange(i0, i1 + 1)
            jj = k - ii
            R[:, ii + 1, jj + 1] = gram[:, ii, jj] * (
                R[:, ii, jj + 1] + R[:, ii + 1, jj] + R[:, ii, jj]
            )
        if lx is None:
            return R[:, s1, s2]
        # padded mixed shapes: forward-only recursion, gather per pair
        return R[np.arange(n), lx, ly]

    num = _unnorm(A, B, la, lb)
    if not normalized:
        return num
    den = np.sqrt(_unnorm(A, A, la, la) * _unnorm(B, B, lb, lb))
    return num / den


def lcss_batch(A: np.ndarray, B: np.ndarray, eps: float = 1.0,
               la: np.ndarray | None = None,
               lb: np.ndarray | None = None) -> np.ndarray:
    """Batched LCSS similarity (no global constraint) — anti-diagonal DP.

    Literal reference recurrence (dtw_variants.py:1370-1409):
    match -> prev_diag + 1, else max(left, up); normalized by min length.
    (la, lb) allow zero-padded mixed-shape stacks (see soft_dtw_batch).
    """
    n, sz1, _ = A.shape
    sz2 = B.shape[1]
    match = np.sqrt(_sq_cost(A, B)) <= eps
    acc = np.zeros((n, sz1 + 1, sz2 + 1), dtype=np.int64)
    for k in range(sz1 + sz2 - 1):
        i0 = max(0, k - sz2 + 1)
        i1 = min(sz1 - 1, k)
        ii = np.arange(i0, i1 + 1)
        jj = k - ii
        acc[:, ii + 1, jj + 1] = np.where(
            match[:, ii, jj],
            acc[:, ii, jj] + 1,
            np.maximum(acc[:, ii + 1, jj], acc[:, ii, jj + 1]),
        )
    if la is None:
        return acc[:, sz1, sz2] / float(min(sz1, sz2))
    return acc[np.arange(n), la, lb] / np.minimum(la, lb).astype(np.float64)


# ---------------------------------------------------------------------------
# normalized cross-correlation / SBD (reference: cycc.pyx:16-96)
# ---------------------------------------------------------------------------

def normalized_cc(s1, s2, norm1: float = -1.0, norm2: float = -1.0) -> np.ndarray:
    """Full normalized cross-correlation profile over shifts (cycc.pyx:16-41).

    FFT-based, padded to the next power of two >= 2*sz-1; normalized by
    ``norm1 * norm2`` (negative norms recomputed as the true L2 norms, like
    the reference); multivariate: correlations summed over dims.
    """
    s1, s2 = to_2d(s1), to_2d(s2)
    sz = s1.shape[0]
    if norm1 < 0.0:
        norm1 = float(np.linalg.norm(s1))
    if norm2 < 0.0:
        norm2 = float(np.linalg.norm(s2))
    denom = norm1 * norm2
    if denom < 1e-9:
        denom = np.inf
    fft_sz = 1 << int(np.ceil(np.log2(2 * sz - 1)))
    f1 = np.fft.rfft(s1, fft_sz, axis=0)
    f2 = np.fft.rfft(s2, fft_sz, axis=0)
    cc = np.fft.irfft(f1 * np.conj(f2), fft_sz, axis=0)
    cc = np.concatenate((cc[-(sz - 1):], cc[:sz]), axis=0)
    return np.real(cc).sum(axis=-1) / denom


def normalized_cc_max(s1, s2) -> float:
    """max over shifts — the SBD similarity core."""
    return float(normalized_cc(s1, s2).max())


def y_shifted_sbd_vec(ref, dataset_arrays, norm_ref: float = -1.0,
                      norms_dataset=None):
    """Align each series to ``ref`` at its best SBD shift, zero-padded
    (cycc.pyx:71-96); caller-supplied norms are threaded into the CC
    denominator exactly like the reference."""
    ref = to_2d(ref)
    sz = ref.shape[0]
    if norms_dataset is None:
        norms_dataset = np.full(len(dataset_arrays), -1.0)
    else:
        norms_dataset = np.asarray(norms_dataset, dtype=np.float64).copy()
        neg = norms_dataset < 0.0
        if neg.any():
            # fill ONLY the compute-me sentinels (cycc.pyx does this per
            # element); supplied non-negative norms are honored verbatim
            norms_dataset[neg] = [
                np.linalg.norm(to_2d(dataset_arrays[i]))
                for i in np.nonzero(neg)[0]
            ]
    out = []
    for k, ts in enumerate(dataset_arrays):
        ts = to_2d(ts)
        cc = normalized_cc(ref, ts, norm1=norm_ref, norm2=float(norms_dataset[k]))
        shift = int(np.argmax(cc)) - (sz - 1)
        aligned = np.zeros_like(ts)
        # note: cc index k corresponds to shifting ts by (k - (sz-1))
        if shift == 0:
            aligned = ts.copy()
        elif shift > 0:
            aligned[shift:] = ts[:-shift]
        else:
            aligned[:shift] = ts[-shift:]
        out.append(aligned)
    return out


# ---------------------------------------------------------------------------
# Euclidean on equal-length series
# ---------------------------------------------------------------------------

def euclidean(s1, s2) -> float:
    s1, s2 = to_2d(s1), to_2d(s2)
    if s1.shape != s2.shape:
        raise ValueError(
            f"euclidean requires equal-size series, got {s1.shape} vs {s2.shape}; "
            "resample first or use an elastic metric (dtw/softdtw/gak)"
        )
    return float(np.sqrt(np.sum((s1 - s2) ** 2)))


KERNELS = {
    "dtw": dtw,
    "euclidean": euclidean,
    "sqeuclidean": lambda a, b: euclidean(a, b) ** 2,
    "cityblock": lambda a, b: float(np.sum(np.abs(to_2d(a) - to_2d(b)))),
    "softdtw": soft_dtw,
    "gak": gak,
    "lcss": lcss,
    "ncc": normalized_cc_max,
}


def _pad_pair_stacks(arrs_a: list, arrs_b: list):
    """Zero-pad two lists of (sz, d) arrays into batch stacks + lengths."""
    n = len(arrs_a)
    la = np.fromiter((a.shape[0] for a in arrs_a), dtype=np.int64, count=n)
    lb = np.fromiter((b.shape[0] for b in arrs_b), dtype=np.int64, count=n)
    d = arrs_a[0].shape[1] if arrs_a[0].ndim > 1 else 1
    A = np.zeros((n, int(la.max()), d))
    B = np.zeros((n, int(lb.max()), d))
    for p in range(n):
        A[p, : la[p]] = arrs_a[p].reshape(la[p], d)
        B[p, : lb[p]] = arrs_b[p].reshape(lb[p], d)
    return A, B, la, lb


# full-grid anti-diagonal kernels have a cache sweet spot: the R tensor is
# (nb, Lmax^2) floats, so ~64 pairs keeps it L2/L3-resident while still
# amortizing the Python anti-diagonal loop (measured 10x vs per-pair and
# vs whole-batch at 2048 pairs alike)
_GRID_SUBBATCH = 64


def _grid_mixed(core, arrs_a: list, arrs_b: list) -> np.ndarray:
    """Run a full-grid batch core over length-sorted cache-sized chunks."""
    n = len(arrs_a)
    la = np.fromiter((a.shape[0] for a in arrs_a), dtype=np.int64, count=n)
    lb = np.fromiter((b.shape[0] for b in arrs_b), dtype=np.int64, count=n)
    order = np.lexsort((lb, la))
    out = np.empty(n)
    for s in range(0, n, _GRID_SUBBATCH):
        sel = order[s : s + _GRID_SUBBATCH]
        A, B, sla, slb = _pad_pair_stacks(
            [arrs_a[i] for i in sel], [arrs_b[i] for i in sel]
        )
        out[sel] = core(A, B, sla, slb)
    return out


def soft_dtw_batch_mixed(arrs_a: list, arrs_b: list, gamma: float = 1.0) -> np.ndarray:
    return _grid_mixed(
        lambda A, B, la, lb: soft_dtw_batch(A, B, gamma, la, lb), arrs_a, arrs_b
    )


def gak_batch_mixed(arrs_a: list, arrs_b: list, sigma: float = 1.0,
                    normalized: bool = True) -> np.ndarray:
    return _grid_mixed(
        lambda A, B, la, lb: gak_batch(A, B, sigma, normalized, la, lb),
        arrs_a, arrs_b,
    )


def lcss_batch_mixed(arrs_a: list, arrs_b: list, eps: float = 1.0) -> np.ndarray:
    return _grid_mixed(
        lambda A, B, la, lb: lcss_batch(A, B, eps, la, lb), arrs_a, arrs_b
    )
