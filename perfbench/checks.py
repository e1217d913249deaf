"""Reference oracles and output checks of the benchmark.

Pure numpy / Python: the checks run outside the timed region, and the
self-tests feed them corrupted results without a Spark session.  Each
``check_*`` returns a list of error strings; an empty list is a pass.
"""

from __future__ import annotations

import re

import numpy as np

# ---------------------------------------------------------------------------
# knn_dtw: naive direct-recurrence DTW
# ---------------------------------------------------------------------------


def znorm(x: np.ndarray) -> np.ndarray:
    """Per-series z-normalization, population std, zero std -> 1."""
    sd = x.std()
    return (x - x.mean()) / (sd if sd > 0 else 1.0)


def band(la: np.ndarray, lb: np.ndarray, i: int, radius: int):
    """Inclusive column range allowed in row ``i`` by tslearn's
    ``sakoe_chiba_mask`` for pairs of lengths (la, lb): the band follows
    the diagonal of the longer side, widened by the length difference.
    Written from the reference, apart from the engine's
    ``kernels.sakoe_chiba_bounds``, so the oracle shares no code with
    what it checks."""
    width = np.abs(la - lb) + radius
    lo = np.where(la > lb, i - width, i - radius)
    hi = np.where(la > lb, i + radius, i + width)
    return np.maximum(lo, 0), np.minimum(hi, lb - 1)


def naive_dtw(arrs_a: list, arrs_b: list, radius: int) -> np.ndarray:
    """Banded DTW of every pair (arrs_a[p], arrs_b[p]) by the direct
    recurrence ``C[i,j] = d(i,j) + min(C[i-1,j-1], C[i-1,j], C[i,j-1])``,
    one cell at a time in float64, vectorized only across pairs."""
    n = len(arrs_a)
    la = np.array([len(a) for a in arrs_a])
    lb = np.array([len(b) for b in arrs_b])
    A = np.zeros((n, la.max()))
    B = np.zeros((n, lb.max()))
    for p in range(n):
        A[p, : la[p]] = arrs_a[p]
        B[p, : lb[p]] = arrs_b[p]
    M = B.shape[1]
    prev = np.full((n, M + 1), np.inf)
    prev[:, 0] = 0.0
    out = np.full(n, np.inf)
    for i in range(A.shape[1]):
        lo, hi = band(la, lb, i, radius)
        live = i < la
        cur = np.full((n, M + 1), np.inf)
        for j in range(max(int(lo[live].min()), 0), int(hi[live].max()) + 1):
            ok = live & (lo <= j) & (j <= hi)
            d = (A[:, i] - B[:, j]) ** 2
            best = np.minimum(np.minimum(prev[:, j], prev[:, j + 1]), cur[:, j])
            cur[:, j + 1] = np.where(ok, d + best, np.inf)
        done = la - 1 == i
        out[done] = cur[done, lb[done]]
        prev = cur
    return np.sqrt(out)


def band_cells(la: np.ndarray, lb: np.ndarray, radius: int) -> np.ndarray:
    """Number of DP cells inside the band, per pair."""
    cells = np.zeros(len(la), dtype=np.int64)
    for i in range(int(la.max())):
        lo, hi = band(la, lb, i, radius)
        cells += np.where(i < la, np.maximum(hi - lo + 1, 0), 0)
    return cells


def nn_oracle(queries: list, train: list, radius: int):
    """(index of the nearest train series, its distance) per query;
    ties go to the smaller index, as the engine breaks them by id."""
    idx, dist = [], []
    for q in queries:
        d = naive_dtw([q] * len(train), train, radius)
        j = int(np.argmin(d))
        idx.append(j)
        dist.append(float(d[j]))
    return np.array(idx), np.array(dist)


def check_knn_neighbors(got_ids, got_dist, want_ids, want_dist,
                        rtol: float = 1e-9) -> list[str]:
    errs = []
    for q, (gi, gd, wi, wd) in enumerate(zip(got_ids, got_dist, want_ids,
                                             want_dist)):
        if gi != wi:
            errs.append(f"query {q}: neighbor {gi}, naive 1-NN {wi}")
        elif not abs(gd - wd) <= rtol * max(abs(wd), 1e-300):
            errs.append(f"query {q}: distance {gd!r}, naive {wd!r}")
    return errs


def check_knn_predictions(pred: dict, n_test: int, want: dict) -> list[str]:
    """``pred``: series_id -> predicted label of the op's output;
    ``want``: series_id -> label of the naive 1-NN on a sample."""
    errs = []
    if len(pred) != n_test:
        errs.append(f"{len(pred)} predictions for {n_test} test series")
    for sid, label in want.items():
        if pred.get(sid) != label:
            errs.append(f"series {sid}: predicted {pred.get(sid)!r}, "
                        f"naive 1-NN label {label!r}")
    return errs


# ---------------------------------------------------------------------------
# kmeans_fit
# ---------------------------------------------------------------------------


def check_kmeans(labels: dict, X: np.ndarray, centers: np.ndarray,
                 n_iter: int, max_iter: int, k: int) -> list[str]:
    """``labels``: series_id -> cluster; ``X``: (n, sz) with row i the
    series of id i; ``centers``: (k, sz) or (k, sz, 1)."""
    errs = []
    if n_iter != max_iter:
        errs.append(f"n_iter_ {n_iter}, configured {max_iter}")
    C = np.asarray(centers, dtype=np.float64).reshape(k, -1)
    if len(labels) != len(X):
        errs.append(f"{len(labels)} labels for {len(X)} series")
        return errs
    ids = np.fromiter(labels.keys(), dtype=np.int64, count=len(labels))
    got = np.fromiter(labels.values(), dtype=np.int64, count=len(labels))
    d = ((X[ids, None, :] - C[None, :, :]) ** 2).sum(axis=2)
    bad = int(np.sum(got != np.argmin(d, axis=1)))
    if bad:
        errs.append(f"{bad} labels differ from the argmin to cluster_centers_")
    if len(np.unique(got)) != k:
        errs.append(f"{len(np.unique(got))} non-empty clusters of {k}")
    return errs


# ---------------------------------------------------------------------------
# dedup_text: exact Jaccard of capped 3-gram shingle sets
# ---------------------------------------------------------------------------

_SPLIT = re.compile("[^a-z0-9]+")


def shingles(text: str, n: int) -> set[str]:
    """The engine's token n-grams: lowercase alphanumeric tokens, one
    shingle of all tokens when the document has fewer than n."""
    toks = [t for t in _SPLIT.split(text.lower()) if t]
    return {" ".join(toks[i: i + n]) for i in range(max(len(toks) - n, 0) + 1)}


def capped_sets(texts: dict, n: int, df_cap: int) -> dict:
    """doc_id -> shingle set without the shingles of more than df_cap docs."""
    sets = {d: shingles(t, n) for d, t in texts.items()}
    df: dict[str, int] = {}
    for s in sets.values():
        for g in s:
            df[g] = df.get(g, 0) + 1
    hot = {g for g, c in df.items() if c > df_cap}
    return {d: s - hot for d, s in sets.items()} if hot else sets


def jaccard(a: set, b: set) -> float:
    inter = len(a & b)
    union = len(a) + len(b) - inter
    return inter / union if union else 0.0


def check_families(keep: dict, families: list, sets: dict,
                   threshold: float) -> list[str]:
    """Every planted family whose members all reach ``threshold`` with
    its template (families[i][0]) must map to one keep_doc_id, the
    family's minimum id.  ``keep``: doc_id -> keep_doc_id."""
    errs = []
    for fam in families:
        tpl = sets[fam[0]]
        if any(jaccard(tpl, sets[m]) < threshold for m in fam[1:]):
            continue
        kept = {keep.get(m) for m in fam}
        if kept != {min(fam)}:
            errs.append(f"family {sorted(fam)}: keep_doc_id {sorted(map(str, kept))}")
    return errs


def check_pairs(pairs: list, sets: dict, threshold: float) -> list[str]:
    """(id1, id2, jaccard) rows re-checked against the exact Jaccard."""
    errs = []
    for id1, id2, jac in pairs:
        exact = jaccard(sets[id1], sets[id2])
        if not id1 < id2 or exact < threshold or abs(exact - jac) > 1e-12:
            errs.append(f"pair ({id1}, {id2}): jaccard {jac!r}, exact {exact!r}")
    return errs


def check_kept(kept_ids: list, all_ids, keep: dict) -> list[str]:
    """The kept corpus is every doc that is its own keep_doc_id or in no
    near-duplicate cluster, each once."""
    want = {d for d in all_ids if keep.get(d, d) == d}
    errs = []
    if len(kept_ids) != len(set(kept_ids)):
        errs.append("kept corpus holds a document twice")
    if set(kept_ids) != want:
        errs.append(f"kept {len(set(kept_ids))} docs, expected {len(want)}")
    return errs
