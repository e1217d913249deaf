"""Kernel goldens from the reference doctests/tests (FIXTURES.md §2).

Reference citations are per-test; tolerances follow
tslearn/tests/test_metrics.py:38 (atol 1e-5).
"""

from __future__ import annotations

import numpy as np
import pytest

from tslearn_spark import kernels as K


class TestDTW:
    def test_quartet_goldens(self):
        # dtw_variants.py:1200-1205 cdist_dtw doctests
        assert K.dtw([1, 2, 2, 3], [1, 2, 3, 4]) == pytest.approx(1.0)
        assert K.dtw([1, 2, 2, 3], [1, 2, 3]) == pytest.approx(0.0)
        assert K.dtw([1, 2, 2, 3], [2, 3, 4, 5]) == pytest.approx(2.44948974)
        assert K.dtw([1, 2, 3, 4], [1, 2, 3]) == pytest.approx(1.0)
        assert K.dtw([1, 2, 3, 4], [2, 3, 4, 5]) == pytest.approx(1.41421356)

    def test_path_golden(self):
        # dtw_variants.py:168-172
        path, dist = K.dtw_path([1, 2, 3], [1.0, 2.0, 2.0, 3.0])
        assert path == [(0, 0), (1, 1), (1, 2), (2, 3)]
        assert dist == pytest.approx(0.0)

    def test_path_score_consistency(self):
        # test_metrics.py:24-25 property
        rs = np.random.RandomState(0)
        for _ in range(5):
            a, b = rs.randn(20, 2), rs.randn(15, 2)
            _, d1 = K.dtw_path(a, b)
            assert d1 == pytest.approx(K.dtw(a, b))

    def test_mixed_batch_unconstrained_fuzz(self):
        # radius=None must match per-pair unconstrained dtw even when one
        # series is far longer than every other-side series in the batch
        # (regression: wlo=L2 emptied the window for la-1 > L2)
        rs = np.random.RandomState(7)
        arrs_a = [rs.randn(n, 1) for n in (13, 5, 40, 8, 21, 3)]
        arrs_b = [rs.randn(n, 1) for n in (5, 13, 7, 30, 4, 19)]
        got = K.dtw_banded_batch_mixed(arrs_a, arrs_b, radius=None)
        want = [K.dtw(a, b) for a, b in zip(arrs_a, arrs_b)]
        np.testing.assert_allclose(got, want, atol=1e-9)
        # single extreme pair from the advice counterexample shape (13 vs 5)
        a, b = rs.randn(13, 1), rs.randn(5, 1)
        got1 = K.dtw_banded_batch_mixed([a], [b], radius=None)[0]
        assert np.isfinite(got1)
        assert got1 == pytest.approx(K.dtw(a, b))

    def test_mixed_batch_banded_fuzz(self):
        rs = np.random.RandomState(11)
        arrs_a = [rs.randn(n, 1) for n in (10, 25, 14, 31)]
        arrs_b = [rs.randn(n, 1) for n in (22, 9, 17, 12)]
        for r in (1, 3, 10):
            got = K.dtw_banded_batch_mixed(arrs_a, arrs_b, radius=r)
            want = [
                K.dtw(a, b, sakoe_chiba_radius=r) for a, b in zip(arrs_a, arrs_b)
            ]
            np.testing.assert_allclose(got, want, atol=1e-9)

    def test_mixed_banded_adjacent_min_bitwise(self):
        """The batched path (padded stacks with per-pair +inf band
        masks) is BITWISE equal to the per-pair accumulated matrix on
        univariate batches, including bands clipped at both series
        edges and batches that span several length-sorted chunks."""
        rs = np.random.RandomState(23)
        # wide length spread: band widths W from ~2r+1 up to |la-lb|+2r+1
        arrs_a = [rs.randn(rs.randint(4, 60), 1) for _ in range(700)]
        arrs_b = [rs.randn(rs.randint(4, 60), 1) for _ in range(700)]
        for r in (0, 2, 5):
            got = K.dtw_banded_batch_mixed(arrs_a, arrs_b, radius=r)
            want = np.array([
                np.sqrt(K.dtw_accumulated_matrix(
                    a, b, sakoe_chiba_radius=r)[-1, -1])
                for a, b in zip(arrs_a, arrs_b)
            ])
            # exact, not allclose: same adds in the same order
            assert np.array_equal(got, want), f"radius={r}"

    def test_band_matches_unconstrained_when_wide(self):
        rs = np.random.RandomState(1)
        a, b = rs.randn(12), rs.randn(12)
        assert K.dtw(a, b, sakoe_chiba_radius=12) == pytest.approx(K.dtw(a, b))

    def test_band_increases_distance(self):
        rs = np.random.RandomState(2)
        a, b = rs.randn(30), rs.randn(30)
        assert K.dtw(a, b, sakoe_chiba_radius=1) >= K.dtw(a, b) - 1e-12

    def test_itakura(self):
        rs = np.random.RandomState(3)
        a, b = rs.randn(20), rs.randn(20)
        d = K.dtw(a, b, global_constraint="itakura", itakura_max_slope=2.0)
        assert d >= K.dtw(a, b) - 1e-12
        assert np.isfinite(d)

    def test_multivariate(self):
        a = [[1, 1], [2, 2], [3, 3]]
        b = [[1, 1], [2, 2], [2, 2], [3, 3]]
        assert K.dtw(a, b) == pytest.approx(0.0)

    def test_nan_padding_trimmed(self):
        assert K.dtw([1, 2, 3, np.nan], [1, 2, 3]) == pytest.approx(0.0)

    @pytest.mark.parametrize("sz1,sz2", [(20000, 5), (5, 20000)])
    def test_long_short_pair_memory(self, sz1, sz2):
        """The forward pass is sized by the shorter series: a 20,000 x 5
        pair stays within a few MB in either order, where a store sized
        by the first series would need 3.2 GB."""
        import tracemalloc

        rs = np.random.RandomState(7)
        a, b = rs.randn(sz1), rs.randn(sz2)
        tracemalloc.start()
        try:
            d = K.dtw(a, b)
            peak = tracemalloc.get_traced_memory()[1]
        finally:
            tracemalloc.stop()
        assert peak < 16 * 2**20
        assert d == K.dtw(b, a)


class TestLimitedWarpingLength:
    def test_ldtw_geq_dtw_and_converges(self):
        # test_metrics.py:74-113 property
        rs = np.random.RandomState(0)
        a, b = rs.randn(8), rs.randn(8)
        base = K.dtw(a, b)
        prev = np.inf
        for L in range(8, 16):
            d = K.dtw_limited_warping_length(a, b, L)
            assert d >= base - 1e-10
            assert d <= prev + 1e-10
            prev = d
        assert K.dtw_limited_warping_length(a, b, 15) == pytest.approx(base)

    def test_raises_too_short(self):
        with pytest.raises(ValueError):
            K.dtw_limited_warping_length([1, 2, 3], [1, 2, 3, 4], 3)

    def test_path_variant(self):
        path, d = K.dtw_path_limited_warping_length([1, 2, 2, 3], [1.0, 2.0, 3.0, 4.0], 5)
        assert d == pytest.approx(K.dtw_limited_warping_length([1, 2, 2, 3], [1, 2, 3, 4], 5))
        assert len(path) <= 5
        assert path[0] == (0, 0) and path[-1] == (3, 3)


class TestSubsequence:
    def test_golden(self):
        # dtw_variants.py:896-901
        path, dist = K.dtw_subsequence_path([2.0, 3.0], [1.0, 2.0, 2.0, 3.0, 4.0])
        assert path == [(0, 2), (1, 3)]
        assert dist == pytest.approx(0.0)


class TestEnvelopeLB:
    def test_lb_keogh_golden(self):
        # dtw_variants.py:1261-1270
        assert K.lb_keogh([0, 0, 0, 0, 0], [1, 2, 3, 2, 1], radius=1) == pytest.approx(
            2.8284271247461903
        )

    def test_envelope(self):
        lo, up = K.lb_envelope([1, 2, 3, 2, 1], radius=1)
        np.testing.assert_allclose(lo.ravel(), [1, 1, 2, 1, 1])
        np.testing.assert_allclose(up.ravel(), [2, 3, 3, 3, 2])

    def test_lb_bounds_dtw(self):
        rs = np.random.RandomState(4)
        for _ in range(10):
            a, b = rs.randn(25), rs.randn(25)
            lb = K.lb_keogh(a, b, radius=2)
            d = K.dtw(a, b, sakoe_chiba_radius=2)
            assert lb <= d + 1e-9


class TestLCSS:
    def test_golden(self):
        # dtw_variants.py:1495-1503
        assert K.lcss([1.0, 2.0, 3.0], [-2.0, 5.0, 7.0], eps=3) == pytest.approx(2.0 / 3.0)

    def test_identical(self):
        assert K.lcss([1.0, 2.0, 3.0], [1.0, 2.0, 3.0]) == pytest.approx(1.0)

    def test_path(self):
        path, sim = K.lcss_path([1.0, 2.0, 3.0], [1.0, 2.0, 3.0, 4.0])
        assert sim == pytest.approx(1.0)
        assert len(path) == 3


class TestSoftDTW:
    def test_golden(self):
        # softdtw_variants.py:353-356
        assert K.soft_dtw([1, 2, 2, 3], [1.0, 2.0, 3.0, 4.0], gamma=1.0) == pytest.approx(
            -0.89, abs=0.01
        )

    def test_gamma_zero_is_squared_dtw(self):
        rs = np.random.RandomState(5)
        a, b = rs.randn(10), rs.randn(12)
        assert K.soft_dtw(a, b, gamma=0.0) == pytest.approx(K.dtw(a, b) ** 2)

    def test_alignment_rowsums(self):
        # E entries in [0,1]; score consistent with forward pass
        a, b = [1.0, 2.0, 3.0], [1.0, 2.5, 3.0]
        E, score = K.soft_dtw_alignment(a, b, gamma=1.0)
        assert score == pytest.approx(K.soft_dtw(a, b, gamma=1.0))
        assert (E >= -1e-12).all() and (E <= 1 + 1e-12).all()

    @pytest.mark.parametrize("gamma", [0.0, 0.1, 1.0])
    def test_transposed_pass_same_bits(self, gamma):
        """The forward pass runs a pair with sz1 > sz2 on its transpose;
        in the batch (a, b) runs untransposed beside a pair with a longer
        second series, and both give the same bits."""
        rs = np.random.RandomState(9)
        a, b = rs.randn(9, 2) * 3, rs.randn(4, 2) * 3
        batch = K.soft_dtw_batch_mixed([a, rs.randn(3, 2)],
                                       [b, rs.randn(12, 2)], gamma)
        assert batch[0] == K.soft_dtw(a, b, gamma)

    def test_grad_finite_diff(self):
        rs = np.random.RandomState(6)
        Z, X = rs.randn(5, 1), rs.randn(6, 1)
        val, g = K.soft_dtw_grad(Z, X, gamma=1.0)
        eps = 1e-6
        for i in range(5):
            Zp = Z.copy()
            Zp[i, 0] += eps
            vp, _ = K.soft_dtw_grad(Zp, X, gamma=1.0)
            fd = (vp - val) / eps
            assert fd == pytest.approx(g[i, 0], abs=1e-3)


class TestGAK:
    def test_golden(self):
        # softdtw_variants.py:122-123
        assert K.gak([1, 2, 3], [1.0, 2.0, 2.0, 3.0], sigma=2.0) == pytest.approx(
            0.839, abs=0.001
        )

    def test_self_is_one(self):
        rs = np.random.RandomState(7)
        a = rs.randn(10)
        assert K.gak(a, a, sigma=1.5) == pytest.approx(1.0)

    def test_symmetry(self):
        rs = np.random.RandomState(8)
        a, b = rs.randn(9), rs.randn(11)
        assert K.gak(a, b, 2.0) == pytest.approx(K.gak(b, a, 2.0))


class TestNCC:
    def test_self_max_is_one(self):
        rs = np.random.RandomState(9)
        a = rs.randn(16)
        assert K.normalized_cc_max(a, a) == pytest.approx(1.0)

    def test_shift_invariance(self):
        a = np.zeros(16)
        a[4:8] = [1, 2, 3, 2]
        b = np.zeros(16)
        b[10:14] = [1, 2, 3, 2]
        assert K.normalized_cc_max(a, b) == pytest.approx(1.0, abs=1e-9)


class TestCTW:
    def test_symmetry_and_identity(self):
        # test_metrics.py:55-58 symmetry property
        from tslearn_spark.metrics.ctw import ctw

        rs = np.random.RandomState(10)
        a, b = rs.randn(10, 1), rs.randn(12, 1)
        assert ctw(a, a) == pytest.approx(0.0, abs=1e-6)
        assert ctw(a, b) == pytest.approx(ctw(b, a), rel=1e-3)

    def test_different_dims(self):
        from tslearn_spark.metrics.ctw import ctw

        rs = np.random.RandomState(11)
        a, b = rs.randn(10, 2), rs.randn(12, 3)
        assert np.isfinite(ctw(a, b))

    def test_cca_perfect_correlation(self):
        """Analytic CCA corner case: two views that are invertible linear
        maps of one latent have canonical correlation 1 and aligned
        projections — the property sklearn's NIPALS would certify."""
        from tslearn_spark.metrics.ctw import _cca_project

        rs = np.random.RandomState(12)
        Z = rs.randn(40, 2)
        X = Z @ rs.randn(2, 3)           # view 1: latent -> 3 dims
        Y = Z @ np.array([[2.0, -1.0], [0.5, 3.0]])  # view 2: invertible map
        Xp, Yp, _, _ = _cca_project(X, Y, 2)
        for c in range(2):
            r = np.corrcoef(Xp[:, c], Yp[:, c])[0, 1]
            assert abs(r) == pytest.approx(1.0, abs=1e-6)

    def test_linear_map_invariance(self):
        """ctw(X, X @ M) ~ 0 for invertible M: CCA must fully align
        views that differ only by an invertible linear transform
        (reference ctw.py's defining property)."""
        from tslearn_spark.metrics.ctw import ctw

        rs = np.random.RandomState(13)
        X = rs.randn(15, 2).cumsum(axis=0)
        M = np.array([[1.5, 0.3], [-0.2, 2.0]])
        # the intended fixpoint variant; the released reference breaks
        # after one CCA pass and keeps the raw-feature DTW score, so
        # the default path does NOT have this property (ctw.py:168)
        assert ctw(X, X @ M, iterate=True) == pytest.approx(0.0, abs=1e-5)

    def test_cca_matches_generalized_eigensolution(self):
        """Independent derivation check: the canonical correlations
        realized by _cca_project's whitened-covariance SVD must equal
        the sqrt-eigenvalues of Sxx^-1 Sxy Syy^-1 Syx from a direct
        generalized eigensolve (np.linalg.eig on the product matrix) —
        the textbook CCA characterization sklearn's NIPALS converges
        to.  Cross-validates the from-scratch CCA without sklearn."""
        from tslearn_spark.metrics.ctw import _cca_project

        rs = np.random.RandomState(15)
        X = rs.randn(60, 3)
        Y = 0.6 * X @ rs.randn(3, 2) + 0.8 * rs.randn(60, 2)
        Xp, Yp, _, _ = _cca_project(X, Y, 2)
        realized = sorted(
            (abs(np.corrcoef(Xp[:, c], Yp[:, c])[0, 1]) for c in range(2)),
            reverse=True,
        )
        Xc, Yc = X - X.mean(0), Y - Y.mean(0)
        Sxx, Syy = Xc.T @ Xc / len(X), Yc.T @ Yc / len(Y)
        Sxy = Xc.T @ Yc / len(X)
        M = np.linalg.solve(Sxx, Sxy) @ np.linalg.solve(Syy, Sxy.T)
        eig = np.sort(np.real(np.linalg.eigvals(M)))[::-1]
        expected = np.sqrt(np.maximum(eig[:2], 0.0))
        assert realized == pytest.approx(expected, abs=1e-6)

    def test_cca_first_direction_is_optimal(self):
        """No probe direction pair may beat the first canonical
        correlation — the variational definition of CCA, checked
        against 200 random unit-direction pairs."""
        from tslearn_spark.metrics.ctw import _cca_project

        rs = np.random.RandomState(16)
        X = rs.randn(50, 3)
        Y = X @ rs.randn(3, 2) + rs.randn(50, 2)
        Xp, Yp, _, _ = _cca_project(X, Y, 1)
        best = abs(np.corrcoef(Xp[:, 0], Yp[:, 0])[0, 1])
        Xc, Yc = X - X.mean(0), Y - Y.mean(0)
        for _ in range(200):
            a, b = rs.randn(3), rs.randn(2)
            r = abs(np.corrcoef(Xc @ a, Yc @ b)[0, 1])
            assert r <= best + 1e-9

    def test_ctw_le_dtw_on_shared_subspace(self):
        """After CCA projection the DTW cost can only shrink relative to
        DTW on z-scored raw features when a 1-d shared subspace explains
        both views (fixpoint sanity, not a general theorem — fixture
        chosen so the shared latent dominates)."""
        from tslearn_spark.metrics.ctw import ctw_path

        rs = np.random.RandomState(14)
        t = np.linspace(0, 2 * np.pi, 20)
        latent = np.sin(t)
        X = np.stack([latent, 0.05 * rs.randn(20)], axis=1)
        Y = np.stack([2.0 * latent + 0.05 * rs.randn(20),
                      0.05 * rs.randn(20)], axis=1)
        path, A, B, score = ctw_path(X, Y, n_components=1, iterate=True)
        assert np.isfinite(score)
        # the CCA directions must load on the latent (first) feature
        assert abs(A[0, 0]) > 5 * abs(A[1, 0])
        assert abs(B[0, 0]) > 5 * abs(B[1, 0])


class TestConstrainedPathFromMetric:
    def test_dtw_path_from_metric_sakoe_chiba(self):
        # sqeuclidean ground + band == banded DTW squared
        rs = np.random.RandomState(5)
        s1, s2 = rs.rand(12, 1), rs.rand(12, 1)
        path, score = K.dtw_path_from_metric(
            s1, s2, metric="sqeuclidean",
            global_constraint="sakoe_chiba", sakoe_chiba_radius=1)
        ref = K.dtw(s1, s2, global_constraint="sakoe_chiba",
                    sakoe_chiba_radius=1)
        assert score == pytest.approx(ref * ref)
        assert all(abs(i - j) <= 1 for i, j in path)

    def test_dtw_path_from_metric_unconstrained_unchanged(self):
        rs = np.random.RandomState(6)
        s1, s2 = rs.rand(10, 1), rs.rand(8, 1)
        _, score = K.dtw_path_from_metric(s1, s2, metric="sqeuclidean")
        assert score == pytest.approx(K.dtw(s1, s2) ** 2)

    def test_lcss_path_constrained_matches_lcss(self):
        rs = np.random.RandomState(7)
        s1, s2 = rs.rand(14, 1), rs.rand(14, 1)
        path, sim = K.lcss_path(s1, s2, eps=0.2,
                                global_constraint="sakoe_chiba",
                                sakoe_chiba_radius=2)
        assert sim == pytest.approx(
            K.lcss(s1, s2, eps=0.2, global_constraint="sakoe_chiba",
                   sakoe_chiba_radius=2))
        assert all(abs(i - j) <= 2 for i, j in path)

    def test_lcss_path_from_metric_constrained(self):
        rs = np.random.RandomState(8)
        s1, s2 = rs.rand(14, 1), rs.rand(14, 1)
        # euclidean ground == the default lcss match predicate
        _, sim = K.lcss_path_from_metric(
            s1, s2, eps=0.2, metric="euclidean",
            global_constraint="sakoe_chiba", sakoe_chiba_radius=2)
        assert sim == pytest.approx(
            K.lcss(s1, s2, eps=0.2, global_constraint="sakoe_chiba",
                   sakoe_chiba_radius=2))

    def test_lcss_banded_matches_reference_dp(self):
        # Literal reference masked DP (dtw_variants.py:1399-1407): cells
        # outside the band stay 0 and neighbors read them as 0.  A
        # right-of-band inheritance variant diverges on itakura bands
        # (even the final score: e.g. 13 vs the reference's 11) — this
        # property sweep pins the literal semantics, acc matrix AND path.
        import warnings

        def ref_acc(D, eps, lo, hi):
            l1, l2 = D.shape
            acc = np.zeros((l1 + 1, l2 + 1), dtype=np.int64)
            for i in range(1, l1 + 1):
                for j in range(1, l2 + 1):
                    if lo[i - 1] <= j - 1 <= hi[i - 1]:
                        if D[i - 1, j - 1] <= eps:
                            acc[i][j] = 1 + acc[i - 1][j - 1]
                        else:
                            acc[i][j] = max(acc[i][j - 1], acc[i - 1][j])
            return acc

        def ref_path(D, eps, lo, hi, acc, budget=5000):
            i, j = D.shape
            path = []
            while i > 0 and j > 0 and budget > 0:
                budget -= 1
                if lo[i - 1] <= j - 1 <= hi[i - 1]:
                    if D[i - 1, j - 1] <= eps:
                        path.append((i - 1, j - 1))
                        i, j = i - 1, j - 1
                    elif acc[i - 1][j] > acc[i][j - 1]:
                        i -= 1
                    else:
                        j -= 1
            return None if budget == 0 else path[::-1]

        rs = np.random.RandomState(11)
        n_checked = 0
        for trial in range(300):
            sz1, sz2 = rs.randint(2, 18), rs.randint(2, 18)
            s1, s2 = rs.randn(sz1, 1), rs.randn(sz2, 1)
            eps = float(rs.uniform(0.2, 2.5))
            kind = trial % 3
            gc, scr, ims = [
                (None, None, None),
                ("sakoe_chiba", int(rs.randint(0, 5)), None),
                ("itakura", None, float(rs.uniform(1.1, 5.0))),
            ][kind]
            with warnings.catch_warnings():
                warnings.simplefilter("ignore")
                try:
                    lo, hi = K._bounds(sz1, sz2, gc, scr, ims)
                except Exception:
                    continue
                macc = K.lcss_accumulated_matrix(s1, s2, eps, gc, scr, ims)
                mpath, msim = K.lcss_path(s1, s2, eps, gc, scr, ims)
            D = np.sqrt(K.sq_dist_matrix(s1, s2))
            racc = ref_acc(D, eps, lo, hi)
            np.testing.assert_array_equal(macc, racc)
            rp = ref_path(D, eps, lo, hi, racc)
            if rp is not None:  # reference terminates -> exact path parity
                assert mpath == rp
            # internal consistency: in-band, close, score-consistent
            assert all(lo[a] <= b <= hi[a] and D[a, b] <= eps
                       for a, b in mpath)
            assert msim == pytest.approx(racc[-1, -1] / min(sz1, sz2))
            n_checked += 1
        assert n_checked > 200


class TestHeuristics:
    def test_sigma_gamma_positive(self):
        # explicit random_state: the default is None like the reference
        # (softdtw_variants.py:221-313), i.e. nondeterministic sampling
        rs = np.random.RandomState(12)
        data = [rs.randn(16, 1) for _ in range(20)]
        s = K.sigma_gak(data, random_state=0)
        assert s > 0
        assert K.gamma_soft_dtw(data, random_state=0) == pytest.approx(2 * s * s)


class TestMatrixProfile:
    def test_golden(self):
        from tslearn_spark.matrix_profile import matrix_profile_np

        ts = np.array([0, 1, 3, 2, 9, 1, 14, 15, 1, 2, 2, 10, 7], dtype=float)
        got = matrix_profile_np(ts, 4, scale=False)
        exp = [6.8556, 1.4142, 6.1644, 7.9372, 11.4017, 13.5647, 18.0, 13.9642, 1.4142, 6.1644]
        np.testing.assert_allclose(got, exp, atol=1e-3)

    @pytest.mark.parametrize("scale", [False, True])
    def test_long_variant_matches_short(self, spark, scale):
        """transform_long (chunked window self-join) reproduces the
        single-task transform exactly, with block_size small enough to
        force multiple blocks and cross-block pairs."""
        from tslearn_spark import dataset as DS
        from tslearn_spark import matrix_profile as MP

        rs = np.random.RandomState(11)
        # 5 < m: a degenerate series keeps its row (empty profile) in BOTH
        series = [rs.randn(n).cumsum() for n in (70, 55, 33, 5)]
        df = DS.dataset_to_df(spark, series)
        m = 8
        short = {
            r["series_id"]: r["profile"]
            for r in MP.transform(df, m, scale=scale).collect()
        }
        long_ = {
            r["series_id"]: r["profile"]
            for r in MP.transform_long(df, m, scale=scale, block_size=16).collect()
        }
        assert set(short) == set(long_)
        for sid in short:
            np.testing.assert_allclose(long_[sid], short[sid], rtol=1e-9, atol=1e-9)


class TestNormPPF:
    def test_breakpoint_goldens(self):
        from tslearn_spark.stats import sax_bin_medians, sax_breakpoints

        np.testing.assert_allclose(sax_breakpoints(2), [0.0], atol=1e-9)
        np.testing.assert_allclose(
            sax_bin_medians(2), [-0.67448975, 0.67448975], atol=1e-7
        )
        np.testing.assert_allclose(
            sax_breakpoints(4), [-0.6744897501, 0.0, 0.6744897501], atol=1e-7
        )


class TestReferenceImportParity:
    """`from tslearn_spark.metrics import <name>` works for every public
    reference metrics export, with reference semantics."""

    def test_masks_match_reference_doctests(self):
        from tslearn_spark.metrics import itakura_mask, sakoe_chiba_mask

        inf = np.inf
        np.testing.assert_array_equal(
            sakoe_chiba_mask(4, 4, 1),
            [[0, 0, inf, inf], [0, 0, 0, inf], [inf, 0, 0, 0], [inf, inf, 0, 0]],
        )
        np.testing.assert_array_equal(
            sakoe_chiba_mask(7, 3, 1),
            [[0, 0, inf], [0, 0, 0], [0, 0, 0], [0, 0, 0], [0, 0, 0],
             [0, 0, 0], [inf, 0, 0]],
        )
        np.testing.assert_array_equal(
            itakura_mask(6, 6),
            [[0, inf, inf, inf, inf, inf], [inf, 0, 0, inf, inf, inf],
             [inf, 0, 0, 0, inf, inf], [inf, inf, 0, 0, 0, inf],
             [inf, inf, inf, 0, 0, inf], [inf, inf, inf, inf, inf, 0]],
        )

    def test_cdist_wrappers(self):
        from tslearn_spark import metrics as M

        rs = np.random.RandomState(7)
        data = [rs.randn(8), rs.randn(10), rs.randn(9)]
        D = M.cdist_dtw(data)
        assert D.shape == (3, 3)
        np.testing.assert_allclose(np.diag(D), 0.0)
        np.testing.assert_allclose(D, D.T)
        assert D[0, 1] == pytest.approx(M.dtw(data[0], data[1]))
        G = M.cdist_gak(data, sigma=2.0)
        np.testing.assert_allclose(np.diag(G), 1.0)
        assert G[0, 2] == pytest.approx(M.gak(data[0], data[2], sigma=2.0))
        S = M.cdist_soft_dtw(data, gamma=0.5)
        assert S[1, 1] == pytest.approx(M.soft_dtw(data[1], data[1], gamma=0.5))
        N = M.cdist_soft_dtw_normalized(data, gamma=0.5)
        np.testing.assert_allclose(np.diag(N), 0.0, atol=1e-9)
        C = M.cdist_normalized_cc([d.reshape(-1, 1) for d in [data[0], data[0]]],
                                  [d.reshape(-1, 1) for d in [data[0]]])
        assert C[0, 0] == pytest.approx(1.0)
        X2 = M.cdist_dtw(data[:2], data)  # rectangular
        assert X2.shape == (2, 3)

    def test_cdist_sax_mindist(self):
        from tslearn_spark.metrics import cdist_sax

        # alphabet size 4 -> 3 breakpoints; adjacent symbols cost 0
        b = [-0.67, 0.0, 0.67]
        s1 = [[0], [3]]
        s2 = [[1], [1]]
        D = cdist_sax([s1], b, size_fitted=8, dataset2=[s2])
        # seg0: |0-1|<=1 -> 0; seg1: gap = b[2] - b[1] = 0.67
        assert D[0, 0] == pytest.approx(np.sqrt(8 / 2) * 0.67)
        self_D = cdist_sax([s1, s2], b, size_fitted=8)
        np.testing.assert_allclose(self_D, self_D.T)

    def test_global_constraint_code(self):
        from tslearn_spark.metrics import GLOBAL_CONSTRAINT_CODE

        assert GLOBAL_CONSTRAINT_CODE == {None: 0, "": 0, "itakura": 1,
                                          "sakoe_chiba": 2}


class TestCdistReferenceDoctests:
    """The reference's own cdist_* doctest outputs, pinned verbatim
    (dtw_variants.py:1200-1205, softdtw_variants.py:174-181/488-494,
    ctw.py:341-347)."""

    def test_cdist_dtw(self):
        from tslearn_spark.metrics import cdist_dtw

        np.testing.assert_allclose(
            cdist_dtw([[1, 2, 2, 3], [1.0, 2.0, 3.0, 4.0]]),
            [[0.0, 1.0], [1.0, 0.0]], atol=1e-8)
        np.testing.assert_allclose(
            cdist_dtw([[1, 2, 2, 3], [1.0, 2.0, 3.0, 4.0]],
                      [[1, 2, 3], [2, 3, 4, 5]]),
            [[0.0, 2.44948974], [1.0, 1.41421356]], atol=1e-8)

    def test_cdist_gak(self):
        from tslearn_spark.metrics import cdist_gak

        np.testing.assert_allclose(
            cdist_gak([[1, 2, 2, 3], [1.0, 2.0, 3.0, 4.0]], sigma=2.0),
            [[1.0, 0.65629661], [0.65629661, 1.0]], atol=1e-8)
        np.testing.assert_allclose(
            cdist_gak([[1, 2, 2], [1.0, 2.0, 3.0, 4.0]],
                      [[1, 2, 2, 3], [1.0, 2.0, 3.0, 4.0], [1, 2, 2, 3]],
                      sigma=2.0),
            [[0.71059484, 0.29722877, 0.71059484],
             [0.65629661, 1.0, 0.65629661]], atol=1e-8)

    def test_cdist_soft_dtw(self):
        from tslearn_spark.metrics import cdist_soft_dtw

        np.testing.assert_allclose(
            cdist_soft_dtw([[1, 2, 2, 3], [1.0, 2.0, 3.0, 4.0]], gamma=0.01),
            [[-0.01098612, 1.0], [1.0, 0.0]], atol=1e-8)
        np.testing.assert_allclose(
            cdist_soft_dtw([[1, 2, 2, 3], [1.0, 2.0, 3.0, 4.0]],
                           [[1, 2, 2, 3], [1.0, 2.0, 3.0, 4.0]], gamma=0.01),
            [[-0.01098612, 1.0], [1.0, 0.0]], atol=1e-8)

    def test_ctw_path_reference_doctest(self):
        """ctw.py:112-122 doctests: path + dist on the released
        (break-after-one-CCA-pass) semantics."""
        from tslearn_spark.metrics.ctw import ctw_path

        path, _, _, dist = ctw_path([1, 2, 3], [1.0, 2.0, 2.0, 3.0])
        assert path == [(0, 0), (1, 1), (1, 2), (2, 3)]
        assert dist == pytest.approx(0.0)
        _, _, _, dist2 = ctw_path(
            [1, 2, 3], [[1.0, 1.0], [2.0, 2.0], [2.0, 2.0], [3.0, 3.0]])
        assert dist2 == pytest.approx(0.0)

    def test_cdist_ctw(self):
        from tslearn_spark.metrics import cdist_ctw

        np.testing.assert_allclose(
            cdist_ctw([[1, 2, 2, 3], [1.0, 2.0, 3.0, 4.0]]),
            [[0.0, 1.0], [1.0, 0.0]], atol=1e-6)
        np.testing.assert_allclose(
            cdist_ctw([[1, 2, 2, 3], [1.0, 2.0, 3.0, 4.0]],
                      [[[1, 1], [2, 2], [3, 3]],
                       [[2, 2], [3, 3], [4, 4], [5, 5]]]),
            [[0.0, 2.44948974], [1.0, 1.41421356]], atol=1e-6)


class TestMoreReferenceDoctests:
    """Additional reference doctest goldens (dtw_variants.py:591-594,
    1508-1515, 1813-1815)."""

    def test_limited_warping_doctests(self):
        assert K.dtw_limited_warping_length(
            [1, 2, 3], [1.0, 2.0, 2.0, 3.0], 5) == pytest.approx(0.0)
        assert K.dtw_limited_warping_length(
            [1, 2, 3], [1.0, 2.0, 2.0, 3.0, 4.0], 5) == pytest.approx(1.0)

    def test_lcss_doctests(self):
        assert K.lcss([1, 2, 3], [1.0, 2.0, 2.0, 3.0]) == 1.0
        assert K.lcss([1, 2, 3], [1.0, 2.0, 2.0, 4.0, 7.0]) == 1.0
        assert K.lcss([1, 2, 3], [1.0, 2.0, 2.0, 2.0, 3.0], eps=0) == 1.0
        assert K.lcss([1, 2, 3], [-2.0, 5.0, 7.0], eps=3) == pytest.approx(
            0.6666666666666666)

    def test_lcss_path_from_metric_doctest(self):
        s1 = np.array([[0.0], [1.0], [2.0], [3.0], [4.0]])
        s2 = np.array([[-1.0], [0.0], [1.0], [2.0], [3.0], [4.0]])
        path, sim = K.lcss_path_from_metric(s1, s2, metric="sqeuclidean")
        assert path == [(0, 1), (1, 2), (2, 3), (3, 4), (4, 5)]
        assert sim == pytest.approx(1.0)


class TestComputeMask:
    def test_dispatch(self):
        from tslearn_spark.metrics import (
            compute_mask, itakura_mask, sakoe_chiba_mask,
        )

        np.testing.assert_array_equal(compute_mask(4, 4), np.zeros((4, 4)))
        np.testing.assert_array_equal(
            compute_mask(4, 4, global_constraint=2),
            sakoe_chiba_mask(4, 4, 1))
        np.testing.assert_array_equal(
            compute_mask(6, 6, global_constraint=1), itakura_mask(6, 6))
        # inference from the radius alone, and from series inputs
        np.testing.assert_array_equal(
            compute_mask(np.zeros(5), np.zeros(7), sakoe_chiba_radius=2),
            sakoe_chiba_mask(5, 7, 2))
        with pytest.raises(RuntimeWarning):
            compute_mask(4, 4, sakoe_chiba_radius=1, itakura_max_slope=2.0)


class TestItakuraNonSquare:
    """Round-6 ADVICE: non-square itakura masks must match the reference's
    _njit_itakura_mask construction (dtw_variants.py:959-1006) exactly."""

    @staticmethod
    def _ref_mask(sz1, sz2, max_slope=2.0):
        # literal pure-python replay of the reference construction
        min_slope = 1 / float(max_slope)
        max_slope = max_slope * (float(sz1) / float(sz2))
        min_slope = min_slope * (float(sz1) / float(sz2))
        lower = np.ceil([max(round(min_slope * j, 2),
                             round((sz1 - 1) - max_slope * (sz2 - 1)
                                   + max_slope * j, 2))
                         for j in range(sz2)])
        upper = np.floor(np.array(
            [min(round(max_slope * j, 2),
                 round((sz1 - 1) - min_slope * (sz2 - 1) + min_slope * j, 2))
             for j in range(sz2)]) + 1)
        mask = np.full((sz1, sz2), np.inf)
        for j in range(sz2):
            mask[int(lower[j]):int(upper[j]), j] = 0.0
        return mask

    def test_nonsquare_masks_match_reference(self):
        import warnings as _w

        from tslearn_spark.metrics import itakura_mask

        for sz1 in range(2, 16):
            for sz2 in range(2, 16):
                for slope in (1.0, 1.5, 2.0, 3.0):
                    ref = self._ref_mask(sz1, sz2, slope)
                    with _w.catch_warnings():
                        _w.simplefilter("ignore")
                        got = itakura_mask(sz1, sz2, slope)
                    np.testing.assert_array_equal(
                        np.isfinite(got), np.isfinite(ref),
                        err_msg=f"sz1={sz1} sz2={sz2} slope={slope}")

    def test_infeasible_warns(self):
        import warnings as _w

        from tslearn_spark.metrics import itakura_mask

        with _w.catch_warnings(record=True) as rec:
            _w.simplefilter("always")
            itakura_mask(2, 5, 1.5)
        assert any(issubclass(r.category, RuntimeWarning) for r in rec)

    def test_dtw_respects_nonsquare_itakura(self):
        # DP bounds derive from the same mask: an infeasible combo -> inf
        rs = np.random.RandomState(3)
        a, b = rs.rand(2, 1), rs.rand(5, 1)
        import warnings as _w

        with _w.catch_warnings():
            _w.simplefilter("ignore")
            d = K.dtw(a, b, global_constraint="itakura", itakura_max_slope=1.5)
        assert np.isinf(d)


class TestNormalizedCCNorms:
    def test_custom_norms_scale_denominator(self):
        rs = np.random.RandomState(11)
        a, b = rs.rand(8, 1), rs.rand(8, 1)
        base = K.normalized_cc(a, b)
        scaled = K.normalized_cc(a, b, norm1=2.0, norm2=3.0)
        true = np.linalg.norm(a) * np.linalg.norm(b)
        np.testing.assert_allclose(scaled, base * true / 6.0)

    def test_cdist_normalized_cc_threads_norms(self):
        from tslearn_spark.metrics import cdist_normalized_cc

        rs = np.random.RandomState(12)
        d1 = [rs.rand(8, 1) for _ in range(3)]
        d2 = [rs.rand(8, 1) for _ in range(2)]
        base = cdist_normalized_cc(d1, d2)
        got = cdist_normalized_cc(d1, d2, norms1=[2.0] * 3, norms2=[5.0] * 2)
        t1 = np.array([np.linalg.norm(x) for x in d1])
        t2 = np.array([np.linalg.norm(x) for x in d2])
        np.testing.assert_allclose(got, base * np.outer(t1, t2) / 10.0)

    def test_y_shifted_mixed_norm_sentinels(self):
        # -1 entries are per-element compute-me sentinels (cycc.pyx):
        # supplied non-negative norms must be honored verbatim, not
        # overwritten by a wholesale recompute
        rs = np.random.RandomState(13)
        ref = rs.rand(8, 1)
        data = [rs.rand(8, 1) for _ in range(3)]
        true1 = float(np.linalg.norm(data[1]))
        mixed = K.y_shifted_sbd_vec(ref, data, norms_dataset=[2.0, -1.0, 3.0])
        explicit = K.y_shifted_sbd_vec(
            ref, data, norms_dataset=[2.0, true1, 3.0])
        for m, e in zip(mixed, explicit):
            np.testing.assert_allclose(m, e)
        # and the supplied 2.0 really is used: all-true norms differ when
        # the best shift flips under a scaled denominator? the alignment
        # is argmax-invariant to a POSITIVE scalar on one series' norm,
        # so assert via the profile instead
        prof = K.normalized_cc(ref, data[0], norm1=-1.0, norm2=2.0)
        base = K.normalized_cc(ref, data[0])
        np.testing.assert_allclose(
            prof, base * float(np.linalg.norm(data[0])) / 2.0)


class TestDtwBatchTauCap:
    """Exact early abandon (tau2) in the batched banded DP: the C kernel
    may report +inf above the cap, the numpy path returns exact values."""

    def test_cap_exactness_mixed_lengths(self):
        rs = np.random.RandomState(5)
        aa = [rs.randn(rs.randint(30, 100), 1) for _ in range(600)]
        bb = [rs.randn(rs.randint(30, 100), 1) for _ in range(600)]
        base = K.dtw_banded_batch_mixed(aa, bb, 5)
        # spot-check the batch against the scalar DP
        for i in range(0, 600, 97):
            assert base[i] == pytest.approx(
                K.dtw(aa[i], bb[i], sakoe_chiba_radius=5))
        tau = np.full(600, float(np.percentile(base, 30)) ** 2)
        capped = K.dtw_banded_batch_mixed(aa, bb, 5, tau2=tau)
        below = base ** 2 <= tau
        np.testing.assert_allclose(capped[below], base[below])
        above = ~below
        ok = np.isinf(capped[above]) | np.isclose(capped[above], base[above])
        assert ok.all()  # above-cap: provably-worse inf or the exact value
        # inf cap == no pruning
        np.testing.assert_allclose(
            K.dtw_banded_batch_mixed(aa, bb, 5, tau2=np.full(600, np.inf)),
            base)

    def test_capped_knn_equals_plain(self):
        # the seeded+capped kNN flow must return the identical 1-NN set
        rs = np.random.RandomState(6)
        train = [np.cumsum(rs.randn(256)).reshape(-1, 1) for _ in range(40)]
        test = [np.cumsum(rs.randn(256)).reshape(-1, 1) for _ in range(6)]
        n_t = len(train)
        base = K.dtw_banded_batch_mixed(
            [q for q in test for _ in range(n_t)], train * len(test), 20
        ).reshape(len(test), n_t)
        d_seed = K.dtw_banded_batch_mixed(
            [q for q in test for _ in range(8)],
            [train[j] for _ in test for j in range(8)], 20).reshape(-1, 8)
        tau = d_seed.min(axis=1)
        r_of = np.repeat(np.arange(len(test)), n_t - 8)
        j_of = np.tile(np.arange(8, n_t), len(test))
        flat = K.dtw_banded_batch_mixed(
            [test[r] for r in r_of], [train[j] for j in j_of], 20,
            tau2=(tau * tau)[r_of])
        nn = np.minimum(tau, flat.reshape(len(test), n_t - 8).min(axis=1))
        np.testing.assert_allclose(nn, base.min(axis=1))


class TestCKernelUnavailable:
    @pytest.mark.parametrize("cc,kill_switch", [
        ("/bin/false", "1"), ("/bin/false", "0"), ("noisy", "1")])
    def test_failed_compile_is_logged(self, monkeypatch, tmp_path, caplog,
                                      cc, kill_switch):
        """A compiler that fails leaves lib_or_none() None with one
        tslearn_spark.ckernel WARNING naming the exception; the kill
        switch stays silent; the numpy kernels answer either way.
        ``/bin/false`` fails already at ``--version``; the "noisy" fake
        compiler answers ``--version`` and fails the build, and the
        warning quotes the build's stderr."""
        import logging

        import tslearn_spark.ckernel as ck

        if cc == "noisy":
            cc = tmp_path / "cc"
            cc.write_text(
                "#!/bin/sh\n"
                "if [ \"$1\" = --version ]; then echo 'fakecc 1.0'; exit 0; fi\n"
                "echo 'cc: fatal: no such flag' >&2\nexit 1\n")
            cc.chmod(0o755)
        monkeypatch.setattr(ck, "_CC", str(cc))
        monkeypatch.setenv("TSLEARN_SPARK_CK_DIR", str(tmp_path))
        monkeypatch.setenv("TSLEARN_SPARK_CKERNEL", kill_switch)
        monkeypatch.setattr(ck, "_lib", None)
        monkeypatch.setattr(ck, "_tried", False)
        with caplog.at_level(logging.WARNING, logger="tslearn_spark.ckernel"):
            assert ck.lib_or_none() is None
            assert ck.lib_or_none() is None
        recs = [r for r in caplog.records if r.name == "tslearn_spark.ckernel"]
        if kill_switch == "0":
            assert recs == []
        else:
            assert len(recs) == 1
            assert recs[0].levelno == logging.WARNING
            msg = recs[0].getMessage()
            assert "CalledProcessError" in msg
            built = cc != "/bin/false"  # the build command carries -o
            assert ("'-o'" in msg) == built
            assert ("fatal: no such flag" in msg) == built
        rs = np.random.RandomState(8)
        aa = [rs.randn(n) for n in (9, 30, 1)]
        bb = [rs.randn(n) for n in (12, 25, 7)]
        got = K.dtw_banded_batch_mixed(aa, bb, 2)
        want = [K.dtw(a, b, sakoe_chiba_radius=2) for a, b in zip(aa, bb)]
        assert got.tolist() == want
