"""The compiled DTW kernel (tslearn_spark/_dtw_kernel.c via
tslearn_spark.ckernel) must be bit-identical to the numpy forward pass
on every non-abandoned pair, and downstream-equivalent on tau2 paths —
the dispatch in kernels.dtw_banded_batch_mixed is unobservable in
results."""

import numpy as np
import pytest

import tslearn_spark.ckernel as ck
import tslearn_spark.kernels as K

LIB = ck.lib_or_none()

pytestmark = pytest.mark.skipif(
    LIB is None, reason="no C compiler available; numpy fallback active"
)


def _mixed(rs, n, lo=5, hi=100, d=1):
    if d == 1:
        return [rs.randn(rs.randint(lo, hi)) for _ in range(n)]
    return [rs.randn(rs.randint(lo, hi), d) for _ in range(n)]


def _numpy_path(fn, *args, **kw):
    """Run a kernels.* batcher with the C dispatch disabled."""
    saved = ck._lib
    ck._lib = None
    try:
        return fn(*args, **kw)
    finally:
        ck._lib = saved


class TestCKernelBitwise:
    @pytest.mark.parametrize("d", [1, 3])
    @pytest.mark.parametrize("radius", [None, 0, 2, 5, 20])
    def test_bitwise_vs_numpy(self, d, radius):
        rs = np.random.RandomState(11)
        aa, bb = _mixed(rs, 700, d=d), _mixed(rs, 700, d=d)
        c = ck.dtw_batch(aa, bb, radius)
        base = _numpy_path(K.dtw_banded_batch_mixed, aa, bb, radius)
        # bit-for-bit: both engines run the direct recurrence, one add
        # per cell over the same squared costs, and min is exact (no
        # FMA: built with -ffp-contract=off)
        assert (c == base).all()

    def test_dispatch_is_wired(self):
        """kernels.dtw_banded_batch_mixed actually takes the C path when
        the lib is loaded (guard against a silent fallback regression)."""
        rs = np.random.RandomState(3)
        aa, bb = _mixed(rs, 16), _mixed(rs, 16)
        called = {}
        orig = ck.dtw_batch

        def spy(*args, **kw):
            called["yes"] = True
            return orig(*args, **kw)

        ck.dtw_batch, saved = spy, ck.dtw_batch
        try:
            K.dtw_banded_batch_mixed(aa, bb, 5)
        finally:
            ck.dtw_batch = saved
        assert called.get("yes")

    def test_tau2_semantics(self):
        """Below-cap pairs bitwise equal; above-cap pairs either the
        exact value or +inf, and +inf only where the true value is
        provably above the cap (the caller contract: both are discarded
        identically by the seeded top-k)."""
        rs = np.random.RandomState(5)
        aa = [rs.randn(rs.randint(30, 100), 1) for _ in range(500)]
        bb = [rs.randn(rs.randint(30, 100), 1) for _ in range(500)]
        base = _numpy_path(K.dtw_banded_batch_mixed, aa, bb, 5)
        tau = np.full(500, float(np.percentile(base, 30)) ** 2)
        c = ck.dtw_batch(aa, bb, 5, tau)
        below = base ** 2 <= tau
        assert (c[below] == base[below]).all()
        above = ~below
        assert (np.isinf(c[above]) | (c[above] == base[above])).all()
        inf_cases = np.isinf(c) & ~np.isinf(base)
        assert (base[inf_cases] ** 2 > tau[inf_cases]).all()
        # inf cap == no pruning, bitwise
        assert (ck.dtw_batch(aa, bb, 5, np.full(500, np.inf)) == base).all()

    def test_extreme_length_ratios(self):
        """la >> lb and lb >> la (including la or lb == 1) keep the
        band-window bookkeeping exact in both engines."""
        rs = np.random.RandomState(9)
        aa = [rs.randn(1), rs.randn(99), rs.randn(2), rs.randn(50)]
        bb = [rs.randn(80), rs.randn(1), rs.randn(60), rs.randn(3)]
        for radius in (None, 2, 10):
            c = ck.dtw_batch(aa, bb, radius)
            base = _numpy_path(K.dtw_banded_batch_mixed, aa, bb, radius)
            assert (c == base).all()

    def test_kill_switch_falls_back(self, monkeypatch):
        """TSLEARN_SPARK_CKERNEL=0 leaves the numpy path running (fresh
        module state simulated by resetting the memo)."""
        monkeypatch.setenv("TSLEARN_SPARK_CKERNEL", "0")
        monkeypatch.setattr(ck, "_lib", None)
        monkeypatch.setattr(ck, "_tried", False)
        assert ck.lib_or_none() is None
        rs = np.random.RandomState(2)
        aa, bb = _mixed(rs, 8), _mixed(rs, 8)
        out = K.dtw_banded_batch_mixed(aa, bb, 5)  # must not raise
        assert np.isfinite(out).all()


def _numpy_index(sa, sb, ia, ib, radius, tau2=None):
    """The numpy batcher on the per-pair views of an index-form batch."""
    aa = [sa.series(i) for i in ia]
    bb = [sb.series(j) for j in ib]
    return _numpy_path(K.dtw_banded_batch_mixed, aa, bb, radius, tau2=tau2)


class TestIndexForm:
    """ckernel.dtw_index (pairs addressed by index into two flattened
    series sets, evaluated in 12-lane groups) against the numpy
    batcher, bit for bit."""

    @pytest.mark.parametrize("d", [1, 3])
    @pytest.mark.parametrize("radius", [None, 0, 5])
    def test_cross_layout(self, d, radius):
        """Query-major pairs over a length-sorted set, as the kNN
        broadcast path passes them; 7 x 13 = 91 pairs is not a multiple
        of the lane count, so the last group runs with idle lanes."""
        rs = np.random.RandomState(21)
        qs = _mixed(rs, 7, d=d)
        ts = sorted(_mixed(rs, 13, d=d), key=len)
        sa, sb = ck.flatten(qs), ck.flatten(ts)
        ia = np.repeat(np.arange(7), 13)
        ib = np.tile(np.arange(13), 7)
        assert (ck.dtw_index(sa, sb, ia, ib, radius)
                == _numpy_index(sa, sb, ia, ib, radius)).all()

    @pytest.mark.parametrize("d", [1, 3])
    @pytest.mark.parametrize("radius", [None, 0, 5])
    def test_mixed_lane_groups_and_extreme_lengths(self, d, radius):
        """Unsorted pairs: each 12-lane group mixes la > lb with la < lb,
        length-1 series and length ratios up to 1:120."""
        rs = np.random.RandomState(22)
        la = [1, 120, 2, 97, 1, 1, 50, 3, 120, 1, 64, 65, 7, 1, 30, 2,
              88, 1, 5, 119, 40, 1, 2, 3, 9]
        lb = [120, 1, 97, 2, 1, 64, 3, 50, 1, 120, 65, 64, 1, 7, 2, 30,
              1, 88, 119, 5, 1, 40, 3, 2, 9]
        shape = (lambda n: (n,)) if d == 1 else (lambda n: (n, d))
        sa = ck.flatten([rs.randn(*shape(n)) for n in la])
        sb = ck.flatten([rs.randn(*shape(n)) for n in lb])
        diff = np.sign(sa.lens[:12] - sb.lens[:12])
        assert (diff > 0).any() and (diff < 0).any()
        ia = ib = np.arange(len(la))
        assert (ck.dtw_index(sa, sb, ia, ib, radius)
                == _numpy_index(sa, sb, ia, ib, radius)).all()

    def test_tau2_abandons_some_lanes_of_a_group(self):
        """A cap between the group's distances abandons some of its lanes
        and not others; the survivors stay bitwise exact and every
        abandoned lane is provably above its cap."""
        rs = np.random.RandomState(23)
        sa = ck.flatten([rs.randn(80)])
        sb = ck.flatten(sorted((rs.randn(rs.randint(70, 90))
                                for _ in range(30)), key=len))
        ia, ib = np.zeros(30, dtype=np.int64), np.arange(30)
        base = _numpy_index(sa, sb, ia, ib, 5)
        tau = np.full(30, float(np.median(base)) ** 2)
        c = ck.dtw_index(sa, sb, ia, ib, 5, tau)
        below = base ** 2 <= tau
        assert (c[below] == base[below]).all()
        assert (np.isinf(c[~below]) | (c[~below] == base[~below])).all()
        first = np.isinf(c[:12])
        assert first.any() and not first.all()

    def test_rejects_out_of_range_pairs(self):
        s = ck.flatten([np.arange(3.0), np.arange(4.0)])
        with pytest.raises(IndexError):
            ck.dtw_index(s, s, [0, 2], [1, 1], 1)
        with pytest.raises(ValueError):
            ck.dtw_index(s, s, [0, 1], [1], 1)


class TestFallbackWarning:
    def test_raising_kernel_warns_once_and_numpy_answers(self, monkeypatch,
                                                         caplog):
        """A loaded kernel that raises falls back to the numpy batcher
        with one WARNING per process naming the exception type."""
        import logging

        rs = np.random.RandomState(4)
        aa, bb = _mixed(rs, 20), _mixed(rs, 20)
        want = _numpy_path(K.dtw_banded_batch_mixed, aa, bb, 5)

        def boom(*args, **kw):
            raise RuntimeError("kernel exploded")

        monkeypatch.setattr(ck, "dtw_batch", boom)
        monkeypatch.setattr(K, "_c_fallback_warned", False)
        with caplog.at_level(logging.WARNING, logger="tslearn_spark.kernels"):
            got = K.dtw_banded_batch_mixed(aa, bb, 5)
            again = K.dtw_banded_batch_mixed(aa, bb, 5)
        assert (got == want).all() and (again == want).all()
        recs = [r for r in caplog.records if r.name == "tslearn_spark.kernels"]
        assert len(recs) == 1
        assert recs[0].levelno == logging.WARNING
        assert "RuntimeError" in recs[0].getMessage()


def _worker_lib_loaded(spark) -> bool:
    """Whether a Python worker of the current environment loads the C
    kernel (one task)."""
    def probe(batches):
        import pandas as pd

        from tslearn_spark import ckernel

        for _ in batches:
            pass
        yield pd.DataFrame({"c": [ckernel.lib_or_none() is not None]})

    df = spark.range(1, numPartitions=1).mapInPandas(probe, "c boolean")
    return bool(df.collect()[0]["c"])


class TestBroadcastKnnPaths:
    @pytest.mark.parametrize("lo,hi,radius", [
        (8, 30, 2),     # plain pass over every pair
        (200, 260, 10),  # seed-and-cap pass (long series, wide bands)
    ])
    def test_c_and_numpy_give_identical_neighbors(self, spark, lo, hi,
                                                  radius):
        """The broadcast kNN path (flattened, length-sorted train set,
        index-form pairs) returns identical (id2, dist) and votes with the
        C kernel and with the numpy kernels: k=3, drop_self,
        multivariate."""
        from tslearn_spark import dataset as DS
        from tslearn_spark.neighbors import kneighbors, knn_classify

        rs = np.random.RandomState(24)
        X = [rs.randn(rs.randint(lo, hi), 2).tolist() for _ in range(30)]
        df = DS.dataset_to_df(spark, X, labels=[i % 3 for i in range(30)])

        def run():
            nn = sorted((r["id1"], r["rank"], r["id2"], r["dist"]) for r in
                        kneighbors(df, df, k=3, metric="dtw", drop_self=True,
                                   sakoe_chiba_radius=radius).collect())
            votes = sorted((r["series_id"], r["prediction"]) for r in
                           knn_classify(df, df, k=3, metric="dtw",
                                        sakoe_chiba_radius=radius).collect())
            return nn, votes

        assert _worker_lib_loaded(spark)
        with_c = run()
        env = spark.sparkContext.environment
        saved = ck._lib
        env["TSLEARN_SPARK_CKERNEL"] = "0"  # workers spawned for new env
        ck._lib = None
        try:
            assert not _worker_lib_loaded(spark)
            with_numpy = run()
        finally:
            del env["TSLEARN_SPARK_CKERNEL"]
            ck._lib = saved
        assert len(with_c[0]) == 30 * 3
        assert with_c == with_numpy
