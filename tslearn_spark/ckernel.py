"""Optional compiled DTW kernel (guide §4.2: native code inside the
Arrow boundary).

Compiles ``_dtw_kernel.c`` with the system C compiler into a per-machine
cache (`$TMPDIR/tslearn_spark_ck/dtw_<hash>.so`, the hash covering the
source, the compile flags and the compiler's version line) the first
time it is needed and loads it via ctypes.  Spark local-mode python
workers share the cache with the driver (the driver's import builds it
before workers spawn); at cluster scale each executor machine builds its
own copy once.

The kernel has one entry point, ``dtw_index``: DTW of index-addressed
pairs over two flattened series sets (``SeriesSet``), evaluated 12 pairs
at a time in a lane-interleaved layout (see the .c header).  The kNN
broadcast path flattens its train set once and passes pair indices;
``dtw_batch`` keeps the per-pair list API for the other callers by
flattening each list once and passing the identity pairs sorted by
(la - lb, la), so lanes of one group share their band shape.

Everything is best-effort: no compiler, a failed compile, or
``TSLEARN_SPARK_CKERNEL=0`` leaves ``lib_or_none()`` returning None and
the numpy kernels run unchanged.  A build or load that fails logs one
``tslearn_spark.ckernel`` WARNING with the exception and the tail of the
compiler's stderr (the kill switch stays silent);
``kernels._dtw_c_or_none`` logs one when a loaded kernel raises.  Both
engines run the reference recurrence with one add per cell, so the
compiled DP is bit-identical to the numpy forward pass on non-abandoned
pairs (see the .c header; pinned by tests/test_ckernel.py) and which
path executed does not change results.
"""

from __future__ import annotations

import ctypes
import hashlib
import logging
import os
import subprocess
import tempfile
import threading
from typing import NamedTuple

import numpy as np

_SRC = os.path.join(os.path.dirname(os.path.abspath(__file__)), "_dtw_kernel.c")
_CC = os.environ.get("TSLEARN_SPARK_CC", "gcc")
# -ffp-contract=off: FMA contraction would re-round (a-b)*(a-b)+acc and
# break bit-identity with the numpy kernel; everything else is plain
# IEEE double arithmetic on both sides.
_CFLAGS = ["-O3", "-ffp-contract=off", "-shared", "-fPIC"]

_log = logging.getLogger(__name__)
_lock = threading.Lock()
_lib = None
_tried = False

_I64P = np.ctypeslib.ndpointer(np.int64, flags="C_CONTIGUOUS")
_F64P = np.ctypeslib.ndpointer(np.float64, flags="C_CONTIGUOUS")


class SeriesSet(NamedTuple):
    """Series stored back to back: series ``q`` is
    ``buf[off[q] : off[q] + lens[q] * d]`` viewed as ``(lens[q], d)``."""

    buf: np.ndarray   # float64
    off: np.ndarray   # int64
    lens: np.ndarray  # int64
    d: int

    def series(self, q: int) -> np.ndarray:
        o = int(self.off[q])
        return self.buf[o : o + int(self.lens[q]) * self.d].reshape(-1, self.d)


def flatten(arrs: list) -> SeriesSet:
    """Copy a list of (len,) or (len, d) arrays into one ``SeriesSet``."""
    n = len(arrs)
    d = arrs[0].shape[1] if n and arrs[0].ndim > 1 else 1
    lens = np.fromiter((a.shape[0] for a in arrs), dtype=np.int64, count=n)
    off = np.zeros(n, dtype=np.int64)
    np.cumsum(lens[:-1] * d, out=off[1:])
    buf = np.concatenate(
        [np.ascontiguousarray(a, dtype=np.float64).reshape(-1) for a in arrs]
    ) if n else np.empty(0)
    return SeriesSet(buf, off, lens, d)


def _so_path() -> str:
    h = hashlib.sha256()
    with open(_SRC, "rb") as f:
        h.update(f.read())
    # a flag or compiler change must not load a build made without it
    h.update(" ".join(_CFLAGS).encode())
    ver = subprocess.run([_CC, "--version"], check=True, capture_output=True,
                         text=True, timeout=60).stdout
    h.update(ver.splitlines()[0].encode() if ver else b"")
    cache = os.environ.get("TSLEARN_SPARK_CK_DIR") or os.path.join(
        tempfile.gettempdir(), "tslearn_spark_ck")
    return os.path.join(cache, f"dtw_{h.hexdigest()[:16]}.so")


def lib_or_none():
    """The loaded kernel library, or None when unavailable/disabled."""
    global _lib, _tried
    if _tried:
        return _lib
    with _lock:
        if _tried:
            return _lib
        lib = None
        if os.environ.get("TSLEARN_SPARK_CKERNEL", "1") != "0":
            try:
                so = _so_path()
                if not os.path.exists(so):
                    os.makedirs(os.path.dirname(so), exist_ok=True)
                    # unique tmp + atomic rename: concurrent builders
                    # (32 local workers on a cold cache) cannot corrupt
                    # the file another process is dlopening
                    tmp = f"{so}.tmp.{os.getpid()}"
                    subprocess.run(
                        [_CC, *_CFLAGS, "-o", tmp, _SRC, "-lm"],
                        check=True, capture_output=True, text=True,
                        timeout=120)
                    os.replace(tmp, so)
                cand = ctypes.CDLL(so)
                cand.dtw_index.restype = None
                cand.dtw_index.argtypes = [
                    _F64P, _I64P, _I64P,        # bufA, offA, lenA
                    _F64P, _I64P, _I64P,        # bufB, offB, lenB
                    _I64P, _I64P,               # ia, ib
                    ctypes.c_longlong,          # n
                    ctypes.c_longlong,          # d
                    ctypes.c_longlong,          # radius (<0: none)
                    ctypes.c_void_p,            # tau2 (NULL: none)
                    _F64P,                      # out
                ]
                lib = cand
            except Exception as exc:
                # the numpy kernels are ~100x slower: say why, once
                err = getattr(exc, "stderr", None) or ""
                if isinstance(err, bytes):  # TimeoutExpired keeps bytes
                    err = err.decode(errors="replace")
                _log.warning("C DTW kernel unavailable, numpy kernels run "
                             "instead: %s: %s%s", type(exc).__name__, exc,
                             "\ncompiler stderr (tail):\n" + err[-2000:]
                             if err else "")
                lib = None
        _lib = lib
        _tried = True
        return _lib


def _checked(s: SeriesSet, idx, name: str) -> np.ndarray:
    """``idx`` as contiguous int64, after checking that it and every
    series it names lie inside ``s`` (the C side trusts both)."""
    idx = np.ascontiguousarray(idx, dtype=np.int64)
    if idx.size and (idx.min() < 0 or idx.max() >= len(s.lens)):
        raise IndexError(f"{name} out of range for a set of {len(s.lens)} series")
    if len(s.lens) and ((s.off < 0).any()
                        or (s.off + s.lens * s.d).max() > s.buf.size):
        raise ValueError(f"{name}: series offsets run past the buffer")
    return idx


def dtw_index(sa: SeriesSet, sb: SeriesSet, ia, ib, radius,
              tau2=None) -> np.ndarray:
    """DTW of the pairs (``sa`` series ``ia[p]``, ``sb`` series ``ib[p]``).

    Caller guarantees lib_or_none() is not None.  Returns the same
    doubles as the numpy kernels (bitwise, modulo the documented tau2
    inf-vs-above-cap freedom).  Runs fastest when neighbouring pairs
    have alike (la, lb), e.g. one query against a length-sorted set.
    """
    lib = lib_or_none()
    if sa.d != sb.d:
        raise ValueError(f"dimension mismatch: {sa.d} vs {sb.d}")
    ia = _checked(sa, ia, "ia")
    ib = _checked(sb, ib, "ib")
    n = len(ia)
    if len(ib) != n:
        raise ValueError(f"{n} ia entries vs {len(ib)} ib entries")
    out = np.empty(n, dtype=np.float64)
    if tau2 is None:
        tau_p = None
    else:
        tau_arr = np.ascontiguousarray(tau2, dtype=np.float64)
        if tau_arr.shape != (n,):
            raise ValueError(f"tau2 has shape {tau_arr.shape}, want ({n},)")
        tau_p = tau_arr.ctypes.data_as(ctypes.c_void_p)
    buf_a = np.ascontiguousarray(sa.buf, dtype=np.float64)
    buf_b = np.ascontiguousarray(sb.buf, dtype=np.float64)
    lib.dtw_index(buf_a, np.ascontiguousarray(sa.off, dtype=np.int64),
                  np.ascontiguousarray(sa.lens, dtype=np.int64),
                  buf_b, np.ascontiguousarray(sb.off, dtype=np.int64),
                  np.ascontiguousarray(sb.lens, dtype=np.int64),
                  ia, ib, n, sa.d, -1 if radius is None else int(radius),
                  tau_p, out)
    if n and out[0] == -1.0 and np.all(out == -1.0):
        raise MemoryError("dtw_index scratch allocation failed")
    return out


def dtw_batch(arrs_a: list, arrs_b: list, radius, tau2=None) -> np.ndarray:
    """``dtw_index`` over a per-pair list batch (pair p = arrs_a[p],
    arrs_b[p]): each list is flattened once and the pairs are passed
    sorted by (la - lb, la)."""
    if not arrs_a:
        return np.empty(0)
    sa, sb = flatten(arrs_a), flatten(arrs_b)
    order = np.lexsort((sa.lens, sa.lens - sb.lens))
    out = np.empty(len(order))
    out[order] = dtw_index(sa, sb, order, order, radius,
                           None if tau2 is None else np.asarray(tau2)[order])
    return out
