"""Moving-window aggregation kernels.

Pure numpy/python reimplementations of the reference's windowed statistics
(matrixprofiler /root/reference/src/windowfunc.cpp), preserving the exact
floating-point operation order so outputs are bit-identical to the C++
golden vectors.

All kernels are trailing-window: input double[n] -> output double[n-w+1],
result aligned to window start, no edge padding
(/root/reference/R/windowfunc.R:3-12).

Exactness strategy
------------------
* ``movsum_ogita`` replicates the Ogita compensated two-sum sequence of
  src/windowfunc.cpp:147-180 with an explicit sequential loop (Python floats
  are IEEE doubles; each op maps 1:1 to the C++ op).
* **Integer fast path** (the 100-TB path): when the input consists of
  integer-valued doubles (token ids), every partial sum in the Ogita
  recurrence is an exact integer < 2^53, so the residual term is exactly 0 at
  every step and the compensated sum equals the plain integer sliding sum.
  Proof sketch: with exact adds, q = accum - p recovers m exactly, making
  every correction term 0 (two-sum of exactly-representable sums has zero
  error). Hence ``movsum_ogita(int_data) == int64-cumsum sliding sum``
  bit-for-bit, and we can use the vectorized integer path for token data
  while keeping the sequential loop for float data. Verified in
  tests/test_kernels_window.py.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from .mathfn import _F64, _as_f64


def _is_integral(x: np.ndarray) -> bool:
    """True if every value is an exactly-representable integer AND the
    whole-series cumulative sum stays below 2^53 — the condition under
    which int64 arithmetic is exact and therefore bit-identical to the
    Ogita compensated loop (see module docstring). Covers both raw tokens
    and their squares (e.g. 50257^2 * 16384 ~ 4e13 < 2^53)."""
    if x.dtype.kind in "iu" and x.dtype.itemsize <= 4:
        return True
    if x.dtype.kind != "f":
        return False
    if x.size == 0:
        return True
    if not np.isfinite(x).all():
        return False
    max_abs = float(np.max(np.abs(x))) if x.size else 0.0
    if max_abs * x.size >= 9007199254740992.0:  # 2^53
        return False
    return bool((x == np.floor(x)).all())


def movsum_ogita(data, window_size: int) -> np.ndarray:
    """Ogita-compensated moving sum (src/windowfunc.cpp:147-180).

    Bit-exact vs the reference: sequential two-sum loop for float data,
    provably-identical int64 sliding sum for integer-valued data.
    """
    x = _as_f64(data)
    w = int(window_size)
    n = x.size
    if _is_integral(x):
        xi = x.astype(np.int64)
        c = np.concatenate(([np.int64(0)], np.cumsum(xi)))
        return (c[w:] - c[:-w]).astype(_F64)

    xl = x.tolist()
    out = np.empty(n - w + 1, dtype=_F64)
    accum = xl[0]
    resid = 0.0
    for i in range(1, w):
        m = xl[i]
        p = accum
        accum = accum + m
        q = accum - p
        resid = resid + ((p - (accum - q)) + (m - q))
    out[0] = accum + resid
    for i in range(w, n):
        m = xl[i - w]
        nv = xl[i]
        p = accum - m
        q = p - accum
        r = resid + ((accum - (p - q)) - (m + q))
        accum = p + nv
        t = accum - p
        resid = r + ((p - (accum - t)) + (nv - t))
        out[i - w + 1] = accum + resid
    return out


def movsum(data, window_size: int, kind: str = "ogita", eps: float = 0.90) -> np.ndarray:
    """mov_sum dispatch (R/windowfunc.R:173-178)."""
    if kind == "ogita":
        return movsum_ogita(data, window_size)
    if kind == "normal":
        return _movsum_normal(data, window_size)
    if kind == "weighted":
        return _mov_weighted(data, window_size, eps, want="sum")
    if kind == "fading":
        return _mov_fading(data, window_size, eps, want="sum")
    raise ValueError(kind)


def _movsum_normal(data, window_size: int) -> np.ndarray:
    """Naive sliding add/subtract sum (src/windowfunc.cpp:125-144)."""
    x = _as_f64(data)
    w = int(window_size)
    if _is_integral(x):
        return movsum_ogita(x, w)  # identical for ints, vectorized
    xl = x.tolist()
    n = len(xl)
    out = np.empty(n - w + 1, dtype=_F64)
    s = 0.0
    for i in range(n):
        s = s + xl[i]
        if i >= w:
            s = s - xl[i - w]
        if i >= w - 1:
            out[i - w + 1] = s
    return out


def movmean(data, window_size: int, kind: str = "ogita", eps: float = 0.90) -> np.ndarray:
    """mov_mean dispatch (R/windowfunc.R:79-82)."""
    w = int(window_size)
    if kind == "ogita":
        return movsum_ogita(data, w) / w
    if kind == "normal":
        return _movmean_normal(data, w)
    if kind == "weighted":
        return _mov_weighted(data, w, eps, want="mean")
    if kind == "fading":
        return _mov_fading(data, w, eps, want="mean")
    raise ValueError(kind)


def _movmean_normal(data, window_size: int) -> np.ndarray:
    """Running mean with n counter (src/windowfunc.cpp:35-57)."""
    x = _as_f64(data)
    w = int(window_size)
    if _is_integral(x):
        return movsum_ogita(x, w) / _F64(w)
    xl = x.tolist()
    n = len(xl)
    out = np.empty(n - w + 1, dtype=_F64)
    s = 0.0
    cnt = 0.0
    for i in range(n):
        s = s + xl[i]
        cnt = cnt + 1
        if i >= w:
            s = s - xl[i - w]
            cnt = cnt - 1
        if i >= w - 1:
            out[i - w + 1] = s / cnt
    return out


def _mov_weighted(data, w: int, eps: float, want: str) -> np.ndarray:
    """Exponentially-weighted moving sum/mean/var with window eviction
    (src/windowfunc.cpp:286-312,344-366,395-424)."""
    x = _as_f64(data).tolist()
    n = len(x)
    alpha = eps ** (1.0 / w)
    aw1 = alpha ** (w - 1)
    out = np.empty(n - w + 1, dtype=_F64)
    s = 0.0
    s2 = 0.0
    cnt = 0.0
    for i in range(n):
        s = s * alpha + x[i]
        if want == "var":
            s2 = s2 * alpha + x[i] * x[i]
        cnt = cnt * alpha + 1
        if i >= w:
            s = s - x[i - w] * aw1
            if want == "var":
                s2 = s2 - (x[i - w] * x[i - w]) * aw1
            cnt = cnt - 1 * aw1
        if i >= w - 1:
            if want == "sum":
                out[i - w + 1] = s
            elif want == "mean":
                out[i - w + 1] = s / cnt
            else:
                out[i - w + 1] = s2 / cnt - ((s * s) / (cnt * cnt))
    return out


def _mov_fading(data, w: int, eps: float, want: str) -> np.ndarray:
    """Fading (no-eviction) exponential sum/mean/var
    (src/windowfunc.cpp:315-341,369-392,427-450)."""
    x = _as_f64(data).tolist()
    n = len(x)
    alpha = eps ** (1.0 / w)
    out = np.empty(n - w + 1, dtype=_F64)
    s = 0.0
    s2 = 0.0
    cnt = 0.0
    for i in range(n):
        s = s * alpha + x[i]
        if want == "var":
            s2 = s2 * alpha + x[i] * x[i]
        cnt = cnt * alpha + 1
        if i >= w - 1:
            if want == "sum":
                out[i - w + 1] = s
            elif want == "mean":
                out[i - w + 1] = s / cnt
            else:
                out[i - w + 1] = s2 / cnt - ((s * s) / (cnt * cnt))
    return out


def movvar(data, window_size: int, kind: str = "ogita", eps: float = 0.90) -> np.ndarray:
    """mov_var dispatch (R/windowfunc.R:127-130). Population variance."""
    w = int(window_size)
    x = _as_f64(data)
    if kind == "ogita":
        mu = movsum_ogita(x, w) / w
        d2 = movsum_ogita(x * x, w)
        return (d2 / w) - (mu * mu)
    if kind == "normal":
        return _movvar_normal(x, w)
    if kind == "weighted":
        return _mov_weighted(x, w, eps, want="var")
    if kind == "fading":
        return _mov_fading(x, w, eps, want="var")
    raise ValueError(kind)


def _movvar_normal(data, window_size: int) -> np.ndarray:
    """Naive sliding sum/sumsq variance (movvar2, src/windowfunc.cpp:97-122)."""
    x = _as_f64(data)
    w = int(window_size)
    if _is_integral(x):
        s = movsum_ogita(x, w)
        s2 = movsum_ogita(x * x, w)
        nf = _F64(w)
        return s2 / nf - ((s * s) / (nf * nf))
    xl = x.tolist()
    n = len(xl)
    out = np.empty(n - w + 1, dtype=_F64)
    s = 0.0
    s2 = 0.0
    cnt = 0.0
    for i in range(n):
        s = s + xl[i]
        s2 = s2 + xl[i] * xl[i]
        cnt = cnt + 1
        if i >= w:
            s = s - xl[i - w]
            s2 = s2 - xl[i - w] * xl[i - w]
            cnt = cnt - 1
        if i >= w - 1:
            out[i - w + 1] = s2 / cnt - ((s * s) / (cnt * cnt))
    return out


def movstd(data, window_size: int) -> np.ndarray:
    """mov_std (src/windowfunc.cpp:60-68): sqrt(E[x^2]-mean^2), no clip."""
    x = _as_f64(data)
    w = int(window_size)
    mu = movsum_ogita(x, w) / w
    d2 = movsum_ogita(x * x, w)
    var = (d2 / w) - (mu * mu)
    with np.errstate(invalid="ignore"):
        return np.sqrt(var)


def movmean_std(data, window_size: int) -> dict:
    """movmean_std (src/windowfunc.cpp:71-84): one pass ->
    {avg, sd, sig, sum, sqrsum} — our per-window 'stats' struct."""
    x = _as_f64(data)
    w = int(window_size)
    s = movsum_ogita(x, w)
    mean = s / w
    s2 = movsum_ogita(x * x, w)
    var = (s2 / w) - (mean * mean)
    with np.errstate(invalid="ignore", divide="ignore"):
        sd = np.sqrt(var)
        sig = np.sqrt(1.0 / (var * w))
    return {"avg": mean, "sd": sd, "sig": sig, "sum": s, "sqrsum": s2}


def muinvn(data, window_size: int) -> dict:
    """muinvn (src/windowfunc.cpp:453-468): moving average + stable inverse
    centered norm sig = 1/sqrt(sumx2 - w*mu^2). Feeds MPX."""
    x = _as_f64(data)
    w = int(window_size)
    mu = movsum_ogita(x, w) / w
    d2 = movsum_ogita(x * x, w)
    with np.errstate(invalid="ignore", divide="ignore"):
        sig = 1.0 / np.sqrt(d2 - mu * mu * w)
    return {"avg": mu, "sig": sig}


def movmin(data, window_size: int) -> np.ndarray:
    """mov_min (src/windowfunc.cpp:200-239). min/max have no FP-rounding
    ambiguity, so a vectorized O(n) implementation (pandas rolling, Cython
    monotonic deque) is exactly equal to the reference's caTools lazy-rescan
    loop on finite data."""
    x = _as_f64(data)
    w = int(window_size)
    if w > x.size:
        raise ValueError("window_size must be <= data size")
    if w <= 1:
        return x.copy()
    return pd.Series(x).rolling(w).min().to_numpy()[w - 1 :]


def movmax(data, window_size: int) -> np.ndarray:
    """mov_max (src/windowfunc.cpp:242-281)."""
    x = _as_f64(data)
    w = int(window_size)
    if w > x.size:
        raise ValueError("window_size must be <= data size")
    if w <= 1:
        return x.copy()
    return pd.Series(x).rolling(w).max().to_numpy()[w - 1 :]


def zero_crossing(data, window_size: int) -> np.ndarray:
    """zero_crossing (src/windowfunc.cpp:538-560): znorm whole series, count
    sign changes of adjacent pairs within each window's interior."""
    from .mathfn import znorm

    x = _as_f64(data)
    w = int(window_size)
    nd = znorm(x)
    n = x.size
    # pair k is (nd[k], nd[k+1]); window j counts pairs k in [j, j+w-3]
    ind = ((nd[1:] * nd[:-1]) < 0).astype(np.int64)
    span = w - 2  # number of pairs counted per window
    out = np.zeros(n - w + 1, dtype=np.int32)
    if span > 0:
        c = np.concatenate(([0], np.cumsum(ind)))
        out[:] = (c[span : span + n - w + 1] - c[: n - w + 1]).astype(np.int32)
    return out
