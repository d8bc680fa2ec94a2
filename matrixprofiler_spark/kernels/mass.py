"""MASS kernels — distance profile of one query window vs a whole series.

Reimplements matrixprofiler src/mass.cpp with numpy FFTs. The reference's
inverse FFT divides by n (src/fft.cpp:186-222, SCALING off in fft_work), so
``np.fft.ifft`` matches its convention directly.

All distance profiles here are SQUARED z-norm ED (the reference sqrt()s only
at the matrix-profile level). The reference's own MASS goldens are stored
rounded to 8 decimal places (tests/testthat/test-mass.R:9-10), which is the
parity contract — numpy vs R mixed-radix FFT agree to ~1 ulp on power-of-2
sizes (src/mass.cpp:414 always pads to a power of 2).
"""

from __future__ import annotations

import math

import numpy as np

from .mathfn import _F64, _as_f64
from .window import movmean_std, movsum_ogita


def set_k(grain: int, data_size: int, window_size: int) -> int:
    """Legalize chunk grain to a power of two in (w, n]
    (src/mass.cpp:346-365)."""
    grain = int(grain)
    if grain > data_size:
        grain = int(2 ** math.ceil(math.log2(math.sqrt(float(data_size)))))
    if grain <= window_size:
        grain = int(2 ** (math.ceil(math.log2(window_size)) + 1))
        if grain > data_size:
            grain = int(data_size)
    return grain


def mass_pre(data, window_size: int, query=None) -> dict:
    """mass_pre type='normalized' (src/mass.cpp:408-443)."""
    x = _as_f64(data)
    w = int(window_size)
    n = x.size
    stats = movmean_std(x, w)
    pad = int(2 ** math.ceil(math.log2(n)))
    padded = np.zeros(pad, dtype=_F64)
    padded[:n] = x
    data_fft = np.fft.fft(padded)
    if query is not None:
        q = _as_f64(query)
        qstats = movmean_std(q, w)
        qmean, qsd = qstats["avg"], qstats["sd"]
    else:
        qmean, qsd = stats["avg"], stats["sd"]
    return {
        "type": "normalized",
        "data_fft": data_fft,
        "data_size": n,
        "window_size": w,
        "data_mean": stats["avg"],
        "data_sd": stats["sd"],
        "query_mean": qmean,
        "query_sd": qsd,
    }


def mass_pre_abs(data, window_size: int, query=None) -> dict:
    """mass_pre type='absolute' (src/mass.cpp:446-473)."""
    x = _as_f64(data)
    w = int(window_size)
    n = x.size
    pad = int(2 ** math.ceil(math.log2(n)))
    padded = np.zeros(pad, dtype=_F64)
    padded[:n] = x
    data_fft = np.fft.fft(padded)
    sumx2 = movsum_ogita(x * x, w)
    sumy2 = movsum_ogita(_as_f64(query) ** 2, w) if query is not None else sumx2
    return {
        "type": "absolute",
        "data_fft": data_fft,
        "window_size": w,
        "data_size": n,
        "sumx2": sumx2,
        "sumy2": sumy2,
    }


def mass_pre_weighted(data, window_size: int, weights, query=None) -> dict:
    """mass_pre type='weighted'/'non_normalized' (src/mass.cpp:476-532).

    non_normalized = weighted with weights of 1 (R/mass.R:70)."""
    x = _as_f64(data)
    wv = _as_f64(weights)
    w = int(window_size)
    n = x.size
    stats = movmean_std(x, w)
    pad = int(2 ** math.ceil(math.log2(n)))
    padded = np.zeros(pad, dtype=_F64)
    padded[:n] = x
    rev_weight = np.zeros(pad, dtype=_F64)
    rev_weight[:w] = wv[::-1]
    sumw = float(np.cumsum(wv)[-1])
    data_fft = np.fft.fft(padded)
    w_fft = np.fft.fft(rev_weight)
    if query is not None:
        q = _as_f64(query)
        qstats = movmean_std(q, w)
        qmean, qsd = qstats["avg"], qstats["sd"]
    else:
        qmean, qsd = stats["avg"], stats["sd"]
    rng = slice(w - 1, n)
    data_w = np.fft.ifft(data_fft * w_fft).real
    data2_fft = np.fft.fft(padded * padded)
    data2_w = np.fft.ifft(data2_fft * w_fft).real
    sumxw2 = data2_w[rng]
    sumxw = data_w[rng]
    dmean, dsd = stats["avg"], stats["sd"]
    data_pre = (sumxw2 - 2 * sumxw * dmean + sumw * (dmean * dmean)) / (dsd * dsd)
    return {
        "type": "weighted",
        "data_fft": data_fft,
        "data_pre": data_pre,
        "data_size": n,
        "window_size": w,
        "data_mean": dmean,
        "data_sd": dsd,
        "query_mean": qmean,
        "query_sd": qsd,
        "weight": wv,
    }


def mass2(data_fft, query_window, data_size, window_size, data_mean, data_sd,
          query_mean, query_sd) -> dict:
    """MASS v2 FFT convolution (src/mass.cpp:93-124)."""
    w = int(window_size)
    n = int(data_size)
    rev_query = np.zeros(len(data_fft), dtype=_F64)
    rev_query[:w] = _as_f64(query_window)[::-1]
    z = np.fft.ifft(data_fft * np.fft.fft(rev_query)).real
    last_product = z[w - 1 : n].copy()
    dp = 2 * (w - (last_product - w * data_mean * query_mean) / (data_sd * query_sd))
    dp[dp < 0] = 0
    return {"distance_profile": dp, "last_product": last_product}


def mass3(query_window, data, data_size, window_size, data_mean, data_sd,
          query_mean, query_sd, grain: int = 4096) -> dict:
    """MASS v3 — chunked FFT with w-1 overlap (src/mass.cpp:127-225).

    Chunk loop and tail replicate the reference exactly; the single
    clip-at-zero over the whole profile happens at the end (line 217)."""
    x = _as_f64(data)
    q = _as_f64(query_window)
    w = int(window_size)
    n = int(data_size)
    plen = n - w + 1
    dist = np.zeros(plen, dtype=_F64)
    last = np.zeros(plen, dtype=_F64)
    grain = set_k(grain, n, w)

    rev_query = np.zeros(grain, dtype=_F64)
    rev_query[:w] = q[::-1]
    Y = np.fft.fft(rev_query)

    jump = grain - w + 1
    seq_end = n - grain
    j = 0
    while j <= seq_end:
        X = np.fft.fft(x[j : j + grain])
        z = np.fft.ifft(X * Y).real
        idx_end = j + grain - w
        with np.errstate(divide="ignore", invalid="ignore"):
            d = 2 * (w - (z[w - 1 : grain] - w * data_mean[j : idx_end + 1] * query_mean)
                     / (data_sd[j : idx_end + 1] * query_sd))
        dist[j : j + jump] = d
        last[j : j + jump] = z[w - 1 : grain]
        j += jump

    tail = n - j
    if tail >= w:
        X = np.fft.fft(x[j:n])
        Y2 = np.fft.fft(rev_query[:tail])
        z = np.fft.ifft(X * Y2).real
        with np.errstate(divide="ignore", invalid="ignore"):
            d = 2 * (w - (z[w - 1 : tail] - w * data_mean[j : n - w + 1] * query_mean)
                     / (data_sd[j : n - w + 1] * query_sd))
        dist[j:] = d
        last[j:] = z[w - 1 : tail]

    dist[dist < 0] = 0
    return {"distance_profile": dist, "last_product": last}


def mass_absolute(data_fft, query_window, data_size, window_size, sumx2, sumy2) -> dict:
    """Un-normalized squared ED: sumx2 - 2z + sumy2 (src/mass.cpp:64-90)."""
    w = int(window_size)
    n = int(data_size)
    rev_query = np.zeros(len(data_fft), dtype=_F64)
    rev_query[:w] = _as_f64(query_window)[::-1]
    z = np.fft.ifft(data_fft * np.fft.fft(rev_query)).real
    last_product = z[w - 1 : n].copy()
    dp = sumx2[: n - w + 1] - 2 * last_product + sumy2
    dp[dp < 0] = 0
    return {"distance_profile": dp, "last_product": last_product}


def mass_weighted(data_fft, query_window, data_size, window_size, data_mean,
                  data_sd, query_mean, query_sd, data_pre, weight,
                  normalized: bool = True) -> dict:
    """Weighted distance profile (src/mass.cpp:26-61)."""
    w = int(window_size)
    n = int(data_size)
    qw = _as_f64(query_window)
    wv = _as_f64(weight)
    query = (qw - query_mean) / query_sd if normalized else qw
    sumwy = float(np.cumsum(query * wv)[-1])
    sumwy2 = float(np.cumsum(wv * query * query)[-1])
    pad = len(data_fft)
    rq = np.zeros(pad, dtype=_F64)
    rq[:w] = query[::-1]
    rw = np.zeros(pad, dtype=_F64)
    rw[:w] = wv[::-1]
    z = np.fft.ifft(data_fft * np.fft.fft(rw * rq)).real
    last_product = z[w - 1 : n].copy()
    dp = data_pre - 2 * (last_product - sumwy * data_mean) / data_sd + sumwy2
    dp[dp < 0] = 0
    return {"distance_profile": dp, "last_product": last_product}


def mass(pre_obj: dict, data, query=None, index: int = 1, version: str = "v3") -> dict:
    """Top-level mass() dispatch (R/mass.R:105-189). ``index`` is 1-based,
    as in the reference."""
    w = pre_obj["window_size"]
    q = _as_f64(query if query is not None else data)
    query_window = q[index - 1 : index - 1 + w]
    t = pre_obj["type"]
    if t == "normalized":
        if version == "v3":
            return mass3(query_window, _as_f64(data), pre_obj["data_size"], w,
                         pre_obj["data_mean"], pre_obj["data_sd"],
                         pre_obj["query_mean"][index - 1], pre_obj["query_sd"][index - 1],
                         grain=4096)
        return mass2(pre_obj["data_fft"], query_window, pre_obj["data_size"], w,
                     pre_obj["data_mean"], pre_obj["data_sd"],
                     pre_obj["query_mean"][index - 1], pre_obj["query_sd"][index - 1])
    if t == "absolute":
        return mass_absolute(pre_obj["data_fft"], query_window, pre_obj["data_size"],
                             w, pre_obj["sumx2"], pre_obj["sumy2"][index - 1])
    if t in ("weighted", "non_normalized"):
        normalized = t == "weighted"
        weight = pre_obj["weight"] if normalized else np.ones(w, dtype=_F64)
        return mass_weighted(pre_obj["data_fft"], query_window, pre_obj["data_size"],
                             w, pre_obj["data_mean"], pre_obj["data_sd"],
                             pre_obj["query_mean"][index - 1], pre_obj["query_sd"][index - 1],
                             pre_obj["data_pre"], weight, normalized)
    raise ValueError(t)
