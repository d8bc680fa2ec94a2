"""Matrix-profile kernels: STOMP, STAMP, SCRIMP++, MPX, MPXAB, Contrast.

Reimplements matrixprofiler src/{stomp,stamp,scrimp,mpx,contrast}.cpp with
numpy, preserving the reference's exact semantics:

* exclusion zone = round(w*ez + eps) for stomp/stamp/scrimp
  (src/stomp.cpp:29), but round(w*ez + eps) + 1 for mpx (src/mpx.cpp:883);
* 1-based profile indexes, -1 = no match;
* sd < DBL_EPSILON windows -> +Inf distance; NA/Inf data zeroed and the
  containing windows masked via skip_location (src/stomp.cpp:36-51);
* Pearson clip-at-1 before ED conversion (src/mpx.cpp:981);
* mpxab's sig > 60 "wild sig" skip (src/mpx.cpp:1089,1130).

MPX is FFT-free and replicated with the exact sequential FP op order
(interleaved-term cumsum == the C++ two-add loop), so it is bit-identical
to the reference. STOMP/STAMP/SCRIMP seed rows go through FFTs where numpy
vs R's mixed-radix FFT agree to ~1 ulp; parity vs those goldens is asserted
at 1e-9 (they are cross-checked against bit-exact MPX by the four-way
equivalence test, mirroring the reference's own test-algorithms.R:44-52).
"""

from __future__ import annotations

import math

import numpy as np

from . import native as _native
from .mass import mass3, mass_pre, set_k
from .mathfn import _F64, _as_f64
from .window import muinvn

_EPS = np.finfo(np.float64).eps  # DBL_EPSILON

# Working-set budget, in elements, of one diagonal batch of the numpy MPX
# path (see _mpx_core): the result is bit-identical for any value; tuned
# for loaded throughput.
_DIAG_BUDGET = 1 << 17


def c_round(v: float) -> int:
    """C round() — half away from zero — for non-negative v. Python's
    round() rounds half to even, which disagrees with the reference at
    w*ez = k + 0.5 whenever w*ez >= 2 (the +DBL_EPSILON is absorbed by
    the double's ulp there): e.g. w=9, ez=0.5 -> C gives 5, Python 4,
    shrinking the exclusion zone by 1 (src/stomp.cpp:29)."""
    return int(math.floor(v + 0.5))


def _skip_locations(x: np.ndarray, w: int) -> np.ndarray:
    """Windows containing any NA/Inf (src/stomp.cpp:36-43)."""
    bad = ~np.isfinite(x)
    if not bad.any():
        return np.zeros(x.size - w + 1, dtype=bool)
    c = np.concatenate(([0], np.cumsum(bad.astype(np.int64))))
    return (c[w:] - c[:-w]) > 0


def _zero_bad(x: np.ndarray) -> np.ndarray:
    out = x.copy()
    out[~np.isfinite(out)] = 0.0
    return out


def stomp(data, window_size: int, query=None, exclusion_zone: float = 0.5,
          left_right_profile: bool = False) -> dict:
    """STOMP via the O(1) dot-product recurrence (src/stomp.cpp:26-184).

    Self-join when query is None; AB-join forces ez=0 (R/stomp.R:105).
    Returns squared-rooted matrix_profile + 1-based profile_index.
    ``left_right_profile`` adds LMP/RMP (min restricted to j<i / j>i,
    src/stomp.cpp:140-153); the reference invariant
    mp == pmin(left, right) is tested."""
    x = _as_f64(data)
    ez = float(exclusion_zone)
    self_join = query is None
    q = x if self_join else _as_f64(query)
    if not self_join:
        ez = 0.0
    w = int(window_size)
    exclusion = c_round(w * ez + _EPS)
    n = x.size
    qn = q.size
    psize = n - w + 1
    num_queries = qn - w + 1

    skip = _skip_locations(x, w)
    xd = _zero_bad(x)
    qd = xd if self_join else _zero_bad(q)

    mp = np.full(psize, np.inf, dtype=_F64)
    pi = np.full(psize, -1, dtype=np.int32)
    if left_right_profile:
        lmp = np.full(psize, np.inf, dtype=_F64)
        lpi = np.full(psize, -1, dtype=np.int32)
        rmp = np.full(psize, np.inf, dtype=_F64)
        rpi = np.full(psize, -1, dtype=np.int32)

    grain = set_k(4096, n, w)
    pre = mass_pre(xd, w, query=None if self_join else qd)
    dmean, dsd = pre["data_mean"], pre["data_sd"]
    qmean, qsd = pre["query_mean"], pre["query_sd"]

    nn = mass3(qd[:w], xd, n, w, dmean, dsd, qmean[0], qsd[0], grain)
    # reverse pre/nn for the AB first-product column (src/stomp.cpp:69-81)
    rpre = mass_pre(qd, w, query=xd)
    rnn = mass3(xd[:w], qd, qn, w, rpre["data_mean"], rpre["data_sd"],
                rpre["query_mean"][0], rpre["query_sd"][0], grain)
    first_product = rnn["last_product"]

    sd_small = dsd < _EPS
    drop_value = qd[0]
    last_product = None
    dp = None

    for i in range(num_queries):
        q_last = qd[i + w - 1]
        if i == 0:
            dp = nn["distance_profile"].copy()
            last_product = nn["last_product"].copy()
        else:
            # QT[j] = QT[j-1] - data[j-1]*drop + data[j+w-1]*q_last
            last_product[1:psize] = (last_product[0 : psize - 1]
                                     - xd[0 : psize - 1] * drop_value
                                     + xd[w:n] * q_last)
            last_product[0] = first_product[i]
            with np.errstate(divide="ignore", invalid="ignore"):
                dp = 2 * (w - (last_product - w * dmean * qmean[i]) / (dsd * qsd[i]))
            dp[dp < 0] = 0
        drop_value = qd[i]

        if exclusion > 0:
            exc_st = max(0, i - int(exclusion))
            exc_ed = min(psize - 1, i + int(exclusion))
            dcur = dp.copy()
            dcur[exc_st : exc_ed + 1] = np.inf
        else:
            dcur = dp.copy()
        dcur[sd_small] = np.inf
        if skip[i] if i < psize else False:
            dcur[:] = np.inf
        if qsd[i] < _EPS:
            dcur[:] = np.inf
        dcur[skip] = np.inf

        if left_right_profile and i < psize:
            # left profile: positions >= i see query i on their left
            seg = slice(i, psize)
            ldx = dcur[seg] < lmp[seg]
            lmp[seg][ldx] = dcur[seg][ldx]
            lpi[seg][ldx] = i
            # right profile: positions <= i see query i on their right
            seg2 = slice(0, i + 1)
            rdx = dcur[seg2] < rmp[seg2]
            rmp[seg2][rdx] = dcur[seg2][rdx]
            rpi[seg2][rdx] = i

        upd = dcur < mp
        mp[upd] = dcur[upd]
        pi[upd] = i + 1

    out = {
        "matrix_profile": np.sqrt(mp),
        "profile_index": pi,
        "partial": False,
        "ez": ez,
    }
    if left_right_profile:
        out["left_matrix_profile"] = np.sqrt(lmp)
        out["left_profile_index"] = lpi
        out["right_matrix_profile"] = np.sqrt(rmp)
        out["right_profile_index"] = rpi
    return out


def stamp(data, window_size: int, query=None, exclusion_zone: float = 0.5) -> dict:
    """STAMP — full MASS v3 per query window (src/stamp.cpp:26-122).

    The reference's randomized anytime order is irrelevant to the final
    result (min-merge is commutative); we iterate sequentially."""
    x = _as_f64(data)
    ez = float(exclusion_zone)
    self_join = query is None
    q = x if self_join else _as_f64(query)
    if not self_join:
        ez = 0.0
    w = int(window_size)
    exclusion = c_round(w * ez + _EPS)
    n = x.size
    qn = q.size
    psize = n - w + 1
    num_queries = qn - w + 1

    skip = _skip_locations(x, w)
    xd = _zero_bad(x)
    qd = xd if self_join else _zero_bad(q)

    mp = np.full(psize, np.inf, dtype=_F64)
    pi = np.full(psize, -1, dtype=np.int32)

    pre = mass_pre(xd, w, query=None if self_join else qd)
    dmean, dsd = pre["data_mean"], pre["data_sd"]
    qmean, qsd = pre["query_mean"], pre["query_sd"]
    grain = set_k(4096, n, w)
    sd_small = dsd < _EPS

    for i in range(num_queries):
        nn = mass3(qd[i : i + w], xd, n, w, dmean, dsd, qmean[i], qsd[i], grain)
        dp = nn["distance_profile"]
        if exclusion > 0:
            exc_st = max(0, i - int(exclusion))
            exc_ed = min(psize - 1, i + int(exclusion))
            dp[exc_st : exc_ed + 1] = np.inf
        dp[sd_small] = np.inf
        if (i < psize and skip[i]) or qsd[i] < _EPS:
            dp[:] = np.inf
        dp[skip] = np.inf
        upd = dp < mp
        mp[upd] = dp[upd]
        pi[upd] = i + 1

    return {
        "matrix_profile": np.sqrt(mp),
        "profile_index": pi,
        "partial": False,
        "ez": ez,
    }


def _mpx_selftest(lib) -> None:
    """Raise unless the native MPX driver reproduces the numpy bytes on
    adversarial inputs: exact correlation ties, zero-variance windows, and
    the production w = 128 at every remainder (plen - exclusion) mod 8, so
    the 8-, 4- and 1-row groups all run."""
    rng = np.random.default_rng(12345)
    x2 = np.ones(200, dtype=np.float64)
    x2[50:60] = 3.0
    cases = [(x, w) for x in (rng.integers(0, 3, size=257).astype(np.float64),
                              np.tile(np.arange(7.0), 40), x2)
             for w in (8, 16)]
    # w = 128 (exclusion 65): n = 208 + r leaves 16 + r diagonals. A random
    # walk whose tail repeats its head from diagonal plen - 8 (or - 4) on
    # makes the last diagonals the best matches, so the rows of the last
    # groups decide profile values (measured: every one-row corruption of
    # the 8-, 4- or 1-row bodies is caught).
    for r in range(8):
        for back in (8, 4):
            x = np.cumsum(rng.normal(size=208 + r))
            d = x.size - 128 + 1 - back
            x[d:] = x[: x.size - d]
            cases.append((x, 128))
    for x, w in cases:
        a = _mpx_core(x, w, 0.5, True, True, lib=None)
        b = _mpx_core(x, w, 0.5, True, True, lib=lib)
        if (a["matrix_profile"].tobytes() != b["matrix_profile"].tobytes()
                or a["profile_index"].tobytes()
                != b["profile_index"].tobytes()):
            raise AssertionError(f"native mpx mismatch (n={x.size}, w={w})")


def mpx(data, window_size: int, exclusion_zone: float = 0.5,
        idxs: bool = True, euclidean: bool = True) -> dict:
    """MPX self-join in Pearson space (src/mpx.cpp:880-996). Bit-exact.

    Per-diagonal O(1) correlation updates; diagonal order is irrelevant to
    the result (max-merge commutes; reference proves serial==parallel).
    The two-add C++ inner loop
        cc = cc + df[o]*dg[od] + df[od]*dg[o]
    is replicated bit-for-bit by cumsumming the interleaved term sequence
    [cc0+t1_0, t2_0, t1_1, t2_1, ...] (np.cumsum is strictly sequential).

    Two implementations (identical bits; the native one is used only after
    _mpx_selftest passes, via native.checked):
    * native C (kernels/native_mpx.c::mpx_full): one call over all
      diagonals in groups of 8 rows — a fused product/accumulate/scale
      pass with the rows' add chains interleaved to hide FP add latency,
      then the literal sequential merge loop — 5-8x the numpy path
      single-thread (the serial add chain is latency-bound and numpy's
      cumsum runs ~3x below that bound; fusing also removes two full
      memory passes per batch);
    * numpy reference and fallback: diagonal batches sized by
      _DIAG_BUDGET (interleaved-factor single multiply + in-place cumsum
      + two-multiply scaling).
    """
    lib = _native.checked("mpx", _mpx_selftest)
    return _mpx_core(_as_f64(data), int(window_size), float(exclusion_zone),
                     bool(idxs), bool(euclidean), lib=lib)


def _mpx_core(x, w, ez, idxs, euclidean, lib=None) -> dict:
    exclusion = c_round(w * ez + _EPS) + 1
    n = x.size
    plen = n - w + 1

    msd = muinvn(x, w)
    mu, sig = msd["avg"], msd["sig"]

    mp = np.full(plen, -1.0, dtype=_F64)
    mpi = np.full(plen, -1, dtype=np.int32)

    # differentials, 0-prepended (src/mpx.cpp:912-917)
    df = np.concatenate(([0.0], 0.5 * (x[w:n] - x[0 : n - w])))
    dg = np.concatenate(([0.0], (x[w:n] - mu[1:plen]) + (x[0 : n - w] - mu[0 : n - w])))
    ww = x[0:w] - mu[0]

    # Diagonals are processed in BATCHES — per-row op sequences are
    # untouched by batching, so every cc path (and thus every bit) is
    # identical to the one-diagonal-at-a-time loop; the merge stays
    # strictly diagonal-ordered (tie semantics). The batch budget is tuned
    # UNDER full 32-worker load, where the stage is aggregate-memory-
    # bandwidth-bound — see OPTIMIZATION_r07.md §3. The result is identical
    # for ANY batch size; only throughput changes.
    diag_batch = max(4, min(256, _DIAG_BUDGET // max(plen, 1)))
    arange_p1 = np.arange(plen, dtype=np.int32) + 1
    # Interleaved factor layout shared by both paths: one contiguous
    # multiply builds the whole term matrix —
    #   terms[i, 2k] = df[k]*dg[d0+i+k],  terms[i, 2k+1] = dg[k]*df[d0+i+k]
    #   == A[m] * Z[2*(d0+i) + m]
    # (identical factor values => identical product bits; replaces two
    # stride-2 half-writes with one sequential write pass).
    A = np.empty(2 * plen, dtype=_F64)
    A[0::2] = df
    A[1::2] = dg
    # pad covers the widest group either path reads past plen: the numpy
    # batch (diag_batch) or the C driver's 8-diagonal groups
    zpad = max(diag_batch, 8)
    Z = np.empty(2 * (plen + zpad), dtype=_F64)
    Z[0::2] = np.pad(dg, (0, zpad))
    Z[1::2] = np.pad(df, (0, zpad))
    sgp = np.pad(sig, (0, zpad))

    if lib is not None:
        # one call covers the whole kernel: the C driver processes
        # 8-diagonal groups (compute -> cache-warm merge; one pass over
        # the factor streams serves 8 diagonals, halving stream bytes per
        # pair vs the 4-wide form — the full-width aggregate is stream-
        # bandwidth-bound)
        mu_c = np.ascontiguousarray(mu)
        sig_c = np.ascontiguousarray(sig)
        ww_c = np.ascontiguousarray(ww)
        scratch = np.empty((8, plen), dtype=_F64)
        pd, pi_, nul = _native.ptr_d, _native.ptr_i, _native.null_i
        mpi_p = pi_(mpi) if idxs else nul()
        lib.mpx_full(pd(x), pd(mu_c), pd(ww_c), pd(A), pd(Z), pd(sig_c),
                     pd(sgp), pd(scratch), pd(mp), mpi_p,
                     plen, w, exclusion)
    else:
        windows = np.lib.stride_tricks.sliding_window_view(x, w)
        terms_buf = np.empty((diag_batch, 2 * plen), dtype=_F64)
        c_buf = np.empty((diag_batch, plen), dtype=_F64)
        for d0 in range(exclusion, plen, diag_batch):
            d1 = min(d0 + diag_batch, plen)
            B = d1 - d0
            maxoff = plen - d0
            # cc0 per diagonal: sequential w-term cumsum per row
            P = (windows[d0:d1] - mu[d0:d1, None]) * ww[None, :]
            cc0 = np.cumsum(P, axis=1)[:, -1]
            sg_s = np.lib.stride_tricks.sliding_window_view(sgp, maxoff)[d0:d1]
            terms = terms_buf[:B, : 2 * maxoff]
            Bmat = np.lib.stride_tricks.sliding_window_view(
                Z, 2 * maxoff)[2 * d0 :: 2][:B]
            with np.errstate(invalid="ignore"):
                np.multiply(A[None, : 2 * maxoff], Bmat, out=terms)
            np.add(cc0, terms[:, 0], out=terms[:, 0])
            np.cumsum(terms, axis=1, out=terms)
            cc_path = terms[:, 1::2]
            c_all = c_buf[:B, :maxoff]
            with np.errstate(invalid="ignore"):
                # same association as (cc_path * sig) * sg_s — identical bits
                np.multiply(cc_path, sig[None, 0:maxoff], out=c_all)
                np.multiply(c_all, sg_s, out=c_all)

            for i in range(B):
                diag = d0 + i
                off_max = plen - diag
                c_cmp = c_all[i, :off_max]
                # off_diag (cand2) writes land strictly before the offset
                # (cand1) comparison for any shared position (step k-diag <
                # step k), so two vectorized strict-> passes in that order
                # reproduce the sequential tie behavior exactly.
                seg = slice(diag, diag + off_max)
                upd2 = c_cmp > mp[seg]
                mp[seg][upd2] = c_cmp[upd2]
                if idxs:
                    mpi[seg][upd2] = arange_p1[:off_max][upd2]

                upd1 = c_cmp > mp[0:off_max]
                mp[0:off_max][upd1] = c_cmp[upd1]
                if idxs:
                    mpi[0:off_max][upd1] = arange_p1[:off_max][upd1] + diag

    mp[mp > 1.0] = 1.0
    if euclidean:
        mp = np.sqrt(2 * w * (1 - mp))

    out = {"matrix_profile": mp, "partial": False, "ez": ez}
    if idxs:
        out["profile_index"] = mpi
    return out


def mpxab(data, query, window_size: int, idxs: bool = True,
          euclidean: bool = True) -> dict:
    """MPX AB-join: AB + BA passes, sig>60 guard (src/mpx.cpp:999-1174)."""
    a = _as_f64(data)
    b = _as_f64(query)
    w = int(window_size)
    a_len, b_len = a.size, b.size
    plen_a = a_len - w + 1
    plen_b = b_len - w + 1

    msd_a = muinvn(a, w)
    msd_b = muinvn(b, w)
    mu_a, sig_a = msd_a["avg"], msd_a["sig"]
    mu_b, sig_b = msd_b["avg"], msd_b["sig"]

    mp_a = np.full(plen_a, -1.0, dtype=_F64)
    mpi_a = np.full(plen_a, -1, dtype=np.int32)
    mp_b = np.full(plen_b, -1.0, dtype=_F64)
    mpi_b = np.full(plen_b, -1, dtype=np.int32)

    df_a = np.concatenate(([0.0], 0.5 * (a[w:] - a[: a_len - w])))
    dg_a = np.concatenate(([0.0], (a[w:] - mu_a[1:plen_a]) + (a[: a_len - w] - mu_a[: a_len - w])))
    df_b = np.concatenate(([0.0], 0.5 * (b[w:] - b[: b_len - w])))
    dg_b = np.concatenate(([0.0], (b[w:] - mu_b[1:plen_b]) + (b[: b_len - w] - mu_b[: b_len - w])))

    def _pass(x1, mu1, sig1, df1, dg1, mp1, mpi1, x2, mu2, sig2, df2, dg2,
              mp2, mpi2, plen1, plen2, n1, n2):
        """One join pass: diagonals over series-1 vs series-2 windows.
        Writes mp2[offset] (cand at off_diag) and mp1[off_diag] (cand at
        offset); cc update order: cc + df1[od]*dg2[o] + dg1[od]*df2[o]."""
        ww = x2[0:w] - mu2[0]
        for diag in range(0, plen1):
            off_max = min(n1 - w - diag + 1, n2 - w + 1)
            if off_max <= 0:
                continue
            cc0 = float(np.cumsum((x1[diag : diag + w] - mu1[diag]) * ww)[-1])
            t1 = df1[diag : diag + off_max] * dg2[0:off_max]
            t2 = dg1[diag : diag + off_max] * df2[0:off_max]
            terms = np.empty(2 * off_max, dtype=_F64)
            terms[0::2] = t1
            terms[1::2] = t2
            terms[0] = cc0 + t1[0]
            cc_path = np.cumsum(terms)[1::2]
            ok = ~((sig2[0:off_max] > 60) | (sig1[diag : diag + off_max] > 60))
            c_cmp = (cc_path * sig2[0:off_max]) * sig1[diag : diag + off_max]

            # mp_b-style (offset) writes: distinct positions 0..off_max
            upd_b = ok & (c_cmp > mp2[0:off_max])
            mp2[0:off_max][upd_b] = c_cmp[upd_b]
            if idxs:
                mpi2[0:off_max][upd_b] = (np.arange(off_max, dtype=np.int32) + diag + 1)[upd_b]
            # mp_a-style (off_diag) writes
            seg = slice(diag, diag + off_max)
            upd_a = ok & (c_cmp > mp1[seg])
            mp1[seg][upd_a] = c_cmp[upd_a]
            if idxs:
                mpi1[seg][upd_a] = np.arange(1, off_max + 1, dtype=np.int32)[upd_a]

    # AB pass: diagonals over A, ww from B
    _pass(a, mu_a, sig_a, df_a, dg_a, mp_a, mpi_a,
          b, mu_b, sig_b, df_b, dg_b, mp_b, mpi_b,
          plen_a, plen_b, a_len, b_len)
    # BA pass: diagonals over B, ww from A
    _pass(b, mu_b, sig_b, df_b, dg_b, mp_b, mpi_b,
          a, mu_a, sig_a, df_a, dg_a, mp_a, mpi_a,
          plen_b, plen_a, b_len, a_len)

    mp_a[mp_a > 1.0] = 1.0
    mp_b[mp_b > 1.0] = 1.0
    if euclidean:
        mp_a = np.sqrt(2 * w * (1 - mp_a))
        mp_b = np.sqrt(2 * w * (1 - mp_b))

    out = {"matrix_profile": mp_a, "mpb": mp_b, "partial": False}
    if idxs:
        out["profile_index"] = mpi_a
        out["pib"] = mpi_b
    return out


def scrimpab(data, query, window_size: int) -> dict:
    """SCRIMP AB-join (src/scrimp.cpp:461-638), reimplemented with
    vectorized per-diagonal numpy.

    Faithful reference semantics, including its quirks:
    * data and query MUST have the same length (R/scrimp.R:33-35 raises
      "must have the same size using the `scrimp` algorithm (for now)");
    * ``compute_order = orig_index[orig_index > 1]`` (src/scrimp.cpp:516)
      visits only diagonals i >= 2 in BOTH passes, so window pairs with
      |data_off - query_off| <= 1 are never compared — an observable
      deviation from STOMP-AB / MPXAB that we preserve (and test against a
      diagonal-masked brute force);
    * NA/Inf values are zeroed but skip_location is never applied in the
      AB path (src/scrimp.cpp:473-487 computes it, nothing reads it);
    * exclusion zone reported as 0; 1-based profile indexes; sqrt at end.
    """
    a = _as_f64(data)
    b = _as_f64(query)
    w = int(window_size)
    if a.size != b.size:
        raise ValueError(
            "data and query must have the same size for scrimpab "
            "(R/scrimp.R:33-35)"
        )
    n = a.size
    m = n - w + 1

    ad = _zero_bad(a)
    bd = _zero_bad(b)

    from .window import movmean_std

    dstats = movmean_std(ad, w)
    qstats = movmean_std(bd, w)
    dmean, dsd = dstats["avg"], dstats["sd"]
    qmean, qsd = qstats["avg"], qstats["sd"]

    mpa = np.full(m, np.inf, dtype=_F64)
    pia = np.full(m, -1, dtype=np.int64)
    mpb = np.full(m, np.inf, dtype=_F64)
    pib = np.full(m, -1, dtype=np.int64)

    def _pass(x, xmean, xsd, y, ymean, ysd, mp_y, pi_y, mp_x, pi_x):
        """Diagonals i>=2 of (x window j-i) vs (y window j); updates the
        y-side profile at j (index j-i) and the x-side at j-i (index j)."""
        for i in range(2, m):
            z0 = float(np.cumsum(x[0:w] * y[i : i + w])[-1])
            cnt = m - i  # offsets j = i .. m-1
            if cnt > 1:
                terms = (x[w : w + cnt - 1] * y[i + w : i + w + cnt - 1]
                         - x[0 : cnt - 1] * y[i : i + cnt - 1])
                z = np.concatenate(([z0], np.cumsum(terms) + z0))
            else:
                z = np.array([z0], dtype=_F64)
            with np.errstate(invalid="ignore", divide="ignore"):
                d = 2 * (w - (z - w * ymean[i:m] * xmean[0:cnt])
                         / (ysd[i:m] * xsd[0:cnt]))
            d[d < 0] = 0
            # y-side profile at offsets i..m-1 (neighbor = x offset j-i)
            seg = slice(i, m)
            upd = d < mp_y[seg]
            mp_y[seg][upd] = d[upd]
            pi_y[seg][upd] = (np.arange(cnt, dtype=np.int64))[upd]
            # x-side profile at offsets 0..cnt-1 (neighbor = y offset j)
            seg2 = slice(0, cnt)
            upd2 = d < mp_x[seg2]
            mp_x[seg2][upd2] = d[upd2]
            pi_x[seg2][upd2] = (np.arange(cnt, dtype=np.int64) + i)[upd2]

    # pass 1: query diagonals (query offset = data offset + i)
    _pass(ad, dmean, dsd, bd, qmean, qsd, mpb, pib, mpa, pia)
    # pass 2: data diagonals (data offset = query offset + i)
    _pass(bd, qmean, qsd, ad, dmean, dsd, mpa, pia, mpb, pib)

    return {
        "matrix_profile": np.sqrt(mpa),
        "profile_index": (pia + 1).astype(np.int32),
        "mpb": np.sqrt(mpb),
        "pib": (pib + 1).astype(np.int32),
        "partial": False,
        "ez": 0,
    }


def scrimp(data, window_size: int, query=None, exclusion_zone: float = 0.5,
           pre_scrimp: float = 0.25) -> dict:
    """SCRIMP++ (src/scrimp.cpp:26-280): PRE-SCRIMP sampled anchors with
    cumsum dot-product refinement, then full diagonal SCRIMP traversal.

    AB-join (query != None): the reference's scrimpab_rcpp
    (src/scrimp.cpp:461-638; same-size series only, R/scrimp.R:33-35)."""
    if query is not None:
        return scrimpab(data, query, window_size)
    x = _as_f64(data)
    w = int(window_size)
    ez = float(exclusion_zone)
    exclusion = c_round(w * ez + _EPS)
    n = x.size
    psize = n - w + 1

    skip = _skip_locations(x, w)
    xd = _zero_bad(x)

    mp = np.full(psize, np.inf, dtype=_F64)
    pi = np.full(psize, -1, dtype=np.int64)

    grain = set_k(w, n, w)
    pre = mass_pre(xd, w)
    dmean, dsd = pre["data_mean"], pre["data_sd"]
    sd_small = dsd < _EPS

    if pre_scrimp > 0:
        step = int(math.floor(w * pre_scrimp + _EPS))
        anchors = list(range(0, psize, step))
        dot = np.zeros(psize, dtype=_F64)
        refine = np.full(psize, np.inf, dtype=_F64)
        first = True
        for i in anchors:
            nn = mass3(xd[i : i + w], xd, n, w, dmean, dsd, dmean[i], dsd[i], grain)
            dp = nn["distance_profile"]
            exc_st = max(0, i - exclusion) if exclusion > 0 else 0
            exc_ed = min(psize - 1, i + exclusion) if exclusion > 0 else 0
            dp[exc_st : exc_ed + 1] = np.inf
            dp[sd_small] = np.inf
            if skip[i] or dsd[i] < _EPS:
                dp[:] = np.inf
            dp[skip] = np.inf

            if first:
                mp = dp.copy()
                pi.fill(i)
                min_idx = int(np.argmin(dp))
                pi[i] = min_idx
                mp[i] = dp[min_idx]
                first = False
            else:
                upd = dp < mp
                pi[upd] = i
                mp[upd] = dp[upd]
                min_idx = int(np.argmin(dp))
                pi[i] = min_idx
                mp[i] = dp[min_idx]

            idx_nn = int(pi[i])
            idx_diff = idx_nn - i
            with np.errstate(invalid="ignore"):
                dot[i] = ((w - (mp[i] / 2)) * dsd[i] * dsd[idx_nn]
                          + w * dmean[i] * dmean[idx_nn])

            endidx = min(psize - 1, i + step - 1)
            endidx = min(endidx, psize - idx_diff - 1)
            if i < endidx:
                m = endidx - i  # number of refined positions i+1..endidx
                prod_fwd = (xd[i + w : endidx + w] * xd[idx_nn + w : endidx + w + idx_diff]
                            - xd[i : endidx] * xd[idx_nn : endidx + idx_diff])
                dot[i + 1 : endidx + 1] = np.cumsum(prod_fwd) + dot[i]
                sl1 = slice(i + 1, endidx + 1)
                sl2 = slice(idx_nn + 1, endidx + idx_diff + 1)
                with np.errstate(invalid="ignore", divide="ignore"):
                    refine[sl1] = 2 * (w - (dot[sl1] - dmean[sl1] * dmean[sl2] * w)
                                       / (dsd[sl1] * dsd[sl2]))

            beginidx = 0 if (i + 1) <= step else i + 1 - step
            if idx_diff < 0:
                beginidx = max(beginidx, abs(idx_diff))
            if i > 0 and i > beginidx:
                # reversed traversal i-1 down to beginidx
                rev1 = np.arange(i - 1, beginidx - 1, -1)
                prod_rev = (xd[rev1] * xd[rev1 + idx_diff]
                            - xd[rev1 + w] * xd[rev1 + idx_diff + w])
                dot[rev1] = np.cumsum(prod_rev) + dot[i]
                sl2f = slice(beginidx, i)
                sl3 = slice(beginidx + idx_diff, idx_nn)
                with np.errstate(invalid="ignore", divide="ignore"):
                    refine[sl2f] = 2 * (w - (dot[sl2f] - dmean[sl2f] * dmean[sl3] * w)
                                        / (dsd[sl2f] * dsd[sl3]))

            refine[refine < 0] = 0

            u1 = slice(beginidx, endidx + 1)
            u2 = slice(beginidx + idx_diff, endidx + idx_diff + 1)
            pos1 = np.nonzero(refine[u1] < mp[u1])[0] + beginidx
            mp[pos1] = refine[pos1]
            pi[pos1] = pos1 + idx_diff
            pos2 = np.nonzero(refine[u1] < mp[u2])[0]
            mp[pos2 + beginidx + idx_diff] = refine[pos2 + beginidx]
            pi[pos2 + beginidx + idx_diff] = pos2 + beginidx

    # SCRIMP diagonal phase (src/scrimp.cpp:200-280)
    curlastz = np.zeros(psize, dtype=_F64)
    for i in range(exclusion + 1, psize):
        curlastz[i] = float(np.cumsum(xd[0:w] * xd[i : i + w])[-1])
        if i < psize - 1:
            curlastz[i + 1 : psize] = (np.cumsum(xd[w : n - i] * xd[i + w : n]
                                                 - xd[0 : psize - i - 1] * xd[i : psize - 1])
                                       + curlastz[i])
        curdist = np.full(psize, np.nan, dtype=_F64)
        with np.errstate(invalid="ignore", divide="ignore"):
            curdist[i:psize] = 2 * (w - (curlastz[i:psize] - w * dmean[i:psize] * dmean[0 : psize - i])
                                    / (dsd[i:psize] * dsd[0 : psize - i]))
        curdist[i:psize][curdist[i:psize] < 0] = 0

        dist1 = np.full(psize, np.inf, dtype=_F64)
        dist1[i:psize] = curdist[i:psize]
        dist2 = np.full(psize, np.inf, dtype=_F64)
        dist2[0 : psize - i] = curdist[i:psize]

        loc1 = dist1 < mp
        mp[loc1] = dist1[loc1]
        pi[loc1] = np.nonzero(loc1)[0] - i
        loc2 = dist2 < mp
        mp[loc2] = dist2[loc2]
        pi[loc2] = np.nonzero(loc2)[0] + i

    return {
        "matrix_profile": np.sqrt(mp),
        "profile_index": (pi + 1).astype(np.int32),
        "partial": False,
        "ez": ez,
    }


def contrast(negative_data, positive_data, window_size: int,
             exclusion_zone: float = 0.5, euclidean: bool = True) -> dict:
    """Contrast Profile (src/contrast.cpp:22-88):
    CP = (clip(MP_ab) - clip(MP_aa)) / sqrt(2w), clipped >= 0."""
    neg = _as_f64(negative_data)
    pos = _as_f64(positive_data)
    w = int(window_size)

    ab = mpxab(pos, neg, w, idxs=False, euclidean=euclidean)
    aa = mpx(pos, w, exclusion_zone=exclusion_zone, idxs=True, euclidean=euclidean)

    mp_aa = aa["matrix_profile"].copy()
    mp_ab = ab["matrix_profile"].copy()
    if euclidean:
        clip = math.sqrt(2 * w)
        mp_ab[mp_ab > clip] = clip
        mp_aa[mp_aa > clip] = clip
        cp = (mp_ab - mp_aa) / math.sqrt(2 * w)
        cp[cp < 0] = 0
    else:
        mp_ab[mp_ab < 0] = 0
        mp_aa[mp_aa < 0] = 0
        cp = mp_aa - mp_ab
        cp[cp < 0] = 0

    plato_idx = int(np.argmax(cp))
    plato_nn_idx = int(aa["profile_index"][plato_idx]) - 1
    return {
        "contrast_profile": cp,
        "plato": pos[plato_idx : plato_idx + w].copy(),
        "plato_nn": pos[plato_nn_idx : plato_nn_idx + w].copy(),
        "plato_idx": plato_idx + 1,
        "plato_nn_idx": plato_nn_idx + 1,
        "w": w,
        "ez": exclusion_zone,
        "euclidean": euclidean,
    }
