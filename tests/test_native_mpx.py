"""Native (C) kernels must be byte-identical to their numpy paths.

Each native kernel is an optimization of the SAME op sequence (see
kernels/native_mpx.c); these sweeps drive both paths directly over
adversarial inputs — exact correlation ties (tiny alphabets, periodic
series), zero-variance windows (sig = inf branches), NaN/Inf data, edge
sizes around the diagonal batch and the 8/4/1-row groups — and require bit
equality of values AND indexes (tobytes comparison: array_equal would miss
-0.0 vs +0.0). The first-use gate (native.checked) is tested too.
"""

from __future__ import annotations

import numpy as np
import pytest

from matrixprofiler_spark.codecs import dod as dod_mod
from matrixprofiler_spark.codecs import gorilla as gorilla_mod
from matrixprofiler_spark.codecs import dod_decode, gorilla_decode
from matrixprofiler_spark.kernels import native as native_mod
from matrixprofiler_spark.kernels.mp import _mpx_core, _mpx_selftest, mpx
from matrixprofiler_spark.operators import mp_ops

SELFTESTS = {
    "mpx": _mpx_selftest,
    "tile": mp_ops._tile_selftest,
    "gorilla": gorilla_mod._gorilla_selftest,
    "dod": dod_mod._dod_selftest,
}


def _lib():
    lib = native_mod.checked("mpx", _mpx_selftest)
    if lib is None:
        pytest.skip("native mpx unavailable (no compiler?)")
    return lib


def _check(x, w):
    lib = _lib()
    x = np.ascontiguousarray(x, dtype=np.float64)
    a = _mpx_core(x, w, 0.5, True, True, lib=None)
    b = _mpx_core(x, w, 0.5, True, True, lib=lib)
    assert a["matrix_profile"].tobytes() == b["matrix_profile"].tobytes()
    assert a["profile_index"].tobytes() == b["profile_index"].tobytes()
    # idxs=False variant (NULL mpi pointer path)
    a2 = _mpx_core(x, w, 0.5, False, True, lib=None)
    b2 = _mpx_core(x, w, 0.5, False, True, lib=lib)
    assert a2["matrix_profile"].tobytes() == b2["matrix_profile"].tobytes()


def test_low_alphabet_ties():
    rng = np.random.default_rng(7)
    for n in (200, 300, 1024, 2100):
        for w in (8, 64, 128):
            if n - w + 1 >= 10:
                _check(rng.integers(0, 3, size=n).astype(np.float64), w)


def test_constant_runs_and_spikes():
    x = np.ones(500)
    x[100:120] = 5.0
    _check(x, 8)
    x = np.zeros(1000)
    x[::97] = 1.0
    _check(x, 16)


def test_periodic_exact_ties():
    _check(np.tile(np.arange(16, dtype=np.float64), 64), 32)
    _check(np.tile(np.array([1.0, 2.0]), 500), 8)


def test_smooth_and_token_like():
    rng = np.random.default_rng(11)
    for n in (1000, 5000):
        _check(np.sin(np.arange(n) * 0.1), 100)
        _check(rng.normal(size=n), 50)
        _check(rng.integers(0, 50257, size=n).astype(np.float64), 128)


def test_nan_inf_data():
    rng = np.random.default_rng(3)
    x = rng.normal(size=800)
    x[100] = np.nan
    x[400] = np.inf
    _check(x, 64)


def _group_edge_sizes(w):
    """n such that plen - exclusion leaves 0..3 full 8-row groups plus every
    remainder 0..7 (the remainder runs the 4- and 1-row groups)."""
    exclusion = round(w * 0.5) + 1
    return [w - 1 + exclusion + 8 * q + r for q in range(4) for r in range(8)]


def test_batch_boundary_sizes():
    # plen around diag_batch transitions (2^17 budget, cap 256); n = 140
    # runs no diagonal at all (plen 13 < exclusion 65)
    rng = np.random.default_rng(5)
    for n in (140, 513 + 127, 512 + 128, 2048 + 127):
        _check(rng.integers(0, 9, size=n).astype(np.float64), 128)
    # the native 8-row groups at the production w = 128 and at w = 8; the
    # random walk's tail repeats its head, so the last diagonals win
    for w in (128, 8):
        for n in _group_edge_sizes(w):
            _check(rng.integers(0, 3, size=n).astype(np.float64), w)
            x = np.cumsum(rng.normal(size=n))
            d = max(n - w + 1 - 8, 1)
            x[d:] = x[: n - d]
            _check(x, w)


def test_public_mpx_uses_sane_path():
    # whatever path mpx() picks must match the numpy reference core
    rng = np.random.default_rng(9)
    x = rng.integers(0, 5, size=700).astype(np.float64)
    a = mpx(x, 32)
    b = _mpx_core(np.ascontiguousarray(x), 32, 0.5, True, True, lib=None)
    assert a["matrix_profile"].tobytes() == b["matrix_profile"].tobytes()
    assert a["profile_index"].tobytes() == b["profile_index"].tobytes()


def test_kill_switch(monkeypatch):
    # MATRIXPROFILER_NO_NATIVE must force get_lib() to None for new state
    monkeypatch.setenv("MATRIXPROFILER_NO_NATIVE", "1")
    monkeypatch.setattr(native_mod, "_tried", False)
    monkeypatch.setattr(native_mod, "_lib", None)
    assert native_mod.get_lib() is None


def test_native_tile_minima_equality():
    """C rolling-QT tile kernel must be byte-identical to the numpy
    dgemm-block path on adversarial tiles (exact ties, zero-variance
    windows, near-diagonal exclusion bands, asymmetric shapes)."""
    from matrixprofiler_spark.operators.mp_ops import _tile_partial_minima

    lib = native_mod.checked("tile", mp_ops._tile_selftest)
    if lib is None:
        pytest.skip("native tile kernel unavailable")
    rng = np.random.default_rng(99)
    for trial in range(120):
        w = int(rng.choice([8, 16, 64, 128]))
        na_len = int(rng.integers(w + 1, 300))
        nb_len = int(rng.integers(w + 1, 300))
        alpha = int(rng.choice([2, 3, 50257]))
        ai = rng.integers(0, alpha, size=na_len).astype(np.int64)
        bi = rng.integers(0, alpha, size=nb_len).astype(np.int64)
        if rng.random() < 0.3:
            ai[10 : min(30, na_len)] = 7
        if rng.random() < 0.2:
            bi[:] = 3
        a_off = int(rng.integers(0, 3000))
        b_off = (a_off + int(rng.integers(0, 500))
                 if rng.random() < 0.5 else int(rng.integers(0, 3000)))
        both = bool(rng.random() < 0.7)
        ez = int(rng.choice([0, 4, 64]))
        gi = a_off + np.arange(ai.size - w + 1)
        gj = b_off + np.arange(bi.size - w + 1)
        ra = _tile_partial_minima(ai, bi, gi, gj, w, ez, both, _lib=None)
        rb = _tile_partial_minima(ai, bi, gi, gj, w, ez, both, _lib=lib)
        for va, vb in zip(ra, rb):
            if va is None and vb is None:
                continue
            assert np.asarray(va).tobytes() == np.asarray(vb).tobytes()


def _float_series(rng, kind, n):
    if kind == 0:
        return rng.normal(size=n)
    if kind == 1:
        return np.repeat(rng.normal(size=max(1, n // 7)), 7)[:n]
    if kind == 2:
        return rng.integers(np.iinfo(np.int64).min, np.iinfo(np.int64).max,
                            size=n, dtype=np.int64).view(np.float64)
    if kind == 3:
        return np.full(n, rng.choice([0.0, -0.0, np.inf, np.nan]))
    if kind == 4:
        # XORs confined to the low mantissa bits: leading zeros up to 63
        return 1.0 + rng.integers(0, 2 ** int(rng.integers(1, 52)),
                                  size=n) * 2.0 ** -52
    return np.round(rng.normal(size=n), 1)


def _int_series(rng, kind, n):
    if kind == 0:
        return rng.integers(-10, 10, size=n, dtype=np.int64).cumsum()
    if kind == 1:
        return np.arange(n, dtype=np.int64) * 60
    if kind == 2:
        return rng.integers(np.iinfo(np.int64).min, np.iinfo(np.int64).max,
                            size=n, dtype=np.int64)
    if kind == 3:
        return rng.integers(-3000, 3000, size=n, dtype=np.int64).cumsum()
    return np.full(n, 7, dtype=np.int64)


def _batches(rng, make):
    """Batches of 1-10 series mixing empty, single-value and longer series
    of every kind."""
    for _ in range(60):
        yield [make(rng, int(rng.integers(0, 6)),
                    int(rng.choice([0, 1, 2, int(rng.integers(3, 300))])))
               for _ in range(int(rng.integers(1, 11)))]


def test_native_codecs_equality():
    """C Gorilla/DoD batch encoders must be byte-identical to the numpy
    batch encoders (NaN payloads, +-0.0, infinities, repeats, int64
    extremes, single-value and empty series inside a batch), and every
    blob must round-trip."""
    lib = native_mod.get_lib()
    if lib is None:
        pytest.skip("native codecs unavailable")
    rng = np.random.default_rng(5)
    for batch in _batches(rng, _float_series):
        blobs = gorilla_mod._gorilla_many(batch, lib)
        assert blobs == gorilla_mod._gorilla_many(batch, None)
        for x, blob in zip(batch, blobs):
            assert (gorilla_decode(blob).view(np.uint64).tobytes()
                    == x.view(np.uint64).tobytes())
    for batch in _batches(rng, _int_series):
        blobs = dod_mod._dod_many(batch, lib)
        assert blobs == dod_mod._dod_many(batch, None)
        for x, blob in zip(batch, blobs):
            assert np.array_equal(dod_decode(blob), x)


def test_failing_selftest_pins_only_its_kernel(monkeypatch):
    """A raising self-test pins that one kernel to numpy for the process;
    the other kernels stay native and the public encoder's bytes do not
    change."""
    lib = native_mod.get_lib()
    if lib is None:
        pytest.skip("native library unavailable")
    rng = np.random.default_rng(8)
    batch = [rng.normal(size=50), np.empty(0), np.array([np.nan, -0.0])]
    expected = gorilla_mod.gorilla_encode_many(batch)

    def broken(lib):
        raise AssertionError("injected self-test failure")

    monkeypatch.setattr(native_mod, "_checked", {})
    monkeypatch.setattr(gorilla_mod, "_gorilla_selftest", broken)
    assert gorilla_mod.gorilla_encode_many(batch) == expected
    assert gorilla_mod.gorilla_encode(batch[0]) == expected[0]
    assert native_mod._checked == {"gorilla": None}
    for name in ("mpx", "tile", "dod"):
        assert native_mod.checked(name, SELFTESTS[name]) is lib


def test_library_exports_only_the_drivers():
    """The group bodies are static: the library's symbol table holds only
    the four entry points the Python side declares."""
    lib = native_mod.get_lib()
    if lib is None:
        pytest.skip("native library unavailable")
    for name in ("mpx_full", "tile_minima", "gorilla_encode_batch",
                 "dod_encode_batch"):
        assert hasattr(lib, name)
    for name in ("mpx_fused", "mpx_merge", "mpx_cc0", "row1",
                 "fused_group", "cc0_group"):
        assert not hasattr(lib, name)


@pytest.mark.parametrize("flags", native_mod._CFLAG_SETS,
                         ids=lambda f: " ".join(f[:2]))
def test_every_flag_set_passes_selftests(monkeypatch, flags):
    """Each compiler flag set get_lib may fall back to builds a library
    whose kernels all pass their self-tests and the MPX group-edge
    sweep."""
    monkeypatch.setattr(native_mod, "_CFLAG_SETS", [flags])
    monkeypatch.setattr(native_mod, "_tried", False)
    monkeypatch.setattr(native_mod, "_lib", None)
    monkeypatch.setattr(native_mod, "_checked", {})
    lib = native_mod.get_lib()
    if lib is None:
        pytest.skip("flag set does not build here")
    for name, selftest in SELFTESTS.items():
        selftest(lib)
    rng = np.random.default_rng(6)
    for n in _group_edge_sizes(128):
        x = rng.integers(0, 3, size=n).astype(np.float64)
        a = _mpx_core(x, 128, 0.5, True, True, lib=None)
        b = _mpx_core(x, 128, 0.5, True, True, lib=lib)
        assert a["matrix_profile"].tobytes() == b["matrix_profile"].tobytes()
        assert a["profile_index"].tobytes() == b["profile_index"].tobytes()
