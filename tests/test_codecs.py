"""Round-trip exactness tests for the Gorilla / delta-of-delta codecs
(FIXTURES.md B3.5): decode(encode(x)) == x bit-for-bit, including +-0,
denormals, infinities and NaN payloads."""

from __future__ import annotations

import warnings

import numpy as np

from matrixprofiler_spark.codecs import (
    dod_decode,
    dod_encode,
    gorilla_decode,
    gorilla_encode,
)


def roundtrip_f64(x):
    __tracebackhide__ = True
    x = np.asarray(x, dtype=np.float64)
    back = gorilla_decode(gorilla_encode(x))
    assert back.size == x.size
    np.testing.assert_array_equal(back.view(np.uint64), x.view(np.uint64))


def test_gorilla_smooth_series():
    rng = np.random.default_rng(42)
    x = np.cumsum(rng.normal(size=5000)) + 100.0
    roundtrip_f64(x)
    # smooth series should actually compress
    assert len(gorilla_encode(x)) < x.nbytes


def test_gorilla_constant_series():
    x = np.full(1000, 3.14159)
    enc = gorilla_encode(x)
    roundtrip_f64(x)
    assert len(enc) < 200  # ~1 bit per repeat


def test_gorilla_special_values():
    x = np.array([0.0, -0.0, np.inf, -np.inf, np.nan, 5e-324, -5e-324,
                  np.float64(np.float64(1) / 3), 1e308, -1e308])
    roundtrip_f64(x)


def test_gorilla_nan_payload():
    x = np.array([1.0, 2.0, 3.0])
    u = x.view(np.uint64).copy()
    u[1] = np.uint64(0x7FF800000000BEEF)  # NaN with payload
    x2 = u.view(np.float64)
    roundtrip_f64(x2)


def test_gorilla_empty_and_single():
    roundtrip_f64(np.array([]))
    roundtrip_f64(np.array([42.0]))
    roundtrip_f64(np.array([np.nan]))


def test_gorilla_random_bits():
    rng = np.random.default_rng(7)
    u = rng.integers(0, 2**63, size=2000, dtype=np.int64).astype(np.uint64)
    roundtrip_f64(u.view(np.float64))


def roundtrip_i64(x):
    __tracebackhide__ = True
    x = np.asarray(x, dtype=np.int64)
    back = dod_decode(dod_encode(x))
    np.testing.assert_array_equal(back, x)


def test_dod_regular_offsets():
    x = np.arange(0, 100000, 60, dtype=np.int64)
    enc = dod_encode(x)
    roundtrip_i64(x)
    # constant stride -> ~1 bit per value
    assert len(enc) < x.size // 4 + 64


def test_dod_gappy_offsets():
    rng = np.random.default_rng(42)
    x = np.sort(rng.choice(10**7, size=3000, replace=False)).astype(np.int64)
    roundtrip_i64(x)


def test_dod_negative_and_large():
    roundtrip_i64(np.array([-(2**62), 0, 2**62, -5, 7, 7, 7]))
    roundtrip_i64(np.array([], dtype=np.int64))
    roundtrip_i64(np.array([99], dtype=np.int64))
    roundtrip_i64(np.array([99, -3], dtype=np.int64))
    # int64 wraparound in the first delta decodes silently, like the rest
    i64 = np.iinfo(np.int64)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        roundtrip_i64(np.array([i64.max, i64.min, 0], dtype=np.int64))


def test_dod_bucket_boundaries():
    # exercise every control-bit bucket boundary
    deltas = [0, 1, -63, 64, -64, 65, -255, 256, -256, 257, -2047, 2048,
              -2048, 2049, 10**12, -(10**12)]
    x = np.cumsum(np.cumsum(np.array(deltas, dtype=np.int64)))
    roundtrip_i64(x)


def test_dod_decode_many_matches_scalar_decoder():
    """dod_decode_many (the lockstep-vectorized batch decoder on the
    compressed serving path) must be value-identical to dod_decode per
    blob — including empty/1/2-value streams, every control-bit bucket,
    int64 extremes and wraparound deltas."""
    import numpy as np

    from matrixprofiler_spark.codecs import (
        dod_decode, dod_decode_many, dod_encode)

    rng = np.random.default_rng(11)
    arrays = [
        np.empty(0, dtype=np.int64),
        np.array([5], dtype=np.int64),
        np.array([5, -7], dtype=np.int64),
        np.zeros(60, dtype=np.int64),
        np.cumsum(np.cumsum(np.array(
            [0, 1, -63, 64, -64, 65, -255, 256, -256, 257, -2047, 2048,
             -2048, 2049, 10**12, -(10**12)], dtype=np.int64))),
        np.array([2**62, -(2**62), 2**62, -(2**62), 0], dtype=np.int64),
        np.array([np.iinfo(np.int64).min, np.iinfo(np.int64).max, -1, 1],
                 dtype=np.int64),
    ]
    for _ in range(100):
        k = int(rng.integers(0, 120))
        scale = 10 ** int(rng.integers(0, 12))
        arrays.append(
            rng.integers(-scale, scale + 1, size=k).astype(np.int64).cumsum())
    blobs = [dod_encode(a) for a in arrays]
    decoded = dod_decode_many(blobs)
    assert len(decoded) == len(blobs)
    for src, blob, out in zip(arrays, blobs, decoded):
        ref = dod_decode(blob)
        assert np.array_equal(ref, out)
        assert np.array_equal(src, out)
