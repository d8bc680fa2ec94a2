"""Delta-of-delta integer compression (Gorilla timestamp scheme, Pelkonen
et al. VLDB 2015 §4.1.1), for bucket ids / sequence offsets.

Stream layout (bit-aligned, MSB-first):
  [64b] first value (int64, two's complement)
  [64b] first delta
  per subsequent value, D = delta(i) - delta(i-1):
    '0'              D == 0
    '10'   +  7b     D in [-63, 64]
    '110'  +  9b     D in [-255, 256]
    '1110' + 12b     D in [-2047, 2048]
    '1111' + 64b     otherwise (full int64; Gorilla uses 32b for seconds,
                     we widen to cover arbitrary offsets)

Field values are stored biased (D + 2^(k-1) - 1 shifted into unsigned k-bit
range). Encode is one batch encoder — native C once its self-test passes,
else the vectorized numpy bit assembly that is its reference; decode is a
bit reader (or the lockstep-vectorized dod_decode_many).
"""

from __future__ import annotations

from functools import partial

import numpy as np

from ..kernels import native as _native
from .gorilla import _BitReader, _dshift, _encode_many, _native_batch, _pack

# (control prefix, prefix bits, payload bits, lo, hi) per non-zero class;
# payloads are stored biased by -lo, anything outside all three ranges is
# '1111' + the full 64 bits
_CLASSES = (
    (2, 2, 7, -63, 64),
    (6, 3, 9, -255, 256),
    (14, 4, 12, -2047, 2048),
)


def dod_encode(values: np.ndarray) -> bytes:
    """Encode an int64 array -> DoD bitstream (bytes), headed by its uint32
    count (little-endian)."""
    return dod_encode_many([values])[0]


def dod_encode_many(arrays) -> list[bytes]:
    """Encode MANY int64 series; blob j is ``dod_encode(arrays[j])``.

    The native C encoder runs once ``_dod_selftest`` has passed in the
    process; otherwise ``_dod_numpy`` — one vectorized bit assembly over
    the whole batch — which is the byte-for-byte reference. This is the
    encode hot path of the compression-policy job, where per-call
    overhead made 60-value segments cost ~0.4 ms each."""
    return _dod_many(arrays, _native.checked("dod", _dod_selftest))


def _dod_many(arrays, lib) -> list[bytes]:
    """``dod_encode_many`` on a given kernel (None: numpy)."""
    return _encode_many(arrays, np.int64, _dod_numpy if lib is None
                        else partial(_native_batch, lib.dod_encode_batch))


def _field(x, off, end):
    """(hi, lo, byte_off) record of the uint64 field ``x`` whose last bit
    lands ``end`` bits after bit offset ``off``."""
    hi, lo = _dshift(x, 128 - (off & 7) - end)
    return hi, lo, off >> 3


def _dod_numpy(v, sizes):
    total = v.size
    starts = np.concatenate(([0], np.cumsum(sizes)[:-1]))
    within = np.arange(total, dtype=np.int64) - np.repeat(starts, sizes)
    with np.errstate(over="ignore"):  # int64 wraparound, as in dod_decode
        delta = np.zeros(total, dtype=np.int64)
        delta[1:] = v[1:] - v[:-1]          # garbage at series firsts; masked
        dod = np.zeros(total, dtype=np.int64)
        dod[1:] = delta[1:] - delta[:-1]    # valid only where within >= 2
    raw = ((within == 0, v), (within == 1, delta))

    rest = within >= 2
    zero = rest & (dod == 0)
    left = rest & ~zero
    classes = []
    for prefix, plen, w, lo_b, hi_b in _CLASSES:
        m = left & (dod >= lo_b) & (dod <= hi_b)
        left &= ~m
        classes.append((m, prefix, plen, w, lo_b))
    classes.append((left, 15, 4, 64, 0))
    nbits = np.where(rest, 1, 64)
    for m, _, plen, w, _ in classes:
        nbits[m] = plen + w

    def records(sel, off):
        recs = [_field(x[sel][m[sel]].view(np.uint64), off[m[sel]], 64)
                for m, x in raw]
        for m, prefix, plen, w, lo_b in classes:
            m = m[sel]
            if not m.any():
                continue
            o = off[m]
            h1, l1, b = _field(np.full(o.size, prefix, dtype=np.uint64),
                               o, plen)
            h2, l2, _ = _field((dod[sel][m] - lo_b).view(np.uint64),
                               o, plen + w)
            recs.append((h1 | h2, l1 | l2, b))
        return recs

    return _pack(nbits, starts, sizes, records)


def _dod_selftest(lib) -> None:
    """Raise unless the native encoder reproduces the numpy bytes on
    adversarial batches: every delta-of-delta class and its edges,
    int64 wraparound, single values and empty series."""
    rng = np.random.default_rng(777)
    cases = [
        rng.integers(-10, 10, size=50, dtype=np.int64).cumsum(),
        np.array([7], dtype=np.int64),
        np.empty(0, dtype=np.int64),
        np.array([5, 5, 5, 5], dtype=np.int64),
        # delta-of-deltas on both sides of every class edge
        np.cumsum(np.cumsum(np.array(
            [0, 0, 64, -63, -64, 65, 256, -255, -256, 257, 2048, -2047,
             -2048, 2049], dtype=np.int64))),
        rng.integers(np.iinfo(np.int64).min // 2, np.iinfo(np.int64).max // 2,
                     size=40, dtype=np.int64),
        np.array([np.iinfo(np.int64).min, np.iinfo(np.int64).max, 0]),
    ]
    for batch in (cases, cases[:1]):
        if _dod_many(batch, lib) != _dod_many(batch, None):
            raise AssertionError("native dod mismatch")


def _gather_bits(buf: np.ndarray, bitpos: np.ndarray, k: int) -> np.ndarray:
    """Read ``k`` (1..64) MSB-first bits at each absolute bit position of
    ``bitpos`` from the uint8 buffer (vectorized 9-byte window gather).
    The buffer must have >= 16 padding bytes past the last read."""
    byi = bitpos >> 3
    sh = (bitpos & 7).astype(np.uint64)
    b = buf[byi[:, None] + np.arange(9)].astype(np.uint64)
    hi = (
        (b[:, 0] << np.uint64(56)) | (b[:, 1] << np.uint64(48))
        | (b[:, 2] << np.uint64(40)) | (b[:, 3] << np.uint64(32))
        | (b[:, 4] << np.uint64(24)) | (b[:, 5] << np.uint64(16))
        | (b[:, 6] << np.uint64(8)) | b[:, 7]
    )
    # 72-bit window anchored at byi: bits [sh, sh+64) of it
    w = (hi << sh) | (b[:, 8] >> (np.uint64(8) - sh))
    if k == 64:
        return w
    return w >> np.uint64(64 - k)


def _peek4(buf: np.ndarray, bitpos: np.ndarray) -> np.ndarray:
    """The next 4 bits at each position (2-byte window; cheap classify)."""
    byi = bitpos >> 3
    sh = bitpos & 7
    w = (buf[byi].astype(np.uint16) << 8) | buf[byi + 1]
    return (w >> (12 - sh)) & 0xF


def dod_decode_many(blobs) -> list[np.ndarray]:
    """Decode MANY DoD streams in one lockstep-vectorized pass.

    Value-identical to :func:`dod_decode` per blob (test-asserted), but the
    per-value control-flow branch runs as numpy mask ops ACROSS all series
    at a given value index instead of a Python bit-reader loop per value —
    the decode hot path of the compression-policy serving view, where a
    range read decodes thousands of ~60-value segments per Arrow batch."""
    n_all = len(blobs)
    if n_all == 0:
        return []
    datas = [bytes(b) for b in blobs]
    counts = np.array(
        [np.frombuffer(d[:4], dtype=np.uint32)[0] for d in datas],
        dtype=np.int64,
    )
    out_list: list[np.ndarray] = [np.empty(0, dtype=np.int64)] * n_all
    keep = np.nonzero(counts > 0)[0]
    if keep.size == 0:
        return out_list
    bodies = [datas[i][4:] for i in keep]
    blens = np.array([len(b) for b in bodies], dtype=np.int64)
    base = np.concatenate(([0], np.cumsum(blens)[:-1]))
    buf = np.frombuffer(b"".join(bodies) + b"\0" * 16, dtype=np.uint8)

    n = counts[keep]
    total = int(n.sum())
    flat = np.empty(total, dtype=np.int64)
    starts = np.concatenate(([0], np.cumsum(n)[:-1]))
    pos = base * 8

    # first value (raw 64b)
    cur = _gather_bits(buf, pos, 64).view(np.int64).copy()
    flat[starts] = cur
    pos = pos + 64
    delta = np.zeros(n.size, dtype=np.int64)
    # first delta (raw 64b) for series with >= 2 values
    m2 = np.nonzero(n >= 2)[0]
    if m2.size:
        delta[m2] = _gather_bits(buf, pos[m2], 64).view(np.int64)
        pos[m2] += 64
        with np.errstate(over="ignore"):
            cur[m2] = cur[m2] + delta[m2]
        flat[starts[m2] + 1] = cur[m2]

    max_n = int(n.max())
    for i in range(2, max_n):
        ai = np.nonzero(n > i)[0]
        p = pos[ai]
        c4 = _peek4(buf, p)
        is0 = (c4 & 8) == 0
        f7 = (c4 >> 2) == 2
        f9 = (c4 >> 1) == 6
        f12 = c4 == 14
        full = c4 == 15
        dod = np.zeros(ai.size, dtype=np.int64)
        for mask, plen, k, bias in ((f7, 2, 7, 63), (f9, 3, 9, 255),
                                    (f12, 4, 12, 2047)):
            sel = np.nonzero(mask)[0]
            if sel.size:
                dod[sel] = (_gather_bits(buf, p[sel] + plen, k)
                            .astype(np.int64) - bias)
        sel = np.nonzero(full)[0]
        if sel.size:
            dod[sel] = _gather_bits(buf, p[sel] + 4, 64).view(np.int64)
        nbits = np.select([is0, f7, f9, f12], [1, 9, 12, 16], default=68)
        pos[ai] = p + nbits
        with np.errstate(over="ignore"):
            d = delta[ai] + dod
            delta[ai] = d
            c = cur[ai] + d
        cur[ai] = c
        flat[starts[ai] + i] = c

    for j, ki in enumerate(keep):
        out_list[int(ki)] = flat[starts[j] : starts[j] + n[j]]
    return out_list


def dod_decode(data: bytes) -> np.ndarray:
    n = int(np.frombuffer(data[:4], dtype=np.uint32)[0])
    out = np.empty(n, dtype=np.int64)
    if n == 0:
        return out
    r = _BitReader(data[4:])
    out[0] = np.uint64(r.read(64)).astype(np.int64)
    if n == 1:
        return out
    delta = np.uint64(r.read(64)).astype(np.int64)
    with np.errstate(over="ignore"):  # int64 wraparound mirrors encode
        out[1] = out[0] + delta
    for i in range(2, n):
        if r.read1() == 0:
            dod = 0
        elif r.read1() == 0:
            dod = r.read(7) - 63
        elif r.read1() == 0:
            dod = r.read(9) - 255
        elif r.read1() == 0:
            dod = r.read(12) - 2047
        else:
            dod = np.uint64(r.read(64)).astype(np.int64)
        with np.errstate(over="ignore"):
            delta = delta + dod
            out[i] = out[i - 1] + delta
    return out
