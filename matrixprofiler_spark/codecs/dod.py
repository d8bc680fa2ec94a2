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
range). Encode is vectorized numpy bit assembly; decode is a bit reader.
"""

from __future__ import annotations

import numpy as np

from .gorilla import _BitReader, _assemble, _dshift

_BUCKETS = (
    (7, -63, 64),
    (9, -255, 256),
    (12, -2047, 2048),
)


def dod_encode(values: np.ndarray) -> bytes:
    v = np.ascontiguousarray(values, dtype=np.int64)
    n = v.size
    if n == 0:
        return np.uint32(n).tobytes()
    from .gorilla import _native_codec_lib, _native_dod_many

    lib = _native_codec_lib()
    if lib is not None:
        return _native_dod_many(lib, [v], np.array([n], dtype=np.int64))[0]
    return _dod_encode_numpy(v)


def _dod_encode_numpy(v: np.ndarray) -> bytes:
    n = v.size
    header = np.uint32(n).tobytes()
    if n == 0:
        return header

    def rec(X, bit_off, nbits_after):
        """One field as a (hi, lo, byte_off) record: X's value ends
        ``nbits_after`` bits after ``bit_off``."""
        p = bit_off & 7
        hi, lo = _dshift(np.asarray(X, dtype=np.uint64), 128 - p - nbits_after)
        return hi, lo, bit_off >> 3

    z64 = np.zeros(1, dtype=np.int64)
    if n == 1:
        return header + _assemble([rec(v[:1].view(np.uint64), z64, 64)], 8).tobytes()

    delta = np.diff(v)
    dod = np.diff(delta) if n > 2 else np.empty(0, dtype=np.int64)
    m = dod.size

    zero = dod == 0
    fit7 = (~zero) & (dod >= -63) & (dod <= 64)
    fit9 = (~zero) & (~fit7) & (dod >= -255) & (dod <= 256)
    fit12 = (~zero) & (~fit7) & (~fit9) & (dod >= -2047) & (dod <= 2048)
    full = (~zero) & (~fit7) & (~fit9) & (~fit12)

    nbits = np.select(
        [zero, fit7, fit9, fit12, full],
        [1, 2 + 7, 3 + 9, 4 + 12, 4 + 64],
    ).astype(np.int64)
    total = 128 + int(nbits.sum())
    total_bytes = (total + 7) // 8

    recs = [
        rec(v[:1].view(np.uint64), z64, 64),
        rec(delta[:1].astype(np.int64).view(np.uint64), z64 + 64, 64),
    ]
    starts = (128 + np.concatenate(([0], np.cumsum(nbits)[:-1]))
              if m else np.empty(0, np.int64))
    # control prefix + biased payload per class ('10','110','1110','1111'),
    # OR-merged into one record per value
    for (w, lo_b, _hi), mask, prefix, plen in (
        (_BUCKETS[0], fit7, 2, 2),
        (_BUCKETS[1], fit9, 6, 3),
        (_BUCKETS[2], fit12, 14, 4),
        ((64, None, None), full, 15, 4),
    ):
        if not mask.any():
            continue
        so = starts[mask]
        p = so & 7
        h1, l1 = _dshift(np.full(int(mask.sum()), prefix, dtype=np.uint64),
                         128 - p - plen)
        payload = (dod[mask].view(np.uint64) if lo_b is None
                   else (dod[mask] - lo_b).astype(np.uint64))
        h2, l2 = _dshift(payload, 128 - p - plen - w)
        recs.append((h1 | h2, l1 | l2, so >> 3))

    return header + _assemble(recs, total_bytes).tobytes()


def dod_encode_many(arrays) -> list[bytes]:
    """Encode MANY int64 series in one vectorized bit-assembly.

    Byte-for-byte the same stream per series as :func:`dod_encode`
    (test-asserted), but amortizes the masked vector passes over the
    whole batch — the encode hot path of the compression-policy job,
    where per-call overhead made 60-value segments cost ~0.4 ms each
    (~6x per segment across the stat columns)."""
    arrays = [np.ascontiguousarray(a, dtype=np.int64) for a in arrays]
    all_sizes = np.array([a.size for a in arrays], dtype=np.int64)
    n_all = len(arrays)
    if n_all == 0:
        return []
    total = int(all_sizes.sum())
    if total == 0:
        return [np.uint32(0).tobytes()] * n_all
    keep = np.nonzero(all_sizes > 0)[0]
    arrays_ne = [arrays[i] for i in keep]
    sizes = all_sizes[keep]
    n_series = sizes.size

    from .gorilla import _native_codec_lib, _native_dod_many

    lib = _native_codec_lib()
    if lib is not None:
        blobs = _native_dod_many(lib, arrays_ne, sizes)
        out_n: list[bytes] = [np.uint32(0).tobytes()] * n_all
        for j in range(n_series):
            out_n[int(keep[j])] = blobs[j]
        return out_n

    v = np.concatenate(arrays_ne)
    starts = np.concatenate(([0], np.cumsum(sizes)[:-1]))
    ends = np.cumsum(sizes)
    within = np.arange(total, dtype=np.int64) - np.repeat(starts, sizes)
    is0 = within == 0
    is1 = within == 1
    with np.errstate(over="ignore"):  # int64 wraparound mirrors dod_encode
        delta = np.zeros(total, dtype=np.int64)
        delta[1:] = v[1:] - v[:-1]          # garbage at series firsts; masked
        dod = np.zeros(total, dtype=np.int64)
        dod[1:] = delta[1:] - delta[:-1]    # valid only where within >= 2

    rest = ~(is0 | is1)
    zero = rest & (dod == 0)
    fit7 = rest & ~zero & (dod >= -63) & (dod <= 64)
    fit9 = rest & ~zero & ~fit7 & (dod >= -255) & (dod <= 256)
    fit12 = rest & ~zero & ~fit7 & ~fit9 & (dod >= -2047) & (dod <= 2048)
    full = rest & ~zero & ~fit7 & ~fit9 & ~fit12

    nbits = np.select(
        [is0 | is1, zero, fit7, fit9, fit12, full],
        [64, 1, 2 + 7, 3 + 9, 4 + 12, 4 + 64],
    ).astype(np.int64)
    # per-series bit length, padded to a byte boundary so series streams
    # can be sliced out of the shared buffer independently
    series_bits = np.asarray(np.add.reduceat(nbits, starts), dtype=np.int64)
    padded_bits = ((series_bits + 7) // 8) * 8
    series_bit_starts = np.concatenate(([0], np.cumsum(padded_bits)[:-1]))
    wb = np.cumsum(nbits) - nbits
    wb = wb - np.repeat(wb[starts], sizes)
    offsets = np.repeat(series_bit_starts, sizes) + wb

    total_bytes = int(padded_bits.sum()) // 8
    byte_starts = series_bit_starts // 8
    byte_lens = padded_bits // 8

    # assemble in SERIES GROUPS (same cache-bounding as gorilla_encode_many)
    step = 1 << 18
    packed = np.empty(total_bytes, dtype=np.uint8)
    g0 = 0
    while g0 < n_series:
        g1 = g0
        vals = 0
        while g1 < n_series and (vals == 0 or vals + sizes[g1] <= step):
            vals += sizes[g1]
            g1 += 1
        v0, v1 = int(starts[g0]), int(ends[g1 - 1])
        gb0 = int(byte_starts[g0])
        gbytes = int(byte_starts[g1 - 1] + byte_lens[g1 - 1]) - gb0
        sel = slice(v0, v1)
        loc_off = offsets[sel] - gb0 * 8
        v_l, d_l, dod_l = v[sel], delta[sel], dod[sel]
        recs = []

        def raw64(mask_l, vals_i64):
            off = loc_off[mask_l]
            p = off & 7
            hi, lo = _dshift(vals_i64.astype(np.uint64), 128 - p - 64)
            recs.append((hi, lo, off >> 3))

        raw64(is0[sel], v_l[is0[sel]])
        raw64(is1[sel], d_l[is1[sel]])
        for (w, lo_b, _hi), mask, prefix, plen in (
            (_BUCKETS[0], fit7, 2, 2),
            (_BUCKETS[1], fit9, 6, 3),
            (_BUCKETS[2], fit12, 14, 4),
            ((64, None, None), full, 15, 4),
        ):
            mask_l = mask[sel]
            if not mask_l.any():
                continue
            off = loc_off[mask_l]
            p = off & 7
            h1, l1 = _dshift(
                np.full(off.size, prefix, dtype=np.uint64), 128 - p - plen)
            payload = (dod_l[mask_l].astype(np.uint64) if lo_b is None
                       else (dod_l[mask_l] - lo_b).astype(np.uint64))
            h2, l2 = _dshift(payload, 128 - p - plen - w)
            recs.append((h1 | h2, l1 | l2, off >> 3))
        packed[gb0 : gb0 + gbytes] = _assemble(recs, gbytes)
        g0 = g1

    out: list[bytes] = [np.uint32(0).tobytes()] * n_all
    for j in range(n_series):
        body = packed[byte_starts[j] : byte_starts[j] + byte_lens[j]].tobytes()
        out[int(keep[j])] = np.uint32(sizes[j]).tobytes() + body
    return out


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
