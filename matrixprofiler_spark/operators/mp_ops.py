"""Matrix-profile operators over the tokens table — the reference's
top-level "queries" (stomp/mpx/mass) as distributed per-doc kernels.

Each doc's token series is one kernel invocation (the direct analog of the
reference's per-series C++ calls, SURVEY.md §2.10); results are emitted as
Gorilla/DoD-compressed binary columns like the rollup tiers. Cost is
O(n^2) per doc (vectorized diagonals), so the per-doc operator takes an
explicit ``max_tokens`` cap (flagged, never silent) and relies on salted
partitioning for skew; ``matrix_profile_distributed`` below removes the
one-task-per-doc limit entirely by tiling the distance matrix across
tasks.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..codecs import dod_encode, gorilla_encode
from ..kernels import native as _native
from ..kernels.mp import mpx, stomp

MP_BLOBS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("source", T.StringType(), False),
        T.StructField("w", T.IntegerType(), False),
        T.StructField("n_tok", T.IntegerType(), False),
        T.StructField("n_used", T.IntegerType(), False),
        T.StructField("truncated", T.BooleanType(), False),
        T.StructField("profile_len", T.IntegerType(), False),
        T.StructField("mp_blob", T.BinaryType(), True),
        T.StructField("pi_blob", T.BinaryType(), True),
        T.StructField("algo", T.StringType(), False),
    ]
)


def salted(df: DataFrame, num_partitions: int) -> DataFrame:
    """Hash repartition on (source, doc_id) for the per-doc matrix
    profile, whose O(n^2) cost per doc does not follow the bytes of an
    input split, so merging splits cannot balance it; spreading docs
    uniformly does. The linear rollup kernels coalesce their input's
    splits instead (``operators/rollup.py``). Take the count from
    ``plans.plan_partitions``: one wave (cores) unless memory needs more.
    Each Python task pays a fixed cost before its first row, 0.06-0.08 s
    once the package's import-time pin stops PySpark's per-task
    ``importlib.invalidate_caches()`` from re-reading Spark's own archives
    (``matrixprofiler_spark/__init__.py``, CPython 3.11), so extra waves
    only multiply that cost.

    Hashing the natural high-cardinality key directly keeps every output
    partition populated. The previous pmod(xxhash64, n) synthetic salt had
    exactly n distinct values hashed into n partitions, which leaves ~1/e
    of the partitions EMPTY and overloads others 2-3x (measured at bench
    scale: 321/512 partitions non-empty, per-partition cost max/mean 5.1
    vs 2.3 with the direct hash; max kernel task 7.9s -> 3.0s)."""
    return df.repartition(num_partitions, F.col("source"), F.col("doc_id"))


def matrix_profile_blobs(tokens_df: DataFrame, w: int, algo: str = "mpx",
                         max_tokens: int | None = 8192,
                         num_partitions: int | None = None) -> DataFrame:
    """Self-join matrix profile per doc (MPX by default — the reference's
    fastest algorithm, R/mpx.R:3 — bit-exact vs its goldens), compressed.

    +Inf profile values (zero-variance / skip windows) are stored as-is:
    Gorilla round-trips every bit pattern including infinities.

    Docs longer than ``max_tokens`` are computed on the prefix and flagged
    with ``truncated=True`` / ``n_used`` (no silent caps); chunk-and-stitch
    via AB joins is the full-length path for such docs."""

    if algo not in ("mpx", "stomp"):
        raise ValueError(algo)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for doc_id, toks, src in zip(b["doc_id"], b["tokens"], b["source"]):
                x = np.asarray(toks, dtype=np.float64)
                n = int(x.size)
                if max_tokens is not None:
                    x = x[:max_tokens]
                n_used = int(x.size)
                trunc = n_used < n
                if x.size < 2 * w:
                    rows.append((doc_id, src, w, n, n_used, trunc, 0,
                                 None, None, algo))
                    continue
                if algo == "mpx":
                    r = mpx(x, w, exclusion_zone=0.5)
                else:
                    r = stomp(x, w, exclusion_zone=0.5)
                mp = np.asarray(r["matrix_profile"], dtype=np.float64)
                pi = np.asarray(r["profile_index"], dtype=np.int64)
                rows.append(
                    (doc_id, src, w, n, n_used, trunc, int(mp.size),
                     gorilla_encode(mp), dod_encode(pi), algo)
                )
            yield pd.DataFrame(rows, columns=[f.name for f in MP_BLOBS_SCHEMA.fields])

    df = tokens_df
    if num_partitions:
        df = salted(df, num_partitions)
    return df.select("doc_id", "source", "tokens").mapInPandas(
        kernel, schema=MP_BLOBS_SCHEMA
    )


def _tile_selftest(lib) -> None:
    """Raise unless the native tile kernel reproduces the numpy block path
    on adversarial tiles (exact ties, zero-variance windows, near-diagonal
    bands)."""
    rng = np.random.default_rng(4242)
    ai = rng.integers(0, 3, size=90).astype(np.int64)
    bi = rng.integers(0, 3, size=110).astype(np.int64)
    ai2 = np.ones(80, dtype=np.int64)
    ai2[30:40] = 5
    cases = [(ai, bi, 0, 200, 8, 4, True),
             (ai2, ai2.copy(), 0, 64, 8, 4, True),
             (ai, bi, 0, 40, 8, 4, False)]  # near-diag band
    for a, b, ao, bo, w, ez, both in cases:
        gi = ao + np.arange(a.size - w + 1)
        gj = bo + np.arange(b.size - w + 1)
        ra = _tile_partial_minima(a, b, gi, gj, w, ez, both, _lib=None)
        rb = _tile_partial_minima(a, b, gi, gj, w, ez, both, _lib=lib)
        for va, vb in zip(ra, rb):
            if va is None and vb is None:
                continue
            if np.asarray(va).tobytes() != np.asarray(vb).tobytes():
                raise AssertionError("native tile mismatch")


def _tile_partial_minima(ai, bi, gi, gj, w, exclusion, both_sides,
                         _lib="auto"):
    """Exact row/column partial minima of one na x nb distance tile.

    Two implementations (byte-identical outputs; the native one is used
    only after _tile_selftest passes, via native.checked):

    * native C (kernels/native_mpx.c::tile_minima): rolling-QT diagonal
      traversal — integer dot products below 2^53 are exact in float64
      regardless of summation order, so the O(1)-per-pair integer update
      produces the identical double as the dgemm; the per-element
      expression tree and the tie rules (row ties -> smallest column via
      ascending-column strict <, column ties -> smallest row via
      descending-row <=) are replicated exactly. ~5x the dgemm path at
      w=128 (per-pair cost is O(1) instead of O(w) FLOPs) and no block
      buffer traffic.
    * numpy fallback: row-BLOCKED dgemm of a ~2^18-element block, fused
      z-norm distance expression in place, reduce to partial minima,
      discard — the full na x nb matrix never touches DRAM.

    Bit-exact across both: identical IEEE expression tree per element
    (2*(w - (qt - w*mu_a*mu_b)/(sd_a*sd_b)), clamped at 0), and identical
    tie resolution (see above; the numpy path gets it from increasing-row
    blocks with strict-less column updates).

    Returns (dmin, nn, ok_a, dmin_c, nn_c, ok_b); the col side is None
    unless both_sides."""
    na, nb = ai.size - w + 1, bi.size - w + 1
    ca = np.concatenate(([np.int64(0)], np.cumsum(ai)))
    ca2 = np.concatenate(([np.int64(0)], np.cumsum(ai * ai)))
    mu_a = (ca[w:] - ca[:-w]) / float(w)
    cb = np.concatenate(([np.int64(0)], np.cumsum(bi)))
    cb2 = np.concatenate(([np.int64(0)], np.cumsum(bi * bi)))
    mu_b = (cb[w:] - cb[:-w]) / float(w)
    with np.errstate(invalid="ignore"):
        sd_a = np.sqrt((ca2[w:] - ca2[:-w]) / float(w) - mu_a * mu_a)
        sd_b = np.sqrt((cb2[w:] - cb2[:-w]) / float(w) - mu_b * mu_b)
    ok_a = sd_a > 0
    ok_b = sd_b > 0
    wmua_full = w * mu_a
    near_diag_flag = max(gj[0] - gi[-1], gi[0] - gj[-1]) <= exclusion

    lib = _native.checked("tile", _tile_selftest) if _lib == "auto" else _lib
    if lib is not None:
        ai_c = np.ascontiguousarray(ai, dtype=np.int64)
        bi_c = np.ascontiguousarray(bi, dtype=np.int64)
        dmin = np.empty(na, dtype=np.float64)
        nn = np.zeros(na, dtype=np.int64)
        dmin_c = np.full(nb, np.inf)
        nn_c = np.zeros(nb, dtype=np.int64)
        ok_a8 = ok_a.view(np.uint8)
        ok_b8 = ok_b.view(np.uint8)
        lib.tile_minima(
            _native.ptr_ll(ai_c), _native.ptr_ll(bi_c),
            _native.ptr_d(wmua_full), _native.ptr_d(mu_b),
            _native.ptr_d(sd_a), _native.ptr_d(sd_b),
            _native.ptr_u8(ok_a8), _native.ptr_u8(ok_b8),
            na, nb, w, int(exclusion), int(bool(near_diag_flag)),
            int(gi[0]), int(gj[0]),
            _native.ptr_d(dmin), _native.ptr_ll(nn),
            _native.ptr_d(dmin_c), _native.ptr_ll(nn_c), int(bool(both_sides)))
        return dmin, nn, ok_a, (dmin_c if both_sides else None), nn_c, ok_b

    wa = np.lib.stride_tricks.sliding_window_view(ai, w).astype(np.float64)
    wb_t = np.lib.stride_tricks.sliding_window_view(bi, w).astype(np.float64).T
    wmua = wmua_full
    near_diag = near_diag_flag
    bs = max(64, (1 << 18) // max(nb, 1))
    dmin = np.empty(na)
    nn = np.zeros(na, dtype=np.int64)
    dmin_c = np.full(nb, np.inf)
    nn_c = np.zeros(nb, dtype=np.int64)
    for r0 in range(0, na, bs):
        r1 = min(r0 + bs, na)
        blk = wa[r0:r1] @ wb_t  # exact int dots (cache-resident block)
        with np.errstate(divide="ignore", invalid="ignore"):
            blk -= np.multiply.outer(wmua[r0:r1], mu_b)
            blk /= np.multiply.outer(sd_a[r0:r1], sd_b)
            np.subtract(float(w), blk, out=blk)
            blk *= 2.0
        np.maximum(blk, 0.0, out=blk)
        if not ok_a[r0:r1].all():
            blk[~ok_a[r0:r1], :] = np.inf
        if not ok_b.all():
            blk[:, ~ok_b] = np.inf
        if near_diag:
            blk[np.abs(gi[r0:r1, None] - gj[None, :]) <= exclusion] = np.inf
        am = np.argmin(blk, axis=1)
        rows = np.arange(r1 - r0)
        dmin[r0:r1] = blk[rows, am]
        nn[r0:r1] = gj[am]
        if both_sides:
            amc = np.argmin(blk, axis=0)
            mc = blk[amc, np.arange(nb)]
            upd = mc < dmin_c
            dmin_c[upd] = mc[upd]
            nn_c[upd] = gi[r0 + amc[upd]]
    return dmin, nn, ok_a, (dmin_c if both_sides else None), nn_c, ok_b


def matrix_profile_distributed(tokens_df: DataFrame, w: int, ez: float = 0.5,
                               chunk_len: int = 2048,
                               num_partitions: int | None = None) -> DataFrame:
    """EXACT self-join matrix profile where one DOC spans many tasks.

    The per-doc O(n^2) distance matrix is tiled into (chunk_i x chunk_j)
    blocks: offset-range chunks with w-1 overlap (chunk_tokens) are
    self-joined per doc — only the upper triangle b_off >= a_off is
    materialized; each tile computes its exact-integer distance block in
    one Arrow task (row-blocked dgemm + fused expression,
    _tile_partial_minima) and emits per-ROW partial minima AND per-COLUMN
    partial minima (the mirrored tile's rows, by symmetry of the distance
    matrix), halving both the shuffle and the compute. A
    map-side-combinable groupBy(doc, off) min-merge produces the global
    profile. Ties break on the smaller neighbor offset via lexicographic
    struct min — the same (dist, nn) order as the one-task face, so
    results are bit-identical to matrix_profile_exact (tested) and to
    the DuckDB all-pairs oracle.

    This is the scale path the single-task-per-doc operator cannot offer:
    a 10M-token doc becomes (n/chunk_len)^2/2 independent tasks instead
    of one straggler (reference analog: the TBB tile scheduling of
    src/stomp.cpp:373-378, re-expressed as a Spark shuffle; the tiled
    AB-join decomposition itself is the SCAMP strategy, Zimmerman et al.
    SoCC'19)."""
    from ..kernels.mp import c_round
    from .rollup import chunk_tokens

    exclusion = c_round(w * ez + np.finfo(np.float64).eps)
    # equalize: per-doc stride ceil(n_win/n_chunks) instead of a fixed
    # chunk_len, so a doc just past a chunk_len multiple cannot emit a
    # near-empty sliver chunk (which would pair with EVERY other chunk of
    # its doc, paying full tile setup + Arrow transfer of the partner
    # array for a handful of windows); results are chunk-invariant
    long_enough = F.col("n_tok") >= 2 * w
    chunks = chunk_tokens(tokens_df.filter(long_enough), w, chunk_len,
                          equalize=True)
    a = chunks.select(
        "doc_id", F.col("chunk_off").alias("a_off"), F.col("tokens").alias("a_tok")
    )
    b = chunks.select(
        "doc_id", F.col("chunk_off").alias("b_off"), F.col("tokens").alias("b_tok")
    )
    tiles = a.join(b, "doc_id").filter(F.col("b_off") >= F.col("a_off"))
    if num_partitions:
        # one wave, as for every Python stage (plans/partitioning.py): the
        # caller's hint is the upper bound, the task slots the fan-out, so
        # building the plan needs no tile census job. Direct hash on the
        # natural high-cardinality tile key (see salted(): a pmod-n
        # synthetic salt leaves ~1/e of the partitions empty and piles 2-3
        # tiles into others)
        slots = tokens_df.sparkSession.sparkContext.defaultParallelism
        tiles = tiles.repartition(
            min(num_partitions, slots),
            F.col("doc_id"), F.col("a_off"), F.col("b_off"),
        )

    part_schema = T.StructType(
        [
            T.StructField("doc_id", T.StringType(), False),
            T.StructField("off", T.IntegerType(), False),
            T.StructField("d", T.DoubleType(), False),
            T.StructField("nn", T.IntegerType(), False),
        ]
    )

    def tile_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            parts = []
            for doc_id, a_off, a_tok, b_off, b_tok in zip(
                batch["doc_id"], batch["a_off"], batch["a_tok"],
                batch["b_off"], batch["b_tok"],
            ):
                ai = np.asarray(a_tok, dtype=np.int64)
                bi = np.asarray(b_tok, dtype=np.int64)
                na, nb = ai.size - w + 1, bi.size - w + 1
                if na <= 0 or nb <= 0:
                    continue
                gi = int(a_off) + np.arange(na)   # global window offsets
                gj = int(b_off) + np.arange(nb)
                # skip tiles that lie entirely inside the exclusion band
                if max(abs(gi[0] - gj[-1]), abs(gi[-1] - gj[0])) <= exclusion:
                    continue
                both = int(b_off) > int(a_off)
                dmin, nn, ok_a, dmin_c, nn_c, ok_b = _tile_partial_minima(
                    ai, bi, gi, gj, w, exclusion, both
                )
                fin = np.isfinite(dmin) & ok_a
                if fin.any():
                    parts.append(
                        pd.DataFrame(
                            {
                                "doc_id": doc_id,
                                "off": gi[fin].astype(np.int32),
                                "d": dmin[fin],
                                "nn": nn[fin].astype(np.int32),
                            }
                        )
                    )
                if both:
                    # mirrored tile by symmetry: column minima serve the
                    # b-side windows; ties resolve to the smallest row
                    # offset — exactly what the mirrored tile's row argmin
                    # would have produced
                    fin_c = np.isfinite(dmin_c) & ok_b
                    if fin_c.any():
                        parts.append(
                            pd.DataFrame(
                                {
                                    "doc_id": doc_id,
                                    "off": gj[fin_c].astype(np.int32),
                                    "d": dmin_c[fin_c],
                                    "nn": nn_c[fin_c].astype(np.int32),
                                }
                            )
                        )
            yield (
                pd.concat(parts, ignore_index=True)
                if parts
                else pd.DataFrame({f.name: pd.Series(dtype=object) for f in part_schema.fields})
            )

    partials = tiles.mapInPandas(tile_kernel, schema=part_schema)
    # global min-merge; struct min orders (d, nn) lexicographically ->
    # identical tie-break (smallest neighbor) to the one-task face
    merged = partials.groupBy("doc_id", "off").agg(
        F.min(F.struct("d", "nn")).alias("best")
    )
    return merged.select(
        "doc_id", "off",
        F.sqrt(F.col("best.d")).alias("mp"),
        F.col("best.nn").alias("nn_off"),
    )
