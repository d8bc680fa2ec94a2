"""Edge-input hardening: degenerate docs (tiny, constant, empty-ish) must
flow through every operator without crashing and with correct values."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from matrixprofiler_spark.codecs import dod_encode, gorilla_encode
from matrixprofiler_spark.kernels.window import movmax, movmean, movmin, movstd
from matrixprofiler_spark.operators.rollup import (
    gap_fill,
    tier_rollup,
    window_stats,
    window_stats_chunked,
    with_derived_stats,
)
from matrixprofiler_spark.operators.mp_ops import matrix_profile_blobs
from matrixprofiler_spark.sources.tokens import TOKENS_SCHEMA


@pytest.fixture(scope="module")
def edge_tokens(spark):
    rows = [
        ("tiny", [7], 1, "web"),                      # single token
        ("two", [1, 2], 2, "web"),                    # below any window
        ("const", [5] * 400, 400, "books"),           # zero variance everywhere
        ("ramp", list(range(100)), 100, "code"),      # strictly increasing
        ("big_vals", [50256] * 61, 61, "wiki"),       # max vocab id
        ("alt", [0, 50256] * 50, 100, "web"),         # max amplitude
    ]
    return spark.createDataFrame(rows, schema=TOKENS_SCHEMA).cache()


def test_rollup_edge(spark, edge_tokens):
    out = with_derived_stats(tier_rollup(edge_tokens)).collect()
    by = {}
    for r in out:
        by.setdefault((r.doc_id, r.tier), []).append(r)
    # single-token doc: one bucket, cnt 1, mean == value, std == 0
    t = by[("tiny", "1m")][0]
    assert t.cnt == 1 and t.mean == 7.0 and t.std == 0.0
    # constant doc: std exactly 0 in every bucket of every tier
    for tier in ("1m", "1h", "1d"):
        for r in by[("const", tier)]:
            assert r.std == 0.0 and r.mean == 5.0
    # max-amplitude values: sums exact
    a = by[("alt", "1m")]
    assert sum(r.sum_v for r in a) == 50256 * 50


def test_window_stats_edge(spark, edge_tokens):
    ws = {r.doc_id: r for r in window_stats(edge_tokens, w=60).collect()}
    assert ws["tiny"].n_windows == 0 and ws["tiny"].movmean_blob is None
    assert ws["two"].n_windows == 0
    from matrixprofiler_spark.codecs import gorilla_decode

    const = ws["const"]
    assert const.n_windows == 400 - 60 + 1
    mm = gorilla_decode(bytes(const.movmean_blob))
    assert (mm == 5.0).all()
    ms = gorilla_decode(bytes(const.movstd_blob))
    assert (ms == 0.0).all()


W_MIX = 8
I32 = 2147483647


@pytest.fixture(scope="module")
def mixed_tokens(spark):
    """Rows for one Arrow batch that exercise every branch of the batched
    window-stats kernel."""
    rng = np.random.default_rng(16)
    toks = {
        "empty": [],
        "short": [3, 1, 4],                          # n < w
        "exact_w": list(range(W_MIX)),               # n == w: one window
        "const": [9] * 40,                           # std 0 everywhere
        "extreme": [I32, -I32] * 20,                 # reference: Ogita loop
        "neg": [-5, 7, -2, 0, 11, -40, 3, 3, 1, -8, 6] * 3,
        "walk": (10000 + np.cumsum(rng.integers(-40, 41, 90))).tolist(),
    }
    rows = [(d, t, len(t), "web") for d, t in toks.items()]
    return spark.createDataFrame(rows, schema=TOKENS_SCHEMA).cache()


BLOB_COLS = ("movmean_blob", "movstd_blob", "movmin_blob", "movmax_blob",
             "offsets_blob")


def _per_series(x, w: int, off: int) -> tuple:
    """(n_tok, n_windows, five blobs) of one row, from the per-series
    kernels run on that row alone."""
    x = np.asarray(x, dtype=np.float64)
    if x.size < w:
        return (x.size, 0) + (None,) * 5
    return (x.size, x.size - w + 1,
            gorilla_encode(movmean(x, w, "ogita")), gorilla_encode(movstd(x, w)),
            gorilla_encode(movmin(x, w)), gorilla_encode(movmax(x, w)),
            dod_encode(off + np.arange(x.size - w + 1, dtype=np.int64)))


def _batched(r) -> tuple:
    return (r.n_tok, r.n_windows,
            *(None if r[c] is None else bytes(r[c]) for c in BLOB_COLS))


def test_batched_window_stats_match_per_series_kernels(spark, mixed_tokens):
    """One Arrow batch mixing empty, short, exactly-w, constant and
    int32-extreme rows, with and without ``chunk_off``: every blob of
    ``window_stats`` and ``window_stats_chunked`` is byte-equal to
    encoding the per-series kernels' output for that row alone. The
    extreme row's n * x^2 passes 2^53, so the reference takes its Ogita
    loop there (and the row's window sums of squares overflow int64)."""
    toks = {r.doc_id: list(r.tokens) for r in mixed_tokens.collect()}
    for offs in ({}, {d: 1000 * len(d) for d in toks}):
        df = mixed_tokens.withColumn(
            "chunk_off", (F.length("doc_id") * 1000).cast("long")
        ) if offs else mixed_tokens
        rows = window_stats(df, W_MIX, num_partitions=1,
                            keep_tokens=True).collect()
        assert sorted(r.doc_id for r in rows) == sorted(toks)
        for r in rows:
            assert list(r.tokens_back) == toks[r.doc_id]
            assert _batched(r) == _per_series(
                toks[r.doc_id], W_MIX, offs.get(r.doc_id, 0)), r.doc_id
    # chunk c of a doc covers offsets [16c, min(n, 16(c+1) + w - 1))
    expect = [
        (d, *_per_series(t[16 * c:16 * (c + 1) + W_MIX - 1], W_MIX, 16 * c))
        for d, t in toks.items()
        for c in range(max(-(-(len(t) - W_MIX + 1) // 16), 1))
    ]
    got = [(r.doc_id, *_batched(r)) for r in window_stats_chunked(
        mixed_tokens, W_MIX, chunk_len=16, num_partitions=1).collect()]
    assert sorted(got, key=repr) == sorted(expect, key=repr)


def test_matrix_profile_edge(spark, edge_tokens):
    res = {r.doc_id: r for r in matrix_profile_blobs(edge_tokens, w=50).collect()}
    # too-short docs are emitted with empty profiles, not dropped
    assert res["tiny"].profile_len == 0
    # constant doc: all windows zero-variance -> MPX never updates any lane
    # (sig = inf -> c_cmp = nan -> comparisons false), so every value stays
    # at corr -1 == distance sqrt(4w) with index -1 — exactly the reference
    # mpx_rcpp behavior (it has no sd<eps masking, unlike stomp).
    from matrixprofiler_spark.codecs import dod_decode, gorilla_decode

    const = res["const"]
    mp = gorilla_decode(bytes(const.mp_blob))
    np.testing.assert_allclose(mp, np.sqrt(4 * 50), rtol=0, atol=0)
    pi = dod_decode(bytes(const.pi_blob))
    assert (pi == -1).all()


def test_gap_fill_edge(spark, edge_tokens):
    from matrixprofiler_spark.operators.rollup import spine_from_tokens

    m1 = tier_rollup(edge_tokens, {"1m": 60})
    # drop every bucket of one doc except bucket 0 — including the TRAILING
    # buckets, which a data-derived spine cannot see; the n_tok-derived
    # spine restores them all
    holey = m1.filter((F.col("doc_id") != "const") | (F.col("bucket") == 0))
    filled = gap_fill(holey, spine=spine_from_tokens(edge_tokens, "1m"))
    const_rows = filled.filter(F.col("doc_id") == "const").collect()
    assert len(const_rows) == 400 // 60 + 1
    assert sum(r.filled for r in const_rows) == len(const_rows) - 1


def test_lttb_lockstep_matches_per_doc_reference(spark):
    """The lockstep (across-docs) LTTB kernel must equal a straightforward
    per-doc replay of the recurrence on the real driver table — every
    selected (bucket, x, y), bit-for-bit, ties to the smaller offset."""
    import numpy as np

    from matrixprofiler_spark.queries import LTTB_B as B
    from matrixprofiler_spark.queries import _tok, q_downsample_lttb

    sf = "/root/testdata/sf0.001"
    toks = {
        r.doc_id: np.asarray(r.tokens, dtype=np.int64)
        for r in _tok(spark, sf).select("doc_id", "tokens").collect()
    }
    want = []
    for doc_id, y in toks.items():
        n = y.size
        if n <= B:
            continue
        x = np.arange(n, dtype=np.int64)
        b = x // B
        maxb = int(b[-1])
        sx = np.bincount(b, weights=x).astype(np.int64)
        sy = np.bincount(b, weights=y).astype(np.int64)
        c = np.bincount(b).astype(np.int64)
        want.append((doc_id, 0, 0, int(y[0])))
        xp, yp = 0, int(y[0])
        for bb in range(1, maxb):
            lo, hi = bb * B, (bb + 1) * B
            xs, ys = x[lo:hi], y[lo:hi]
            c1, sxn, syn = int(c[bb + 1]), int(sx[bb + 1]), int(sy[bb + 1])
            score = np.abs((xp * c1 - sxn) * (ys - yp)
                           - (xp - xs) * (syn - yp * c1))
            k = int(np.argmax(score))
            xp, yp = int(xs[k]), int(ys[k])
            want.append((doc_id, bb, xp, yp))
        want.append((doc_id, maxb, n - 1, int(y[n - 1])))
    got = sorted(
        (r.doc_id, r.b, r.x, r.y) for r in q_downsample_lttb(spark, sf).collect()
    )
    assert got == sorted(want)
