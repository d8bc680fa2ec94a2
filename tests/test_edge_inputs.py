"""Edge-input hardening: degenerate docs (tiny, constant, empty-ish) must
flow through every operator without crashing and with correct values."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from matrixprofiler_spark.operators.rollup import (
    gap_fill,
    tier_rollup,
    window_stats,
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
