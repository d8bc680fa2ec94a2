"""Real-time continuous aggregate view (operators/rollup.py
realtime_rollup — the TimescaleDB real-time CAGG analog): identity vs the
full rollup under a stale materializer, stored-watermark path, misaligned
watermark fail-fast, and the never-materialized-doc edge."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from matrixprofiler_spark.operators.rollup import realtime_rollup, tier_rollup
from matrixprofiler_spark.sources.tokens import synth_tokens_df

FINE, LAG = 16, 24
COLS = ["doc_id", "source", "bucket", "cnt", "sum_v", "sumsq", "min_v", "max_v"]


@pytest.fixture(scope="module")
def toks(spark):
    df = synth_tokens_df(spark, 30, seed=3).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def stale_mat(toks):
    trunc = (
        toks.withColumn(
            "mwm",
            (F.floor(F.greatest(F.col("n_tok") - LAG, F.lit(0)) / FINE)
             * FINE).cast("int"),
        )
        .withColumn("tokens", F.slice("tokens", F.lit(1), F.col("mwm")))
        .drop("mwm")
    )
    df = tier_rollup(trunc, {"1m": FINE}).drop("tier").cache()
    df.count()
    return df


def _rows(df):
    return sorted(tuple(r) for r in df.select(*COLS).collect())


def test_identity_and_split(spark, toks, stale_mat):
    full = tier_rollup(toks, {"1m": FINE}).drop("tier")
    view = realtime_rollup(stale_mat, toks, FINE, tag=True)
    assert _rows(view) == _rows(full)
    parts = {r["part"]: r["n"] for r in
             view.groupBy("part").agg(F.count("*").alias("n")).collect()}
    # the split is non-trivial: both sides serve rows
    assert parts.get("materialized", 0) > 0 and parts.get("fresh", 0) > 0
    # untagged view has no part column
    assert "part" not in realtime_rollup(stale_mat, toks, FINE).columns


def test_stored_watermark_path(spark, toks, stale_mat):
    wm = stale_mat.groupBy("doc_id", "source").agg(
        ((F.max("bucket") + 1) * FINE).alias("wm"))
    view = realtime_rollup(stale_mat, toks, FINE, watermark=wm)
    full = tier_rollup(toks, {"1m": FINE}).drop("tier")
    assert _rows(view) == _rows(full)


def test_misaligned_watermark_fails_fast(spark, toks, stale_mat):
    bad = stale_mat.groupBy("doc_id", "source").agg(
        (((F.max("bucket") + 1) * FINE) + 1).alias("wm"))
    with pytest.raises(Exception, match="not aligned"):
        realtime_rollup(stale_mat, toks, FINE, watermark=bad).count()


def test_never_materialized_doc_served_from_raw(spark, toks):
    """A doc with no materialized rows at all (and no watermark row) is
    served entirely from the raw side."""
    one = toks.limit(1)
    empty_mat = tier_rollup(toks, {"1m": FINE}).drop("tier").limit(0)
    view = realtime_rollup(empty_mat, one, FINE, tag=True)
    full = tier_rollup(one, {"1m": FINE}).drop("tier")
    assert _rows(view) == _rows(full)
    assert view.where(F.col("part") == "materialized").count() == 0
    # exactly-once: served counts add back to n_tok
    n_tok = one.select("n_tok").collect()[0][0]
    assert view.agg(F.sum("cnt")).collect()[0][0] == n_tok
