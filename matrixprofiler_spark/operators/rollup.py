"""Tiered rollup + downsample + gap-fill over the tokens table.

The engine treats each doc's token array as a time series (offset = time).
Retention tiers are offset bucketings: raw -> 1m -> 1h -> 1d == buckets of
1 / 60 / 3600 / 86400 positions (SURVEY.md §1.4).

Exactness contract
------------------
Bucket stats are kept as EXACT int64 sums (token values are int32, so every
cnt/sum/sumsq below 2^63 is exact). mean/std are derived at read time with
the reference's formulas (mean = sum/w, std = sqrt(sumsq/w - mean^2),
src/windowfunc.cpp:60-84), so a full bucket of size k reproduces
``movmean(x, k)`` / ``movstd(x, k)`` sampled at bucket starts bit-for-bit
(the integer fast path of kernels/window.py is provably equal to the Ogita
compensated loop on integer data). Every tier is bucketed straight from
the raw tokens; ``cascade_tier`` composes a coarser tier from a STORED
finer one by integer addition — algebraically exact, no raw re-read.

Scale design
------------
* every tier computed per doc inside one ``mapInPandas`` kernel (one
  cumsum-diff / ``reduceat`` pass per tier over the Arrow batch; no
  per-row Python) — docs are independent rows, so there is NO shuffle
  before or after the kernel; only an optional salted ``repartition`` to
  balance token-length skew.
* raw tier (per-window statistic series) is emitted as Gorilla-compressed
  binary blobs per doc — one row per doc, not one row per offset.
"""

from __future__ import annotations

from types import MappingProxyType
from typing import Iterator, Mapping

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..codecs import dod_encode, gorilla_encode, gorilla_encode_many
from ..kernels.window import movmax, movmean, movmin, movstd

TIER_SIZES = MappingProxyType({"1m": 60, "1h": 3600, "1d": 86400})

ROLLUP_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("source", T.StringType(), False),
        T.StructField("tier", T.StringType(), False),
        T.StructField("bucket", T.LongType(), False),
        T.StructField("cnt", T.LongType(), False),
        T.StructField("sum_v", T.LongType(), False),
        T.StructField("sumsq", T.LongType(), False),
        T.StructField("min_v", T.IntegerType(), False),
        T.StructField("max_v", T.IntegerType(), False),
    ]
)


def salted(df: DataFrame, num_partitions: int) -> DataFrame:
    """Hash repartition on (source, doc_id) — defeats token-length skew by
    spreading docs uniformly. For a Python stage, take the count from
    ``plans.plan_partitions``: one wave (cores) unless memory needs more.
    Each Python task pays a fixed cost before its first row, 0.06-0.08 s
    once the package's import-time pin stops PySpark's per-task
    ``importlib.invalidate_caches()`` from re-reading Spark's own archives
    (``matrixprofiler_spark/__init__.py``, CPython 3.11), so extra waves
    only multiply that cost; offset chunking, not more partitions, is what
    evens out the zipf length tail.

    Hashing the natural high-cardinality key directly keeps every output
    partition populated. The previous pmod(xxhash64, n) synthetic salt had
    exactly n distinct values hashed into n partitions, which leaves ~1/e
    of the partitions EMPTY and overloads others 2-3x (measured at bench
    scale: 321/512 partitions non-empty, per-partition cost max/mean 5.1
    vs 2.3 with the direct hash; max kernel task 7.9s -> 3.0s)."""
    return df.repartition(num_partitions, F.col("source"), F.col("doc_id"))


def bucket_stats(x: np.ndarray, starts: np.ndarray, ends: np.ndarray):
    """Exact aggregates of int64 values ``x`` over the buckets
    ``[starts[i], ends[i])``, which must tile ``x`` in order and be
    non-empty. Returns ``(cnt, sum_v, sumsq, min_v, max_v)`` as int64
    arrays: one cumsum-diff per sum and one ``reduceat`` per extremum,
    with no per-bucket Python. The batch and streaming tiers both compute
    their buckets here."""
    c = np.concatenate(([0], np.cumsum(x)))
    c2 = np.concatenate(([0], np.cumsum(x * x)))
    return (ends - starts, c[ends] - c[starts], c2[ends] - c2[starts],
            np.minimum.reduceat(x, starts), np.maximum.reduceat(x, starts))


def cascade_tier(finer: DataFrame, finer_size: int, coarser_size: int,
                 tier_name: str) -> DataFrame:
    """Compose a coarser tier from a finer one by exact integer addition —
    a pure map-side-combinable groupBy (no raw re-read)."""
    k = coarser_size // finer_size
    return (
        # F.floor, not cast-truncate: token-offset buckets are always >= 0
        # so the two agree here, but floor keeps the operator correct for
        # signed bucket domains (e.g. wall-clock buckets before an epoch
        # anchor) — same hardening as the retention cutoff math.
        finer.groupBy(
            "doc_id", "source",
            F.floor(F.col("bucket") / k).cast("long").alias("bucket"),
        )
        .agg(
            F.sum("cnt").alias("cnt"),
            F.sum("sum_v").alias("sum_v"),
            F.sum("sumsq").alias("sumsq"),
            F.min("min_v").alias("min_v"),
            F.max("max_v").alias("max_v"),
        )
        .select(
            "doc_id", "source", F.lit(tier_name).alias("tier"), "bucket",
            "cnt", "sum_v", "sumsq", "min_v", "max_v",
        )
    )


def with_derived_stats(rollup: DataFrame) -> DataFrame:
    """Attach mean/std via the reference formulas (movmean/movstd,
    src/windowfunc.cpp:60-84): mean = sum/cnt, std = sqrt(sumsq/cnt - mean^2).
    Computed JVM-side (whole-stage codegen), bit-equal to the kernels on
    integer data because the int sums are exact."""
    mean = F.col("sum_v") / F.col("cnt")
    var = F.col("sumsq") / F.col("cnt") - mean * mean
    return rollup.withColumn("mean", mean).withColumn("std", F.sqrt(var))


def tier_rollup(tokens_df: DataFrame,
                tiers: Mapping[str, int] = TIER_SIZES,
                num_partitions: int | None = None, persist: bool = False,
                persisted_out: list | None = None) -> DataFrame:
    """Every tier of ``tiers`` (ordered ``{name: bucket size}``, the
    mapping ``incremental_tier_rollup`` takes) straight from the raw
    tokens, in one vectorized Arrow kernel: one output row per (doc, tier,
    bucket), all math numpy int64 (exact), no per-doc Python and no
    shuffle, so the sizes need not nest. A one-entry mapping is a single
    tier.

    ``persist=True`` caches the output, whose consumers (per-tier
    aggregates, gap fill) would otherwise each re-run the kernel; in
    production each tier is a table written once (streaming/checkpoint.py).
    ``persisted_out`` (a caller-supplied list) receives the cached
    DataFrame so a repeated-measurement harness can unpersist it without
    clearing unrelated caches."""
    names, sizes = tuple(tiers), tuple(tiers.values())

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            toks_list = [np.asarray(t, dtype=np.int64) for t in b["tokens"]]
            lens = np.fromiter((t.size for t in toks_list), dtype=np.int64,
                               count=len(toks_list))
            if not lens.sum():
                continue
            x = np.concatenate(toks_list)
            doc_starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
            doc_ends = doc_starts + lens
            for name, bs in zip(names, sizes):
                # each doc tiles into ceil(n/bs) buckets, contiguous in the
                # concatenated array, so a tier is one bucket_stats call
                # over the whole batch
                nb = (lens + bs - 1) // bs
                first_bucket = np.concatenate(([0], np.cumsum(nb)[:-1]))
                k = np.arange(nb.sum()) - np.repeat(first_bucket, nb)
                starts = np.repeat(doc_starts, nb) + k * bs
                ends = np.minimum(starts + bs, np.repeat(doc_ends, nb))
                cnt, sum_v, sumsq, min_v, max_v = bucket_stats(x, starts, ends)
                yield pd.DataFrame(
                    {
                        "doc_id": np.repeat(b["doc_id"].to_numpy(), nb),
                        "source": np.repeat(b["source"].to_numpy(), nb),
                        "tier": name,
                        "bucket": k,
                        "cnt": cnt,
                        "sum_v": sum_v,
                        "sumsq": sumsq,
                        "min_v": min_v.astype(np.int32),
                        "max_v": max_v.astype(np.int32),
                    }
                )

    if num_partitions:
        tokens_df = salted(tokens_df, num_partitions)
    out = tokens_df.select("doc_id", "source", "tokens").mapInPandas(
        kernel, schema=ROLLUP_SCHEMA
    )
    if persist:
        out = out.persist()
        if persisted_out is not None:
            persisted_out.append(out)
    return out


WINDOW_STATS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("source", T.StringType(), False),
        T.StructField("w", T.IntegerType(), False),
        T.StructField("n_tok", T.IntegerType(), False),
        T.StructField("n_windows", T.IntegerType(), False),
        T.StructField("movmean_blob", T.BinaryType(), True),
        T.StructField("movstd_blob", T.BinaryType(), True),
        T.StructField("movmin_blob", T.BinaryType(), True),
        T.StructField("movmax_blob", T.BinaryType(), True),
        T.StructField("offsets_blob", T.BinaryType(), True),
        T.StructField("tokens_back", T.ArrayType(T.IntegerType()), True),
    ]
)


def window_stats(tokens_df: DataFrame, w: int, num_partitions: int | None = None,
                 keep_tokens: bool = False) -> DataFrame:
    """Raw tier: per-window movmean/movstd/movmin/movmax series per doc,
    Gorilla-encoded into binary columns; window offsets delta-of-delta
    encoded. ``keep_tokens`` echoes the input array for the per-row
    token-array-equality invariant check."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            series = []  # (row_index, [mm, ms, mi, ma]) for batch encode
            base_offs = b["chunk_off"] if "chunk_off" in b.columns else [0] * len(b)
            for doc_id, toks, src, base in zip(
                b["doc_id"], b["tokens"], b["source"], base_offs
            ):
                x = np.asarray(toks, dtype=np.int32)
                n = int(x.size)
                if n < w:
                    rows.append([doc_id, src, w, n, 0, None, None, None, None,
                                 None, list(map(int, x)) if keep_tokens else None])
                    continue
                xf = x.astype(np.float64)
                series.append(
                    (len(rows), [movmean(xf, w, "ogita"), movstd(xf, w),
                                 movmin(xf, w), movmax(xf, w)])
                )
                offs = int(base) + np.arange(n - w + 1, dtype=np.int64)
                rows.append(
                    [doc_id, src, w, n, int(n - w + 1),
                     None, None, None, None,
                     dod_encode(offs),
                     list(map(int, x)) if keep_tokens else None]
                )
            # one vectorized Gorilla assembly for all stat series of the batch
            flat = [s for _, group in series for s in group]
            blobs = gorilla_encode_many(flat)
            for j, (ri, _) in enumerate(series):
                rows[ri][5:9] = blobs[4 * j : 4 * j + 4]
            yield pd.DataFrame(
                (tuple(r) for r in rows),
                columns=[f.name for f in WINDOW_STATS_SCHEMA.fields],
            )

    df = tokens_df
    if num_partitions:
        df = salted(df, num_partitions)
    cols = ["doc_id", "source", "tokens"] + (
        ["chunk_off"] if "chunk_off" in tokens_df.columns else []
    )
    return df.select(*cols).mapInPandas(kernel, schema=WINDOW_STATS_SCHEMA)


def chunk_tokens(tokens_df: DataFrame, w: int, chunk_len: int = 4096,
                 equalize: bool = False) -> DataFrame:
    """Range-repartition on sequence offset: split long docs into chunks of
    ``chunk_len`` offsets with w-1 overlap — the distributed analog of MASS
    v3's chunked processing (src/mass.cpp:168-192) — so a single 16k-token
    doc no longer pins one task (token-length skew defeat, north_rule).

    Chunk c covers offsets [c*chunk_len, min(n, (c+1)*chunk_len + w - 1));
    every window start lands in exactly one chunk, so per-window outputs
    concatenate losslessly. All slicing is JVM-side (sequence + transform +
    slice), then a repartition spreads chunks across tasks.

    Output schema: (doc_id, source, chunk_off long, tokens array<int>) where
    chunk_off is the global offset of the chunk's first element.

    ``equalize=True`` keeps the same per-doc chunk COUNT but spreads the
    window starts evenly across the chunks (stride = ceil(n_win /
    n_chunks) instead of a fixed chunk_len): a doc whose window count is
    just past a chunk_len multiple no longer produces a near-empty
    sliver chunk that pays full task/Arrow setup for a handful of
    windows. Stride <= chunk_len always, (n_chunks-1)*stride < n_win
    always (no empty chunks), and every window start still lands in
    exactly one chunk — so any chunk-invariant consumer (the distributed
    matrix profile, per-window stats) is bit-identical either way
    (pytest-asserted)."""
    n_win = F.col("n_tok").cast("long") - F.lit(w - 1)
    n_chunks = F.greatest(
        F.ceil(n_win / F.lit(chunk_len)).cast("int"), F.lit(1)
    )
    if equalize:
        step = F.ceil(n_win / n_chunks).cast("long")
    else:
        step = F.lit(chunk_len).cast("long")
    chunks = tokens_df.select(
        "doc_id",
        "source",
        "n_tok",
        "tokens",
        step.alias("__step"),
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
    )
    start = F.col("chunk_id").cast("long") * F.col("__step")
    length = F.least(
        F.col("__step") + F.lit(w - 1), F.col("n_tok").cast("long") - start
    )
    return chunks.select(
        "doc_id",
        "source",
        start.alias("chunk_off"),
        F.slice(F.col("tokens"), (start + 1).cast("int"), length.cast("int")).alias("tokens"),
    )


def window_stats_chunked(tokens_df: DataFrame, w: int, chunk_len: int = 4096,
                         num_partitions: int | None = None) -> DataFrame:
    """window_stats over offset-range chunks: identical per-window values
    (bit-exact on integer data — every sliding sum is an exact int64
    regardless of where the series is cut), one row per (doc, chunk)."""
    chunked = chunk_tokens(tokens_df, w, chunk_len)
    if num_partitions:
        # direct hash on the natural high-cardinality key (see salted():
        # a pmod-n synthetic salt leaves ~1/e of the partitions empty)
        chunked = chunked.repartition(
            num_partitions, F.col("doc_id"), F.col("chunk_off")
        )
    return window_stats(chunked, w)


def spine_from_tokens(tokens_df: DataFrame, tier: str = "1m") -> DataFrame:
    """Dense bucket spine derived directly from n_tok — a pure projection
    (sequence + explode), no aggregation shuffle."""
    bs = TIER_SIZES[tier]
    max_bucket = (F.ceil(F.col("n_tok") / bs) - 1).cast("long")
    return tokens_df.select(
        "doc_id", "source", F.lit(tier).alias("tier"),
        F.explode(F.sequence(F.lit(0).cast("long"), max_bucket)).alias("bucket"),
    )


def _spine_and_join(rollup: DataFrame,
                    spine: DataFrame | None) -> DataFrame:
    """Shared gap-fill prologue: the dense bucket spine [0, max_bucket]
    per (doc_id, source, tier) (generated, never shuffled raw) left-joined
    with the observed buckets, holes flagged via ``filled``. All three
    fill policies (zero / locf / interpolate) layer on this frame."""
    if spine is None:
        spine = (
            rollup.groupBy("doc_id", "source", "tier")
            .agg(F.max("bucket").alias("max_bucket"))
            .select(
                "doc_id", "source", "tier",
                F.explode(
                    F.sequence(F.lit(0).cast("long"), F.col("max_bucket"))
                ).alias("bucket"),
            )
        )
    return (
        spine.join(rollup, ["doc_id", "source", "tier", "bucket"], "left")
        .withColumn("filled", F.col("cnt").isNull())
    )


def gap_fill(rollup: DataFrame, spine: DataFrame | None = None) -> DataFrame:
    """Per-doc offset-spine gap fill: build the dense bucket spine
    [0, max_bucket] per (doc_id, tier) with ``F.sequence`` + explode, left
    range-join the observed buckets onto it, and flag filled points.

    Equi-join on (doc_id, tier, bucket) — Catalyst picks sort-merge or
    broadcast by size; the spine is generated, never shuffled raw. Pass a
    precomputed ``spine`` (e.g. spine_from_tokens) to skip the max-bucket
    aggregation when doc lengths are already known."""
    return _spine_and_join(rollup, spine).fillna(
        {"cnt": 0, "sum_v": 0, "sumsq": 0}
    )


TIER_BLOBS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("source", T.StringType(), False),
        T.StructField("tier", T.StringType(), False),
        T.StructField("n_buckets", T.IntegerType(), False),
        T.StructField("buckets_blob", T.BinaryType(), False),
        T.StructField("mean_blob", T.BinaryType(), False),
        T.StructField("min_blob", T.BinaryType(), False),
        T.StructField("max_blob", T.BinaryType(), False),
        T.StructField("cnt_blob", T.BinaryType(), False),
    ]
)


def tier_blobs(rollup: DataFrame) -> DataFrame:
    """Pack each (doc, tier)'s rolled-up point series into binary columns:
    delta-of-delta bucket ids + Gorilla-XOR mean/min/max/cnt series — the
    north star's compressed retention representation. One applyInPandas
    group per (doc, tier); decode(encode(x)) == x is codec-tested."""

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("bucket")
        buckets = pdf["bucket"].to_numpy(dtype=np.int64)
        cnt = pdf["cnt"].to_numpy(dtype=np.int64)
        mean = pdf["sum_v"].to_numpy(dtype=np.int64) / cnt
        return pd.DataFrame(
            {
                "doc_id": [pdf["doc_id"].iloc[0]],
                "source": [pdf["source"].iloc[0]],
                "tier": [pdf["tier"].iloc[0]],
                "n_buckets": [len(pdf)],
                "buckets_blob": [dod_encode(buckets)],
                "mean_blob": [gorilla_encode(mean)],
                "min_blob": [gorilla_encode(pdf["min_v"].to_numpy(dtype=np.float64))],
                "max_blob": [gorilla_encode(pdf["max_v"].to_numpy(dtype=np.float64))],
                "cnt_blob": [dod_encode(cnt)],
            }
        )

    return rollup.groupBy("doc_id", "source", "tier").applyInPandas(
        pack, schema=TIER_BLOBS_SCHEMA
    )


def check_tiers(sizes: list[int], horizons: list[int]) -> None:
    """The retention policy domain, one check for the serving views and
    the expiry and compression jobs: >= 2 nested tier sizes finest-first,
    one horizon per tier but the last, nonnegative (a negative horizon
    would place the cutoff past the watermark, silently starving the fine
    tier) and nondecreasing finest-first."""
    if len(sizes) < 2 or len(horizons) != len(sizes) - 1:
        raise ValueError(
            "need >=2 tier sizes and exactly len(sizes)-1 horizons")
    for finer, coarser in zip(sizes, sizes[1:]):
        if coarser % finer:
            raise ValueError(
                f"tier sizes must nest: {coarser} % {finer} != 0")
    if any(h < 0 for h in horizons):
        raise ValueError("horizons must be nonnegative")
    if any(b < a for a, b in zip(horizons, horizons[1:])):
        raise ValueError("horizons must be nondecreasing finest-first")


def retention_policy(fine: DataFrame, coarse: DataFrame, fine_size: int,
                     coarse_size: int, horizon: int,
                     watermark: DataFrame | None = None) -> DataFrame:
    """Tiered retention serving view (the north star's "retention" stage;
    semantics modeled on TimescaleDB drop_chunks + continuous-aggregate
    real-time views): recent data is served at the fine tier, data older
    than ``horizon`` token positions only at the coarse tier.

    The per-doc watermark is the fine tier's high-water offset
    ``(max(bucket)+1)*fine_size``; the expiry cutoff ``wm - horizon`` is
    aligned DOWN to a coarse-bucket boundary so the two tiers partition
    the offset axis exactly — every position is served by exactly one
    tier (no double-serving across the seam, no gap; property-tested:
    sum(cnt) over served rows == n_tok per doc).

    Scale: the watermark is one map-side-combinable groupBy(doc_id, source)
    over the fine rollup (not the raw tokens) followed by equi-joins on it
    — hash-shuffled, no broadcast of any corpus-sized side, no skew (one
    wm row per doc). Every stage reads ROLLUP rows (~bucket_size x fewer
    than raw tokens), so at scale the view's cost is marginal next to
    the rollup that feeds it; measured locally (68M tokens, 20k docs):
    full 3-tier serving view 5.2s vs 5.1s for the rollup itself — parity
    even where per-stage fixed costs dominate.

    ``watermark``: optional stored watermark table (doc_id, source, wm) —
    REQUIRED when ``fine`` is a physically compacted store
    (streaming/expiry.py), whose max(bucket) no longer reflects the doc's
    true high-water offset for a fully-expired doc."""
    return retention_policy_multi(
        [(fine, fine_size), (coarse, coarse_size)], [horizon],
        watermark=watermark,
    )


def retention_policy_multi(tiers: list, horizons: list[int],
                           watermark: DataFrame | None = None) -> DataFrame:
    """N-tier retention serving view generalizing :func:`retention_policy`
    to the full raw->1m->1h->1d cascade: ``tiers`` is a list of
    ``(rollup_df, bucket_size)`` finest-first with nested sizes
    (size[i+1] a multiple of size[i]); ``horizons`` gives, for each tier
    but the last, the offset age beyond which that tier stops serving.

    Tier ``i``'s expiry cutoff is ``wm - horizons[i]`` aligned DOWN to
    tier ``i+1``'s bucket boundary, which makes every cutoff a bucket
    boundary of BOTH adjacent tiers (nested sizes), so consecutive tiers
    meet seamlessly. With ``horizons`` nondecreasing the cutoffs are
    provably nonincreasing (align to a coarser grid of a smaller value
    never lands higher), so tier i serves exactly
    ``(cutoff[i], cutoff[i-1]]`` and the tiers partition the offset axis
    — same invariant as the 2-tier view, property-tested for 3 tiers.

    Scale shape identical to the 2-tier plan: one map-side-combinable
    groupBy(doc_id, source) watermark over the FINEST rollup, then one
    equi-join per tier on the same keys; no corpus-sized broadcast, no
    skew.

    Contract: every tier must cover the same docs as the finest one —
    built from the same tokens (``tier_rollup``) or cascaded from the
    finest (``cascade_tier``) — so each doc in any tier has a watermark
    row.
    The contract is enforced: each tier left-joins the watermark and a
    missing wm raises at execution time (fail-fast) instead of the old
    inner join silently dropping the doc."""
    sizes = [s for _, s in tiers]
    check_tiers(sizes, horizons)

    fine_df, fine_size = tiers[0]
    if watermark is not None:
        # stored watermark (captured by the expiry job BEFORE compaction):
        # authoritative for a compacted fine store, where a fully-expired
        # doc has no fine rows left to recompute its high-water from
        wm = watermark.select("doc_id", "source", "wm")
    else:
        # watermark at the doc-identity grain (doc_id, source) — same
        # doc_id under two sources must not see the other's high-water
        wm = fine_df.groupBy("doc_id", "source").agg(
            ((F.max("bucket") + 1) * fine_size).alias("wm")
        )
    cutoffs = [
        (F.floor((F.col("wm") - F.lit(h)) / sizes[i + 1]) * sizes[i + 1])
        .cast("long")
        for i, h in enumerate(horizons)
    ]
    served = []
    for i, (df, size) in enumerate(tiers):
        end = (F.col("bucket") + 1) * size
        cond = F.lit(True) if i == len(tiers) - 1 else end > cutoffs[i]
        if i > 0:
            cond = cond & (end <= cutoffs[i - 1])
        # left join + fail-fast instead of a plain inner join: the
        # derivation contract (every tier built from the finest tier's
        # docs) guarantees a watermark row per doc; if a caller feeds a
        # mis-derived coarse tier, an inner join would silently DROP its
        # docs. The when() wrapper evaluates the null check before the
        # wm-derived cutoff conditions, so a missing watermark raises
        # loudly at execution time instead of losing data.
        checked = F.when(
            F.col("wm").isNull(),
            F.raise_error(F.lit(
                "retention_policy_multi: doc present in a coarser tier has "
                "no watermark row in the finest tier — every tier must "
                "be built from the finest tier's docs (tier_rollup or "
                "cascade_tier)"
            )).cast("boolean"),
        ).otherwise(cond)
        served.append(
            df.join(wm, ["doc_id", "source"], "left").where(checked).drop("wm")
        )
    out = served[0]
    for s in served[1:]:
        out = out.unionByName(s)
    return out


def realtime_rollup(materialized: DataFrame, tokens_df: DataFrame,
                    fine_size: int, watermark: DataFrame | None = None,
                    tag: bool = False) -> DataFrame:
    """Real-time continuous aggregate view (TimescaleDB real-time CAGG
    semantics): buckets wholly at or below the per-doc materialization
    watermark are served from the STORED rollup; raw positions past the
    watermark are aggregated ON THE FLY and unioned — so the view is
    always complete even when the materializer lags ingest.

    ``materialized`` is the stored fine-tier rollup (possibly stale — it
    may stop short of each doc's true end); ``tokens_df`` is the raw
    source. ``watermark`` is the stored per-doc materialization watermark
    ``(doc_id, source, wm)`` — the catalog-metadata analog; when None it
    is derived from the materialized table as ``(max(bucket)+1) *
    fine_size``. Every watermark must sit on a fine-bucket boundary
    (true by construction for the derived form; enforced with a
    fail-fast for stored ones — a misaligned watermark would split one
    bucket across both sides and double-count its seam).

    Served-exactly-once invariant: the materialized side is defensively
    filtered to ``(bucket+1)*fine_size <= wm`` (TimescaleDB does the
    same, so a freshly-materialized bucket racing the watermark update
    cannot double-serve), the fresh side takes positions ``>= wm``, and
    with an aligned watermark the two partition the offset axis — the
    union equals ``tier_rollup(tokens, {"1m": fine_size})`` row for row
    (pytest + driver face hash vs the oracle's single full rollup).

    Scale shape: one map-side-combinable watermark aggregate (when
    derived) + one equi-join per side on (doc_id, source); the fresh
    side explodes ONLY the post-watermark token tail (JVM-side
    ``posexplode`` + hash aggregate — at steady state the tail is the
    ingest lag, a vanishing fraction of the corpus), never the full
    arrays. A doc absent from the watermark (never materialized) is
    served entirely from raw (wm -> 0 via coalesce on a left join).

    ``tag=True`` appends a ``part`` column ('materialized' | 'fresh') so
    certification can hash WHICH side served each row."""
    if watermark is None:
        wm = materialized.groupBy("doc_id", "source").agg(
            ((F.max("bucket") + 1) * fine_size).alias("wm"))
    else:
        checked = F.when(
            F.pmod(F.col("wm"), fine_size) != 0,
            F.raise_error(F.lit(
                "realtime_rollup: stored watermark is not aligned to a "
                "fine-bucket boundary — it must be (max(bucket)+1) * "
                "fine_size of the materialized store"
            )).cast("long"),
        ).otherwise(F.col("wm"))
        wm = watermark.select("doc_id", "source", checked.alias("wm"))
    stat_cols = ["cnt", "sum_v", "sumsq", "min_v", "max_v"]
    mat = (
        materialized.join(wm, ["doc_id", "source"], "left")
        .where((F.col("bucket") + 1) * fine_size
               <= F.coalesce(F.col("wm"), F.lit(0)))
        .select("doc_id", "source", "bucket", *stat_cols)
    )
    # slice the post-watermark tail JVM-side BEFORE exploding: a filter on
    # a generator output cannot be pushed below the Generate, so the
    # explode-then-filter shape would pay row generation for 100% of
    # tokens; slicing first generates only the tail (at steady state the
    # ingest lag — a vanishing fraction of the corpus). 0-based position
    # p of the sliced array maps back to global pos = wm + p.
    tail = F.slice(
        F.col("tokens"),
        (F.col("wm") + 1).cast("int"),
        F.greatest(F.size("tokens") - F.col("wm").cast("int"), F.lit(0)),
    )
    fresh = (
        tokens_df.join(wm, ["doc_id", "source"], "left")
        .withColumn("wm", F.coalesce(F.col("wm"), F.lit(0)))
        .select("doc_id", "source", "wm",
                F.posexplode(tail).alias("p", "tok"))
        .withColumn("pos", F.col("p") + F.col("wm"))
        .groupBy(
            "doc_id", "source",
            F.floor(F.col("pos") / fine_size).cast("long").alias("bucket"),
        )
        .agg(
            F.count("*").alias("cnt"),
            F.sum("tok").cast("long").alias("sum_v"),
            F.sum(F.col("tok").cast("long") * F.col("tok")).alias("sumsq"),
            F.min("tok").cast("int").alias("min_v"),
            F.max("tok").cast("int").alias("max_v"),
        )
    )
    if tag:
        mat = mat.withColumn("part", F.lit("materialized"))
        fresh = fresh.withColumn("part", F.lit("fresh"))
    return mat.unionByName(fresh)


def gap_fill_locf(rollup: DataFrame, spine: DataFrame | None = None) -> DataFrame:
    """LOCF gap fill (TimescaleDB ``locf()``): missing buckets carry the
    LAST observed bucket's aggregates forward instead of zero-filling;
    holes before the first observation stay NULL (nothing to carry).

    Same generated spine + equi-join as :func:`gap_fill`, then one
    ``last(..., ignorenulls=True)`` running window per carried column —
    partitioned by (doc, tier), ordered by bucket, so the sort is per-doc
    over ROLLUP rows (already thousands-to-one reduced from raw tokens);
    no second shuffle beyond the window's own. ``mean_locf`` is derived
    AFTER the carry with the same ``sum/cnt`` expression both engines
    compute, so it stays bit-comparable."""
    from pyspark.sql import Window

    joined = _spine_and_join(rollup, spine)
    w = (
        Window.partitionBy("doc_id", "source", "tier")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = joined
    # min_v/max_v ride the SAME carry window with the same NULL semantics
    # (dashboards read them alongside mean): a hole reproduces the whole
    # last-observed bucket, leading holes stay NULL in every column
    for c in ("cnt", "sum_v", "min_v", "max_v"):
        out = out.withColumn(f"{c}_locf", F.last(c, ignorenulls=True).over(w))
    return out.withColumn(
        "mean_locf", F.col("sum_v_locf") / F.col("cnt_locf")
    )


def gap_fill_interpolate(rollup: DataFrame,
                         spine: DataFrame | None = None) -> DataFrame:
    """Linear-interpolation gap fill (TimescaleDB ``interpolate()``):
    each hole gets the straight line between the nearest observed bucket
    before and after it; holes with no observation on either side
    (leading/trailing) stay NULL. Observed buckets keep their exact
    ``sum/cnt`` mean.

    Plan shape: the same generated spine + equi-join as
    :func:`gap_fill`, then two running windows per (doc, tier) — a
    backward ``last(ignorenulls)`` and a forward ``first(ignorenulls)``
    for the bracketing values and their bucket ids; the interpolation
    itself is one JVM-side arithmetic expression (whole-stage codegen),
    written with the exact operation order the DuckDB oracle uses so the
    doubles are bit-comparable."""
    from pyspark.sql import Window

    joined = _spine_and_join(rollup, spine).withColumn(
        "v", F.col("sum_v") / F.col("cnt")
    )
    back = (
        Window.partitionBy("doc_id", "source", "tier")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    fwd = (
        Window.partitionBy("doc_id", "source", "tier")
        .orderBy("bucket")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_bucket = F.when(F.col("v").isNotNull(), F.col("bucket"))
    out = (
        joined
        .withColumn("pv", F.last("v", ignorenulls=True).over(back))
        .withColumn("pb", F.last(obs_bucket, ignorenulls=True).over(back))
        .withColumn("nv", F.first("v", ignorenulls=True).over(fwd))
        .withColumn("nb", F.first(obs_bucket, ignorenulls=True).over(fwd))
    )
    interp = (
        F.when(~F.col("filled"), F.col("v"))
        .when(F.col("pv").isNull() | F.col("nv").isNull(), F.lit(None))
        .otherwise(
            F.col("pv")
            + (F.col("nv") - F.col("pv"))
            * ((F.col("bucket") - F.col("pb")) / (F.col("nb") - F.col("pb")))
        )
    )
    return out.withColumn("v_interp", interp).drop("pv", "pb", "nv", "nb", "v")


def downsample_m4(tokens_df: DataFrame, bucket_size: int) -> DataFrame:
    """M4 downsample: first/min/max/last point per offset bucket — the
    dashboard-standard projection that preserves a series' visual shape.
    ONE map-side-combinable aggregation: lexicographic struct min/max on
    (offset, value) yield the first and last points with no window sort
    (offsets are unique within a doc, so the structs are deterministic)."""
    p = tokens_df.select(
        "doc_id", F.posexplode("tokens").alias("pos0", "tok")
    ).withColumn("bucket", (F.col("pos0") / bucket_size).cast("long"))
    agg = p.groupBy("doc_id", "bucket").agg(
        F.min(F.struct("pos0", "tok")).alias("fi"),
        F.max(F.struct("pos0", "tok")).alias("la"),
        F.min("tok").alias("min_v"),
        F.max("tok").alias("max_v"),
    )
    return agg.select(
        "doc_id", "bucket",
        F.col("fi.pos0").cast("int").alias("first_off"),
        F.col("fi.tok").alias("first_v"),
        "min_v", "max_v",
        F.col("la.pos0").cast("int").alias("last_off"),
        F.col("la.tok").alias("last_v"),
    )
