#!/usr/bin/env python3
"""Optimization-round measurement harness (guide §1.4): isolates individual
operators with the noop sink, labels jobs, and times internal phases of the
lifecycle jobs. NOT the driver bench — bench.py is frozen; this file only
produces the before/after evidence cited in OPTIMIZATION_r07.md.

Usage: python bench_extra.py [stage ...]
Stages: expiry compress range_read realtime suite flagship mpx_kernel tile_kernel
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

for _v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(_v, "1")

REPO = Path(__file__).resolve().parent
sys.path.insert(0, str(REPO))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
N_DOCS = int(os.environ.get("SPARK_GRAFT_NDOCS", "20000"))
SEED = 42


def build_spark():
    import bench

    spark = bench.build_spark(CPUS)
    # the lifecycle/operator stages of bench.py run AFTER it resets the
    # Arrow batch size to the stock value — match that here
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    return spark


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def timed(label, fn, out, spark=None, n=1):
    samples = []
    for _ in range(n):
        if spark is not None:
            spark.sparkContext.setJobDescription(label)
        t0 = time.time()
        fn()
        samples.append(round(time.time() - t0, 3))
        if spark is not None:
            spark.sparkContext.setJobDescription(None)
    out[label] = samples if n > 1 else samples[0]
    print(f"{label}: {out[label]}", flush=True)


def tokens_cached(spark):
    from matrixprofiler_spark.sources.tokens import ensure_synth_tokens

    sf_name = Path(SF_DIR).name
    tok_path = str(REPO / "data" / f"tokens_{sf_name}_{N_DOCS}")
    return ensure_synth_tokens(spark, N_DOCS, tok_path, seed=SEED)


def fine_1m(spark):
    from pyspark.sql import functions as F

    from matrixprofiler_spark.operators.rollup import tier_rollup

    tokens = tokens_cached(spark)
    rolled = tier_rollup(tokens, num_partitions=4 * CPUS, persist=True)
    fine = rolled.filter(F.col("tier") == "1m").select(
        "doc_id", "source", "tier", "bucket", "cnt", "sum_v", "sumsq",
        "min_v", "max_v").persist()
    fine.count()
    return fine


def stage_expiry(spark, out):
    import shutil
    import tempfile

    from matrixprofiler_spark.streaming.expiry import RetentionExpiryJob

    fine = fine_1m(spark)
    for rep in range(2):
        base = tempfile.mkdtemp(prefix="bx_expiry_")
        try:
            job = RetentionExpiryJob(spark, base, fine_size=60,
                                     coarse_size=3600, horizon=7200,
                                     n_groups=8)
            timed(f"expiry_run_{rep}", lambda: job.run(fine),
                  out, spark)
        finally:
            shutil.rmtree(base, ignore_errors=True)


def stage_compress(spark, out):
    import shutil
    import tempfile

    from matrixprofiler_spark.streaming.compress import CompressionPolicyJob

    fine = fine_1m(spark).drop("tier")
    for rep in range(2):
        base = tempfile.mkdtemp(prefix="bx_compress_")
        try:
            job = CompressionPolicyJob(spark, base, fine_size=60,
                                       chunk_span=3600, horizon=3600,
                                       n_groups=8)
            timed(f"compress_run_{rep}",
                  lambda: job.run(fine), out, spark)
            if rep == 1:
                timed("range_read",
                      lambda: job.read_fine(bucket_min=0, bucket_max=19).count(),
                      out, spark, n=3)
                timed("full_decode",
                      lambda: noop(job.read_fine()), out, spark, n=3)
        finally:
            shutil.rmtree(base, ignore_errors=True)


def stage_realtime(spark, out):
    from pyspark.sql import functions as F

    from matrixprofiler_spark.operators.rollup import (
        finest_rollup, realtime_rollup)

    tokens = tokens_cached(spark)
    lag = 100
    trunc = (
        tokens.withColumn(
            "mwm",
            (F.floor(F.greatest(F.col("n_tok") - lag, F.lit(0)) / 60) * 60
             ).cast("int"),
        )
        .withColumn("tokens", F.slice("tokens", F.lit(1), F.col("mwm")))
        .drop("mwm")
    )
    mat = finest_rollup(trunc, 60).drop("tier").persist()
    mat.count()
    view = realtime_rollup(mat, tokens, 60)
    timed("realtime_rollup_noop", lambda: noop(view), out, spark, n=3)


def stage_suite(spark, out):
    from matrixprofiler_spark.queries import queries as qreg

    reg = qreg()
    suite = (
        "rollup_1m", "retention_policy", "sliding_stats_w8",
        "matrix_profile_w8", "mass_w8",
        "dedup_minhash_lsh", "dedup_ngram_jaccard", "ann_topk",
        "embedding_near_dups", "text_stats", "fingerprint",
    )
    for name in suite:
        timed(f"suite_{name}",
              lambda n=name: reg[n](spark, SF_DIR).count(), out, spark, n=3)


def stage_flagship(spark, out):
    from pyspark.sql import functions as F

    from matrixprofiler_spark.operators.rollup import (
        gap_fill, tier_rollup, window_stats_chunked, with_derived_stats)

    tokens = tokens_cached(spark)
    parts = 4 * CPUS
    for rep in range(2):
        handles: list = []
        rolled = with_derived_stats(
            tier_rollup(tokens, num_partitions=parts, persist=True,
                        persisted_out=handles))
        timed(f"rollup_tiers_{rep}", lambda: rolled.count(), out, spark)
        m1 = rolled.filter(F.col("tier") == "1m")
        holey = m1.filter(
            F.pmod(F.xxhash64("doc_id") + F.col("bucket"), F.lit(20)) != 0)
        timed(f"gapfill_{rep}", lambda: gap_fill(holey).count(), out, spark)
        ws = window_stats_chunked(tokens, w=128, chunk_len=4096,
                                  num_partitions=parts)
        timed(f"window_stats_{rep}",
              lambda: ws.agg(F.sum("n_windows")).collect(), out, spark)
        for h in handles:
            h.unpersist(True)


def stage_mpx_kernel(spark, out):
    """Single-threaded kernel probe (no Spark): pairs/sec of mpx."""
    import numpy as np

    from matrixprofiler_spark.kernels.mp import mpx

    rng = np.random.default_rng(7)
    for n in (4096, 16384):
        x = rng.integers(0, 50257, size=n).astype(np.float64)
        mpx(x, 128, exclusion_zone=0.5)  # warm
        t0 = time.time()
        reps = 3
        for _ in range(reps):
            mpx(x, 128, exclusion_zone=0.5)
        dt = (time.time() - t0) / reps
        pairs = (n - 127) ** 2 / 2
        out[f"mpx_n{n}_sec"] = round(dt, 3)
        out[f"mpx_n{n}_pairs_per_sec"] = round(pairs / dt / 1e6, 1)
        print(f"mpx n={n}: {dt:.3f}s {pairs/dt/1e6:.1f}M pairs/s", flush=True)


def stage_tile_kernel(spark, out):
    """Single-threaded tile kernel probe: pairs/sec of _tile_partial_minima."""
    import numpy as np

    from matrixprofiler_spark.kernels.mp import c_round
    from matrixprofiler_spark.operators.mp_ops import _tile_partial_minima

    rng = np.random.default_rng(7)
    w = 128
    n = 4096 + w - 1
    ai = rng.integers(0, 50257, size=n).astype(np.int64)
    bi = rng.integers(0, 50257, size=n).astype(np.int64)
    gi = np.arange(4096)
    gj = 100000 + np.arange(4096)
    ez = c_round(w * 0.5 + np.finfo(np.float64).eps)
    _tile_partial_minima(ai, bi, gi, gj, w, ez, True)  # warm
    t0 = time.time()
    reps = 3
    for _ in range(reps):
        _tile_partial_minima(ai, bi, gi, gj, w, ez, True)
    dt = (time.time() - t0) / reps
    pairs = 4096 * 4096
    out["tile_4096_sec"] = round(dt, 3)
    out["tile_pairs_per_sec_M"] = round(pairs / dt / 1e6, 1)
    print(f"tile 4096x4096: {dt:.3f}s {pairs/dt/1e6:.1f}M pairs/s", flush=True)


def stage_mp_blobs(spark, out):
    """Full-corpus MPX blob stage under 32-worker load (the bench's
    dominant stage, isolated)."""
    from pyspark.sql import functions as F

    from matrixprofiler_spark.operators.mp_ops import matrix_profile_blobs
    from matrixprofiler_spark.plans.partitioning import mp_routing_cut

    tokens = tokens_cached(spark)
    n_tok_max = tokens.agg(F.max("n_tok")).collect()[0][0]
    cut = mp_routing_cut(n_tok_max)
    mp_docs = matrix_profile_blobs(
        tokens.filter(F.col("n_tok") <= cut), w=128,
        max_tokens=cut, num_partitions=16 * CPUS)
    timed("mp_blobs", lambda: mp_docs.agg(F.sum("profile_len")).collect(),
          out, spark)


def stage_tiles(spark, out):
    """Replica of bench.py's matrix_profile_tiles_w128 long-doc stage
    (12 x 65536-token docs, w=128, chunk 4096), isolated for tile-kernel
    A/Bs."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from matrixprofiler_spark.operators.mp_ops import matrix_profile_distributed

    LONG_N, LONG_TOK = 12, 65536
    schema = T.StructType([
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("tokens", T.ArrayType(T.IntegerType()), False),
        T.StructField("n_tok", T.IntegerType(), False),
        T.StructField("source", T.StringType(), False),
    ])
    base = spark.range(0, LONG_N, 1, LONG_N)

    def gen(batches):
        for b in batches:
            rows = []
            for i in b["id"].tolist():
                rng = np.random.default_rng(SEED * 100003 + int(i))
                toks = rng.integers(0, 50257, size=LONG_TOK, dtype=np.int32)
                rows.append((f"long_{int(i):04d}",
                             [int(v) for v in toks], LONG_TOK, "longdoc"))
            yield pd.DataFrame(
                rows, columns=["doc_id", "tokens", "n_tok", "source"])

    long_docs = base.mapInPandas(gen, schema=schema).persist()
    long_docs.count()
    for rep in range(2):
        timed(f"tiles_{rep}",
              lambda: matrix_profile_distributed(
                  long_docs, w=128, chunk_len=4096,
                  num_partitions=16 * CPUS).count(),
              out, spark)
    long_docs.unpersist()


STAGES = {
    "mp_blobs": stage_mp_blobs,
    "tiles": stage_tiles,
    "expiry": stage_expiry,
    "compress": stage_compress,
    "realtime": stage_realtime,
    "suite": stage_suite,
    "flagship": stage_flagship,
    "mpx_kernel": stage_mpx_kernel,
    "tile_kernel": stage_tile_kernel,
}


def main():
    which = sys.argv[1:] or list(STAGES)
    out: dict = {}
    need_spark = any(s not in ("mpx_kernel", "tile_kernel") for s in which)
    spark = build_spark() if need_spark else None
    if spark is not None:
        spark.sparkContext.setLogLevel("ERROR")
    for s in which:
        STAGES[s](spark, out)
    print(json.dumps(out))
    if spark is not None:
        spark.stop()


if __name__ == "__main__":
    main()
