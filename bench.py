#!/usr/bin/env python3
"""Benchmark harness — runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] (default 32) and
prints ONE JSON line:

  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ...,
   "rolled_up_points": N, "points_per_sec": N, ...}

The flagship is the tiered rollup + window-stats + gap-fill pipeline over
the synthetic tokens table (Zipf-skewed lengths, FIXTURES.md §A) — the
"rolled-up points/sec across all retention tiers" of BASELINE.json — plus
the oracle-checked operator queries over the driver tables.

Scaling evidence (N vs 4N cores) is produced by BENCH/scaling.py.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

# one BLAS thread per Python worker: 32 concurrent workers each spawning a
# full OpenBLAS thread pool oversubscribes the box ~32x on the dgemm-heavy
# matrix-profile tiles (workers inherit the driver env in local mode)
for _v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(_v, "1")

REPO = Path(__file__).resolve().parent
sys.path.insert(0, str(REPO))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# bench-scale synthetic tokens: ~20k docs at sf0.1 (FIXTURES.md scales)
N_DOCS = int(os.environ.get("SPARK_GRAFT_NDOCS", "20000"))
SEED = 42


def build_spark(cpus: int):
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("matrixprofiler-spark-bench")
        .config("spark.sql.shuffle.partitions", str(4 * cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "8m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # small Arrow batches: ~64 chunk-rows (~256k tokens) per kernel call
        # keeps each worker's decode+encode working set cache-resident
        # (measured min-of-2 both run orders: 64 beats 256/1024 on the
        # window-stats stage)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "64")
        # FAIR lets the two overlapped MP sub-jobs interleave tasks: each
        # MP thread sets its own spark.scheduler.pool (FAIR balances
        # between pools; jobs inside one pool are FIFO). All other bench
        # stages are single-job, unaffected.
        .config("spark.scheduler.mode", "FAIR")
        .config("spark.driver.memory", "48g")
        .config("spark.local.dir", "/dev/shm/spark-local")
        .config("spark.ui.enabled", "false")
        .config("spark.log.level", "ERROR")
        .getOrCreate()
    )


def main() -> None:
    from pyspark.sql import functions as F

    from matrixprofiler_spark.operators.rollup import (
        gap_fill,
        tier_rollup,
        window_stats_chunked,
        with_derived_stats,
    )
    from matrixprofiler_spark.queries import queries as qreg
    from matrixprofiler_spark.sources.tokens import ensure_synth_tokens

    spark = build_spark(CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    sf_name = Path(SF_DIR).name
    times: dict[str, float] = {}
    extra: dict[str, float] = {}

    # ---- synthetic tokens table (cached parquet, written once) ----
    t0 = time.time()
    tok_path = str(REPO / "data" / f"tokens_{sf_name}_{N_DOCS}")
    tokens = ensure_synth_tokens(spark, N_DOCS, tok_path, seed=SEED)
    census = tokens.agg(
        F.sum("n_tok").alias("s"), F.max("n_tok").alias("m")
    ).collect()[0]
    n_tokens_total, n_tok_max = census["s"], census["m"]
    times["tokens_table"] = time.time() - t0

    parts = 4 * CPUS

    # ---- flagship stages: min-of-3, order rotated between rounds ----
    # The sandbox CPU quota fluctuates ~2x; a single noisy window halved
    # the r3 headline (window_stats 29.5s in the driver run vs 9.6s solo
    # on identical code). Same recipe as BENCH/scaling.py: repeat each
    # stage 3x, rotate the stage order each round (so no stage always
    # pays the cold-cache / post-heavy-stage position), report the min
    # and persist the full spread.
    counts: dict[str, int] = {}
    keeper: dict = {}

    def stage_rollup():
        # full cascade 1m -> 1h -> 1d. Honest re-measurement: Spark's
        # cache manager matches by canonicalized plan, so a later run's
        # IDENTICAL tier_rollup plan would silently serve the previous
        # run's persisted tiers (a ~1s "recompute"). Evict the old
        # handles BEFORE counting, then keep the fresh ones as the
        # gap-fill input (production shape: tier tables written once,
        # read by the next cascade step).
        handles: list = []
        rolled = with_derived_stats(
            tier_rollup(tokens, num_partitions=parts, persist=True,
                        persisted_out=handles)
        )
        for h in keeper.pop("handles", []):
            h.unpersist(True)
        counts["rollup_points"] = rolled.count()
        keeper["rolled"] = rolled
        keeper["handles"] = handles

    def stage_gapfill():
        m1 = keeper["rolled"].filter(F.col("tier") == "1m")
        holey = m1.filter(
            F.pmod(F.xxhash64("doc_id") + F.col("bucket"), F.lit(20)) != 0
        )
        counts["filled_points"] = gap_fill(holey).count()

    def stage_window():
        # offset-range chunking (w-1 overlap) caps any task at
        # chunk_len+w-1 tokens: the 16k-token Zipf tail no longer pins
        # single tasks (chunked==unchunked is pytest-covered)
        ws = window_stats_chunked(tokens, w=128, chunk_len=4096,
                                  num_partitions=parts)
        counts["window_points"] = ws.agg(F.sum("n_windows")).collect()[0][0] or 0

    stages = {
        "rollup_tiers": stage_rollup,
        "gapfill_1m": stage_gapfill,
        "window_stats_w128": stage_window,
    }
    order = list(stages)
    runs: dict[str, list[float]] = {k: [] for k in order}
    for rnd in range(3):
        for name in order[rnd:] + order[:rnd]:
            t0 = time.time()
            stages[name]()
            runs[name].append(round(time.time() - t0, 3))
    for name in order:
        times[name] = min(runs[name])
    extra["flagship_runs"] = runs

    rollup_points = counts["rollup_points"]
    filled_points = counts["filled_points"]
    window_points = counts["window_points"]

    # rolled-up points across all retention tiers: bucket rows (x5 stats)
    # plus the 4 per-window stat series points of the raw tier
    points = rollup_points * 5 + filled_points * 5 + window_points * 4
    pipeline_sec = times["rollup_tiers"] + times["gapfill_1m"] + times["window_stats_w128"]
    extra["rolled_up_points"] = int(points)
    extra["points_per_sec"] = points / pipeline_sec if pipeline_sec else 0.0
    extra["tokens_total"] = int(n_tokens_total)
    extra["tokens_per_sec"] = n_tokens_total / pipeline_sec if pipeline_sec else 0.0

    # ---- operator queries over the driver tables ----
    # the 64-row Arrow batches are tuned for the flagship window-stats
    # kernels (cache-resident decode+encode working sets); the small
    # operator queries are Arrow-light and run best at the stock batch
    # size, so scope the tuning to the stages above (VERDICT r2 #3)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    reg = qreg()
    suite = (
        "rollup_1m", "retention_policy", "sliding_stats_w8",
        "matrix_profile_w8", "mass_w8",
        "dedup_minhash_lsh", "dedup_ngram_jaccard", "ann_topk",
        "embedding_near_dups", "text_stats", "fingerprint",
    )
    # min-of-3 with a different order each pass (forward / reversed /
    # half-rotated): quota-throttling episodes last tens of seconds and
    # hit contiguous wall-clock blocks, so the r4 min-of-2 could still
    # double-sample one episode (BENCH_r04 showed 3.5x phantom
    # regressions on unchanged code); three order-shifted passes give
    # every query three time-separated samples
    suite_runs: dict[str, list[float]] = {n: [] for n in suite}
    half = len(suite) // 2
    for qs in (suite, tuple(reversed(suite)), suite[half:] + suite[:half]):
        for name in qs:
            t0 = time.time()
            reg[name](spark, SF_DIR).count()
            suite_runs[name].append(round(time.time() - t0, 3))
    for name in suite:
        times[name] = min(suite_runs[name])
    extra["suite_runs"] = suite_runs

    # ---- physical retention expiry at bench scale (north rule:
    # "retention engine") ----
    # compact the full 1m fine tier (~n_tokens/60 rows) with the
    # snapshot-committed drop_chunks-analog job: stage + watermark +
    # rewrite + manifests, 8 commit groups. Measures the storage-rewrite
    # path end-to-end (the serving-view identity over the result is
    # pytest/oracle territory, not re-proved here).
    import shutil
    import tempfile

    from matrixprofiler_spark.streaming.expiry import RetentionExpiryJob

    exp_base = tempfile.mkdtemp(prefix="bench_expiry_")
    try:
        fine_1m = keeper["rolled"].filter(F.col("tier") == "1m").select(
            "doc_id", "source", "tier", "bucket", "cnt", "sum_v", "sumsq",
            "min_v", "max_v")
        t0 = time.time()
        ejob = RetentionExpiryJob(spark, exp_base, fine_size=60,
                                  coarse_size=3600, horizon=7200, n_groups=8)
        ejob.run(fine_1m)
        times["retention_expiry"] = time.time() - t0
        em = ejob.metrics()
        extra["expiry_rows_before"] = em["rows_before"]
        extra["expiry_rows_dropped"] = em["rows_dropped"]
        extra["expiry_rows_per_sec"] = (
            em["rows_before"] / times["retention_expiry"]
            if times["retention_expiry"] else 0.0)
    finally:
        shutil.rmtree(exp_base, ignore_errors=True)

    # ---- compression policy at bench scale (north rule: "Gorilla XOR +
    # delta-of-delta encoding of rolled-up points into binary columns") ----
    # compress every 1m bucket older than 1h per doc into per-(doc, 1h-chunk)
    # DoD segment blobs (compress_chunks analog: stage + segment encode +
    # manifests, 8 commit groups), then serve one chunk-excluded range read
    # over the compressed history (the realistic query pattern — a range
    # query decodes only surviving segments, never the whole store).
    from matrixprofiler_spark.streaming.compress import CompressionPolicyJob

    cmp_base = tempfile.mkdtemp(prefix="bench_compress_")
    try:
        fine_1m = keeper["rolled"].filter(F.col("tier") == "1m").select(
            "doc_id", "source", "bucket", "cnt", "sum_v", "sumsq",
            "min_v", "max_v")
        t0 = time.time()
        cjob = CompressionPolicyJob(spark, cmp_base, fine_size=60,
                                    chunk_span=3600, horizon=3600,
                                    n_groups=8)
        cjob.run(fine_1m)
        times["retention_compress"] = time.time() - t0
        cm = cjob.metrics()
        extra["compress_rows_in"] = cm["rows_in"]
        extra["compress_rows_compressed"] = cm["rows_compressed"]
        extra["compress_segments"] = cm["n_segments"]
        extra["compress_ratio"] = cm["compression_ratio"] or 0.0
        extra["compress_rows_per_sec"] = (
            cm["rows_in"] / times["retention_compress"]
            if times["retention_compress"] else 0.0)
        t0 = time.time()
        range_rows = cjob.read_fine(bucket_min=0, bucket_max=19).count()
        times["compressed_range_read"] = time.time() - t0
        extra["compressed_range_rows"] = int(range_rows)
    finally:
        shutil.rmtree(cmp_base, ignore_errors=True)

    # ---- matrix profile over 100% of docs (no silent exclusion) ----
    # routing: docs within the blob operator's cap run as one-task-per-doc
    # MPX blobs (zero truncation at this cut); longer docs route through
    # the tiled distributed kernel — one doc becomes many (chunk x chunk)
    # tile tasks, so the 16k-token Zipf tail spans tasks instead of
    # pinning one straggler
    from matrixprofiler_spark.operators.mp_ops import (
        matrix_profile_blobs,
        matrix_profile_distributed,
    )

    # MP stays at the stock Arrow batch size: measured 607.7s vs 733s with
    # 64-row batches (tile/blob rows are few and heavy; small batches just
    # multiply Arrow round-trips)
    #
    # The two sub-stages run CONCURRENTLY from two driver threads (Spark
    # schedules jobs from any thread of one SparkContext): serially, each
    # sub-stage's straggler tail idles the whole cluster; overlapped, the
    # other job's pending tasks fill those slots. Work is unchanged —
    # only the idle tail is reclaimed.
    import threading

    # Routing cut: one blob task per doc up to MP_CUT tokens; beyond it a
    # doc becomes distributed (chunk x chunk) tiles. The cut is a
    # per-task cost bound, not a kernel limit — the per-doc MPX diagonals
    # run ~1.6x faster per half-pair than the tiled dgemm (measured
    # single-thread: 59M vs 35M at n=16k), because a tile pays its
    # partner-chunk transfer plus cross-tile recompute of the window
    # stats; tiles are the price of spanning tasks and should only be
    # paid when a doc genuinely cannot be one task. r4 (cut=8192) routed
    # 81% of the half-pairs through tiles and measured 543.7s solo; the
    # cut==corpus-max routing measured 285.4s at identical work. Since r6
    # the cut is DERIVED from the corpus census + the per-task cost
    # bound (plans/partitioning.py:mp_routing_cut): min(corpus max,
    # sqrt(2 * task_budget * kernel_rate)) — identical routing (16384)
    # at this corpus, while a new corpus with million-token docs would
    # automatically tile them at ~17k instead of silently inheriting
    # this corpus's constant. The tile path is measured at bench scale
    # by the matrix_profile_tiles_w128 stage below and certified exact
    # by the matrix_profile_w8_dist oracle face.
    from matrixprofiler_spark.plans.partitioning import mp_routing_cut

    MP_CUT = mp_routing_cut(n_tok_max)
    extra["mp_routing_cut"] = int(MP_CUT)
    # 16x cores: ~7 heavy docs per task, so the stage drains with a
    # single-task (~18s) tail instead of the 4x-cores ~60s straggler
    # (measured 394s -> 285s at equal work)
    mp_parts = 16 * CPUS
    t0 = time.time()
    mp_res: dict = {}
    mp_err: list = []

    # each thread pins its job to its OWN scheduler pool: FAIR mode
    # balances BETWEEN pools (the default pool alone schedules its jobs
    # FIFO, which would only backfill the second job into leftover slots)
    def _run_blobs():
        try:
            spark.sparkContext.setLocalProperty("spark.scheduler.pool", "mp_blobs")
            mp_docs = matrix_profile_blobs(
                tokens.filter(F.col("n_tok") <= MP_CUT), w=128,
                max_tokens=MP_CUT, num_partitions=mp_parts,
            )
            mp_res["blobs"] = mp_docs.agg(F.sum("profile_len")).collect()[0][0] or 0
        except BaseException as e:  # surfaced after join
            mp_err.append(e)

    def _run_dist():
        try:
            spark.sparkContext.setLocalProperty("spark.scheduler.pool", "mp_dist")
            mp_res["dist"] = matrix_profile_distributed(
                tokens.filter(F.col("n_tok") > MP_CUT), w=128,
                chunk_len=3072, num_partitions=mp_parts,
            ).count()
        except BaseException as e:
            mp_err.append(e)

    threads = [threading.Thread(target=_run_blobs), threading.Thread(target=_run_dist)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    if mp_err:
        raise mp_err[0]
    mp_points = mp_res["blobs"]
    mp_points_dist = mp_res["dist"]
    times["matrix_profile_mpx_w128"] = time.time() - t0
    extra["mp_points"] = int(mp_points + mp_points_dist)
    extra["mp_points_distributed"] = int(mp_points_dist)
    # half-pair throughput (the MP work metric: n^2/2 window pairs per doc).
    # Count only docs whose profile has at least one NON-EXCLUDED pair:
    # at w=128, ez=0.5 the exclusion half-width is round(w*0.5)+1 = 65,
    # so real pair work starts at profile_len > 65, i.e. n_tok >= 193
    # (verified empirically against the mpx kernel). Shorter docs
    # contribute zero quadratic work and must not inflate the metric.
    mp_pairs = (
        tokens.select(
            F.sum(
                F.when(
                    F.col("n_tok") >= 193,
                    (F.col("n_tok").cast("double") - 127) ** 2 / 2,
                ).otherwise(F.lit(0.0))
            ).alias("p")
        ).collect()[0][0]
        or 0.0
    )
    extra["mp_half_pairs"] = int(mp_pairs)
    extra["mp_pairs_per_sec"] = mp_pairs / times["matrix_profile_mpx_w128"]

    # ---- distributed-MP TILE path at bench scale (VERDICT r5 #1/#3) ----
    # The main corpus maxes out at the routing cut, so the stage above
    # exercises only the blob path; this stage measures the tile path's
    # throughput at stated work on a deterministic long-doc slice (docs
    # ~4x past the cut — each one MUST span tasks). Kept as its own
    # stage so the matrix_profile_mpx_w128 line stays work-identical to
    # BENCH_r05; min-of-2 (quota noise guard).
    LONG_N, LONG_TOK = 12, 65536

    def _long_docs():
        from pyspark.sql import types as T

        schema = T.StructType([
            T.StructField("doc_id", T.StringType()),
            T.StructField("tokens", T.ArrayType(T.IntegerType())),
            T.StructField("n_tok", T.IntegerType()),
            T.StructField("source", T.StringType()),
        ])
        base = spark.range(0, LONG_N, 1, LONG_N)

        def gen(batches):
            import numpy as np
            import pandas as pd

            for b in batches:
                rows = []
                for i in b["id"].tolist():
                    rng = np.random.default_rng(SEED * 100003 + int(i))
                    toks = rng.integers(0, 50257, size=LONG_TOK,
                                        dtype=np.int32)
                    rows.append((f"long_{int(i):04d}",
                                 [int(v) for v in toks], LONG_TOK, "longdoc"))
                yield pd.DataFrame(
                    rows, columns=["doc_id", "tokens", "n_tok", "source"])

        return base.mapInPandas(gen, schema=schema)

    long_docs = _long_docs().persist()
    long_docs.count()  # materialize outside the timed window
    assert LONG_TOK > MP_CUT  # every long doc routes through tiles
    tile_runs = []
    tile_points = 0
    for _ in range(2):
        t0 = time.time()
        tile_points = matrix_profile_distributed(
            long_docs, w=128, chunk_len=4096, num_partitions=mp_parts,
        ).count()
        tile_runs.append(round(time.time() - t0, 3))
    long_docs.unpersist()
    times["matrix_profile_tiles_w128"] = min(tile_runs)
    tile_pairs = LONG_N * (LONG_TOK - 127.0) ** 2 / 2
    extra["mp_tile_runs"] = tile_runs
    extra["mp_tile_half_pairs"] = int(tile_pairs)
    extra["mp_tile_pairs_per_sec"] = tile_pairs / times["matrix_profile_tiles_w128"]
    # total profile points produced via the tile path this run (main
    # stage's within-corpus routing + the long-doc tile stage)
    extra["mp_points_distributed"] = int(
        extra.get("mp_points_distributed", 0)) + int(tile_points)


    total = sum(times.values())
    out = {
        "metric": "rolled-up points/sec (all retention tiers) + operator suite",
        "value": round(total, 3),
        "unit": "sec",
        "queries": {k: round(v, 3) for k, v in times.items()},
        "sf": sf_name,
        **{k: (round(v, 1) if isinstance(v, float) else v) for k, v in extra.items()},
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
