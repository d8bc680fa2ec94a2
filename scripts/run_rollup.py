#!/usr/bin/env python3
"""spark-submit entry point: resumable tiered rollup over a tokens table.

    spark-submit --py-files matrixprofiler_spark.zip scripts/run_rollup.py \
        --input  <parquet-or-iceberg tokens table> \
        --output <checkpoint/output base dir> \
        [--groups 64] [--window 128] [--partitions 4xcores]

On a cluster, pass e.g. --master yarn / k8s:// and executor confs as usual;
the job is agnostic — all partitioning decisions live in the engine
(``--partitions`` caps the window-stats fan-out, which merges the input's
splits without a shuffle; see operators/rollup.py).
Re-running with the same --output resumes from the last committed
partition group (per-partition lineage manifests; streaming/checkpoint.py).
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

# when launched via spark-submit --py-files, the package zip is on sys.path
sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--groups", type=int, default=64)
    ap.add_argument("--window", type=int, default=128)
    ap.add_argument("--partitions", type=int, default=None)
    ap.add_argument(
        "--expire-horizon", type=int, default=None,
        help="token-offset retention horizon; when set, runs the "
             "drop_chunks-analog compaction (streaming/expiry.py) of the "
             "committed 1m tier into <output>/expiry — fine buckets whose "
             "serving responsibility has passed to the 1h tier are "
             "physically dropped (snapshot-committed, resumable)")
    ap.add_argument(
        "--compress-horizon", type=int, default=None,
        help="token-offset compression horizon; when set, runs the "
             "compress_chunks-analog job (streaming/compress.py) of the "
             "committed 1m tier into <output>/compress — fine buckets "
             "older than the horizon are rewritten as per-(doc, 1h-chunk) "
             "delta-of-delta segment blobs; recent rows stay row-form "
             "(snapshot-committed, resumable; read back via "
             "CompressionPolicyJob.read_fine)")
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from matrixprofiler_spark.operators.rollup import window_stats
    from matrixprofiler_spark.streaming.checkpoint import RollupJob

    spark = SparkSession.builder.appName("matrixprofiler-rollup").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    if args.input.startswith("iceberg:"):
        tokens = spark.read.format("iceberg").load(args.input[len("iceberg:"):])
    else:
        tokens = spark.read.parquet(args.input)

    t0 = time.time()
    job = RollupJob(spark, args.output, n_groups=args.groups)
    processed = job.run(tokens)
    metrics = job.metrics()

    ws = window_stats(tokens, w=args.window, num_partitions=args.partitions)
    ws_path = str(Path(args.output) / f"stage=window_stats_w{args.window}")
    if not (Path(ws_path) / "_SUCCESS").exists():
        ws.write.mode("overwrite").parquet(ws_path)
    window_points = (
        spark.read.parquet(ws_path).agg(F.sum("n_windows")).collect()[0][0] or 0
    )

    expiry_metrics = None
    if args.expire_horizon is not None:
        from matrixprofiler_spark.streaming.expiry import RetentionExpiryJob

        fine = job.result().select(
            "doc_id", "source", "tier", "bucket", "cnt", "sum_v", "sumsq",
            "min_v", "max_v")
        ejob = RetentionExpiryJob(
            spark, Path(args.output) / "expiry",
            fine_size=job.bucket_size, coarse_size=3600,
            horizon=args.expire_horizon, n_groups=args.groups)
        ejob.run(fine)
        expiry_metrics = ejob.metrics()

    compress_metrics = None
    if args.compress_horizon is not None:
        from matrixprofiler_spark.streaming.compress import CompressionPolicyJob

        fine = job.result().filter(F.col("tier") == "1m").select(
            "doc_id", "source", "bucket", "cnt", "sum_v", "sumsq",
            "min_v", "max_v")
        cjob = CompressionPolicyJob(
            spark, Path(args.output) / "compress",
            fine_size=job.bucket_size, chunk_span=3600,
            horizon=args.compress_horizon, n_groups=args.groups)
        cjob.run(fine)
        compress_metrics = cjob.metrics()

    print(json.dumps({
        "groups_processed_this_run": processed,
        "run_elapsed_sec": round(time.time() - t0, 3),
        "window_points": int(window_points),
        "cumulative": metrics,
        "expiry": expiry_metrics,
        "compress": compress_metrics,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
