"""Dump .explain('formatted') plans of the flagship stages, of the
registered queries below and of the lifecycle stores' serving reads to
BENCH/PLANS.md, so plan quality (pruning, pushdown, single-shuffle
cascades, broadcast joins, store file counts) is reviewable without
running Spark. To compare two trees, run it in each and diff the output.

    python tools/dump_plans.py
"""

from __future__ import annotations

import glob
import sys
import tempfile
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

# the registered queries whose plans the r7 optimization round changed
QUERIES = [
    "realtime_rollup", "rollup_1m", "text_stats", "sliding_stats_w8",
    "matrix_profile_w8", "mass_w8", "zero_crossings_w16",
    "dedup_ngram_jaccard", "dedup_minhash_lsh",
]


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def main():
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from matrixprofiler_spark.operators.rollup import (
        cascade_tier,
        finest_rollup,
        gap_fill,
        window_stats_chunked,
    )
    from matrixprofiler_spark.operators.similarity import (
        cosine_pairs_above,
        cosine_topk,
        srp_pairs_above,
    )
    from matrixprofiler_spark.sources.tokens import tokens_from_documents

    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    sf = "/root/testdata/sf0.001"
    tok = tokens_from_documents(spark, sf)
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")

    sections = {
        "finest_rollup (kernel on pruned scan, zero shuffles)": finest_rollup(tok),
        "finest_rollup with source filter (pushdown)": finest_rollup(
            tok.filter(F.col("source") == "src1")
        ),
        "tier cascade 1m->1h (map-side partial agg, one Exchange)": cascade_tier(
            finest_rollup(tok), 60, 3600, "1h"
        ),
        "gap_fill (generated spine + equi-join)": gap_fill(finest_rollup(tok)),
        "window_stats_chunked (offset-range chunking, JVM-side slice)":
            window_stats_chunked(tok, 64, chunk_len=500),
        "cosine_topk (broadcast query side)": cosine_topk(emb, k=1, num_queries=5),
        "cosine_pairs_above (cogrouped block join, no driver collect)":
            cosine_pairs_above(emb, threshold=0.3, num_blocks=4),
        "srp_pairs_above (LSH bucket equi-join, sub-quadratic)":
            srp_pairs_above(emb, threshold=0.3, n_planes=4),
        "matrix_profile_distributed (tile self-join + map-side min-merge)":
            __import__("matrixprofiler_spark.operators.mp_ops",
                       fromlist=["matrix_profile_distributed"])
            .matrix_profile_distributed(tok, 8, chunk_len=24),
    }
    from matrixprofiler_spark.operators.asof import asof_join
    from matrixprofiler_spark.operators.rangejoin import range_join

    ev = spark.read.parquet(f"{sf}/events.parquet").select(
        "event_id", "user_id",
        F.expr(
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '2024-01-01 00:00:00', ts)"
        ).cast("long").alias("t"),
    )
    iv = ev.groupBy("user_id").agg(
        F.min("t").alias("lo"), F.max("t").alias("hi"), F.count("*").alias("n")
    )
    r = iv.select("user_id", F.col("lo").alias("t"), "n")
    sections["asof_join (union-tag + per-key window, one shuffle)"] = asof_join(
        ev, r, "user_id", "t", ["n"]
    )
    sections["range_join (bucketized interval equi-join, no nested loop)"] = range_join(
        ev, iv, "user_id", "t", "lo", "hi", 3600_000_000
    )
    sections[
        "asof_join SALTED (hot-key-safe: window on (key, time-range) + boundary carry)"
    ] = asof_join(ev, r, "user_id", "t", ["n"], split_width=86400.0)
    # the remaining top-5 bench stages (BENCH_r04 cost order)
    from matrixprofiler_spark.operators.dedup import minhash_lsh_pairs
    from matrixprofiler_spark.operators.mp_ops import matrix_profile_blobs

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    sections[
        "dedup_minhash_lsh (banded equi-join, bucket cap, no cartesian)"
    ] = minhash_lsh_pairs(docs, max_bucket=256)
    sections[
        "matrix_profile_blobs (per-doc MPX kernel directly on salted scan)"
    ] = matrix_profile_blobs(tok, w=8, max_tokens=256, num_partitions=4)
    from matrixprofiler_spark.queries import queries

    reg = queries()
    for name in QUERIES:
        sections[f"query {name}"] = reg[name](spark, sf)

    # lifecycle stores: run a tiny job, then plan its serving read; each
    # title carries the file counts of the stores that read scans
    from matrixprofiler_spark.streaming.compress import CompressionPolicyJob
    from matrixprofiler_spark.streaming.expiry import RetentionExpiryJob

    fine = finest_rollup(tok, 16).cache()
    fine.count()
    tmp = tempfile.TemporaryDirectory(prefix="plans_")
    c_root, e_root = f"{tmp.name}/compress", f"{tmp.name}/expiry"

    def n_files(store):
        return len(glob.glob(f"{store}/grp=*/*.parquet"))

    cjob = CompressionPolicyJob(spark, c_root, 16, 64, 16, n_groups=4)
    cjob.run(fine)
    ejob = RetentionExpiryJob(spark, e_root, 16, 64, 32, n_groups=4)
    ejob.run(fine)
    sections[
        f"compressed range read, CompressionPolicyJob.read_fine "
        f"({n_files(c_root + '/segments')} segment files, "
        f"{n_files(c_root + '/head')} head files)"
    ] = cjob.read_fine(bucket_min=0, bucket_max=3)
    sections[
        f"retention expiry serving read, RetentionExpiryJob.result "
        f"({n_files(e_root + '/compacted')} compacted files)"
    ] = ejob.result()

    out = ["# Physical plans of the flagship stages, queries and serving reads",
           "",
           "Generated by `python tools/dump_plans.py` (`df.explain('formatted')`);",
           "to compare two trees, run it in each and diff this file.",
           ""]
    for title, df in sections.items():
        out.append(f"## {title}\n")
        out.append("```")
        out.append(plan_of(df).rstrip())
        out.append("```\n")
    (REPO / "BENCH" / "PLANS.md").write_text("\n".join(out))
    print("wrote BENCH/PLANS.md")
    spark.stop()
    tmp.cleanup()


if __name__ == "__main__":
    main()
