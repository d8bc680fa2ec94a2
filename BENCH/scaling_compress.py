#!/usr/bin/env python3
"""Scaling-efficiency evidence for the COMPRESSION POLICY job
(streaming/compress.py — the compress_chunks analog), same protocol as
BENCH/scaling.py: the IDENTICAL job (same fine-tier input, same partition
count >= 4x the larger core count) at local-cluster[N,c] and
local-cluster[4N,c] (each executor its own JVM + python workers),
efficiency = (rows/s @ 4N) / (4 x rows/s @ N), interleaved best-of-reps
(the sandbox CPU quota fluctuates ~2x).

The measured window is the END-TO-END job: staged fingerprint-bound input
write, per-group watermark + cutoff join, DoD segment encode
(applyInPandas), head/segment writes, lineage manifests — i.e. everything
`CompressionPolicyJob.run` commits.

Usage: python BENCH/scaling_compress.py [n_small] [n_docs]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))
sys.path.insert(0, str(REPO / "BENCH"))  # for `from scaling import ...`

PREP = r"""
import sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
from matrixprofiler_spark.operators.rollup import tier_rollup
from matrixprofiler_spark.sources.tokens import ensure_synth_tokens

n_docs = int(sys.argv[1]); out = sys.argv[2]
spark = (SparkSession.builder.master("local[8]")
    .config("spark.driver.memory", "24g")
    .config("spark.sql.shuffle.partitions", "32")
    .config("spark.local.dir", "/dev/shm/spark-local")
    .config("spark.ui.enabled", "false").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
tokens = ensure_synth_tokens(spark, n_docs,
                             {repo!r} + f"/data/tokens_scaling_{{n_docs}}",
                             seed=42)
fine = tier_rollup(tokens, {"1m": 60}).select(
    "doc_id", "source", "bucket", "cnt", "sum_v", "sumsq", "min_v", "max_v")
fine.write.mode("overwrite").parquet(out)
spark.stop()
"""

RUNNER = r"""
import json, os, shutil, subprocess, sys, tempfile, time
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
from matrixprofiler_spark.streaming.compress import CompressionPolicyJob

cpus = int(sys.argv[1]); parts = int(sys.argv[2]); fine_path = sys.argv[3]
exec_cores = int(os.environ.get("EXEC_CORES", "4" if cpus >= 4 else "2"))
n_exec = max(1, cpus // exec_cores)
os.makedirs({repo!r} + "/dist", exist_ok=True)
subprocess.run(["zip", "-qr", {repo!r} + "/dist/mps.zip", "matrixprofiler_spark",
                "-x", "*__pycache__*"], cwd={repo!r}, check=True)
spark = (SparkSession.builder.master(f"local-cluster[{{n_exec}},{{exec_cores}},6144]")
    .config("spark.sql.shuffle.partitions", str(parts))
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.files.maxPartitionBytes", "8m")
    .config("spark.driver.memory", "8g")
    .config("spark.executor.memory", "6g")
    .config("spark.local.dir", "/dev/shm/spark-local")
    .config("spark.ui.enabled", "false").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
spark.sparkContext.addPyFile({repo!r} + "/dist/mps.zip")
fine = spark.read.parquet(fine_path)
fine.count()  # warm the input scan (I/O excluded from the scaling ratio)
# warm python workers / Arrow / codec imports with a tiny throwaway job
warm_base = tempfile.mkdtemp(prefix="cmp_scale_warm_")
try:
    CompressionPolicyJob(spark, warm_base, 60, 3600, 3600,
                         n_groups=1).run(fine.limit(256))
finally:
    shutil.rmtree(warm_base, ignore_errors=True)

base = tempfile.mkdtemp(prefix="cmp_scale_")
try:
    t0 = time.time()
    job = CompressionPolicyJob(spark, base, 60, 3600, 3600, n_groups=8)
    job.run(fine)
    elapsed = time.time() - t0
    m = job.metrics()
finally:
    shutil.rmtree(base, ignore_errors=True)
print(json.dumps({{"cpus": cpus, "executors": n_exec, "elapsed": elapsed,
                   "rows_in": m["rows_in"],
                   "rows_compressed": m["rows_compressed"],
                   "compression_ratio": m["compression_ratio"],
                   "rows_per_sec": m["rows_in"] / elapsed}}))
spark.stop()
"""


def run_at(cpus: int, parts: int, fine_path: str) -> dict:
    code = RUNNER.format(repo=str(REPO))
    out = subprocess.run(
        [sys.executable, "-c", code, str(cpus), str(parts), fine_path],
        capture_output=True, text=True, cwd=REPO, timeout=3600,
    )
    lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
    if not lines:
        sys.stderr.write(out.stdout[-2000:] + out.stderr[-4000:])
        raise RuntimeError(f"runner produced no result at cpus={cpus}")
    return json.loads(lines[-1])


def main():
    n_small = int(sys.argv[1]) if len(sys.argv) > 1 else 2
    n_docs = int(sys.argv[2]) if len(sys.argv) > 2 else 20000
    if n_small == 2:
        os.environ.setdefault("EXEC_CORES", "2")
    n_big = 4 * n_small
    parts = 4 * n_big

    fine_path = str(REPO / "data" / f"fine_scaling_{n_docs}")
    if not (Path(fine_path) / "_SUCCESS").exists():
        subprocess.run(
            [sys.executable, "-c", PREP.format(repo=str(REPO)),
             str(n_docs), fine_path],
            cwd=REPO, timeout=1800, check=True,
        )

    from scaling import hw_calibration  # same-window machine ceiling probe

    runs_small, runs_big, hws = [], [], []
    for _ in range(int(os.environ.get("SCALING_REPS", "3"))):
        runs_small.append(run_at(n_small, parts, fine_path))
        runs_big.append(run_at(n_big, parts, fine_path))
        hws.append(hw_calibration(n_small, n_big))
    r_small = min(runs_small, key=lambda r: r["elapsed"])
    r_big = min(runs_big, key=lambda r: r["elapsed"])
    eff = r_big["rows_per_sec"] / (4 * r_small["rows_per_sec"])
    hw = {k: round(max(h[k] for h in hws), 3) for k in hws[0]}
    result = {
        "job": "CompressionPolicyJob (compress_chunks analog)",
        "n_docs": n_docs,
        "partitions": parts,
        "small": r_small,
        "big": r_big,
        "scaling_efficiency": round(eff, 3),
        "target": 0.8,
        "pass": eff >= 0.8,
        **hw,
        "efficiency_vs_hw_ceiling": round(
            eff / hw["hw_ceiling_efficiency"], 3)
        if hw["hw_ceiling_efficiency"] else None,
    }
    print(json.dumps(result, indent=2))
    with open(REPO / "BENCH" /
              f"scaling_compress_{n_small}to{n_big}_{n_docs // 1000}kdocs.json",
              "w") as f:
        json.dump(result, f, indent=2)


if __name__ == "__main__":
    main()
