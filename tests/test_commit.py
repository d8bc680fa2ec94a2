"""Crash at every commit point of the group-commit store
(streaming/commit.py), for every job built on it: a fresh job resumes
and serves exactly what an uninterrupted run serves — same rows, same
manifest censuses (wall time aside) — and marks the stage committed."""

from __future__ import annotations

import pytest

from matrixprofiler_spark.operators.rollup import cascade_tier, tier_rollup
from matrixprofiler_spark.sources.tokens import synth_tokens_df
from matrixprofiler_spark.streaming import commit
from matrixprofiler_spark.streaming.checkpoint import RollupJob
from matrixprofiler_spark.streaming.compress import CompressionPolicyJob
from matrixprofiler_spark.streaming.expiry import (
    RetentionExpiryJob,
    RetentionExpiryJobMulti,
)

FINE = 16
N_GROUPS = 2

# job kind -> (stage name, job factory, input from the fixtures, served rows)
JOBS = {
    "rollup": (
        "rollup_1m",
        lambda spark, base: RollupJob(spark, base, N_GROUPS, FINE),
        lambda inp: inp["tokens"],
        lambda job: job.result(),
    ),
    "expiry_2tier": (
        "expiry",
        lambda spark, base: RetentionExpiryJob(
            spark, base, FINE, 4 * FINE, 2 * FINE, n_groups=N_GROUPS),
        lambda inp: inp["fine"],
        lambda job: job.result(),
    ),
    "expiry_3tier": (
        "expiry",
        lambda spark, base: RetentionExpiryJobMulti(
            spark, base, [FINE, 2 * FINE, 4 * FINE], [FINE, 2 * FINE],
            n_groups=N_GROUPS),
        lambda inp: [inp["fine"], inp["mid"]],
        lambda job: job.result(),
    ),
    "compress": (
        "compress",
        lambda spark, base: CompressionPolicyJob(
            spark, base, FINE, 4 * FINE, 2 * FINE, n_groups=N_GROUPS),
        lambda inp: inp["fine"],
        lambda job: job.read_fine(),
    ),
}

# "staged": the crash hits as the fingerprint is written — the batch
# data is written, the fingerprint not; "data": data and fingerprint
# written, no manifest; "manifest<k>": manifest k written, the rest not
POINTS = ["staged", "data"] + [f"manifest{k}" for k in range(N_GROUPS)]


class Crash(Exception):
    pass


@pytest.fixture(scope="module")
def inputs(spark):
    tokens = synth_tokens_df(spark, 12, seed=5).cache()
    fine = tier_rollup(tokens, {"1m": FINE}).cache()
    mid = cascade_tier(fine, FINE, 2 * FINE, "2m").cache()
    return {"tokens": tokens, "fine": fine, "mid": mid}


def _served(kind, job):
    rows = JOBS[kind][3](job).collect()
    metrics = {k: v for k, v in job.metrics().items() if k != "elapsed_sec"}
    return sorted(repr(tuple(r)) for r in rows), metrics


@pytest.fixture(scope="module")
def uninterrupted(spark, inputs, tmp_path_factory):
    out = {}
    for kind, (_, make, inp, _) in JOBS.items():
        job = make(spark, tmp_path_factory.mktemp(f"ref_{kind}"))
        job.run(inp(inputs))
        out[kind] = _served(kind, job)
    return out


def _crash_at(monkeypatch, point):
    """Make the store's JSON writes raise ``Crash`` at ``point``; a run
    that crashes before its fingerprint is written leaves none behind."""
    real = commit.write_json
    manifests = []

    def write_json(path, obj):
        if path.name == "input_fingerprint.json":
            if point == "staged":
                raise Crash(point)
            return real(path, obj)
        if point == "data":
            raise Crash(point)
        real(path, obj)
        manifests.append(path)
        if point == f"manifest{len(manifests) - 1}":
            raise Crash(point)

    monkeypatch.setattr(commit, "write_json", write_json)


@pytest.mark.parametrize("point", POINTS)
@pytest.mark.parametrize("kind", list(JOBS))
def test_crash_then_resume(spark, inputs, uninterrupted, tmp_path,
                           monkeypatch, kind, point):
    stage, make, inp, _ = JOBS[kind]
    with monkeypatch.context() as m:
        _crash_at(m, point)
        with pytest.raises(Crash):
            make(spark, tmp_path).run(inp(inputs))
    assert not (tmp_path / f"_stage_{stage}_COMMITTED").exists()
    assert (tmp_path / "input_fingerprint.json").exists() == (
        point != "staged")

    job = make(spark, tmp_path)
    job.run(inp(inputs))
    assert (tmp_path / f"_stage_{stage}_COMMITTED").exists()
    assert _served(kind, job) == uninterrupted[kind]


_PIN_SCRIPT = """
import json, sys
from pyspark.sql import SparkSession
from matrixprofiler_spark.streaming.commit import GroupCommit
from matrixprofiler_spark.streaming.compress import CompressionPolicyJob
src, base = sys.argv[1:3]
spark = (SparkSession.builder.master("local[1]")
         .config("spark.ui.enabled", "false").getOrCreate())
fine = spark.read.parquet(src)
job = CompressionPolicyJob(spark, base, %d, %d, %d, n_groups=%d)
sc = spark.sparkContext
sc.setJobGroup("rerun", "rerun")
redone = job.run(fine)
sc._jsc.sc().listenerBus().waitUntilEmpty()
print(json.dumps({
    "pin": GroupCommit(spark, base, "probe", 1, {})._pin(job._input(fine)),
    "redone": redone,
    "jobs": len(sc.statusTracker().getJobIdsForGroup("rerun")),
}))
spark.stop()
"""


def test_pin_holds_across_sessions(spark, inputs, tmp_path):
    """The metadata pin of a file-backed input is the same in a new
    Spark session (JVM), so a re-run there on unchanged files binds with
    no Spark job: a subprocess on ``local[1]`` prints the pin of the
    same files and re-runs the committed compression."""
    import json
    import os
    import subprocess
    import sys
    from pathlib import Path

    src = tmp_path / "fine"
    inputs["fine"].write.parquet(str(src))
    base = tmp_path / "compress"
    job = CompressionPolicyJob(spark, base, FINE, 4 * FINE, 2 * FINE,
                               n_groups=N_GROUPS)
    fine = spark.read.parquet(str(src))
    job.run(fine)
    pin = job.store._pin(job._input(fine))
    assert pin is not None
    stored = json.loads((base / "input_fingerprint.json").read_text())
    assert stored["pin"] == pin

    repo = str(Path(commit.__file__).resolve().parents[2])
    env = {**os.environ, "PYTHONPATH": os.pathsep.join(
        filter(None, [repo, os.environ.get("PYTHONPATH")]))}
    script = _PIN_SCRIPT % (FINE, 4 * FINE, 2 * FINE, N_GROUPS)
    out = subprocess.run(
        [sys.executable, "-c", script, str(src), str(base)], env=env,
        capture_output=True, text=True, timeout=300, check=True)
    other = json.loads(out.stdout.strip().splitlines()[-1])
    assert other["pin"] == pin
    assert (other["redone"], other["jobs"]) == ([], 0)
