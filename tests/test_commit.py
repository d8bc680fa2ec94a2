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

# staged data written, fingerprint not; batch data written, no manifest;
# manifest k written, the rest not
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
    """Make the store's JSON writes raise ``Crash`` at ``point``."""
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

    job = make(spark, tmp_path)
    job.run(inp(inputs))
    assert (tmp_path / f"_stage_{stage}_COMMITTED").exists()
    assert _served(kind, job) == uninterrupted[kind]
