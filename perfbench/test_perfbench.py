"""Tests of the benchmark's own code: the event-log parser and the result
line. Run from the repository root with ``python -m pytest perfbench -q``."""

from __future__ import annotations

import json
import operator
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

from perfbench import run, trace

REPO = Path(__file__).resolve().parent.parent


def _write_log(path: Path, events: list[dict]) -> Path:
    path.write_text("".join(json.dumps(e) + "\n" for e in events))
    return path


def _task(stage, launch_ms, finish_ms, run_ms, cpu_ns=0, gc_ms=0, shuffle=0, spill=0):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage, "Stage Attempt ID": 0,
        "Task Info": {"Launch Time": launch_ms, "Finish Time": finish_ms},
        "Task Metrics": {"Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
                         "JVM GC Time": gc_ms, "Disk Bytes Spilled": spill,
                         "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle}},
    }


def _group(g):
    return {"spark.jobGroup.id": g} if g else {}


def test_span_metrics_sums_synthetic_log(tmp_path):
    """Exact per-span sums, driver-only time and skew on a hand-made log."""
    g1, g2 = "r/sources.scan/1", "r/sources.scan/2"
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Properties": _group(g1)},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0}, "Properties": _group(g1)},
        _task(0, 10_000, 11_000, 900, cpu_ns=500_000_000, gc_ms=20, shuffle=100),
        _task(0, 10_500, 12_000, 1400, spill=7),
        _task(0, 10_500, 10_600, 100),
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Properties": _group(g2)},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 1}, "Properties": _group(g2)},
        _task(1, 20_000, 21_000, 1000, shuffle=50),
        # an untagged job is attributed to no span
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Properties": {}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 2}, "Properties": {}},
        _task(2, 10_000, 30_000, 20_000, shuffle=999),
    ]
    log = _write_log(tmp_path / "log", events)
    spans = [
        trace.Span("sources.scan", 9.0, 13.0, "op", "r", g1),   # busy 10..12 of 9..13
        trace.Span("sources.scan", 19.5, 21.0, "op", "r", g2),  # busy 20..21 of 19.5..21
        trace.Span("op", 9.0, 21.0, None, "r", None),
    ]
    m = trace.span_metrics(spans, *trace.read_event_log(log))
    assert m["sources.scan.wall_s"] == pytest.approx(4.0 + 1.5)
    assert m["sources.scan.jobs"] == 2
    assert m["sources.scan.tasks"] == 4
    assert m["sources.scan.task_run_s"] == pytest.approx(0.9 + 1.4 + 0.1 + 1.0)
    assert m["sources.scan.task_cpu_s"] == pytest.approx(0.5)
    assert m["sources.scan.gc_s"] == pytest.approx(0.02)
    assert m["sources.scan.shuffle_write_bytes"] == 150
    assert m["sources.scan.spill_bytes"] == 7
    assert m["sources.scan.driver_only_s"] == pytest.approx((4.0 - 2.0) + (1.5 - 1.0))
    # widest stage of instance 1: run times 0.9 / 1.4 / 0.1 -> 1.4 / 0.9;
    # instance 2 has one task -> 1.0; median of the two
    assert m["sources.scan.task_skew"] == pytest.approx((1.4 / 0.9 + 1.0) / 2)
    # every layer span is reported, zero where it never ran
    assert m["streaming.rerun.wall_s"] == 0.0
    assert len(m) == len(trace.LAYER_SPANS) * len(trace.SPAN_METRICS)


@pytest.fixture
def restore_environ():
    saved = dict(os.environ)
    yield
    os.environ.clear()
    os.environ.update(saved)


def test_span_metrics_tiny_spark_run(tmp_path, restore_environ):
    """The parser reads a real Spark event log: jobs and tasks of each
    job group land on their span, untagged jobs nowhere."""
    from perfbench import session

    session.configure_env(REPO, tmp_path, tmp_path / "run")
    spark = session.build_spark(tmp_path / "run", tmp_path / "log")
    sc = spark.sparkContext
    tr = trace.Tracer("t", sc)
    try:
        with tr.op("op"):
            with tr.span("sources.scan"):
                assert sc.parallelize(range(8), 4).map(lambda x: x + 1).count() == 8
            with tr.span("operators.rollup.gap_fill"):
                sc.parallelize(range(6), 3).count()
                pairs = sc.parallelize(range(100), 2).map(lambda x: (x % 3, 1))
                assert dict(pairs.reduceByKey(operator.add, 2).collect()) == {0: 34, 1: 33, 2: 33}
        sc.parallelize(range(10), 5).count()  # outside every span
    finally:
        run._stop_spark(spark)
    m = trace.span_metrics(tr.spans, *trace.read_event_log(trace.find_event_log(tmp_path / "log")))
    assert (m["sources.scan.jobs"], m["sources.scan.tasks"]) == (1, 4)
    assert (m["operators.rollup.gap_fill.jobs"], m["operators.rollup.gap_fill.tasks"]) == (2, 3 + 2 + 2)
    assert m["operators.rollup.gap_fill.shuffle_write_bytes"] > 0
    assert m["sources.scan.shuffle_write_bytes"] == 0
    walls = {s.name: s.end - s.start for s in tr.spans}
    for name in ("sources.scan", "operators.rollup.gap_fill"):
        assert m[f"{name}.wall_s"] == pytest.approx(walls[name])
        assert 0 <= m[f"{name}.driver_only_s"] <= m[f"{name}.wall_s"]
        assert 0 < m[f"{name}.task_run_s"]


def _bench_json() -> dict:
    return json.loads((REPO / "BENCHMARK.json").read_text())


def test_result_names_every_benchmark_metric_with_its_unit():
    spec = _bench_json()
    for key, units in (("end_to_end", run.E2E_UNITS), ("per_layer", run.layer_units())):
        declared = {m["name"]: m["unit"] for m in spec[key]}
        out = run.result(3, 0, {}, units)
        assert {k: v["unit"] for k, v in out["metrics"].items()} == declared
        assert all(isinstance(v["value"], float) for v in out["metrics"].values())
    assert set(run.result(1, 0, {}, {})) == {"correct", "attempted", "failed", "metrics"}


def test_exits_nonzero_without_result_when_only_the_benchmark_is_present(tmp_path):
    shutil.copy(REPO / "BENCHMARK.json", tmp_path)
    shutil.copytree(REPO / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "batch",
                        "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=tmp_path, env=env, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
