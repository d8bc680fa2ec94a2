#!/usr/bin/env python3
"""Benchmark of the rollup / lifecycle / matrix-profile engine.

Run from the repository root:

    python3 perfbench/run.py --workload batch --seed 1 --seconds 20 --trace 0

Workloads (see workloads.py): ``batch`` (rollups, then the matrix profile)
and ``lifecycle`` (expiry, compression, re-runs and range reads on one
store). The run generates its inputs from ``--seed`` (cached under
``.bench_build/perfbench``), starts a ``local[task_slots]`` Spark session
(half the cores, see session.py), runs
untimed warm-up steps, then repeats the workload's closed-loop step
until ``--seconds`` have passed, checking every output. With ``--trace 0``
the last stdout line carries the end-to-end metrics; ``--trace 1`` turns on
the Spark event log and job-group spans and reports the per-layer metrics
instead. The line before it describes the kernel path and environment.

Exits non-zero, without a result, when the engine package is missing.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

REPO = Path(__file__).resolve().parent.parent

E2E_UNITS = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "work_per_s": "items/s",
    "op_p50_ms": "ms",
}


def layer_units() -> dict[str, str]:
    from perfbench.trace import LAYER_SPANS, SPAN_METRICS

    units = {f"{s}.{m}": u for s in LAYER_SPANS for m, u in SPAN_METRICS}
    units.update({
        "kernels.movstats_pts_per_s": "points/s",
        "kernels.mpx_pairs_per_s": "pairs/s",
        "codecs.gorilla_encode_mb_per_s": "MB/s",
        "codecs.dod_encode_mb_per_s": "MB/s",
        "codecs.dod_decode_mb_per_s": "MB/s",
        "operators.rollup.window_stats.ceiling_pct": "%",
        "operators.mp_ops.blobs.ceiling_pct": "%",
        "operators.mp_ops.distributed.ceiling_pct": "%",
        "streaming.bytes_written": "B",
        "streaming.files_written": "count",
        "streaming.rerun_bytes_written": "B",
        "streaming.store_bytes_per_row": "B/row",
        "streaming.segment_prune_ratio": "ratio",
        "codecs.compress_ratio": "ratio",
        "plans.mp_routing_cut": "tokens",
        "kernels.native_driver": "bool",
        "kernels.native_workers": "bool",
        "env.nproc": "count",
        "env.hw_probe_start_s": "s",
        "env.hw_probe_end_s": "s",
        "trace.work_per_s": "items/s",
        "trace.op_p50_ms": "ms",
        "trace.span_coverage": "ratio",
    })
    return units


def _stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (REPO / "matrixprofiler_spark" / "__init__.py").is_file():
        print(f"perfbench: engine package matrixprofiler_spark not found under {REPO}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(REPO))
    from perfbench import gen, probes, session, trace, workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    wl = workloads.WORKLOADS[args.workload]()
    work = REPO / ".bench_build" / "perfbench"
    run_dir = work / "run"
    shutil.rmtree(run_dir, ignore_errors=True)
    session.configure_env(REPO, work, run_dir)

    # inputs and the native library build are not part of any metric; the
    # input cache is keyed on the code that generates the inputs
    t0 = time.time()
    code = hashlib.sha256(b"".join(Path(m.__file__).read_bytes() for m in (gen, workloads)))
    data = gen.cached(work / "data", f"{wl.name}_{args.seed}_{code.hexdigest()[:12]}",
                      lambda out: wl.build(out, args.seed))
    native_driver = int(probes.native_loaded())
    excluded_s = time.time() - t0

    import numpy as np
    import pyspark

    rss = probes.RssSampler().start()
    log_dir = run_dir / "eventlog" if args.trace else None
    spark = session.build_spark(run_dir, log_dir)
    try:
        run_id = f"{wl.name}-{args.seed}-{int(T_START)}"
        tracer = trace.Tracer(run_id, spark.sparkContext if args.trace else None)
        ctx = workloads.Ctx(spark, tracer, run_dir, data, session.task_slots(),
                            np.random.default_rng(args.seed))
        wl.load(ctx)
        # warm-up, checked and counted but not timed; set-up ends with the
        # first warm-up step
        wl.step(ctx)
        setup_s = time.time() - T_START - excluded_s
        for _ in range(wl.warmup_steps - 1):
            wl.step(ctx)
        warmup_s = time.time() - T_START - excluded_s
        warm_ops, ctx.ops = ctx.ops, []
        tracer.spans.clear()

        hw_start = probes.hw_probe_s()
        deadline = time.perf_counter() + args.seconds
        while time.perf_counter() < deadline:
            wl.step(ctx)
        peak_rss_mb = rss.stop()
        e2e = wl.e2e(ctx)
        native_workers = probes.native_in_workers(spark)
        hw_end = probes.hw_probe_s()
        if args.trace:
            ceilings = probes.kernel_ceilings(np.load(data / "sample.npy"))
    finally:
        _stop_spark(spark)

    ops = warm_ops + ctx.ops
    failed = sum(not o.ok for o in ops)
    env = {
        "workload": wl.name, "seed": args.seed, "nproc": session.nproc(),
        "task_slots": ctx.cores,
        "native_driver": native_driver, "native_workers": native_workers,
        "python": platform.python_version(), "numpy": np.__version__,
        "spark": pyspark.__version__,
        "op_seconds": {k: [round(o.seconds, 3) for o in ctx.ops if o.kind == k]
                       for k in dict.fromkeys(o.kind for o in ctx.ops)},
        "hw_probe_s": [round(hw_start, 4), round(hw_end, 4)],
        "span_s": {k: round(sum(s.end - s.start for s in tracer.spans if s.name == k), 3)
                   for k in trace.LAYER_SPANS if any(s.name == k for s in tracer.spans)},
        # where the run's own time went: input generation, set-up plus
        # warm-up, and all of it up to here
        "phase_s": [round(excluded_s, 2), round(warmup_s, 2), round(time.time() - T_START, 2)],
    }
    if args.trace:
        (work / "traces").mkdir(exist_ok=True)
        tracer.write(work / "traces" / f"{run_id}.json")
        jobs, stage_group, tasks = trace.read_event_log(trace.find_event_log(log_dir))
        layers = trace.span_metrics(tracer.spans, jobs, stage_group, tasks)
        op_wall = sum(s.end - s.start for s in tracer.spans if s.parent is None)
        span_wall = sum(s.end - s.start for s in tracer.spans if s.parent is not None)
        values = {**layers, **ceilings, **ctx.counts, **wl.layer_counts(),
                  **wl.ceiling_pct(ctx, layers, ceilings),
                  "kernels.native_driver": native_driver,
                  "kernels.native_workers": native_workers,
                  "env.nproc": session.nproc(),
                  "env.hw_probe_start_s": hw_start, "env.hw_probe_end_s": hw_end,
                  "trace.work_per_s": e2e["work_per_s"], "trace.op_p50_ms": e2e["op_p50_ms"],
                  "trace.span_coverage": span_wall / op_wall if op_wall else 0.0}
        units = layer_units()
    else:
        values = {"setup_s": setup_s, "peak_rss_mb": peak_rss_mb, **e2e}
        units = E2E_UNITS
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"env": env}))
    print(json.dumps(result(len(ops), failed, values, units)))
    return 0


def result(attempted: int, failed: int, values: dict, units: dict[str, str]) -> dict:
    """The last stdout line: every metric of ``units`` with its unit; a
    metric the run did not reach (a span this workload never enters)
    reads 0."""
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(values.get(k) or 0.0), "unit": u} for k, u in units.items()},
    }


if __name__ == "__main__":
    sys.exit(main())
