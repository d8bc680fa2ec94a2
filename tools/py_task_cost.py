#!/usr/bin/env python3
"""Measure the fixed cost of one engine Python-UDF task on this host.

    python3 tools/py_task_cost.py [--slots K] [--rows N] [--reps R]

Starts a ``local[K]`` session and times an identity ``mapInPandas`` over N
rows split into K partitions (one wave of tasks) and into 4K partitions
(four waves). Each extra wave makes every slot run one more task on the
same rows, so ``(four_waves_s - one_wave_s) / 3`` is what one task costs
before it sees a row. The identity UDF imports ``matrixprofiler_spark``,
as every engine UDF does when it is unpickled, so the figure is the cost
the engine's tasks pay. It also times ``importlib.invalidate_caches()``
inside such a worker, the call PySpark's worker makes at the start of
every task (on CPython 3.11 it re-reads each zip archive's directory, on
later releases only lazily), and reports whether the package's pin of
Spark's own archives is installed there (``pinned``), how many
zipimporters the worker holds and the realpaths of their archives.

Prints one JSON line. The engine does not import this script; it backs
the one-wave rule of ``matrixprofiler_spark/plans/partitioning.py``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def _identity(batches):
    import matrixprofiler_spark  # noqa: F401

    yield from batches


def _invalidate_cost(batches):
    import importlib
    import os
    import sys
    import zipimport

    import pandas as pd

    import matrixprofiler_spark  # noqa: F401

    for _ in batches:
        pass
    times = []
    for _ in range(5):
        t0 = time.perf_counter()
        importlib.invalidate_caches()
        times.append(time.perf_counter() - t0)
    zips = [v.archive for v in sys.path_importer_cache.values()
            if isinstance(v, zipimport.zipimporter)]
    pinned = zipimport.zipimporter.invalidate_caches.__module__ == "matrixprofiler_spark"
    yield pd.DataFrame({
        "s": [statistics.median(times)],
        "zips": [len(zips)],
        "pinned": [pinned],
        "archives": [sorted({os.path.realpath(a) for a in zips})],
    })


def _timed(fn, reps: int) -> float:
    runs = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        runs.append(time.perf_counter() - t0)
    return statistics.median(runs)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--slots", type=int, default=2, help="local[K] task slots")
    ap.add_argument("--rows", type=int, default=200_000)
    ap.add_argument("--reps", type=int, default=5)
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    # the Python workers import the engine from this checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        filter(None, [str(REPO), os.environ.get("PYTHONPATH")]))
    k = args.slots
    spark = (SparkSession.builder.master(f"local[{k}]")
             .appName("py_task_cost")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    try:
        def stage(parts: int):
            df = spark.range(0, args.rows, 1, parts)
            return lambda: (df.mapInPandas(_identity, df.schema)
                            .write.format("noop").mode("overwrite").save())

        one, four = stage(k), stage(4 * k)
        one()  # start the Python workers before anything is timed
        four()
        one_s, four_s = _timed(one, args.reps), _timed(four, args.reps)
        inv = (spark.range(0, 1, 1, 1)
               .mapInPandas(_invalidate_cost,
                            "s double, zips long, pinned boolean, archives array<string>")
               .collect()[0])
        out = {
            "python": platform.python_version(),
            "slots": k,
            "rows": args.rows,
            "reps": args.reps,
            "one_wave_s": round(one_s, 4),
            "four_waves_s": round(four_s, 4),
            "per_task_s": round((four_s - one_s) / 3, 4),
            "invalidate_caches_s": round(inv["s"], 4),
            "worker_zipimporters": int(inv["zips"]),
            "pinned": bool(inv["pinned"]),
            "worker_archives": list(inv["archives"]),
        }
    finally:
        spark.stop()
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
