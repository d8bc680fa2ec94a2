#!/usr/bin/env python3
"""Measure the MPX kernel's rate on this host, native and numpy.

    python3 tools/mpx_rate.py [--reps R]

Times ``kernels.mp._mpx_core`` single-threaded in this process on seeded
random walks of n = 8,192, 20,480 and 40,000 tokens at the production
window w = 128, once through the native library (when its ``"mpx"`` gate
passes here) and once through the numpy path. A doc of n tokens counts
as (n - w + 1)^2 / 2 half-pairs, as ``perfbench``'s
``kernels.mpx_pairs_per_s`` counts them. For each path it reports the
median rate per n, the slowest of them, and the routing cut that rate
yields under ``plans.partitioning``'s task budget, next to the cuts the
module's own constants yield.

Prints one JSON line. The engine does not import this script; it backs
the MPX rate constants of ``matrixprofiler_spark/plans/partitioning.py``.
"""

from __future__ import annotations

import argparse
import json
import platform
import statistics
import sys
import time
from pathlib import Path

import numpy as np

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from matrixprofiler_spark.kernels import native  # noqa: E402
from matrixprofiler_spark.kernels.mp import _mpx_core, _mpx_selftest  # noqa: E402
from matrixprofiler_spark.plans import partitioning as P  # noqa: E402

W = 128
SIZES = (8_192, 20_480, 40_000)


def _rate(x: np.ndarray, lib, reps: int) -> float:
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        _mpx_core(x, W, 0.5, True, True, lib=lib)
        times.append(time.perf_counter() - t0)
    return (x.size - W + 1) ** 2 / 2 / statistics.median(times)


def _cut(rate: float) -> int:
    return int((2.0 * P.MP_TASK_BUDGET_SEC * rate) ** 0.5)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--reps", type=int, default=3)
    args = ap.parse_args(argv)

    rng = np.random.default_rng(0)
    docs = {n: np.cumsum(rng.integers(-8, 9, size=n)).astype(np.float64) for n in SIZES}
    lib = native.checked("mpx", _mpx_selftest)
    paths = {"numpy": None} if lib is None else {"native": lib, "numpy": None}
    out = {"python": platform.python_version(), "w": W, "reps": args.reps,
           "task_budget_s": P.MP_TASK_BUDGET_SEC, "native_gate": lib is not None}
    for name, path_lib in paths.items():
        rates = {n: _rate(x, path_lib, args.reps) for n, x in docs.items()}
        out[name] = {
            "half_pairs_per_s": {str(n): round(r) for n, r in rates.items()},
            "min_half_pairs_per_s": round(min(rates.values())),
            "cut_at_min": _cut(min(rates.values())),
        }
    out["constants"] = {
        name: {"half_pairs_per_s": rate, "cut": _cut(rate)}
        for name, rate in (("native", P.MPX_NATIVE_HALF_PAIRS_PER_SEC),
                           ("numpy", P.MPX_NUMPY_HALF_PAIRS_PER_SEC))
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
