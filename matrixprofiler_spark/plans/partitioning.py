"""Partitioning plan: sizes the fan-out of the per-doc Python stages and
the offset-chunking for a tokens corpus so that (a) every partition's
token mass fits comfortably in executor memory, (b) the zipf length tail
cannot pin a straggler, and (c) a per-doc Python stage runs as at most
one wave of tasks.

One wave: every task that crosses into Python pays a fixed cost before it
sees a row. PySpark's worker calls ``importlib.invalidate_caches()`` at the
start of each task, and on CPython 3.11 that re-reads the directory of
every zip archive on the worker's path, the ``spark-core`` jar (5,359
entries) most of all; that was 0.12-0.29 s of a 0.3-0.5 s task. The
package pins Spark's own archives on import (``_pin_spark_archives`` in
``matrixprofiler_spark/__init__.py``), so a reused worker's engine task now
costs 0.06-0.08 s on a 4-core VM (``tools/py_task_cost.py`` re-measures
both on any host).
Offset chunking already caps the largest unit of work, so extra waves buy
no balance; they only make each slot pay that cost once more per wave.
The fan-out is therefore ``max(memory bound, cores)``. The linear rollup
kernels reach it by merging their input's splits (``coalesce``, no
shuffle: fan-out min(input splits, plan)); the quadratic per-doc matrix
profile by a hash repartition (``operators/mp_ops.salted``).

The inputs come from cheap corpus stats (count + sum/max of n_tok — one
aggregate over table metadata or a scan), so the plan can be computed before
launching the heavy stages.
"""

from __future__ import annotations

from dataclasses import dataclass

from ..kernels import native
from ..kernels.mp import _mpx_selftest


@dataclass
class PartitionPlan:
    num_partitions: int          # fan-out of the per-doc Python kernels
    chunk_len: int | None        # offset-range chunk length (None = no chunking)
    target_partition_tokens: int # expected token mass per partition


def plan_partitions(
    n_docs: int,
    total_tokens: int,
    max_tokens: int,
    cores: int,
    mem_per_task_bytes: int = 512 * 2**20,
    bytes_per_token: int = 32,   # int32 + per-window float64 stats headroom
) -> PartitionPlan:
    """Pick partition counts from corpus stats.

    * memory bound: partition token mass * bytes_per_token <= mem_per_task;
    * straggler bound: one partition's work <= ~2x the mean even if it
      draws several max-length docs -> chunk docs longer than the target
      partition mass / 8 (chunking also caps the per-kernel-call allocation);
    * scheduling bound: one wave, ``cores`` partitions, unless the memory
      bound asks for more (see the module docstring).
    """
    mem_tokens = max(1, mem_per_task_bytes // bytes_per_token)
    by_mem = -(-total_tokens // mem_tokens)  # ceil
    num_partitions = max(by_mem, cores)
    target = max(1, total_tokens // num_partitions)
    chunk_len = None
    if max_tokens > max(4096, target // 8):
        chunk_len = max(4096, target // 8)
    return PartitionPlan(
        num_partitions=int(num_partitions),
        chunk_len=int(chunk_len) if chunk_len else None,
        target_partition_tokens=int(target),
    )


# Routing-cut constants. A blob task must finish within MP_TASK_BUDGET_SEC
# at the single-thread rate of the MPX kernel that will run it, in
# half-pairs/s (a doc of n tokens is ~n^2/2 of them). kernels/mp.py:mpx
# runs the native library only once native.checked("mpx", ...) passes its
# self-test, else numpy; the two rates are an order of magnitude apart, so
# each path has its own. tools/mpx_rate.py re-measures both on any host; on
# a 4-core VM, n = 8,192/20,480/40,000, w = 128, it read
#   native: 4.7-6.1e8; 4.5e8 here, below every reading -> cut 47,434;
#   numpy:  3.6-5.2e7; 59e6 here (BENCH/BASELINE.md r5) -> cut 17,175.
# The tiled dgemm path runs at ~35M half-pairs/s and also pays partner-
# chunk Arrow transfer, cross-tile window-stat recompute and ~0.8 s of
# Spark jobs per call even on empty input, so it is never cheaper for a
# doc that fits one task.
MP_TASK_BUDGET_SEC = 2.5
MP_FLOOR_TOKENS = 4096
MPX_NATIVE_HALF_PAIRS_PER_SEC = 4.5e8
MPX_NUMPY_HALF_PAIRS_PER_SEC = 59e6


def mp_routing_cut(corpus_max_tokens: int) -> int:
    """Blob-vs-tile routing cut for the matrix-profile stage, derived from
    the corpus census and a per-task cost bound at the rate of the MPX
    kernel this process runs.

    A doc of n tokens is n^2/2 half-pairs; one blob task must stay under
    ``MP_TASK_BUDGET_SEC`` at that rate, so the budget bound is
    n_budget = sqrt(2 * budget * rate): ~47k tokens on the native path,
    17,175 on the numpy path. Because the blob kernel is faster per
    half-pair than the tile path, tiles are only worth paying when a doc
    genuinely cannot be one task: the cut is min(corpus max, budget
    bound), never below ``MP_FLOOR_TOKENS``. A corpus with 1M-token docs
    routes them to tiles at the budget bound instead of scheduling
    multi-hour single tasks."""
    if corpus_max_tokens <= 0:
        return MP_FLOOR_TOKENS
    rate = (MPX_NUMPY_HALF_PAIRS_PER_SEC if native.checked("mpx", _mpx_selftest) is None
            else MPX_NATIVE_HALF_PAIRS_PER_SEC)
    n_budget = int((2.0 * MP_TASK_BUDGET_SEC * rate) ** 0.5)
    return max(MP_FLOOR_TOKENS, min(int(corpus_max_tokens), n_budget))
