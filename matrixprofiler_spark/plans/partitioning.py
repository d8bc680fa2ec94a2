"""Partitioning plan: sizes the salted-hash fan-out and offset-chunking for
a tokens corpus so that (a) every partition's token mass fits comfortably in
executor memory, (b) the zipf length tail cannot pin a straggler, and
(c) a per-doc Python stage runs as at most one wave of tasks.

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
The fan-out is therefore ``max(memory bound, cores)``.

The inputs come from cheap corpus stats (count + sum/max of n_tok — one
aggregate over table metadata or a scan), so the plan can be computed before
launching the heavy stages.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass
class PartitionPlan:
    num_partitions: int          # salted-hash fan-out for per-doc kernels
    chunk_len: int | None        # offset-range chunk length (None = no chunking)
    target_partition_tokens: int # expected token mass per partition
    shuffle_partitions: int      # spark.sql.shuffle.partitions for cascades
    max_partition_bytes: str     # scan split size

    def spark_confs(self) -> dict[str, str]:
        return {
            "spark.sql.shuffle.partitions": str(self.shuffle_partitions),
            "spark.sql.files.maxPartitionBytes": self.max_partition_bytes,
            "spark.sql.adaptive.enabled": "true",
        }


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
    shuffle_partitions = max(cores * 2, min(num_partitions, 2000))
    return PartitionPlan(
        num_partitions=int(num_partitions),
        chunk_len=int(chunk_len) if chunk_len else None,
        target_partition_tokens=int(target),
        shuffle_partitions=int(shuffle_partitions),
        max_partition_bytes="32m" if total_tokens < 10**10 else "128m",
    )


# Measured single-process throughput of the per-doc MPX diagonal kernel
# (BENCH/BASELINE.md r5 kernel measurements: ~59M half-pairs/s/proc vs
# ~35M for the tiled dgemm path, which additionally pays partner-chunk
# Arrow transfer + cross-tile window-stat recompute). Used only to DERIVE
# the routing cut below; the bench re-measures both paths every round.
MPX_BLOB_HALF_PAIRS_PER_SEC = 59e6


def mp_routing_cut(
    corpus_max_tokens: int,
    task_budget_sec: float = 2.5,
    half_pairs_per_sec: float = MPX_BLOB_HALF_PAIRS_PER_SEC,
    floor_tokens: int = 4096,
) -> int:
    """Blob-vs-tile routing cut for the matrix-profile stage, derived from
    the corpus census + a per-task cost bound instead of a hard-coded
    constant (VERDICT r5 note #1).

    A doc of n tokens is n^2/2 half-pairs; one blob task must stay under
    ``task_budget_sec`` at the measured kernel rate, so the budget bound
    is n_budget = sqrt(2 * budget * rate) (~17k tokens at the defaults).
    Because the blob kernel is faster PER HALF-PAIR than the tile path,
    tiles are only worth paying when a doc genuinely cannot be one task:
    the cut is min(corpus max, budget bound) — at a 16k-max corpus that
    reproduces the measured-optimal cut==max routing, while a corpus with
    1M-token docs automatically routes them to tiles at ~17k instead of
    silently scheduling 8.5h single tasks."""
    if corpus_max_tokens <= 0:
        return floor_tokens
    n_budget = int((2.0 * task_budget_sec * half_pairs_per_sec) ** 0.5)
    return max(floor_tokens, min(int(corpus_max_tokens), n_budget))
