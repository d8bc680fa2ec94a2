"""Unit tests for the corpus-stats partition planner (plans/partitioning)."""

from __future__ import annotations

import pytest

from matrixprofiler_spark.kernels import native
from matrixprofiler_spark.plans import plan_partitions
from matrixprofiler_spark.plans.partitioning import mp_routing_cut


def test_small_corpus_scheduling_bound():
    # memory bound: ceil(66M tokens * 32 B / 512 MiB) = 4 partitions, below
    # the cores, so the plan is one wave: one partition per core
    p = plan_partitions(n_docs=20_000, total_tokens=66_000_000,
                        max_tokens=16_384, cores=32)
    assert p.num_partitions == 32


def test_memory_bound_wins_over_cores():
    # 1G tokens * 32 B = 32 GiB of task memory: 64 partitions of 512 MiB,
    # more than the 8 cores
    p = plan_partitions(n_docs=100_000, total_tokens=2**30,
                        max_tokens=16_384, cores=8)
    assert p.num_partitions == 64
    assert p.target_partition_tokens * 32 <= 512 * 2**20


def test_large_corpus_memory_bound():
    # 100 TB-ish: 10^12 sequences of ~100 tokens
    p = plan_partitions(n_docs=10**12, total_tokens=10**14,
                        max_tokens=16_384, cores=4000)
    # memory bound dominates: partitions sized so token mass fits per task
    assert p.target_partition_tokens * 32 <= 512 * 2**20
    assert p.num_partitions > 4 * 4000


def test_chunking_kicks_in_for_long_docs():
    p = plan_partitions(n_docs=1000, total_tokens=2_000_000,
                        max_tokens=1_000_000, cores=8)
    assert p.chunk_len is not None
    assert p.chunk_len >= 4096


def test_no_chunking_for_uniform_short_docs():
    p = plan_partitions(n_docs=10**9, total_tokens=10**11,
                        max_tokens=128, cores=1000)
    assert p.chunk_len is None


@pytest.fixture(params=["native", "numpy"])
def mpx_path(request, monkeypatch):
    """Pin the ``"mpx"`` kernel gate that ``mp_routing_cut`` consults: any
    library object selects the native rate, None the numpy rate."""
    monkeypatch.setitem(native._checked, "mpx",
                        object() if request.param == "native" else None)
    return request.param


def test_routing_cut_is_the_corpus_max_below_the_budget(mpx_path):
    assert mp_routing_cut(16_384) == 16_384


def test_routing_cut_floor_for_an_empty_corpus(mpx_path):
    assert mp_routing_cut(0) == 4096


@pytest.mark.parametrize("mpx_path", ["numpy"], indirect=True)
def test_routing_cut_numpy_budget_bound(mpx_path):
    # sqrt(2 * 2.5 s * 59e6 half-pairs/s)
    assert mp_routing_cut(1_000_000) == 17_175


@pytest.mark.parametrize("mpx_path", ["native"], indirect=True)
def test_routing_cut_native_keeps_a_20k_doc_in_one_task(mpx_path):
    # at the native rate the budget bound (~47k) is above a 20,480-token
    # doc, so the doc runs as one MPX blob instead of tiles
    assert mp_routing_cut(20_480) == 20_480
    assert mp_routing_cut(1_000_000) > 20_480
