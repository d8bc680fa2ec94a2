"""Measurements taken from outside the engine: process-tree memory, the
hardware-speed probe, single-thread kernel ceilings and the kernel path."""

from __future__ import annotations

import os
import statistics
import threading
import time
from pathlib import Path

import numpy as np

W = 128
PAGE = os.sysconf("SC_PAGE_SIZE")


def _tree_rss_bytes(root_pid: int) -> int:
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for d in Path("/proc").iterdir():
        if not d.name.isdigit():
            continue
        try:
            stat = (d / "stat").read_text()
            pages = int((d / "statm").read_text().split()[1])
        except (OSError, ValueError, IndexError):
            continue  # exited while walking
        pid = int(d.name)
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(pid)
        rss[pid] = pages * PAGE
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        total += rss.get(pid, 0)
        todo.extend(children.get(pid, []))
    return total


class RssSampler:
    """Samples the summed RSS of this process and all its descendants
    (driver, JVM, Python workers) from /proc in a daemon thread."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid, prev = os.getpid(), 0
        while not self._stop.is_set():
            cur = _tree_rss_bytes(pid)
            # only a level held over two consecutive samples counts: a child
            # the JVM spawns shares the JVM's pages until it execs, and one
            # sample in that instant read twice the JVM (7.7 GB vs 3.4 GB)
            self.peak = max(self.peak, min(prev, cur))
            prev = cur
            self._stop.wait(self.interval_s)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling; return the peak in MB."""
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak / 2**20


def hw_probe_s() -> float:
    """A fixed single-thread numpy loop; it measures the machine, not the
    engine, so runs from different CPU-quota windows can be compared."""
    x = np.random.default_rng(0).random(1 << 20)
    t0 = time.perf_counter()
    for _ in range(4):
        np.sort(x)
        np.cumsum(x)
    return time.perf_counter() - t0


def _median_rate(work: float, fn, reps: int = 3) -> float:
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return work / statistics.median(times)


def kernel_ceilings(tok: np.ndarray) -> dict[str, float]:
    """Single-thread rates of the hot kernels, called directly in the
    driver on the workload's own data: ``tok`` is one document's tokens;
    the codec rates use the int64 stat columns of its 1m rows, encoded as
    60-row segments the way the compression job does."""
    from matrixprofiler_spark.codecs import dod_decode_many, dod_encode_many, gorilla_encode_many
    from matrixprofiler_spark.kernels.mp import mpx
    from matrixprofiler_spark.kernels.window import movmax, movmean, movmin, movstd

    from .gen import fine_rows

    x = tok.astype(np.float64)
    n_win = x.size - W + 1
    stats = [movmean(x, W, "ogita"), movstd(x, W), movmin(x, W), movmax(x, W)]
    mp_x = x[:8192]
    fine = fine_rows([("doc", "src", tok)])
    segs = [fine[c].astype(np.int64)[i:i + 60]
            for c in ("bucket", "cnt", "sum_v", "sumsq", "min_v", "max_v")
            for i in range(0, fine[c].size, 60)]
    blobs = dod_encode_many(segs)
    seg_mb = sum(s.size for s in segs) * 8 / 2**20
    return {
        "kernels.movstats_pts_per_s": _median_rate(
            4 * n_win, lambda: (movmean(x, W, "ogita"), movstd(x, W), movmin(x, W), movmax(x, W))),
        "kernels.mpx_pairs_per_s": _median_rate(
            (mp_x.size - W + 1) ** 2 / 2, lambda: mpx(mp_x, W, exclusion_zone=0.5)),
        "codecs.gorilla_encode_mb_per_s": _median_rate(
            4 * n_win * 8 / 2**20, lambda: gorilla_encode_many(stats)),
        "codecs.dod_encode_mb_per_s": _median_rate(seg_mb, lambda: dod_encode_many(segs)),
        "codecs.dod_decode_mb_per_s": _median_rate(seg_mb, lambda: dod_decode_many(blobs)),
    }


def native_loaded() -> bool:
    from matrixprofiler_spark.kernels import native

    return native.get_lib() is not None


def _native_in_worker(_):
    return [int(native_loaded())]


def native_in_workers(spark) -> int:
    """1 when the native library loads inside a Python worker."""
    return spark.sparkContext.parallelize([0], 1).mapPartitions(_native_in_worker).collect()[0]
