"""Spans around every call into a layer, and Spark's task metrics per span.

A span is (name, start, end, parent, run id), kept in memory and written
out when the run ends. A layer span tags the Spark jobs it launches with a
job group set from the driver thread; after the run, the event log
(``spark.eventLog.enabled``, on only in the traced session) is parsed and
every task is attributed to the span whose job group submitted its stage.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from pathlib import Path

# Span names of the layers (package modules) the benchmark calls into.
LAYER_SPANS = (
    "sources.scan",
    "operators.rollup.tier_rollup",
    "operators.rollup.gap_fill",
    "operators.rollup.window_stats",
    "streaming.expiry.run",
    "streaming.compress.run",
    "streaming.rerun",
    "streaming.compress.read_fine",
    "operators.mp_ops.blobs",
    "operators.mp_ops.distributed",
)

SPAN_METRICS = (
    ("wall_s", "s"),
    ("jobs", "count"),
    ("tasks", "count"),
    ("task_run_s", "s"),
    ("task_cpu_s", "s"),
    ("gc_s", "s"),
    ("shuffle_write_bytes", "B"),
    ("spill_bytes", "B"),
    ("driver_only_s", "s"),
    ("task_skew", "ratio"),
)


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None
    run_id: str
    group: str | None  # Spark job group, for layer spans


class Tracer:
    """Records spans. When ``sc`` is None the tracer only keeps wall times
    (the untraced run); with a SparkContext each layer span also sets the
    job group of the jobs it launches."""

    def __init__(self, run_id: str, sc=None):
        self.run_id = run_id
        self.sc = sc
        self.spans: list[Span] = []
        self._parent: str | None = None
        self._seq = 0

    @contextmanager
    def op(self, name: str):
        """An operation of the closed loop; layer spans nest under it."""
        start = time.time()
        self._parent = name
        try:
            yield
        finally:
            self._parent = None
            self.spans.append(Span(name, start, time.time(), None, self.run_id, None))

    @contextmanager
    def span(self, name: str):
        group = None
        if self.sc is not None:
            self._seq += 1
            group = f"{self.run_id}/{name}/{self._seq}"
            self.sc.setJobGroup(group, name)
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            if self.sc is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(Span(name, start, end, self._parent, self.run_id, group))

    def write(self, path: Path) -> None:
        path.write_text(json.dumps([asdict(s) for s in self.spans]))


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def read_event_log(path: Path) -> tuple[dict, dict, list]:
    """(jobs per group, group per stage, successful-or-not task records)."""
    jobs: dict[str, int] = {}
    stage_group: dict[int, str] = {}
    tasks: list[dict] = []
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if g:
                    jobs[g] = jobs.get(g, 0) + 1
            elif kind == "SparkListenerStageSubmitted":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if g:
                    stage_group[ev["Stage Info"]["Stage ID"]] = g
            elif kind == "SparkListenerTaskEnd":
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                tasks.append({
                    "stage": ev["Stage ID"],
                    "launch": info["Launch Time"] / 1000.0,
                    "finish": info["Finish Time"] / 1000.0,
                    "run_s": m.get("Executor Run Time", 0) / 1000.0,
                    "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                    "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                    "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
                    "spill_bytes": m.get("Disk Bytes Spilled", 0),
                })
    return jobs, stage_group, tasks


def span_metrics(spans: list[Span], jobs: dict, stage_group: dict,
                 tasks: list[dict]) -> dict[str, float]:
    """Per layer span name: the SPAN_METRICS summed over its instances
    (``task_skew`` is the median over instances).

    ``driver_only_s`` is the part of each span instance during which no
    task of its job group ran; ``task_skew`` is max / median task run time
    in the instance's widest stage."""
    by_group: dict[str, list[dict]] = {}
    for t in tasks:
        g = stage_group.get(t["stage"])
        if g is not None:
            by_group.setdefault(g, []).append(t)
    out: dict[str, float] = {}
    for name in LAYER_SPANS:
        inst = [s for s in spans if s.name == name and s.group]
        acc = {k: 0.0 for k, _ in SPAN_METRICS}
        skews = []
        for s in inst:
            ts = by_group.get(s.group, [])
            acc["wall_s"] += s.end - s.start
            acc["jobs"] += jobs.get(s.group, 0)
            acc["tasks"] += len(ts)
            acc["task_run_s"] += sum(t["run_s"] for t in ts)
            acc["task_cpu_s"] += sum(t["cpu_s"] for t in ts)
            acc["gc_s"] += sum(t["gc_s"] for t in ts)
            acc["shuffle_write_bytes"] += sum(t["shuffle_write_bytes"] for t in ts)
            acc["spill_bytes"] += sum(t["spill_bytes"] for t in ts)
            busy = _union_length([(max(t["launch"], s.start), min(t["finish"], s.end))
                                  for t in ts if t["finish"] > s.start and t["launch"] < s.end])
            acc["driver_only_s"] += max(0.0, (s.end - s.start) - busy)
            stages: dict[int, list[float]] = {}
            for t in ts:
                stages.setdefault(t["stage"], []).append(t["run_s"])
            if stages:
                widest = max(stages.values(), key=len)
                skews.append(max(widest) / max(statistics.median(widest), 1e-3))
        acc["task_skew"] = statistics.median(skews) if skews else 0.0
        for k, _ in SPAN_METRICS:
            out[f"{name}.{k}"] = acc[k]
    return out


def find_event_log(log_dir: Path) -> Path:
    logs = [p for p in log_dir.iterdir() if p.is_file() and not p.name.endswith(".inprogress")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {len(logs)}")
    return logs[0]
