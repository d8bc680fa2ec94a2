"""The two closed-loop workloads: ``batch`` and ``lifecycle``.

Each workload generates its inputs from the seed (cached); after untimed
warm-up steps it repeats its step until the measuring time is up. One
driver thread issues every call after the previous one finished. Every
timed operation is checked from outside the engine against numpy; a failed
check or an exception counts the operation as failed.
"""

from __future__ import annotations

import json
import shutil
import statistics
import sys
import time
import zlib
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np

from . import gen

W = 128
EXPIRY = dict(fine_size=60, coarse_size=3600, horizon=7200, n_groups=8)
COMPRESS = dict(fine_size=60, chunk_span=3600, horizon=3600, n_groups=8)
HOLE_MOD = 20  # gap_fill input drops bucket b of doc d iff (crc32(d) + b) % 20 == 0


@dataclass
class Op:
    kind: str
    seconds: float
    ok: bool


@dataclass
class Ctx:
    spark: object
    tracer: object
    work: Path
    data: Path
    cores: int
    rng: np.random.Generator
    ops: list[Op] = field(default_factory=list)
    counts: dict = field(default_factory=dict)  # exact per-layer counts


def _timed(ctx: Ctx, kind: str, body) -> None:
    """Run ``body`` as one timed operation, then the output check it
    returns, untimed. An exception in either counts as a failed operation."""
    t0 = time.perf_counter()
    seconds, ok = None, False
    try:
        with ctx.tracer.op(kind):
            check = body()
        seconds = time.perf_counter() - t0
        ok = bool(check())
    except Exception as e:  # a failing operation must not end the run
        print(f"[perfbench] {kind} failed: {type(e).__name__}: {e}", file=sys.stderr, flush=True)
    if seconds is None:
        seconds = time.perf_counter() - t0
    ctx.ops.append(Op(kind, seconds, ok))


def _median_s(ctx: Ctx, kind: str) -> float:
    return statistics.median(o.seconds for o in ctx.ops if o.kind == kind)


class Workload:
    """Per-layer hooks a workload may fill in for the traced run."""

    warmup_steps = 1

    def layer_counts(self) -> dict[str, float]:
        return {}

    def ceiling_pct(self, ctx: Ctx, layers: dict, ceilings: dict) -> dict[str, float]:
        return {}


def _census(tokens):
    """The tokens table scan: doc count, token count and longest doc."""
    from pyspark.sql import functions as F

    return tokens.agg(F.count("*").alias("n"), F.sum("n_tok").alias("t"),
                      F.max("n_tok").alias("m")).collect()[0]


def _partitions(census, cores: int) -> int:
    """Fan-out for the per-doc kernels, from the engine's own planner."""
    from matrixprofiler_spark.plans.partitioning import plan_partitions

    return plan_partitions(census["n"], census["t"], census["m"], cores).num_partitions


def _lengths(docs) -> np.ndarray:
    return np.array([t.size for _, _, t in docs], dtype=np.int64)


def _save_expect(out: Path, expect: dict) -> None:
    (out / "expect.json").write_text(json.dumps(expect))


def _load_expect(data: Path) -> dict:
    return json.loads((data / "expect.json").read_text())


# ----------------------------------------------------------------- rollup


class RollupPart:
    """tier_rollup (1m -> 1h -> 1d) + gap_fill + window_stats_chunked(w=128)
    over a Zipf-length tokens corpus."""

    spec = gen.CorpusSpec(n_docs=600, max_len=16384)

    def build(self, out: Path, seed: int) -> np.ndarray:
        """Writes the corpus and its expected results; returns the tokens of
        its first (longest) doc."""
        out.mkdir()
        docs = gen.make_corpus(seed, self.spec)
        gen.write_tokens(out / "tokens", docs, n_files=16)
        n = _lengths(docs)
        gap_rows = gap_cnt = gap_kept = 0
        for (doc_id, _, tok) in docs:
            nb = -(-tok.size // 60)
            b = np.arange(nb)
            kept = (zlib.crc32(doc_id.encode()) + b) % HOLE_MOD != 0
            if kept.any():
                gap_rows += int(b[kept].max()) + 1
                gap_kept += int(kept.sum())
                cnt = np.minimum(60, tok.size - 60 * b)
                gap_cnt += int(cnt[kept].sum())
        tier_rows = {t: int((-(-n // s)).sum()) for t, s in (("1m", 60), ("1h", 3600), ("1d", 86400))}
        window_points = int(np.maximum(n - (W - 1), 0).sum())
        _save_expect(out, {
            "n_docs": len(docs), "tokens": int(n.sum()), "max_len": int(n.max()),
            "sum_v": int(sum(int(t.astype(np.int64).sum()) for _, _, t in docs)),
            "tier_rows": tier_rows, "gap_rows": gap_rows, "gap_cnt": gap_cnt,
            "gap_filled": gap_rows - gap_kept, "window_points": window_points,
            "points": 5 * sum(tier_rows.values()) + 5 * gap_rows + 4 * window_points,
        })
        return docs[0][2]

    def load(self, ctx: Ctx, data: Path) -> None:
        self.expect = _load_expect(data)
        self.tokens = ctx.spark.read.parquet(str(data / "tokens"))

    def run(self, ctx: Ctx):
        """One rollup pass; returns its output check."""
        from pyspark.sql import functions as F

        from matrixprofiler_spark.operators.rollup import gap_fill, tier_rollup, window_stats_chunked

        ctx.spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "64")
        tr, e = ctx.tracer, self.expect
        with tr.span("sources.scan"):
            census = _census(self.tokens)
        parts = _partitions(census, ctx.cores)
        with tr.span("operators.rollup.tier_rollup"):
            handles: list = []
            rolled = tier_rollup(self.tokens, num_partitions=parts, persist=True,
                                 persisted_out=handles)
            tiers = rolled.groupBy("tier").agg(
                F.count("*").alias("rows"), F.sum("cnt").alias("cnt"),
                F.sum("sum_v").alias("sum_v")).collect()
        with tr.span("operators.rollup.gap_fill"):
            holey = rolled.filter(F.col("tier") == "1m").filter(
                F.pmod(F.crc32(F.col("doc_id").cast("binary")) + F.col("bucket"),
                       F.lit(HOLE_MOD)) != 0)
            gap = gap_fill(holey).agg(
                F.count("*").alias("rows"), F.sum("cnt").alias("cnt"),
                F.sum(F.col("filled").cast("int")).alias("filled")).collect()[0]
            for h in handles:
                h.unpersist(True)
        with tr.span("operators.rollup.window_stats"):
            ws = window_stats_chunked(self.tokens, w=W, chunk_len=4096,
                                      num_partitions=parts).agg(
                F.sum("n_windows").alias("p")).collect()[0]

        def check():
            by_tier = {r["tier"]: r for r in tiers}
            return (
                (census["n"], census["t"], census["m"])
                == (e["n_docs"], e["tokens"], e["max_len"])
                and set(by_tier) == set(e["tier_rows"])
                and all(by_tier[t]["rows"] == rows and by_tier[t]["cnt"] == e["tokens"]
                        and by_tier[t]["sum_v"] == e["sum_v"]
                        for t, rows in e["tier_rows"].items())
                and (gap["rows"], gap["cnt"], gap["filled"])
                == (e["gap_rows"], e["gap_cnt"], e["gap_filled"])
                and ws["p"] == e["window_points"]
            )
        return check

    def ceiling_pct(self, passes: int, cores: int, layers: dict, ceilings: dict) -> dict[str, float]:
        t = layers["operators.rollup.window_stats.wall_s"]
        if not t:
            return {}
        rate = 4 * self.expect["window_points"] * passes / t
        return {"operators.rollup.window_stats.ceiling_pct":
                100 * rate / (cores * ceilings["kernels.movstats_pts_per_s"])}


# -------------------------------------------------------------- lifecycle


def _cut(wm: np.ndarray, horizon: int, span: int) -> np.ndarray:
    return np.floor((wm - horizon) / span).astype(np.int64) * span


class Lifecycle(Workload):
    """Fresh RetentionExpiryJob + CompressionPolicyJob over a 1m fine store,
    then both re-run on their committed dirs (a scheduler retry); between
    cycles, read_fine range reads of three kinds in turn, each with seeded
    bounds. A cycle and a read are each one operation."""

    name = "lifecycle"
    spec = gen.CorpusSpec(n_docs=1000, max_len=16384)
    cycle_kind = "lifecycle.cycle"
    read_kind = "lifecycle.read"
    reads_per_cycle = 3
    # after one warm-up step the first timed cycle still ran 10-20% slower
    # than the next ones (JIT); on a slow host a run times only two cycles,
    # and their median then carries that first one
    warmup_steps = 2

    def build(self, out: Path, seed: int) -> None:
        docs = gen.make_corpus(seed, self.spec)
        rows = gen.fine_rows(docs)
        gen.write_fine(out / "fine", rows, n_files=8)
        n = _lengths(docs)
        nb = -(-n // 60)
        doc_of_row = np.repeat(np.arange(n.size), nb)
        wm = (nb * 60)[doc_of_row]  # (max bucket + 1) * fine_size, per row
        b = rows["bucket"]
        keep = (b + 1) * 60 > _cut(wm, EXPIRY["horizon"], EXPIRY["coarse_size"])
        cold = (b + 1) * 60 <= _cut(wm, COMPRESS["horizon"], COMPRESS["chunk_span"])
        chunk = b * 60 // COMPRESS["chunk_span"]
        seg_key = doc_of_row[cold] * 10**6 + chunk[cold]
        keys, first = np.unique(seg_key, return_index=True)
        seg_last = np.r_[first[1:], seg_key.size] - 1
        np.savez(out / "store.npz", bucket=b, max_v=rows["max_v"],
                 seg_bmin=b[cold][first], seg_bmax=b[cold][seg_last],
                 seg_vmax=np.maximum.reduceat(rows["max_v"][cold], first))
        _save_expect(out, {
            "rows": int(b.size), "rows_after_expiry": int(keep.sum()),
            "rows_compressed": int(cold.sum()), "n_segments": int(keys.size),
            "max_cold_bucket": int(b[cold].max()), "max_bucket": int(b.max()),
        })
        np.save(out / "sample.npy", docs[0][2])

    def load(self, ctx: Ctx) -> None:
        from pyspark.sql import functions as F

        self.expect = _load_expect(ctx.data)
        self.store = dict(np.load(ctx.data / "store.npz"))
        self.fine = ctx.spark.read.parquet(str(ctx.data / "fine"))
        r = self.fine.agg(F.count("*").alias("n"), F.sum(_row_hash()).alias("h")).collect()[0]
        self.ref = (r["n"], r["h"])
        self.jobs_root = ctx.work / "jobs"
        shutil.rmtree(self.jobs_root, ignore_errors=True)
        self.cycle_no = 0
        self.compressed = None
        self.prune: list[float] = []

    def _jobs(self, ctx: Ctx, base: Path):
        from matrixprofiler_spark.streaming.compress import CompressionPolicyJob
        from matrixprofiler_spark.streaming.expiry import RetentionExpiryJob

        return (RetentionExpiryJob(ctx.spark, base / "expiry", **EXPIRY),
                CompressionPolicyJob(ctx.spark, base / "compress", **COMPRESS))

    def step(self, ctx: Ctx) -> None:
        self._cycle(ctx)
        # the three kinds of read take turns, so every run's median read
        # latency is taken over the same mix of kinds
        for i in range(self.reads_per_cycle):
            self._read(ctx, i % 3)

    def _cycle(self, ctx: Ctx) -> None:
        from pyspark.sql import functions as F

        tr, e = ctx.tracer, self.expect
        self.cycle_no += 1
        base = self.jobs_root / f"cycle{self.cycle_no}"

        expiry, comp = self._jobs(ctx, base)

        def body():
            with tr.span("streaming.expiry.run"):
                expiry.run(self.fine)
            with tr.span("streaming.compress.run"):
                comp.run(self.fine)
            fresh = _du(base)
            rerun_expiry, rerun_comp = self._jobs(ctx, base)
            with tr.span("streaming.rerun"):
                redone = rerun_expiry.run(self.fine)
            with tr.span("streaming.rerun"):
                redone += rerun_comp.run(self.fine)
            after = _du(base)

            def check():
                em, cm = expiry.metrics(), comp.metrics()
                full = comp.read_fine().agg(F.count("*").alias("n"),
                                            F.sum(_row_hash()).alias("h")).collect()[0]
                ctx.counts.update({
                    "streaming.bytes_written": fresh[0], "streaming.files_written": fresh[1],
                    "streaming.rerun_bytes_written": after[0] - fresh[0],
                    "streaming.store_bytes_per_row":
                        (_du(base / "compress" / "head")[0]
                         + _du(base / "compress" / "segments")[0]) / e["rows"],
                    "codecs.compress_ratio": cm["compression_ratio"],
                })
                return (
                    redone == []
                    and (em["rows_before"], em["rows_after"]) == (e["rows"], e["rows_after_expiry"])
                    and (cm["rows_in"], cm["rows_compressed"], cm["n_segments"])
                    == (e["rows"], e["rows_compressed"], e["n_segments"])
                    and (full["n"], full["h"]) == self.ref
                )
            return check

        _timed(ctx, self.cycle_kind, body)
        # reads go to the newest committed store; older cycle dirs go away
        if ctx.ops[-1].ok:
            old, self.compressed = self.compressed, (base, comp)
            if old is not None:
                shutil.rmtree(old[0], ignore_errors=True)
        else:
            shutil.rmtree(base, ignore_errors=True)

    def _read(self, ctx: Ctx, kind: int) -> None:
        if self.compressed is None:
            ctx.ops.append(Op(self.read_kind, 0.0, False))
            return
        e, s = self.expect, self.store
        if kind == 0:    # recent head only: past every compressed bucket
            lo = int(ctx.rng.integers(e["max_cold_bucket"] + 1, e["max_bucket"] + 1))
            q = (lo, lo + 20, None)
        elif kind == 1:  # compressed history
            lo = int(ctx.rng.integers(0, e["max_cold_bucket"] - 20))
            q = (lo, lo + 20, None)
        else:            # value zone map over the whole store
            q = (None, None, int(ctx.rng.integers(40000, 50000)))
        lo, hi, thr = q
        sel = np.ones(s["bucket"].size, dtype=bool)
        segs = np.ones(s["seg_bmin"].size, dtype=bool)
        if lo is not None:
            sel &= (s["bucket"] >= lo) & (s["bucket"] <= hi)
            segs &= (s["seg_bmax"] >= lo) & (s["seg_bmin"] <= hi)
        if thr is not None:
            sel &= s["max_v"] >= thr
            segs &= s["seg_vmax"] >= thr
        self.prune.append(segs.mean())
        comp = self.compressed[1]

        def body():
            with ctx.tracer.span("streaming.compress.read_fine"):
                n = comp.read_fine(bucket_min=lo, bucket_max=hi, max_v_at_least=thr).count()
            return lambda: n == int(sel.sum())

        _timed(ctx, self.read_kind, body)

    def e2e(self, ctx: Ctx) -> dict[str, float]:
        return {"work_per_s": self.expect["rows"] / _median_s(ctx, self.cycle_kind),
                "op_p50_ms": 1000 * _median_s(ctx, self.read_kind)}

    def layer_counts(self) -> dict[str, float]:
        return {"streaming.segment_prune_ratio": statistics.mean(self.prune) if self.prune else 0.0}


def _row_hash():
    from pyspark.sql import functions as F

    return F.xxhash64("doc_id", "source", "bucket", "cnt", "sum_v", "sumsq",
                      "min_v", "max_v").cast("decimal(38,0)")


def _du(path: Path) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    files = [p for p in path.rglob("*") if p.is_file()]
    return sum(p.stat().st_size for p in files), len(files)


# ------------------------------------------------------------------ motif


def _valid_windows(tok: np.ndarray) -> int:
    """Windows with nonzero deviation, by the tile kernel's own formula."""
    x = tok.astype(np.int64)
    c = np.concatenate(([0], np.cumsum(x)))
    c2 = np.concatenate(([0], np.cumsum(x * x)))
    mu = (c[W:] - c[:-W]) / float(W)
    with np.errstate(invalid="ignore"):
        sd = np.sqrt((c2[W:] - c2[:-W]) / float(W) - mu * mu)
    return int((sd > 0).sum())


class MotifPart:
    """Matrix profile (w=128) routed by plans.mp_routing_cut: docs up to the
    cut run as per-doc MPX blobs, longer docs as distributed tiles."""

    spec = gen.CorpusSpec(n_docs=40, max_len=16384, long_docs=1, long_len=20480)

    def build(self, out: Path, seed: int) -> None:
        from matrixprofiler_spark.kernels.mp import mpx

        out.mkdir()
        docs = gen.make_corpus(seed, self.spec)
        gen.write_tokens(out / "tokens", docs, n_files=16)
        n = _lengths(docs)
        sample = next(i for i, m in enumerate(n) if 512 <= m <= 4096)
        np.savez(out / "docs.npz", n=n,
                 valid=np.array([_valid_windows(t) for _, _, t in docs]))
        np.save(out / "sample_mp.npy",
                mpx(docs[sample][2].astype(np.float64), W, exclusion_zone=0.5)["matrix_profile"])
        pairs = np.where(n >= 193, (n - 127.0) ** 2 / 2, 0.0)
        _save_expect(out, {
            "n_docs": len(docs), "tokens": int(n.sum()), "max_len": int(n.max()),
            "sample_id": docs[sample][0], "half_pairs": float(pairs.sum()),
        })

    def load(self, ctx: Ctx, data: Path) -> None:
        self.expect = _load_expect(data)
        d = np.load(data / "docs.npz")
        self.n, self.valid = d["n"], d["valid"]
        self.sample_mp = np.load(data / "sample_mp.npy")
        self.tokens = ctx.spark.read.parquet(str(data / "tokens"))

    def split_pairs(self, cut: int) -> tuple[float, float]:
        pairs = np.where(self.n >= 193, (self.n - 127.0) ** 2 / 2, 0.0)
        return float(pairs[self.n <= cut].sum()), float(pairs[self.n > cut].sum())

    def run(self, ctx: Ctx):
        """One matrix-profile pass; returns its output check."""
        from pyspark.sql import functions as F

        from matrixprofiler_spark.codecs import gorilla_decode
        from matrixprofiler_spark.operators.mp_ops import (
            matrix_profile_blobs, matrix_profile_distributed)
        from matrixprofiler_spark.plans.partitioning import mp_routing_cut

        ctx.spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        tr, e = ctx.tracer, self.expect
        with tr.span("sources.scan"):
            census = _census(self.tokens)
        parts = _partitions(census, ctx.cores)
        cut = mp_routing_cut(census["m"])
        ctx.counts["plans.mp_routing_cut"] = cut
        with tr.span("operators.mp_ops.blobs"):
            blobs = matrix_profile_blobs(
                self.tokens.filter(F.col("n_tok") <= cut), w=W, max_tokens=cut,
                num_partitions=parts,
            ).agg(
                F.sum("profile_len").alias("plen"), F.count("*").alias("docs"),
                F.first(F.when(F.col("doc_id") == e["sample_id"], F.col("mp_blob")),
                        ignorenulls=True).alias("sample"),
            ).collect()[0]
        with tr.span("operators.mp_ops.distributed"):
            dist = matrix_profile_distributed(
                self.tokens.filter(F.col("n_tok") > cut), w=W, chunk_len=3072,
                num_partitions=parts,
            ).count()

        def check():
            short = self.n <= cut
            plen = np.where(self.n >= 2 * W, self.n - W + 1, 0)
            sample = gorilla_decode(bytes(blobs["sample"]))
            return (
                (census["n"], census["t"], census["m"])
                == (e["n_docs"], e["tokens"], e["max_len"])
                and blobs["docs"] == int(short.sum())
                and blobs["plen"] == int(plen[short].sum())
                and dist == int(self.valid[~short].sum())
                and sample.tobytes() == self.sample_mp.tobytes()
            )
        return check

    def ceiling_pct(self, passes: int, cores: int, cut: int | None, layers: dict,
                    ceilings: dict) -> dict[str, float]:
        if cut is None:
            return {}
        out = {}
        for path, pairs in zip(("blobs", "distributed"), self.split_pairs(cut)):
            t = layers[f"operators.mp_ops.{path}.wall_s"]
            if t:
                out[f"operators.mp_ops.{path}.ceiling_pct"] = (
                    100 * pairs * passes / t / (cores * ceilings["kernels.mpx_pairs_per_s"]))
        return out


# ------------------------------------------------------------------ batch


class Batch(Workload):
    """The flagship batch job, as bench.py runs it on one session: the
    rollups of a Zipf-length corpus, then the routed matrix profile of a
    smaller one (its work is quadratic in doc length, so the rollup's
    corpus would take ~15x longer). One pass of both is one operation;
    work is the tokens of both corpora."""

    name = "batch"
    op_kind = "batch.pass"

    def __init__(self):
        self.rollup, self.motif = RollupPart(), MotifPart()

    def build(self, out: Path, seed: int) -> None:
        np.save(out / "sample.npy", self.rollup.build(out / "rollup", seed))
        self.motif.build(out / "motif", seed)

    def load(self, ctx: Ctx) -> None:
        self.rollup.load(ctx, ctx.data / "rollup")
        self.motif.load(ctx, ctx.data / "motif")
        self.tokens = self.rollup.expect["tokens"] + self.motif.expect["tokens"]

    def step(self, ctx: Ctx) -> None:
        def body():
            checks = (self.rollup.run(ctx), self.motif.run(ctx))
            return lambda: all(c() for c in checks)

        _timed(ctx, self.op_kind, body)

    def e2e(self, ctx: Ctx) -> dict[str, float]:
        med = _median_s(ctx, self.op_kind)
        return {"work_per_s": self.tokens / med, "op_p50_ms": 1000 * med}

    def ceiling_pct(self, ctx: Ctx, layers: dict, ceilings: dict) -> dict[str, float]:
        passes = sum(1 for o in ctx.ops if o.kind == self.op_kind)
        if not passes:
            return {}
        return {**self.rollup.ceiling_pct(passes, ctx.cores, layers, ceilings),
                **self.motif.ceiling_pct(passes, ctx.cores, ctx.counts.get("plans.mp_routing_cut"),
                                         layers, ceilings)}


WORKLOADS = {w.name: w for w in (Batch, Lifecycle)}
