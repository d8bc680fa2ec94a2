"""Seeded inputs owned by the benchmark.

Everything here runs in the benchmark's own process with numpy and
pyarrow; the engine only ever sees the parquet files written below.

The corpus reproduces the shape of the engine's synthetic tokens table:
Zipf-flavoured lengths clipped to [32, max_len] with >= 1% of the docs at
max length, random-walk tokens, repeated motif inserts, and constant runs
whose zero-variance windows hit the sigma ~ 0 guards of the window and
matrix-profile kernels. The fine (1m) store of the lifecycle workload is
the numpy bucket sums of such a corpus.

Generation is cached per (workload, seed, size) under the work directory
and is never inside a timed region.
"""

from __future__ import annotations

import shutil
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = 50257
MIN_LEN = 32
SOURCES = ("web", "books", "code", "wiki")
FINE_SIZE = 60  # positions per 1m bucket

TOKENS_SCHEMA = pa.schema([
    ("doc_id", pa.string()),
    ("tokens", pa.list_(pa.int32())),
    ("n_tok", pa.int32()),
    ("source", pa.string()),
])

FINE_SCHEMA = pa.schema([
    ("doc_id", pa.string()),
    ("source", pa.string()),
    ("bucket", pa.int64()),
    ("cnt", pa.int64()),
    ("sum_v", pa.int64()),
    ("sumsq", pa.int64()),
    ("min_v", pa.int32()),
    ("max_v", pa.int32()),
])


@dataclass(frozen=True)
class CorpusSpec:
    n_docs: int
    max_len: int
    long_docs: int = 0       # extra docs of exactly long_len tokens
    long_len: int = 32768



def _doc_tokens(rng: np.random.Generator, n: int) -> np.ndarray:
    steps = rng.integers(-40, 41, size=n)
    tok = (10000 + np.cumsum(steps)) % VOCAB
    motif_len = int(rng.integers(24, 64))
    if n > 4 * motif_len:
        motif = rng.integers(0, VOCAB, size=motif_len)
        for _ in range(int(rng.integers(2, 5))):
            p = int(rng.integers(0, n - motif_len))
            tok[p:p + motif_len] = motif
    if n > 200 and rng.random() < 0.3:
        p = int(rng.integers(0, n - 100))
        tok[p:p + 100] = int(rng.integers(0, VOCAB))
    return tok.astype(np.int32)


def make_corpus(seed: int, spec: CorpusSpec) -> list[tuple[str, str, np.ndarray]]:
    """(doc_id, source, tokens) per doc; the same seed gives the same corpus."""
    rng = np.random.default_rng(seed)
    # Zipf-flavoured power(0.25) lengths (inverse CDF u**4), with u
    # stratified over the docs: every seed gets the same length profile up
    # to jitter, so the work per operation barely moves between seeds
    u = (rng.permutation(spec.n_docs) + rng.random(spec.n_docs)) / spec.n_docs
    lens = (MIN_LEN + (spec.max_len - MIN_LEN) * u ** 4).astype(np.int64)
    n_max = -(-spec.n_docs // 100)  # >= 1% of the docs at max length
    lens[0] = spec.max_len
    lens[rng.choice(np.arange(1, spec.n_docs), n_max - 1, replace=False)] = spec.max_len
    lens = list(lens) + [spec.long_len] * spec.long_docs
    return [
        (f"doc_{i:06d}", SOURCES[i % len(SOURCES)], _doc_tokens(rng, int(n)))
        for i, n in enumerate(lens)
    ]


def fine_rows(docs) -> dict[str, np.ndarray]:
    """The 1m-tier store of ``docs`` as numpy columns (exact int64 sums)."""
    cols: dict[str, list] = {f.name: [] for f in FINE_SCHEMA}
    for doc_id, src, tok in docs:
        x = tok.astype(np.int64)
        nb = -(-x.size // FINE_SIZE)
        starts = np.arange(nb, dtype=np.int64) * FINE_SIZE
        ends = np.minimum(starts + FINE_SIZE, x.size)
        c = np.concatenate(([0], np.cumsum(x)))
        c2 = np.concatenate(([0], np.cumsum(x * x)))
        cols["doc_id"].append(np.full(nb, doc_id, dtype=object))
        cols["source"].append(np.full(nb, src, dtype=object))
        cols["bucket"].append(np.arange(nb, dtype=np.int64))
        cols["cnt"].append(ends - starts)
        cols["sum_v"].append(c[ends] - c[starts])
        cols["sumsq"].append(c2[ends] - c2[starts])
        cols["min_v"].append(np.minimum.reduceat(x, starts).astype(np.int32))
        cols["max_v"].append(np.maximum.reduceat(x, starts).astype(np.int32))
    return {k: np.concatenate(v) for k, v in cols.items()}


def write_tokens(path: Path, docs, n_files: int) -> None:
    path.mkdir(parents=True)
    for f in range(n_files):
        part = docs[f::n_files]
        if not part:
            continue
        toks = [t for _, _, t in part]
        offsets = np.concatenate(([0], np.cumsum([t.size for t in toks]))).astype(np.int32)
        table = pa.Table.from_arrays([
            pa.array([d for d, _, _ in part], pa.string()),
            pa.ListArray.from_arrays(pa.array(offsets), pa.array(np.concatenate(toks))),
            pa.array([t.size for t in toks], pa.int32()),
            pa.array([s for _, s, _ in part], pa.string()),
        ], schema=TOKENS_SCHEMA)
        pq.write_table(table, path / f"part-{f:04d}.parquet")


def write_fine(path: Path, rows: dict[str, np.ndarray], n_files: int) -> None:
    path.mkdir(parents=True)
    n = rows["bucket"].size
    bounds = np.linspace(0, n, n_files + 1).astype(np.int64)
    for f in range(n_files):
        lo, hi = int(bounds[f]), int(bounds[f + 1])
        table = pa.Table.from_arrays(
            [pa.array(rows[fld.name][lo:hi], fld.type) for fld in FINE_SCHEMA],
            schema=FINE_SCHEMA)
        pq.write_table(table, path / f"part-{f:04d}.parquet")


def cached(root: Path, name: str, build) -> Path:
    """Run ``build(tmp_dir)`` once per ``name`` under ``root``; return the
    completed directory. A half-written directory is rebuilt."""
    final = root / name
    if (final / "_DONE").exists():
        return final
    tmp = root / f".{name}.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(final, ignore_errors=True)
    tmp.mkdir(parents=True)
    build(tmp)
    (tmp / "_DONE").write_text("")
    tmp.rename(final)
    return final
