"""The pre-tokenized-sequences table (BASELINE.json input_hint):

    doc_id: string, tokens: array<int32>, n_tok: int32, source: string

Position in ``tokens`` is the time axis (SURVEY.md §1.2). Two providers:

* ``synth_tokens_df`` — deterministic distributed synthesis (seed 42,
  counter-based RNG keyed by doc index, so the table is identical at any
  parallelism / partitioning). Length distribution is a Zipf-flavored
  mixture clipped to [32, 16384] with >=1% of docs at max length
  (FIXTURES.md §A), plus motif insertions, constant runs (sigma < eps
  windows) and the embedded 875-pt reference golden doc.
* ``tokens_from_documents`` — derives tokens from the driver-provided
  ``documents`` table with a closed-form word->id map that DuckDB can
  replicate in SQL (the correctness-oracle path).

In production this table is an Iceberg table read via
``spark.read.format("iceberg").load(...)``; the sandbox stand-in is a
parquet directory with an identical schema.
"""

from __future__ import annotations

import json
import os
from importlib import resources
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TOKENS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("tokens", T.ArrayType(T.IntegerType(), False), False),
        T.StructField("n_tok", T.IntegerType(), False),
        T.StructField("source", T.StringType(), False),
    ]
)

VOCAB = 50257
SOURCES = ("web", "books", "code", "wiki")
MAX_LEN = 16384
MIN_LEN = 32
GOLDEN_DOC_ID = "ref_motifs_discords_small"
# lossless float->token embedding scale for the golden doc: the reference
# series values lie in (-3, 3); we store round(v * 1000) + 10000 which stays
# integral in [0, 50257) and divides back exactly ONLY if we keep the float
# sidecar; the golden doc is therefore tested through its own sidecar,
# while the int token view exercises the pipeline end-to-end.
_GOLDEN_SCALE = 1000.0
_GOLDEN_OFFSET = 10000


def _golden_series() -> np.ndarray:
    """The reference's 875-point test series, shipped inside the package
    (``golden_series.json``, readable from a zip too);
    ``tests/fixtures/goldens.json`` holds the same series with the
    reference's outputs on it."""
    text = (resources.files(__package__) / "golden_series.json").read_text()
    return np.asarray(json.loads(text), dtype=np.float64)


def _gen_doc(idx: int, seed: int) -> tuple[np.ndarray, str]:
    """Deterministic per-doc generation via Philox counter RNG — identical
    output for a given (seed, idx) regardless of partitioning."""
    rng = np.random.Generator(np.random.Philox(key=seed, counter=[0, 0, 0, idx]))
    # Zipf-flavored length mixture: bulk short, heavy tail, >=1% pinned at max
    u = rng.random()
    if u < 0.01:
        n = MAX_LEN
    else:
        n = int(MIN_LEN + (MAX_LEN - MIN_LEN) * rng.power(0.25))
        n = max(MIN_LEN, min(MAX_LEN, n))
    # random walk mod vocab for local structure
    steps = rng.integers(-40, 41, size=n)
    tok = (10000 + np.cumsum(steps)) % VOCAB
    # motif insertions: a repeated pattern at 2-4 places
    motif_len = int(rng.integers(24, 64))
    if n > 4 * motif_len:
        motif = rng.integers(0, VOCAB, size=motif_len)
        for _ in range(int(rng.integers(2, 5))):
            p = int(rng.integers(0, n - motif_len))
            tok[p : p + motif_len] = motif
    # constant runs (zero-variance windows, sigma < eps branch)
    if rng.random() < 0.3 and n > 200:
        p = int(rng.integers(0, n - 100))
        tok[p : p + 100] = int(rng.integers(0, VOCAB))
    # punch gaps for 5% of docs: zero out whole 60-offset buckets; the
    # gap-fill stage detects them (bucket dropped upstream in real data)
    src = SOURCES[idx % len(SOURCES)]
    return tok.astype(np.int32), src


def synth_tokens_df(spark: SparkSession, n_docs: int, seed: int = 42,
                    include_golden: bool = True, partitions: int | None = None) -> DataFrame:
    """Distributed deterministic synthesis of the tokens table."""
    parts = partitions or max(spark.sparkContext.defaultParallelism, 8)
    base = spark.range(0, n_docs, 1, parts)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for idx in b["id"].tolist():
                tok, src = _gen_doc(int(idx), seed)
                rows.append((f"doc_{idx:08d}", tok, len(tok), src))
            yield pd.DataFrame(rows, columns=["doc_id", "tokens", "n_tok", "source"])

    df = base.mapInPandas(gen, schema=TOKENS_SCHEMA)
    if include_golden:
        g = _golden_series()
        gtok = (np.round(g * _GOLDEN_SCALE) + _GOLDEN_OFFSET).astype(np.int32)
        golden = spark.createDataFrame(
            [(GOLDEN_DOC_ID, [int(v) for v in gtok], int(gtok.size), "ref")],
            schema=TOKENS_SCHEMA,
        )
        df = df.unionByName(golden)
    return df


def ensure_synth_tokens(spark: SparkSession, n_docs: int, path: str,
                        seed: int = 42) -> DataFrame:
    """Write-once parquet cache of the synthetic table (sandbox stand-in for
    an Iceberg table); returns a reader DataFrame."""
    marker = os.path.join(path, "_SUCCESS")
    if not os.path.exists(marker):
        # many small files -> full scan parallelism at any core count
        parts = max(128, spark.sparkContext.defaultParallelism * 4)
        synth_tokens_df(spark, n_docs, seed, partitions=parts).write.mode(
            "overwrite"
        ).parquet(path)
    # schema provided (it is fixed by construction): skips the cold-start
    # footer-sampling schema inference over the ~128-file table
    return spark.read.schema(TOKENS_SCHEMA).parquet(path)


# word -> token id, expressible identically in Spark SQL and DuckDB SQL:
#   token = length(word) * 1000 + ascii(substr(word, 1, 1))
TOKENIZE_SQL = "length({w}) * 1000 + ascii(substr({w}, 1, 1))"


def chars_from_documents(spark: SparkSession, sf_dir: str,
                         max_chars: int = 256) -> DataFrame:
    """Char-level tokens table (token = ascii code of each character of the
    first ``max_chars`` chars) — the long-sequence oracle face: documents
    average ~300 chars vs ~55 words, long enough for w=64 matrix-profile
    windows while staying DuckDB-replicable position by position.

    Whole expression is JVM-side (substr/sequence/transform)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    tok_expr = F.expr(
        f"transform(sequence(1, length(substr(text, 1, {max_chars}))),"
        f" i -> ascii(substr(substr(text, 1, {max_chars}), i, 1)))"
    )
    # two projections so n_tok reuses the materialized array — a single
    # select would inline tok_expr twice and interpreted projection (no
    # codegen under higher-order functions) evaluates it per reference
    return docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        tok_expr.alias("tokens"),
        F.col("source").alias("source"),
    ).select(
        "doc_id", "tokens", F.size("tokens").alias("n_tok"), "source",
    )


def tokens_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derive the tokens table from the driver-provided documents table with
    a DuckDB-replicable closed-form tokenizer (the oracle path).

    Whole expression runs JVM-side (split/transform/size — no Python UDF).
    """
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    words = F.split(F.col("text"), " ")
    tok_expr = F.transform(
        words, lambda w: (F.length(w) * F.lit(1000) + F.ascii(F.substring(w, 1, 1))).cast("int")
    )
    # two projections so n_tok reuses the materialized array: a single
    # select inlines tok_expr into BOTH tokens and size(tokens), and the
    # projection is interpreted (higher-order functions disable codegen),
    # so the whole word->token transform ran TWICE per row (plan-checked;
    # CollapseProject keeps the split because duplicating a non-cheap
    # expression is guarded against)
    return docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        tok_expr.alias("tokens"),
        F.col("source").alias("source"),
    ).select(
        "doc_id", "tokens", F.size("tokens").alias("n_tok"), "source",
    )
