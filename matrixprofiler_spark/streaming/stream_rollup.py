"""Structured Streaming faces of the rollup engine.

New pre-tokenized docs land as files (or Kafka) and a streaming query
appends their bucket aggregates to a parquet sink. Token buckets are
computed by ``operators.rollup.bucket_stats``, the batch finest tier's
kernel, so streamed rows equal batch rows exactly.

Three entry points, each returning a started ``availableNow`` query:
* ``stream_tokens_rollup`` — whole docs (tokens parquet) -> finest-tier
  rollup. Per-doc rows are self-contained, so no state or watermark is
  needed; exactly-once comes from the checkpointed file source and the
  idempotent sink.
* ``stream_events_rollup`` — event-time tumbling window aggregation with a
  watermark for late data (the classic readStream -> withWatermark ->
  groupBy(window) shape).
* ``incremental_tier_rollup`` — docs arriving as (doc_id, chunk_off,
  tokens) chunks, in any order -> the continuous-aggregate cascade: one
  stateful operator emits every tier's buckets as they complete. One tier
  is the plain incremental bucket rollup.
"""

from __future__ import annotations

from types import MappingProxyType
from typing import Mapping

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.rollup import ROLLUP_SCHEMA, bucket_stats, finest_rollup
from ..sources.tokens import TOKENS_SCHEMA

CHUNK_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("source", T.StringType(), False),
        T.StructField("chunk_off", T.LongType(), False),
        T.StructField("tokens", T.ArrayType(T.IntegerType()), False),
    ]
)


def _append_to_parquet(df: DataFrame, sink_dir: str, checkpoint_dir: str):
    """Start ``df`` as an append-mode parquet sink that processes the input
    available now and then stops."""
    return (
        df.writeStream.format("parquet")
        .option("path", sink_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def stream_tokens_rollup(spark: SparkSession, input_dir: str, sink_dir: str,
                         checkpoint_dir: str, bucket_size: int = 60):
    """File-source streaming finest-tier rollup of whole docs; returns the
    started StreamingQuery, which catches up on the files available now
    and stops."""
    stream = (
        spark.readStream.schema(TOKENS_SCHEMA)
        .option("maxFilesPerTrigger", 16)
        .parquet(input_dir)
    )
    return _append_to_parquet(finest_rollup(stream, bucket_size), sink_dir,
                              checkpoint_dir)


def stream_events_rollup(spark: SparkSession, input_dir: str, sink_dir: str,
                         checkpoint_dir: str, watermark: str = "1 hour"):
    """Watermarked event-time tumbling rollup of an events stream
    (ts, user_id, value): per (user, 1h window) count + exact cents sum.
    Late rows beyond the watermark are dropped deterministically."""
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )
    stream = spark.readStream.schema(schema).parquet(input_dir)
    cents = F.round(F.col("value") * 100, 0).cast("long")
    agg = (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("win"), "user_id")
        .agg(F.count("*").alias("cnt"), F.sum(cents).alias("sum_cents"))
        .select(
            F.col("win.start").alias("window_start"),
            "user_id", "cnt", "sum_cents",
        )
    )
    return _append_to_parquet(agg, sink_dir, checkpoint_dir)


def incremental_tier_rollup(
    spark: SparkSession, input_dir: str, sink_dir: str, checkpoint_dir: str,
    tiers: Mapping[str, int] = MappingProxyType({"1m": 60, "1h": 3600}),
    max_buffer_tokens: int = 1 << 22,
):
    """Streaming CONTINUOUS-AGGREGATE CASCADE (``applyInPandasWithState``).

    ``tiers`` maps each tier name to its bucket size in tokens; a bucket
    is emitted the moment its last token arrives (a 3600-token bucket
    appears with its 3600th token), and a one-entry mapping is the plain
    incremental bucket rollup. Docs arrive as (doc_id, chunk_off, tokens)
    chunks in any order, across micro-batches and restarts. Per-doc state
    holds the next expected offset, the chunks buffered past a gap, and
    per tier the exact accumulators of the trailing partial bucket (the
    same sufficient state the reference's incremental MPX prototypes
    keep, src/mpx.cpp:194-376). Completed buckets never change (append
    output mode) and equal the batch cascade's complete buckets exactly.
    More than ``max_buffer_tokens`` buffered tokens for one doc means a
    chunk is missing, and the stream fails loudly.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    names, sizes = tuple(tiers), tuple(tiers.values())
    # per-tier accumulators of an empty partial bucket: cnt, sum_v, sumsq,
    # min_v, max_v (the extrema are the identities of min and max)
    empty = np.array([0, 0, 0, 2**31, -(2**31)], dtype=np.int64)
    state_schema = T.StructType(
        [
            T.StructField("next_off", T.LongType()),
            T.StructField("cnt", T.ArrayType(T.LongType())),
            T.StructField("sum_v", T.ArrayType(T.LongType())),
            T.StructField("sumsq", T.ArrayType(T.LongType())),
            T.StructField("min_v", T.ArrayType(T.LongType())),
            T.StructField("max_v", T.ArrayType(T.LongType())),
            T.StructField("source", T.StringType()),
            T.StructField("buf_offs", T.ArrayType(T.LongType())),
            T.StructField("buf_lens", T.ArrayType(T.IntegerType())),
            T.StructField("buf_toks", T.ArrayType(T.IntegerType())),
        ]
    )

    def update(key, pdfs, state: GroupState):
        """Reassemble the contiguous run of chunks, then one bucket_stats
        call per tier — no per-token Python."""
        doc_id = key[0]
        if state.exists:
            next_off, *acc, src, b_offs, b_lens, b_toks = state.get
            carry = np.array(acc, dtype=np.int64)  # (5, n_tiers)
            flat = np.asarray(b_toks or [], dtype=np.int64)
            pieces = np.split(flat, np.cumsum(b_lens or [])[:-1])
            chunks = [(int(o), a) for o, a in zip(b_offs or [], pieces)]
        else:
            next_off, src, chunks = 0, None, []
            carry = np.repeat(empty[:, None], len(sizes), axis=1)

        for pdf in pdfs:
            for off, toks, sc in zip(pdf["chunk_off"], pdf["tokens"], pdf["source"]):
                src = sc
                chunks.append((int(off), np.asarray(toks, dtype=np.int64)))
        chunks.sort(key=lambda t: t[0])
        run, rest = [], []
        expected = next_off
        for off, arr in chunks:
            if off == expected:
                run.append(arr)
                expected += arr.size
            elif off > expected:
                rest.append((off, arr))
            else:
                raise ValueError(f"overlapping chunk for {doc_id} at {off}")
        buffered = sum(a.size for _, a in rest)
        if buffered > max_buffer_tokens:
            # fail LOUDLY: a never-arriving chunk would otherwise grow this
            # state without bound and silently withhold all later buckets
            raise ValueError(
                f"doc {doc_id}: {buffered} tokens buffered waiting for "
                f"offset {expected} (cap max_buffer_tokens="
                f"{max_buffer_tokens}) — a chunk is missing from the stream"
            )

        frames = []
        x = np.concatenate(run) if run else np.empty(0, dtype=np.int64)
        for ti, (name, bs) in enumerate(zip(names, sizes)):
            if not x.size:  # no new token: every carry stays as it is
                break
            # buckets of this tier that the run touches: the first one
            # continues the carried partial, the last may stay partial
            cuts = np.arange(-next_off % bs or bs, x.size, bs)
            starts = np.concatenate(([0], cuts))
            ends = np.concatenate((cuts, [x.size]))
            stats = np.array(bucket_stats(x, starts, ends))  # (5, n_buckets)
            stats[:3, 0] += carry[:3, ti]
            stats[3, 0] = min(stats[3, 0], carry[3, ti])
            stats[4, 0] = max(stats[4, 0], carry[4, ti])
            n_done = ends.size - int((next_off + x.size) % bs != 0)
            carry[:, ti] = empty if n_done == ends.size else stats[:, -1]
            if n_done:
                cnt, sum_v, sumsq, min_v, max_v = stats[:, :n_done]
                frames.append(pd.DataFrame(
                    {
                        "doc_id": doc_id, "source": src, "tier": name,
                        "bucket": (next_off + starts[:n_done]) // bs,
                        "cnt": cnt, "sum_v": sum_v, "sumsq": sumsq,
                        "min_v": min_v.astype(np.int32),
                        "max_v": max_v.astype(np.int32),
                    }
                ))

        state.update(
            (
                int(expected), *carry.tolist(), src,
                [o for o, _ in rest],
                [int(a.size) for _, a in rest],
                [v for _, a in rest for v in a.tolist()],
            )
        )
        if frames:
            yield pd.concat(frames, ignore_index=True)

    stream = (
        spark.readStream.schema(CHUNK_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(input_dir)
    )
    agg = stream.groupBy("doc_id").applyInPandasWithState(
        update, ROLLUP_SCHEMA, state_schema, "append", GroupStateTimeout.NoTimeout
    )
    return _append_to_parquet(agg, sink_dir, checkpoint_dir)
