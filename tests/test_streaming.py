"""Structured Streaming tests: the streaming rollup must equal the batch
rollup row-for-row, resume from its checkpoint, and the watermarked
event-time aggregation must window correctly."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from matrixprofiler_spark.operators.rollup import tier_rollup
from matrixprofiler_spark.sources.tokens import synth_tokens_df
from matrixprofiler_spark.streaming.stream_rollup import (
    stream_events_rollup,
    stream_tokens_rollup,
)


def test_streaming_rollup_equals_batch(spark, tmp_path):
    inp = str(tmp_path / "in")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    tokens = synth_tokens_df(spark, 20, seed=42)
    tokens.write.parquet(inp)

    q = stream_tokens_rollup(spark, inp, sink, ckpt)
    q.awaitTermination(120)

    got = spark.read.parquet(sink).orderBy("doc_id", "bucket").collect()
    want = (
        tier_rollup(spark.read.parquet(inp), {"1m": 60})
        .orderBy("doc_id", "bucket")
        .collect()
    )
    assert len(got) == len(want)
    for a, b in zip(got, want):
        assert a.asDict() == b.asDict()

    # incremental catch-up: add more docs, restart from checkpoint ->
    # only the new docs are appended
    more = synth_tokens_df(spark, 30, seed=42, include_golden=False).filter(
        F.col("doc_id") > "doc_00000019"
    )
    more.write.mode("append").parquet(inp)
    q2 = stream_tokens_rollup(spark, inp, sink, ckpt)
    q2.awaitTermination(120)
    total = spark.read.parquet(sink).count()
    expect = tier_rollup(spark.read.parquet(inp), {"1m": 60}).count()
    assert total == expect


def test_streaming_events_watermark(spark, tmp_path):
    inp = str(tmp_path / "ev_in")
    sink = str(tmp_path / "ev_sink")
    ckpt = str(tmp_path / "ev_ckpt")
    ev = spark.createDataFrame(
        [
            (1, "2024-01-01 00:10:00", 7, "click", 1.25, "{}"),
            (2, "2024-01-01 00:40:00", 7, "click", 2.50, "{}"),
            (3, "2024-01-01 01:10:00", 7, "click", 4.00, "{}"),
            (4, "2024-01-01 00:20:00", 9, "view", 0.75, "{}"),
            # flush event: advances the watermark past every asserted
            # window's end so append mode emits them (its own window stays
            # open and is intentionally not asserted)
            (5, "2024-01-01 05:00:00", 1, "tick", 0.0, "{}"),
        ],
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.to_timestamp("ts"))
    ev.write.parquet(inp)

    q = stream_events_rollup(spark, inp, sink, ckpt)
    q.awaitTermination(120)

    rows = {(r.user_id, str(r.window_start)): r for r in spark.read.parquet(sink).collect()}
    r7 = rows[(7, "2024-01-01 00:00:00")]
    assert r7.cnt == 2 and r7.sum_cents == 375
    r7b = rows[(7, "2024-01-01 01:00:00")]
    assert r7b.cnt == 1 and r7b.sum_cents == 400
    assert rows[(9, "2024-01-01 00:00:00")].cnt == 1


def test_stateful_incremental_rollup(spark, tmp_path):
    """applyInPandasWithState: chunked appends produce exactly the batch
    finest-rollup's COMPLETED buckets, across a restart, with the trailing
    partial carried in state."""
    from matrixprofiler_spark.streaming.stream_rollup import incremental_tier_rollup

    inp = str(tmp_path / "chunks")
    sink = str(tmp_path / "sink2")
    ckpt = str(tmp_path / "ckpt2")

    docs = {
        "d1": np.arange(150, dtype=np.int32),          # 2 full + partial
        "d2": (np.arange(200, dtype=np.int32) * 7) % 50257,  # 3 full + partial
    }
    # first delivery: first 100 offsets of each doc
    rows1 = [(k, "web", 0, [int(v) for v in x[:100]]) for k, x in docs.items()]
    spark.createDataFrame(
        rows1, "doc_id string, source string, chunk_off long, tokens array<int>"
    ).write.parquet(inp)
    q = incremental_tier_rollup(spark, inp, sink, ckpt, tiers={"1m": 60})
    q.awaitTermination(120)
    first = spark.read.parquet(sink).count()
    assert first == 2  # one completed 60-bucket per doc

    # second delivery appended; restart from checkpoint picks it up
    rows2 = [(k, "web", 100, [int(v) for v in x[100:]]) for k, x in docs.items()]
    spark.createDataFrame(
        rows2, "doc_id string, source string, chunk_off long, tokens array<int>"
    ).write.mode("append").parquet(inp)
    q2 = incremental_tier_rollup(spark, inp, sink, ckpt, tiers={"1m": 60})
    q2.awaitTermination(120)

    got = {
        (r.doc_id, r.bucket): r
        for r in spark.read.parquet(sink).collect()
    }
    # completed buckets must match the batch path exactly
    from matrixprofiler_spark.sources.tokens import TOKENS_SCHEMA

    batch_tokens = spark.createDataFrame(
        [(k, [int(v) for v in x], len(x), "web") for k, x in docs.items()],
        schema=TOKENS_SCHEMA,
    )
    want = {
        (r.doc_id, r.bucket): r
        for r in tier_rollup(batch_tokens, {"1m": 60}).filter(F.col("cnt") == 60).collect()
    }
    assert set(got) == set(want)
    for k in want:
        for col in ("cnt", "sum_v", "sumsq", "min_v", "max_v"):
            assert getattr(got[k], col) == getattr(want[k], col), (k, col)


def test_streaming_tier_cascade(spark, tmp_path):
    """Multi-tier continuous aggregates: the stateful cascade emits 1m AND
    1h buckets as they complete, across a restart, equal to the batch
    tier cascade's completed buckets."""
    from matrixprofiler_spark.operators.rollup import cascade_tier
    from matrixprofiler_spark.streaming.stream_rollup import incremental_tier_rollup

    inp = str(tmp_path / "tchunks")
    sink = str(tmp_path / "tsink")
    ckpt = str(tmp_path / "tckpt")

    docs = {
        "dA": (np.arange(8000, dtype=np.int64) * 13 % 50257).astype(np.int32),
        "dB": (np.arange(4200, dtype=np.int64) * 7 % 50257).astype(np.int32),
    }
    # two deliveries split mid-1h-bucket; restart in between
    cut = 3000
    rows1 = [(k, "web", 0, [int(v) for v in x[:cut]]) for k, x in docs.items()]
    spark.createDataFrame(
        rows1, "doc_id string, source string, chunk_off long, tokens array<int>"
    ).write.parquet(inp)
    q = incremental_tier_rollup(spark, inp, sink, ckpt)
    q.awaitTermination(120)
    mid = spark.read.parquet(sink)
    assert mid.filter(F.col("tier") == "1h").count() == 0  # none complete yet
    assert mid.filter(F.col("tier") == "1m").count() == 2 * (cut // 60)

    rows2 = [(k, "web", cut, [int(v) for v in x[cut:]]) for k, x in docs.items()]
    spark.createDataFrame(
        rows2, "doc_id string, source string, chunk_off long, tokens array<int>"
    ).write.mode("append").parquet(inp)
    q = incremental_tier_rollup(spark, inp, sink, ckpt)
    q.awaitTermination(120)

    got = {
        (r.doc_id, r.tier, r.bucket): (r.cnt, r.sum_v, r.sumsq, r.min_v, r.max_v)
        for r in spark.read.parquet(sink).collect()
    }
    full = spark.createDataFrame(
        [(k, [int(v) for v in x], int(x.size), "web") for k, x in docs.items()],
        "doc_id string, tokens array<int>, n_tok int, source string",
    )
    m1 = tier_rollup(full, {"1m": 60})
    h1 = cascade_tier(m1, 60, 3600, "1h")
    batch = m1.unionByName(h1).collect()
    want = {
        (r.doc_id, r.tier, r.bucket): (r.cnt, r.sum_v, r.sumsq, r.min_v, r.max_v)
        for r in batch
        if (r.bucket + 1) * (60 if r.tier == "1m" else 3600) <= docs[r.doc_id].size
    }
    assert got == want


@pytest.mark.parametrize("seed", [5, 17])
def test_streaming_cascade_edge_corpus(spark, tmp_path, seed):
    """Adversarial delivery of the stateful cascade: docs split into
    seeded random 1-70 token chunks arrive shuffled, over several files
    per restart and four restarts. After every restart the sink must hold
    exactly the batch cascade's complete buckets over each doc's
    contiguous delivered prefix, each (doc, tier, bucket) once. The
    corpus has a 1-token doc, a doc of exactly 2 x 256 tokens, negative
    values, and a doc whose second run (7 tokens after a 5-token carry)
    completes no finest bucket."""
    from matrixprofiler_spark.operators.rollup import cascade_tier
    from matrixprofiler_spark.streaming.stream_rollup import incremental_tier_rollup

    tiers = {"a": 16, "b": 64, "c": 256}
    rng = np.random.default_rng(seed)
    lens = {"exact": 512, "one": 1, "steps": 300, "long": 777, "short": 40}
    docs = {k: rng.integers(-50257, 50257, n).astype(np.int32)
            for k, n in lens.items()}
    docs["long"][100:400] = 7  # a constant stretch

    # (doc, off, len, delivery): "steps" opens with a 5-token chunk in
    # delivery 0 and a 7-token one in delivery 1, and the rest of it comes
    # later; every other chunk lands in a random delivery
    chunks = []
    for k, n in lens.items():
        off = 0
        while off < n:
            if k == "steps" and off < 12:
                ln, d = (5, 0) if off == 0 else (7, 1)
            else:
                ln = min(int(rng.integers(1, 71)), n - off)
                d = int(rng.integers(2 if k == "steps" else 0, 4))
            chunks.append((k, off, ln, d))
            off += ln
    rng.shuffle(chunks)

    full = spark.createDataFrame(
        [(k, [int(v) for v in x], int(x.size), "web") for k, x in docs.items()],
        "doc_id string, tokens array<int>, n_tok int, source string",
    )
    fine = tier_rollup(full, {"a": tiers["a"]})
    mid = cascade_tier(fine, tiers["a"], tiers["b"], "b")
    coarse = cascade_tier(mid, tiers["b"], tiers["c"], "c")
    batch = fine.unionByName(mid).unionByName(coarse).collect()

    def row(r):
        return (r.doc_id, r.source, r.tier, r.bucket,
                r.cnt, r.sum_v, r.sumsq, r.min_v, r.max_v)

    inp, sink, ckpt = (str(tmp_path / d) for d in ("in", "sink", "ckpt"))
    schema = "doc_id string, source string, chunk_off long, tokens array<int>"
    for d in range(4):
        part = [c for c in chunks if c[3] == d]
        for f in range(3):  # three files, so three micro-batches
            rows = [(k, "web", off, [int(v) for v in docs[k][off:off + ln]])
                    for k, off, ln, _ in part[f::3]]
            if rows:
                spark.createDataFrame(rows, schema).coalesce(1).write.mode(
                    "append").parquet(inp)
        incremental_tier_rollup(spark, inp, sink, ckpt,
                                tiers=tiers).awaitTermination(120)

        # contiguous prefix delivered so far, per doc
        prefix = dict.fromkeys(lens, 0)
        for k, off, ln, _ in sorted(c for c in chunks if c[3] <= d):
            if off == prefix[k]:
                prefix[k] += ln
        got = [row(r) for r in spark.read.parquet(sink).collect()]
        want = [row(r) for r in batch
                if (r.bucket + 1) * tiers[r.tier] <= prefix[r.doc_id]]
        keys = [g[:4] for g in got]
        assert len(keys) == len(set(keys)), d
        assert sorted(got) == sorted(want), d
        if d < 2:  # "steps" still has a partial "a" bucket pending
            assert prefix["steps"] == (5, 12)[d]
    assert prefix == lens
    assert not any(g[0] == "one" for g in got)
    assert sum(g[4] for g in got if g[0] == "exact" and g[2] == "c") == 512


def test_stateful_buffer_cap_fails_loudly(spark, tmp_path):
    """A never-arriving chunk must not grow per-doc state without bound:
    past max_buffer_tokens the stream FAILS with a clear error instead of
    silently withholding all later buckets."""
    from matrixprofiler_spark.streaming.stream_rollup import incremental_tier_rollup

    inp = str(tmp_path / "chunks")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    # offset-0 chunk never arrives; 200 buffered tokens exceed the cap
    rows = [("d1", "web", 100, list(range(200)))]
    spark.createDataFrame(
        rows, "doc_id string, source string, chunk_off long, tokens array<int>"
    ).write.parquet(inp)
    q = incremental_tier_rollup(spark, inp, sink, ckpt, tiers={"1m": 60},
                                max_buffer_tokens=100)
    with pytest.raises(Exception, match="missing from the stream"):
        q.awaitTermination(120)
        raise AssertionError("stream should have failed")


def test_stream_rollup_persistent_sink(spark, tmp_path):
    """sink_dir mode: the face returns the sink DataFrame lazily (no
    driver-side materialize), rows identical to the default mode, and the
    sink/checkpoint dirs survive the call (the 100-TB shape: a durable
    table location instead of a self-cleaning temp dir)."""
    from matrixprofiler_spark.queries import q_stream_rollup

    sf = "/root/testdata/sf0.001"
    base = str(tmp_path / "durable")
    out = q_stream_rollup(spark, sf, sink_dir=base)
    got = sorted(map(tuple, out.collect()))
    want = sorted(map(tuple, q_stream_rollup(spark, sf).collect()))
    assert got == want
    import os
    assert os.path.isdir(f"{base}/sink") and os.path.isdir(f"{base}/ckpt")
    # lazy: re-reading the retained sink reproduces the result
    assert sorted(
        map(tuple, spark.read.parquet(f"{base}/sink").select(
            "doc_id", "bucket", "cnt", "sum_v", "sumsq", "min_v", "max_v"
        ).collect())
    ) == want


def test_checkpoint_resume_persistent_sink(spark, tmp_path):
    """sink_dir mode of the kill-and-resume face: lazy return, manifests
    and committed stage retained for post-hoc lineage inspection."""
    from matrixprofiler_spark.queries import q_checkpoint_rollup_resume

    sf = "/root/testdata/sf0.001"
    base = str(tmp_path / "ckpt_base")
    out = q_checkpoint_rollup_resume(spark, sf, sink_dir=base)
    got = sorted(map(tuple, out.collect()))
    assert len(got) > 0
    import os
    assert os.path.isdir(f"{base}/manifests")
    manifests = os.listdir(f"{base}/manifests")
    assert len([m for m in manifests if m.startswith("rollup_1m")]) == 4


def test_stream_rollup_sink_reinvocation_is_idempotent(spark, tmp_path):
    """Durable mode called twice against the same dir must NOT duplicate
    sink rows (a rewrite of the input would mint new part files that the
    checkpoint ingests as fresh data), and a different input against the
    same dir must fail loudly."""
    from matrixprofiler_spark.queries import q_stream_rollup

    sf = "/root/testdata/sf0.001"
    base = str(tmp_path / "durable")
    first = sorted(map(tuple, q_stream_rollup(spark, sf, sink_dir=base).collect()))
    second = sorted(map(tuple, q_stream_rollup(spark, sf, sink_dir=base).collect()))
    assert second == first  # same rows, not 2x
    with pytest.raises(ValueError, match="different input"):
        q_stream_rollup(spark, "/root/testdata/sf0.01", sink_dir=base)


def test_checkpoint_resume_sink_reinvocation(spark, tmp_path):
    """Durable kill-and-resume face called twice: the second call resumes
    idempotently (no injected-failure dance against committed work) and
    returns the same committed rows."""
    from matrixprofiler_spark.queries import q_checkpoint_rollup_resume

    sf = "/root/testdata/sf0.001"
    base = str(tmp_path / "ckpt_base")
    first = sorted(map(tuple, q_checkpoint_rollup_resume(spark, sf, sink_dir=base).collect()))
    second = sorted(map(tuple, q_checkpoint_rollup_resume(spark, sf, sink_dir=base).collect()))
    assert second == first


def test_streamed_rollup_feeds_retention_view(spark, tmp_path):
    """End-to-end: stream-ingested fine-tier rollup read back from the
    sink must drive the N-tier retention serving view identically to the
    batch path — the production shape where the streaming job maintains
    the fine tier and serving queries read it."""
    from matrixprofiler_spark.operators.rollup import (
        cascade_tier,
        retention_policy_multi,
    )

    inp = str(tmp_path / "in")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    tokens = synth_tokens_df(spark, 16, seed=7)
    tokens.write.parquet(inp)

    q = stream_tokens_rollup(spark, inp, sink, ckpt, bucket_size=16)
    q.awaitTermination(120)

    def view(fine):
        m2 = cascade_tier(fine, 16, 64, "4m")
        m3 = cascade_tier(fine, 16, 256, "16m")
        return retention_policy_multi(
            [(fine, 16), (m2, 64), (m3, 256)], [256, 1024]
        )

    key = ["doc_id", "source", "tier", "bucket"]
    streamed = view(spark.read.parquet(sink)).orderBy(key).collect()
    batch = view(tier_rollup(tokens, {"1m": 16})).orderBy(key).collect()
    assert len(streamed) == len(batch) > 0
    for a, b in zip(streamed, batch):
        assert a.asDict() == b.asDict()
    # serving-view invariant holds on the streamed path too
    served_tok = {r.doc_id: 0 for r in streamed}
    for r in streamed:
        served_tok[r.doc_id] += r.cnt
    want_tok = {r.doc_id: r.n_tok for r in tokens.collect()}
    assert served_tok == want_tok


def test_late_chunks_across_restart_keep_retention_seamfree(spark, tmp_path):
    """Late-data interplay (VERDICT r5 #5): a chunk arrives OUT OF ORDER
    (a later offset lands first), the stream is stopped, and the missing
    chunk only arrives after a restart. The stateful cascade must (a)
    withhold every bucket past the gap while the chunk is missing —
    nothing to double-serve later — and (b) after the restart replays it,
    emit each (doc, tier, bucket) exactly once, so the retention serving
    view over the streamed fine+coarse tiers is row-identical to the
    batch path and seam-free (sum(cnt) == n_tok per doc)."""
    from matrixprofiler_spark.operators.rollup import (
        cascade_tier,
        retention_policy,
    )
    from matrixprofiler_spark.streaming.stream_rollup import incremental_tier_rollup

    inp = str(tmp_path / "lchunks")
    sink = str(tmp_path / "lsink")
    ckpt = str(tmp_path / "lckpt")

    docs = {
        "dA": (np.arange(256, dtype=np.int64) * 13 % 50257).astype(np.int32),
        "dB": (np.arange(192, dtype=np.int64) * 7 % 50257).astype(np.int32),
    }
    chunk_schema = (
        "doc_id string, source string, chunk_off long, tokens array<int>"
    )

    def chunk(doc, off, ln=32):
        return (doc, "web", off, [int(v) for v in docs[doc][off:off + ln]])

    # delivery 1: dA offset-64 chunk arrives BEFORE offset-32 (late gap)
    spark.createDataFrame(
        [chunk("dA", 0), chunk("dA", 64), chunk("dB", 0)], chunk_schema
    ).write.parquet(inp)
    q = incremental_tier_rollup(spark, inp, sink, ckpt,
                                tiers={"1m": 16, "1h": 64})
    q.awaitTermination(120)
    mid = spark.read.parquet(sink).collect()
    # buckets past the gap are withheld: dA served only through offset 32
    assert max(r.bucket for r in mid
               if r.doc_id == "dA" and r.tier == "1m") == 1
    assert not [r for r in mid if r.tier == "1h"]

    # delivery 2 AFTER a restart: the late chunk finally arrives
    spark.createDataFrame(
        [chunk("dA", 32), chunk("dB", 32)], chunk_schema
    ).write.mode("append").parquet(inp)
    q = incremental_tier_rollup(spark, inp, sink, ckpt,
                                tiers={"1m": 16, "1h": 64})
    q.awaitTermination(120)

    # delivery 3: the rest, again spanning a restart
    rest = [chunk("dA", o) for o in range(96, 256, 32)] + [
        chunk("dB", o) for o in range(64, 192, 32)]
    spark.createDataFrame(rest, chunk_schema).write.mode("append").parquet(inp)
    q = incremental_tier_rollup(spark, inp, sink, ckpt,
                                tiers={"1m": 16, "1h": 64})
    q.awaitTermination(120)

    streamed = spark.read.parquet(sink)
    # exactly-once: no (doc, tier, bucket) appears twice in the sink
    keys = [(r.doc_id, r.tier, r.bucket) for r in streamed.collect()]
    assert len(keys) == len(set(keys))

    full = spark.createDataFrame(
        [(k, [int(v) for v in x], int(x.size), "web") for k, x in docs.items()],
        "doc_id string, tokens array<int>, n_tok int, source string",
    )

    def view(fine, coarse):
        return retention_policy(fine, coarse, 16, 64, horizon=64)

    key = ["doc_id", "source", "tier", "bucket"]
    got = view(
        streamed.filter(F.col("tier") == "1m"),
        streamed.filter(F.col("tier") == "1h"),
    ).orderBy(key).collect()
    m1 = tier_rollup(full, {"1m": 16})
    want = view(m1, cascade_tier(m1, 16, 64, "1h")).orderBy(key).collect()
    assert len(got) == len(want) > 0
    for a, b in zip(got, want):
        assert a.asDict() == b.asDict()

    # seam-free: every token position served exactly once per doc
    served = {}
    for r in got:
        served[r.doc_id] = served.get(r.doc_id, 0) + r.cnt
    assert served == {k: int(x.size) for k, x in docs.items()}


def test_streamed_fine_tier_survives_physical_expiry(spark, tmp_path):
    """The full production loop for the retention engine: the streaming
    job maintains the fine tier on disk, the PHYSICAL expiry job
    (streaming/expiry.py) compacts that streamed store — not a batch
    rewrite — surviving a mid-run kill, and the serving view over the
    compacted streamed fine tier + coarse cascade with the STORED
    watermark is row-identical to the batch view over the full store."""
    from matrixprofiler_spark.operators.rollup import (
        cascade_tier,
        retention_policy,
    )
    from matrixprofiler_spark.streaming.expiry import RetentionExpiryJob

    fine_sz, coarse_sz, horizon = 16, 64, 32
    inp = str(tmp_path / "in")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    tokens = synth_tokens_df(spark, 16, seed=11)
    tokens.write.parquet(inp)
    q = stream_tokens_rollup(spark, inp, sink, ckpt, bucket_size=fine_sz)
    q.awaitTermination(120)

    fine_streamed = spark.read.parquet(sink)
    coarse = cascade_tier(fine_streamed, fine_sz, coarse_sz, "1h")

    base = tmp_path / "expiry"
    job = RetentionExpiryJob(spark, base, fine_sz, coarse_sz, horizon,
                             n_groups=4)
    with pytest.raises(RuntimeError, match="injected failure"):
        job.run(fine_streamed, fail_after=2)
    job2 = RetentionExpiryJob(spark, base, fine_sz, coarse_sz, horizon,
                              n_groups=4)
    job2.run(fine_streamed)
    m = job2.metrics()
    assert m["rows_dropped"] > 0  # the policy actually fired
    assert m["rows_before"] == m["rows_dropped"] + m["rows_after"]

    key = ["doc_id", "source", "tier", "bucket"]
    got = job2.serving_view(coarse).orderBy(key).collect()
    m1 = tier_rollup(tokens, {"1m": fine_sz})
    want = retention_policy(
        m1, cascade_tier(m1, fine_sz, coarse_sz, "1h"),
        fine_sz, coarse_sz, horizon,
    ).orderBy(key).collect()
    assert len(got) == len(want) > 0
    for a, b in zip(got, want):
        assert a.asDict() == b.asDict()

    # seam-free across the stream->expire->serve loop: sum(cnt) == n_tok
    served = {}
    for r in got:
        served[r.doc_id] = served.get(r.doc_id, 0) + r.cnt
    assert served == {r.doc_id: r.n_tok for r in tokens.collect()}
