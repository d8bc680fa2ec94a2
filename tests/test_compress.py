"""Compression policy (streaming/compress.py — the compress_chunks
analog): kill-and-resume, decode identity (read_fine == input store, row
for row), chunk-quantum semantics, segment pruning before decode, and
input/policy binding from the group-commit contract."""

from __future__ import annotations

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from matrixprofiler_spark.codecs import dod_decode
from matrixprofiler_spark.operators.rollup import retention_policy, tier_rollup
from matrixprofiler_spark.sources.tokens import synth_tokens_df
from matrixprofiler_spark.streaming.commit import read_manifest
from matrixprofiler_spark.streaming.compress import CompressionPolicyJob

FINE, CHUNK, HORIZON = 16, 64, 32


@pytest.fixture(scope="module")
def fine(spark):
    toks = synth_tokens_df(spark, 40, seed=7)
    df = tier_rollup(toks, {"1m": FINE}).cache()
    df.count()
    return df


def _rows(df):
    cols = ["doc_id", "source", "bucket", "cnt", "sum_v", "sumsq",
            "min_v", "max_v"]
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_kill_resume_and_decode_identity(spark, fine, tmp_path_factory):
    base = tmp_path_factory.mktemp("compress")
    job = CompressionPolicyJob(spark, base, FINE, CHUNK, HORIZON, n_groups=6)

    with pytest.raises(RuntimeError, match="injected failure"):
        job.run(fine, fail_after=3)
    assert len(job.completed_groups()) == 3
    assert not (base / "_stage_compress_COMMITTED").exists()
    with pytest.raises(RuntimeError, match="compress incomplete"):
        job.read_fine()

    # resume completes exactly the remaining groups
    done_before = set(job.completed_groups())
    job2 = CompressionPolicyJob(spark, base, FINE, CHUNK, HORIZON, n_groups=6)
    assert sorted(job2.run(fine)) == sorted(set(range(6)) - done_before)
    assert (base / "_stage_compress_COMMITTED").exists()

    # decode identity: head UNION decoded segments == input store
    assert _rows(job2.read_fine()) == _rows(fine)

    # the job actually compressed something, and the census is coherent
    m = job2.metrics()
    assert m["rows_compressed"] > 0 and m["n_segments"] > 0
    assert m["rows_in"] == m["rows_head"] + m["rows_compressed"]
    assert m["compression_ratio"] is not None

    # idempotent re-run: nothing left to do
    assert job2.run(fine) == []


def test_chunk_quantum_semantics(spark, fine, tmp_path_factory):
    """A bucket is compressed iff its chunk lies wholly at or below the
    chunk-aligned cutoff — whole-chunk quanta, never a partial chunk."""
    base = tmp_path_factory.mktemp("compress_q")
    job = CompressionPolicyJob(spark, base, FINE, CHUNK, HORIZON, n_groups=2)
    job.run(fine)
    wm = fine.groupBy("doc_id", "source").agg(
        ((F.max("bucket") + 1) * FINE).alias("wm"))
    cut = (F.floor((F.col("wm") - HORIZON) / CHUNK) * CHUNK).cast("long")
    expected_cold = (fine.join(wm, ["doc_id", "source"])
                     .where((F.col("bucket") + 1) * FINE <= cut).drop("wm"))
    cols = ["doc_id", "source", "bucket", "cnt", "sum_v", "sumsq",
            "min_v", "max_v"]
    cold_rows = _rows(
        job.read_fine().select(*cols).exceptAll(job.head().select(*cols)))
    assert cold_rows == _rows(expected_cold)
    # every segment stays within one chunk's bucket span
    bad = job.segments().where(
        (F.col("b_max") - F.col("b_min") + 1) > CHUNK // FINE).count()
    assert bad == 0
    # blobs round-trip their own n_rows
    seg = job.segments().limit(5).collect()
    for r in seg:
        assert dod_decode(bytes(r["bucket_blob"])).size == r["n_rows"]


def test_segment_pruning_before_decode(spark, fine, tmp_path_factory):
    base = tmp_path_factory.mktemp("compress_p")
    job = CompressionPolicyJob(spark, base, FINE, CHUNK, 0, n_groups=2)
    job.run(fine)
    lo, hi = 2, 5
    # pruned read is exactly the direct range filter of the input store
    got = _rows(job.read_fine(bucket_min=lo, bucket_max=hi))
    want = _rows(fine.where(F.col("bucket").between(lo, hi)))
    assert got == want
    # the range predicate reaches the segment parquet scan as pushed
    # filters on the b_min/b_max metadata columns (chunk exclusion)
    plan = job.segments(lo, hi)._jdf.queryExecution().executedPlan().toString()
    assert "b_max" in plan and "b_min" in plan
    assert "PushedFilters: [" in plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("b_max" in ln or "b_min" in ln for ln in pushed)
    # pruning visibly cuts the segment set on this input
    assert job.segments(lo, hi).count() < job.segments().count()


def test_value_zone_map_pruning(spark, fine, tmp_path_factory):
    """Value zone maps (v_min/v_max per segment): a max_v threshold skips
    segments before decode and serves exactly the direct filter."""
    base = tmp_path_factory.mktemp("compress_v")
    job = CompressionPolicyJob(spark, base, FINE, CHUNK, 0, n_groups=2)
    job.run(fine)
    # pick a threshold between the global median and max of max_v so both
    # pruned and surviving segments exist
    thr = int(fine.approxQuantile("max_v", [0.9], 0.0)[0])
    got = _rows(job.read_fine(max_v_at_least=thr))
    want = _rows(fine.where(F.col("max_v") >= thr))
    assert got == want and len(got) > 0
    assert job.segments(max_v_at_least=thr).count() < job.segments().count()
    plan = (job.segments(max_v_at_least=thr)
            ._jdf.queryExecution().executedPlan().toString())
    assert "PushedFilters: [" in plan and "v_max" in plan
    # zone maps are consistent with their decoded contents
    seg = job.segments().limit(8).collect()
    for r in seg:
        mn = dod_decode(bytes(r["min_blob"]))
        mx = dod_decode(bytes(r["max_blob"]))
        assert r["v_min"] == int(mn.min()) and r["v_max"] == int(mx.max())


def test_compressed_store_is_drop_in_fine_tier(spark, fine, tmp_path_factory):
    """retention_policy over read_fine() == retention_policy over the
    original store — the compressed store serves transparently."""
    from matrixprofiler_spark.operators.rollup import cascade_tier

    base = tmp_path_factory.mktemp("compress_s")
    job = CompressionPolicyJob(spark, base, FINE, CHUNK, HORIZON, n_groups=2)
    job.run(fine)
    coarse = cascade_tier(fine, FINE, 64, "1h")
    cols = ["doc_id", "source", "bucket", "cnt", "sum_v", "sumsq",
            "min_v", "max_v", "tier"]

    def rows(df):
        return sorted(tuple(r) for r in df.select(*cols).collect())

    served_full = retention_policy(fine, coarse, FINE, 64, HORIZON)
    served_comp = retention_policy(
        job.read_fine().withColumn("tier", F.lit("1m")),
        coarse, FINE, 64, HORIZON)
    assert rows(served_comp) == rows(served_full)


def test_full_lifecycle_compress_then_expire(spark, fine, tmp_path_factory):
    """The TimescaleDB lifecycle triad chained end to end: compress the
    fine store (1 chunk of recent history kept row-form), physically
    expire the DECODED compressed store, then serve — row-identical to
    the retention serving view over the original uncompressed store."""
    from matrixprofiler_spark.operators.rollup import cascade_tier
    from matrixprofiler_spark.streaming.expiry import RetentionExpiryJob

    cbase = tmp_path_factory.mktemp("life_c")
    ebase = tmp_path_factory.mktemp("life_e")
    cjob = CompressionPolicyJob(spark, cbase, FINE, CHUNK, HORIZON, n_groups=2)
    cjob.run(fine)
    # expiry consumes the compressed store THROUGH the decoding view
    decoded = cjob.read_fine().withColumn("tier", F.lit("1m"))
    ejob = RetentionExpiryJob(spark, ebase, FINE, 64, 2 * HORIZON, n_groups=2)
    ejob.run(decoded)
    coarse = cascade_tier(fine, FINE, 64, "1h")
    cols = ["doc_id", "source", "bucket", "cnt", "sum_v", "sumsq",
            "min_v", "max_v", "tier"]

    def rows(df):
        return sorted(tuple(r) for r in df.select(*cols).collect())

    served_lifecycle = retention_policy(
        ejob.result(), coarse, FINE, 64, 2 * HORIZON,
        watermark=ejob.watermarks())
    served_direct = retention_policy(fine, coarse, FINE, 64, 2 * HORIZON)
    assert rows(served_lifecycle) == rows(served_direct)


def test_fresh_runs_commit_identical_stores(spark, fine, tmp_path_factory):
    """Determinism: two fresh runs of each batch job on the same input
    commit identical stores and censuses."""
    from matrixprofiler_spark.streaming.expiry import RetentionExpiryJob

    b_a = tmp_path_factory.mktemp("cmp_det_a")
    b_b = tmp_path_factory.mktemp("cmp_det_b")
    j_a = CompressionPolicyJob(spark, b_a, FINE, CHUNK, HORIZON, n_groups=6)
    j_b = CompressionPolicyJob(spark, b_b, FINE, CHUNK, HORIZON, n_groups=6)
    assert sorted(j_a.run(fine)) == sorted(j_b.run(fine))
    assert _rows(j_a.read_fine()) == _rows(j_b.read_fine())
    ma, mb = j_a.metrics(), j_b.metrics()
    for k in ("rows_in", "rows_head", "rows_compressed", "n_segments",
              "blob_bytes"):
        assert ma[k] == mb[k], k
    # the same for expiry
    e_a = tmp_path_factory.mktemp("exp_det_a")
    e_b = tmp_path_factory.mktemp("exp_det_b")
    ja = RetentionExpiryJob(spark, e_a, FINE, 64, HORIZON, n_groups=6)
    jb = RetentionExpiryJob(spark, e_b, FINE, 64, HORIZON, n_groups=6)
    ja.run(fine)
    jb.run(fine)
    cols = ["doc_id", "source", "bucket", "cnt", "sum_v", "sumsq",
            "min_v", "max_v"]
    assert (sorted(map(tuple, ja.result().select(*cols).collect()))
            == sorted(map(tuple, jb.result().select(*cols).collect())))
    assert ja.metrics() == {**jb.metrics(),
                            "elapsed_sec": ja.metrics()["elapsed_sec"]}


def test_compress_random_configs_match_model(spark, tmp_path_factory):
    """Randomized compression policies: random fine size, chunk multiple,
    horizon and doc lengths, checked against a direct numpy model of the
    chunk-aligned rule — decode identity always holds, every row lands on
    the side (head vs segments) the model predicts, and the segment count
    equals the model's distinct (doc, chunk) census."""
    import numpy as np

    rng = np.random.Generator(np.random.Philox(key=23, counter=[0, 0, 0, 0]))
    for trial in range(4):
        fine_size = int(rng.choice([4, 8, 16]))
        chunk = fine_size * int(rng.choice([2, 4, 8]))
        horizon = int(rng.integers(0, 3 * chunk))
        docs = {f"t{trial}d{i}": int(rng.integers(1, 6 * chunk))
                for i in range(8)}
        tokens = spark.createDataFrame(
            [(d, [int(v) for v in np.arange(n, dtype=np.int64) % 97], n,
              "web") for d, n in docs.items()],
            "doc_id string, tokens array<int>, n_tok int, source string")
        fine_df = tier_rollup(tokens, {"1m": fine_size}).cache()
        fine_df.count()
        base = tmp_path_factory.mktemp(f"cmp_model_{trial}")
        job = CompressionPolicyJob(spark, base, fine_size, chunk, horizon,
                                   n_groups=2)
        job.run(fine_df)
        assert _rows(job.read_fine()) == _rows(fine_df)

        # numpy model of the chunk-aligned compress rule
        expect_cold, expect_segs = set(), set()
        for d, n in docs.items():
            wm = ((n + fine_size - 1) // fine_size) * fine_size
            cut = int(np.floor((wm - horizon) / chunk) * chunk)
            for b in range((n + fine_size - 1) // fine_size):
                if (b + 1) * fine_size <= cut:
                    expect_cold.add((d, b))
                    expect_segs.add((d, b * fine_size // chunk))
        from matrixprofiler_spark.streaming.compress import (
            _FINE_OUT_SCHEMA,
            _decode_segments,
        )

        got_cold = {(r["doc_id"], r["bucket"]) for r in job.segments()
                    .mapInPandas(_decode_segments, schema=_FINE_OUT_SCHEMA)
                    .select("doc_id", "bucket").collect()}
        assert got_cold == expect_cold, (trial, fine_size, chunk, horizon)
        assert job.metrics()["n_segments"] == len(expect_segs), trial
        fine_df.unpersist()


def test_binding_and_validation(spark, fine, tmp_path_factory):
    base = tmp_path_factory.mktemp("compress_b")
    with pytest.raises(ValueError, match="nest"):
        CompressionPolicyJob(spark, base, 16, 40, 0)
    with pytest.raises(ValueError, match="nonnegative"):
        CompressionPolicyJob(spark, base, 16, 64, -1)
    job = CompressionPolicyJob(spark, base, FINE, CHUNK, HORIZON, n_groups=2)
    with pytest.raises(ValueError, match="missing columns"):
        job.run(fine.drop("sumsq"))
    job.run(fine)
    # same base dir + different policy fails loudly
    job3 = CompressionPolicyJob(spark, base, FINE, CHUNK, HORIZON + FINE,
                                n_groups=2)
    with pytest.raises(ValueError, match="fresh base dir"):
        job3.run(fine)


def test_store_file_counts_bounded(spark, fine, tmp_path_factory):
    """The write layout must bound each store to ~one file per commit
    group (guide §6 small-files defeat): without the layout repartition
    every hive write fans shuffle-partitions x n_groups tiny files and
    each later scan pays a task + Python roundtrip per couple of
    files."""
    import glob

    base = tmp_path_factory.mktemp("compress_layout")
    job = CompressionPolicyJob(spark, base, FINE, CHUNK, HORIZON,
                               n_groups=4)
    job.run(fine)
    for store in ("head", "segments"):
        files = glob.glob(str(base / store / "grp=*" / "*.parquet"))
        # allow a small factor over the one-file-per-group target, never
        # the ~shuffle_partitions x n_groups blowup
        assert 0 < len(files) <= 3 * job.n_groups, (
            store, len(files))
    # each manifest records the bytes of its group's files per store
    m = job.metrics()
    for store in ("head", "segments"):
        on_disk = [sum(f.stat().st_size
                       for f in (base / store).glob(f"grp={k}/*.parquet"))
                   for k in range(job.n_groups)]
        assert [read_manifest(base, "compress", k)["bytes_written"][store]
                for k in range(job.n_groups)] == on_disk
        assert m["bytes_written"][store] == sum(on_disk) > 0
    # round-trip identity still holds on the compacted layout
    assert _rows(job.read_fine()) == _rows(fine)


def _plan_nodes(node):
    yield node
    children = node.children()
    for i in range(children.size()):
        yield from _plan_nodes(children.apply(i))


def test_range_read_is_one_wave_without_schema_jobs(spark, fine,
                                                    tmp_path_factory):
    """A range read runs as two Spark jobs (the count's map and result
    stages): the stores are read with the schema the job wrote (the one
    inference gives), so no schema-inference job runs, and the segment
    decode runs as at most one wave of Python tasks, however many splits
    the segment scan has. The small split size gives each of the 8
    segment files its own split, as a store of large files would."""
    base = tmp_path_factory.mktemp("compress_wave")
    job = CompressionPolicyJob(spark, base, FINE, CHUNK, HORIZON, n_groups=8)
    job.run(fine)
    # the declared read schemas are the ones inference would give
    for store, df in (("head", job.head()), ("segments", job.segments())):
        inferred = spark.read.parquet(str(base / store)).drop("grp")
        assert df.schema == inferred.schema, store
    sc = spark.sparkContext
    group = "test_range_read_is_one_wave"
    split_conf = "spark.sql.files.maxPartitionBytes"
    split_size = spark.conf.get(split_conf)
    spark.conf.set(split_conf, "1m")
    try:
        sc.setJobGroup(group, "read_fine range read")
        try:
            got = job.read_fine(bucket_min=2, bucket_max=5)
            n = got.count()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        decode = [nd for nd in _plan_nodes(
            got._jdf.queryExecution().executedPlan())
            if nd.nodeName() == "MapInPandas"]
        assert len(decode) == 1
        splits = decode[0].child().execute().getNumPartitions()
    finally:
        spark.conf.set(split_conf, split_size)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 2
    assert splits <= sc.defaultParallelism
    assert n == fine.where(F.col("bucket").between(2, 5)).count()


def _write_plans(spark, fn):
    """``fn()``, and the final physical plan of every file write it ran,
    each as a list of (node name, node description): the SQL status
    store keeps each execution's plan graph, the cached plan under an
    InMemoryTableScan included."""
    status = spark._jsparkSession.sharedState().statusStore()

    def ids():
        ex = status.executionsList()
        return {ex.apply(i).executionId() for i in range(ex.size())}

    before = ids()
    fn()
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    plans = []
    for eid in sorted(ids() - before):
        nodes = status.planGraph(eid).allNodes()
        plan = [(nodes.apply(i).name(), nodes.apply(i).desc())
                for i in range(nodes.size())]
        if any(name.startswith("Execute InsertInto") for name, _ in plan):
            plans.append(plan)
    return plans


def test_lifecycle_job_budget(spark, spark_jobs, fine, tmp_path_factory):
    """Job budgets of the lifecycle on a parquet-backed fine store: a
    fresh expiry runs at most 4 Spark jobs and a fresh compression at
    most 4 (one group layout per job, every store written from it); an
    unchanged re-run of either runs none (the metadata pin); building
    the expiry and rollup reads runs none (stored schemas). No write
    joins, and none shuffles outside the one group layout. The same
    files under a different projection fail the pin, fall back to the
    content fingerprint and are rejected against the committed work."""
    from matrixprofiler_spark.operators.rollup import cascade_tier
    from matrixprofiler_spark.streaming.checkpoint import RollupJob
    from matrixprofiler_spark.streaming.expiry import (
        RetentionExpiryJob,
        RetentionExpiryJobMulti,
    )

    src = tmp_path_factory.mktemp("budget_src") / "fine"
    fine.write.parquet(str(src))
    store = spark.read.parquet(str(src))
    base = tmp_path_factory.mktemp("budget")

    def expiry():
        return RetentionExpiryJob(spark, base / "expiry", FINE, 64, HORIZON,
                                  n_groups=8)

    def compress():
        return CompressionPolicyJob(spark, base / "compress", FINE, CHUNK,
                                    HORIZON, n_groups=8)

    counts = {}

    def fresh():
        for name, make in (("expiry", expiry), ("compress", compress)):
            done, counts[name] = spark_jobs(f"budget_{name}",
                                            lambda: make().run(store))
            assert len(done) == 8, name

    writes = _write_plans(spark, fresh)
    assert counts["expiry"] <= 4 and counts["compress"] <= 4, counts
    # watermarks, compacted, head and segments each ran a write over the
    # layout; backfill writes have no exchange at all
    assert sum(any(name == "Exchange" for name, _ in plan)
               for plan in writes) >= 4
    for plan in writes:
        assert not [name for name, _ in plan
                    if "Join" in name or name == "CartesianProduct"], plan
        exchanges = [desc for name, desc in plan if "Exchange" in name]
        assert len(exchanges) <= 1, exchanges
        assert all("hashpartitioning(grp" in desc
                   and "REPARTITION_BY_NUM" in desc
                   for desc in exchanges), exchanges
    # a new DataFrame over the same files (reading it infers a schema)
    again = spark.read.parquet(str(src))
    for name, make in (("expiry", expiry), ("compress", compress)):
        redone, n = spark_jobs(f"budget_rerun_{name}",
                               lambda: make().run(again))
        assert (redone, n) == ([], 0), (name, n)

    # the compacted, watermark and rollup stores read with their written
    # schemas
    ejob = expiry()
    rjob = RollupJob(spark, base / "rollup", n_groups=2, bucket_size=FINE)
    rjob.run(synth_tokens_df(spark, 6, seed=7))
    reads, n = spark_jobs("budget_reads",
                          lambda: (ejob.result(), ejob.watermarks(),
                                   rjob.result()))
    assert n == 0
    for root, df in zip(("expiry/compacted", "expiry/watermarks",
                         "rollup/stage=rollup_1m"), reads):
        inferred = spark.read.parquet(str(base / root))
        assert df.schema == inferred.drop("grp").schema, root
    multi = RetentionExpiryJobMulti(
        spark, base / "multi", [FINE, 2 * FINE, 4 * FINE], [FINE, 2 * FINE],
        n_groups=2)
    multi.run([store, cascade_tier(store, FINE, 2 * FINE, "2m")])
    inferred = spark.read.parquet(str(base / "multi" / "compacted"))
    assert multi.result().schema == inferred.drop("grp").schema

    changed = store.withColumn("sum_v", F.col("sum_v") + 1)
    for make, match in ((expiry, "binds to one input"),
                        (compress, "fresh base dir")):
        with pytest.raises(ValueError, match=match):
            spark_jobs("budget_projection", lambda: make().run(changed))
    assert len(spark.sparkContext.statusTracker()
               .getJobIdsForGroup("budget_projection")) > 0


def test_rollup_job_budget(spark, spark_jobs, tmp_path_factory):
    """Job budget of the rollup on a parquet-backed tokens table: a fresh
    run over 8 groups launches at most 4 Spark jobs (one kernel pass and
    one write, however many groups), an unchanged re-run over a new
    DataFrame of the same files launches none (the metadata pin), and
    the one write's plan joins nothing and shuffles only in the group
    layout."""
    from matrixprofiler_spark.streaming.checkpoint import RollupJob

    src = tmp_path_factory.mktemp("rollup_budget_src") / "tokens"
    synth_tokens_df(spark, 40, seed=11).write.parquet(str(src))
    base = tmp_path_factory.mktemp("rollup_budget")

    def run(name):
        # a new DataFrame over the same files (reading it infers a schema)
        tokens = spark.read.parquet(str(src))
        job = RollupJob(spark, base, n_groups=8, bucket_size=FINE)
        return spark_jobs(name, lambda: job.run(tokens))

    counts = {}

    def fresh():
        done, counts["fresh"] = run("rollup_budget_fresh")
        assert len(done) == 8

    writes = _write_plans(spark, fresh)
    assert counts["fresh"] <= 4, counts
    shuffled = [plan for plan in writes
                if any(name == "Exchange" for name, _ in plan)]
    assert len(shuffled) == 1, writes
    for plan in writes:
        assert not [name for name, _ in plan
                    if "Join" in name or name == "CartesianProduct"], plan
    exchanges = [desc for name, desc in shuffled[0] if "Exchange" in name]
    assert len(exchanges) == 1, exchanges
    assert ("hashpartitioning(grp" in exchanges[0]
            and "REPARTITION_BY_NUM" in exchanges[0]), exchanges
    assert run("rollup_budget_rerun") == ([], 0)


def _footer_schemas(root):
    """The distinct Spark row schemas in the file footers of the group
    store under ``root``."""
    return {pq.read_schema(f).metadata[
                b"org.apache.spark.sql.parquet.row.metadata"]
            for f in root.glob("grp=*/*.parquet")}


def test_empty_and_partly_empty_inputs_commit(spark, fine, tmp_path_factory):
    """An empty parquet input and one whose docs fill only some groups
    both compress: every group of both stores holds a readable file, the
    censuses read zero where no rows are, the empty input's fingerprint
    is n = 0, h = 0, and a re-run is a no-op. Expiry commits both inputs
    too, its census adding up. Where a fresh run leaves groups empty,
    every store of the three lifecycle jobs holds one footer schema: the
    empty groups' files carry the written rows' own."""
    import json

    from matrixprofiler_spark.streaming.checkpoint import RollupJob
    from matrixprofiler_spark.streaming.expiry import RetentionExpiryJob

    src = tmp_path_factory.mktemp("compress_empty_src")
    fine.limit(0).write.parquet(str(src / "empty"))
    docs = [r["doc_id"] for r in
            fine.select("doc_id").distinct().orderBy("doc_id").limit(2)
            .collect()]
    fine.where(F.col("doc_id").isin(docs)).write.parquet(str(src / "part"))

    for name in ("empty", "part"):
        inp = spark.read.parquet(str(src / name))
        base = tmp_path_factory.mktemp(f"compress_{name}")
        job = CompressionPolicyJob(spark, base, FINE, CHUNK, HORIZON,
                                   n_groups=8)
        assert len(job.run(inp)) == 8
        for store in ("head", "segments"):
            assert len(list((base / store).glob("grp=*/*.parquet"))) >= 8
        assert _rows(job.read_fine()) == _rows(inp)
        m = job.metrics()
        assert m["groups_committed"] == 8
        assert m["rows_in"] == inp.count()
        assert m["rows_in"] == m["rows_head"] + m["rows_compressed"]
        empty_groups = [k for k in range(8)
                        if read_manifest(base, "compress", k)["rows_in"] == 0]
        assert len(empty_groups) >= (8 if name == "empty" else 6)
        bound = json.loads((base / "input_fingerprint.json").read_text())
        if name == "empty":
            assert (bound["n"], bound["h"]) == (0, 0)
            assert m["n_segments"] == 0 and m["compression_ratio"] is None
        else:
            assert bound["n"] == inp.count() and m["rows_compressed"] > 0
        assert CompressionPolicyJob(spark, base, FINE, CHUNK, HORIZON,
                                    n_groups=8).run(inp) == []
        expiry = RetentionExpiryJob(spark, base / "expiry", FINE, 64,
                                    HORIZON, n_groups=8)
        assert len(expiry.run(inp)) == 8
        em = expiry.metrics()
        assert em["rows_before"] == inp.count()
        assert expiry.result().count() == em["rows_after"] == (
            em["rows_before"] - em["rows_dropped"])
        stores = ["head", "segments", "expiry/watermarks", "expiry/compacted"]
        if name == "part":
            RollupJob(spark, base / "rollup", n_groups=8,
                      bucket_size=FINE).run(synth_tokens_df(spark, 2, seed=7))
            stores.append("rollup/stage=rollup_1m")
        for store in stores:
            assert len(list((base / store).glob("grp=*"))) == 8, store
            assert len(_footer_schemas(base / store)) == 1, store
