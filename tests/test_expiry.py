"""Physical retention expiry (streaming/expiry.py — the drop_chunks
analog): kill-and-resume, idempotence, input binding, and the core
invariant that the serving view over the COMPACTED store + stored
watermark is row-identical to the view over the full store."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from matrixprofiler_spark.operators.rollup import (
    cascade_tier,
    retention_policy,
    tier_rollup,
)
from matrixprofiler_spark.sources.tokens import synth_tokens_df
from matrixprofiler_spark.streaming.commit import fingerprint, read_manifest
from matrixprofiler_spark.streaming.expiry import RetentionExpiryJob

FINE, COARSE, HORIZON = 16, 64, 32


@pytest.fixture(scope="module")
def fine(spark):
    toks = synth_tokens_df(spark, 40, seed=7)
    df = tier_rollup(toks, {"1m": FINE}).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def coarse(fine):
    return cascade_tier(fine, FINE, COARSE, "1h")


def _rows(df):
    cols = ["doc_id", "source", "tier", "bucket", "cnt", "sum_v", "sumsq",
            "min_v", "max_v"]
    return sorted(tuple(r) for r in df.select(*cols).collect())


def _expected_kept(fine_df):
    wm = fine_df.groupBy("doc_id", "source").agg(
        ((F.max("bucket") + 1) * FINE).alias("wm"))
    cut = (F.floor((F.col("wm") - HORIZON) / COARSE) * COARSE).cast("long")
    return (fine_df.join(wm, ["doc_id", "source"])
            .where((F.col("bucket") + 1) * FINE > cut).drop("wm"))


def test_kill_resume_and_identity(spark, fine, coarse, tmp_path_factory):
    base = tmp_path_factory.mktemp("expiry")
    job = RetentionExpiryJob(spark, base, FINE, COARSE, HORIZON, n_groups=6)

    with pytest.raises(RuntimeError, match="injected failure"):
        job.run(fine, fail_after=3)
    assert len(job.completed_groups()) == 3
    assert not (base / "_stage_expiry_COMMITTED").exists()
    # incomplete store refuses to serve
    with pytest.raises(RuntimeError, match="expiry incomplete"):
        job.result()

    job2 = RetentionExpiryJob(spark, base, FINE, COARSE, HORIZON, n_groups=6)
    processed = job2.run(fine)
    assert len(processed) == 3 and len(job2.completed_groups()) == 6
    assert (base / "_stage_expiry_COMMITTED").exists()
    # idempotent re-run is a no-op
    assert job2.run(fine) == []

    # compacted store == the policy predicate applied to the full store
    assert _rows(job2.result()) == _rows(_expected_kept(fine))

    # rows were actually dropped (policy active at this corpus)
    m = job2.metrics()
    assert m["rows_dropped"] > 0
    assert m["rows_before"] == m["rows_dropped"] + m["rows_after"]
    assert m["rows_before"] == fine.count()

    # THE invariant: serving view over compacted store + stored watermark
    # is row-identical to the view over the full store
    view_full = retention_policy(fine, coarse, FINE, COARSE, HORIZON)
    view_compacted = job2.serving_view(coarse)
    assert _rows(view_compacted) == _rows(view_full)

    # per-group manifests carry consistent lineage
    for k in range(6):
        man = read_manifest(base, "expiry", k)
        assert man["rows_before"] == man["rows_dropped"] + man["rows_after"]
        assert man["policy"] == {
            "fine_size": FINE, "coarse_size": COARSE, "horizon": HORIZON}
        assert man["input_fingerprint"]["n"] == fine.count()
        # bytes of the group's files, stat'ed when its run committed it
        # (the resumed run rewrote only its own groups)
        for store in ("compacted", "watermarks"):
            assert man["bytes_written"][store] == sum(
                f.stat().st_size
                for f in (base / store).glob(f"grp={k}/*.parquet"))
    assert m["bytes_written"] == {
        store: sum(f.stat().st_size
                   for f in (base / store).glob("grp=*/*.parquet"))
        for store in ("watermarks", "compacted")}


def test_full_expiry_edge_doc(spark, tmp_path_factory):
    """horizon=0 with a watermark on a coarse boundary expires EVERY fine
    bucket of a doc — the doc vanishes from the compacted store, and only
    the STORED watermark keeps the serving view identical."""
    rows = [
        # doc a: 128 tokens => wm=128, a multiple of COARSE => cut=128 =>
        # all fine buckets (ends 16..128) expire under horizon=0
        ("a", "s", "1m", b, 16, 16 * 5, 16 * 25, 5, 5) for b in range(8)
    ] + [
        # doc b: 72 tokens in buckets 0..4 => wm=(4+1)*16=80,
        # cut=floor(80/64)*64=64 => buckets ending <=64 (0..3) expire,
        # the partial last bucket (end 80) survives
        ("b", "s", "1m", b, 16 if b < 4 else 8, 16, 16, 1, 1)
        for b in range(5)
    ]
    fine = spark.createDataFrame(
        rows, "doc_id string, source string, tier string, bucket long,"
              " cnt long, sum_v long, sumsq long, min_v int, max_v int")
    coarse = cascade_tier(fine, FINE, COARSE, "1h")
    base = tmp_path_factory.mktemp("expiry_edge")
    job = RetentionExpiryJob(spark, base, FINE, COARSE, horizon=0, n_groups=2)
    job.run(fine)

    compacted = job.result()
    assert compacted.filter(F.col("doc_id") == "a").count() == 0
    assert compacted.filter(F.col("doc_id") == "b").count() == 1  # bucket 4

    # stored watermark still covers doc a => serving views identical
    view_full = retention_policy(fine, coarse, FINE, COARSE, 0)
    view_comp = job.serving_view(coarse)
    assert _rows(view_comp) == _rows(view_full)
    # and doc a is genuinely served (coarse tier only)
    assert view_comp.filter(F.col("doc_id") == "a").count() > 0

    # WITHOUT the stored watermark the recomputed-wm view over the
    # compacted store would fail loudly (doc a in coarse, no fine rows)
    with pytest.raises(Exception, match="no watermark row"):
        retention_policy(compacted, coarse, FINE, COARSE, 0).collect()


def test_base_dir_binds_input_and_policy(spark, fine, tmp_path_factory):
    base = tmp_path_factory.mktemp("expiry_bind")
    job = RetentionExpiryJob(spark, base, FINE, COARSE, HORIZON, n_groups=2)
    job.run(fine)

    # changed input against committed work -> loud error
    other = fine.withColumn("sum_v", F.col("sum_v") + 1)
    job_b = RetentionExpiryJob(spark, base, FINE, COARSE, HORIZON, n_groups=2)
    with pytest.raises(ValueError, match="binds to one input"):
        job_b.run(other)

    # changed POLICY against the same bound input -> also loud
    job_c = RetentionExpiryJob(spark, base, FINE, COARSE, HORIZON + 32,
                               n_groups=2)
    with pytest.raises(ValueError, match="binds to one input"):
        job_c.run(fine)

    # changed GROUPING: resuming with fewer groups would silently orphan
    # the higher groups from the compacted store -> also loud
    job_d = RetentionExpiryJob(spark, base, FINE, COARSE, HORIZON,
                               n_groups=1)
    with pytest.raises(ValueError, match="binds to one input"):
        job_d.run(fine)


def test_torn_staging_resumes(spark, fine, tmp_path_factory):
    """A fingerprint left with no committed group (a binding whose run
    died before its first manifest, or one of another input) must
    REBIND on the next run, not brick the base dir."""
    base = tmp_path_factory.mktemp("expiry_torn")
    job = RetentionExpiryJob(spark, base, FINE, COARSE, HORIZON, n_groups=2)
    fp_path = base / "input_fingerprint.json"
    fp_path.write_text(json.dumps(fingerprint(fine)))  # no policy: stale
    assert not job.completed_groups()
    job.run(fine)  # rebinds and completes
    assert len(job.completed_groups()) == 2
    assert _rows(job.result()) == _rows(_expected_kept(fine))
    bound = json.loads(fp_path.read_text())
    assert bound["policy"] == {
        "fine_size": FINE, "coarse_size": COARSE, "horizon": HORIZON}
    assert (bound["n"], bound["h"]) == tuple(
        fingerprint(fine)[k] for k in ("n", "h"))


def test_param_validation(spark, fine, tmp_path_factory):
    base = tmp_path_factory.mktemp("expiry_val")
    with pytest.raises(ValueError, match="must nest"):
        RetentionExpiryJob(spark, base, 16, 40, 32)
    with pytest.raises(ValueError, match="nonnegative"):
        RetentionExpiryJob(spark, base, 16, 64, -1)


# ---------------------------------------------------------------- multi-tier


def _expected_kept_tier(tier_df, size, align_size, horizon, wm_df):
    cut = (F.floor((F.col("wm") - horizon) / align_size) * align_size
           ).cast("long")
    return (tier_df.join(wm_df, ["doc_id", "source"])
            .where((F.col("bucket") + 1) * size > cut).drop("wm"))


def test_multi_kill_resume_and_identity(spark, fine, tmp_path_factory):
    """3-tier cascade (16/32/64, horizons 16/32 — the retention_tiers_3
    policy): kill-and-resume, per-tier compaction == the serving
    predicate's complement, and the N-tier serving view over the
    compacted tiers + stored watermark is row-identical to the view
    over the full stores."""
    from matrixprofiler_spark.operators.rollup import retention_policy_multi
    from matrixprofiler_spark.streaming.expiry import RetentionExpiryJobMulti

    m2 = cascade_tier(fine, FINE, 2 * FINE, "2m").cache()
    m4 = cascade_tier(fine, FINE, 4 * FINE, "4m").cache()
    sizes, horizons = [FINE, 2 * FINE, 4 * FINE], [FINE, 2 * FINE]
    base = tmp_path_factory.mktemp("expiry_multi")
    job = RetentionExpiryJobMulti(spark, base, sizes, horizons, n_groups=4)

    with pytest.raises(RuntimeError, match="injected failure"):
        job.run([fine, m2], fail_after=2)
    assert len(job.completed_groups()) == 2
    with pytest.raises(RuntimeError, match="expiry incomplete"):
        job.result()

    job2 = RetentionExpiryJobMulti(spark, base, sizes, horizons, n_groups=4)
    assert len(job2.run([fine, m2])) == 2
    assert (base / "_stage_expiry_COMMITTED").exists()
    assert job2.run([fine, m2]) == []  # idempotent

    # per-tier compaction matches the predicate applied to the full store
    wm = fine.groupBy("doc_id", "source").agg(
        ((F.max("bucket") + 1) * FINE).alias("wm"))
    assert _rows(job2.result_tier(0)) == _rows(
        _expected_kept_tier(fine, FINE, 2 * FINE, FINE, wm))
    assert _rows(job2.result_tier(1)) == _rows(
        _expected_kept_tier(m2, 2 * FINE, 4 * FINE, 2 * FINE, wm))

    # both tiers actually dropped rows at this corpus, and censuses add up
    m = job2.metrics()
    assert all(t["rows_dropped"] > 0 for t in m["tiers"])
    assert m["rows_before"] == m["rows_dropped"] + m["rows_after"]
    assert m["rows_before"] == fine.count() + m2.count()

    # THE invariant, N-tier form
    view_full = retention_policy_multi(
        [(fine, FINE), (m2, 2 * FINE), (m4, 4 * FINE)], horizons)
    assert _rows(job2.serving_view(m4)) == _rows(view_full)


def test_multi_two_tier_special_case_matches_single(
        spark, fine, tmp_path_factory):
    """RetentionExpiryJobMulti([fine,coarse], [h]) must compact the fine
    tier bit-identically to the dedicated 2-tier RetentionExpiryJob."""
    from matrixprofiler_spark.streaming.expiry import RetentionExpiryJobMulti

    b1 = tmp_path_factory.mktemp("expiry_single")
    b2 = tmp_path_factory.mktemp("expiry_as_multi")
    single = RetentionExpiryJob(spark, b1, FINE, COARSE, HORIZON, n_groups=3)
    single.run(fine)
    multi = RetentionExpiryJobMulti(
        spark, b2, [FINE, COARSE], [HORIZON], n_groups=3)
    multi.run([fine])
    assert _rows(multi.result_tier(0)) == _rows(single.result())
    sm, mm = single.metrics(), multi.metrics()
    assert (sm["rows_before"], sm["rows_dropped"], sm["rows_after"]) == \
           (mm["rows_before"], mm["rows_dropped"], mm["rows_after"])


def test_multi_full_expiry_edge(spark, tmp_path_factory):
    """horizon=0 everywhere with wm on the coarsest boundary expires a
    doc from EVERY compacted tier; only the stored watermark keeps the
    N-tier serving view identical (doc served by the coarsest alone)."""
    from matrixprofiler_spark.operators.rollup import retention_policy_multi
    from matrixprofiler_spark.streaming.expiry import RetentionExpiryJobMulti

    rows = [("a", "s", "1m", b, 16, 80, 400, 5, 5) for b in range(8)]
    fine = spark.createDataFrame(
        rows, "doc_id string, source string, tier string, bucket long,"
              " cnt long, sum_v long, sumsq long, min_v int, max_v int")
    m2 = cascade_tier(fine, FINE, 2 * FINE, "2m")
    m4 = cascade_tier(fine, FINE, 4 * FINE, "4m")
    base = tmp_path_factory.mktemp("expiry_multi_edge")
    job = RetentionExpiryJobMulti(
        spark, base, [FINE, 2 * FINE, 4 * FINE], [0, 0], n_groups=2)
    job.run([fine, m2])
    assert job.result().count() == 0  # both compacted tiers emptied
    view = job.serving_view(m4)
    full = retention_policy_multi(
        [(fine, FINE), (m2, 2 * FINE), (m4, 4 * FINE)], [0, 0])
    assert _rows(view) == _rows(full)
    assert view.filter(F.col("tier") == "4m").count() == 2  # coarse serves


def test_multi_orphan_coarser_rows_dropped(spark, fine, tmp_path_factory):
    """Coarser-tier rows of a doc absent from the finest tier break the
    cascade-derivation contract: that doc has no finest-tier watermark
    (its window watermark is null), so its rows are absent from
    ``compacted/`` and ``watermarks/`` and from every census."""
    from matrixprofiler_spark.streaming.expiry import RetentionExpiryJobMulti

    m2 = cascade_tier(fine, FINE, 2 * FINE, "2m")
    orphan = (m2.where(F.col("doc_id") == m2.first()["doc_id"])
              .withColumn("doc_id", F.lit("orphan")))
    assert orphan.count() > 0
    base = tmp_path_factory.mktemp("expiry_multi_orphan")
    job = RetentionExpiryJobMulti(
        spark, base, [FINE, 2 * FINE, 4 * FINE], [FINE, 2 * FINE],
        n_groups=2)
    job.run([fine, m2.unionByName(orphan)])
    for root in ("compacted", "watermarks"):
        stored = spark.read.parquet(str(base / root))
        assert stored.where(F.col("doc_id") == "orphan").count() == 0, root
    assert job.watermarks().count() == fine.select("doc_id").distinct().count()
    m = job.metrics()
    assert [t["rows_before"] for t in m["tiers"]] == [fine.count(), m2.count()]
    assert m["rows_before"] == fine.count() + m2.count()
    assert m["rows_after"] == job.result().count()
    assert m["rows_before"] == m["rows_dropped"] + m["rows_after"]


def test_multi_binding_and_validation(spark, fine, tmp_path_factory):
    from matrixprofiler_spark.streaming.expiry import RetentionExpiryJobMulti

    m2 = cascade_tier(fine, FINE, 2 * FINE, "2m")
    base = tmp_path_factory.mktemp("expiry_multi_bind")
    job = RetentionExpiryJobMulti(
        spark, base, [FINE, 2 * FINE, 4 * FINE], [FINE, 2 * FINE],
        n_groups=2)
    job.run([fine, m2])
    # swapped same-shape tier list aliases nothing — positional fingerprint
    job_b = RetentionExpiryJobMulti(
        spark, base, [FINE, 2 * FINE, 4 * FINE], [FINE, 2 * FINE],
        n_groups=2)
    with pytest.raises(ValueError, match="binds to one input"):
        job_b.run([m2, fine])
    # changed horizons -> loud
    job_c = RetentionExpiryJobMulti(
        spark, base, [FINE, 2 * FINE, 4 * FINE], [FINE, 4 * FINE],
        n_groups=2)
    with pytest.raises(ValueError, match="binds to one input"):
        job_c.run([fine, m2])

    with pytest.raises(ValueError, match="must nest"):
        RetentionExpiryJobMulti(spark, base, [16, 40, 80], [0, 0])
    with pytest.raises(ValueError, match="nondecreasing"):
        RetentionExpiryJobMulti(spark, base, [16, 32, 64], [32, 16])
    with pytest.raises(ValueError, match="exactly len"):
        RetentionExpiryJobMulti(spark, base, [16, 32], [0, 0])
    with pytest.raises(ValueError, match="non-coarsest tier stores"):
        RetentionExpiryJobMulti(
            spark, tmp_path_factory.mktemp("expiry_multi_bad"),
            [16, 32, 64], [0, 0], n_groups=2).run([fine])
    with pytest.raises(ValueError, match="never compacted"):
        job.result_tier(2)


# ------------------------------------------------------------ empty inputs


def test_empty_and_partly_empty_inputs_commit(spark, spark_jobs, fine,
                                              tmp_path_factory):
    """An empty parquet input and one whose docs fill only some groups
    both commit: every group of both stores holds a readable file, the
    censuses read zero where no rows are, the empty input's fingerprint
    is n = 0, h = 0, its run launches a fixed 8 Spark jobs, and a re-run
    is a no-op."""
    src = tmp_path_factory.mktemp("expiry_empty_src")
    fine.limit(0).write.parquet(str(src / "empty"))
    docs = [r["doc_id"] for r in
            fine.select("doc_id").distinct().orderBy("doc_id").limit(2)
            .collect()]
    fine.where(F.col("doc_id").isin(docs)).write.parquet(str(src / "part"))

    for name in ("empty", "part"):
        inp = spark.read.parquet(str(src / name))
        base = tmp_path_factory.mktemp(f"expiry_{name}")
        job = RetentionExpiryJob(spark, base, FINE, COARSE, HORIZON,
                                 n_groups=8)
        committed, jobs = spark_jobs(f"expiry_{name}", lambda: job.run(inp))
        assert len(committed) == 8
        if name == "empty":
            # both writes run although no group has a row (a watermark
            # row exists only where a finest-tier row does), and each
            # store is then backfilled: 8 jobs
            assert jobs == 8
        for store in ("watermarks", "compacted"):
            assert len(list((base / store).glob("grp=*/*.parquet"))) >= 8
        assert _rows(job.result()) == _rows(_expected_kept(inp))
        assert job.watermarks().count() == (
            len(docs) if name == "part" else 0)
        m = job.metrics()
        assert m["groups_committed"] == 8
        assert m["rows_before"] == inp.count()
        assert m["rows_before"] == m["rows_dropped"] + m["rows_after"]
        empty_groups = [k for k in range(8)
                        if read_manifest(base, "expiry", k)["rows_before"] == 0]
        assert len(empty_groups) >= (8 if name == "empty" else 6)
        bound = json.loads((base / "input_fingerprint.json").read_text())
        if name == "empty":
            assert (bound["n"], bound["h"]) == (0, 0)
        else:
            assert bound["n"] == inp.count()
        assert RetentionExpiryJob(spark, base, FINE, COARSE, HORIZON,
                                  n_groups=8).run(inp) == []
