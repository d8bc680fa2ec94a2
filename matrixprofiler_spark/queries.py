"""Query registry: every operator exposed as (spark, sf_dir) -> DataFrame,
with a DuckDB-runnable ANSI-SQL oracle where SQL can express the semantics.

Exactness design (why these hashes match bit-for-bit, no rounding):
* token values are small ints; sliding sums / sumsq / dot products are
  exact int64 in the kernels AND exact in SQL (integer-valued doubles below
  2^53 sum exactly in any order);
* w = 8 (power of two) makes mean = sum/8 an exact double division;
* every derived double (std, sig, distances, cosine) is written as the
  SAME IEEE-754 expression tree on both sides — identical ops on identical
  inputs give identical bits;
* ties are always broken by an explicit secondary sort key.

The word->token map (length(w)*1000 + ascii(first char)) is the
DuckDB-replicable tokenizer of sources/tokens.py.

Operators that SQL cannot express (FFT MASS, STOMP recurrence, MPX
diagonals, SCRIMP, contrast, simhash) are exposed as rows-only queries
running the real golden-tested kernels.
"""

from __future__ import annotations

import shutil
import tempfile

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .functions.text import fingerprint, lang_guess, text_stats, token_counts
from .operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from .operators.rollup import cascade_tier, gap_fill, tier_rollup
from .operators.similarity import cosine_pairs_above, cosine_topk
from .operators.windows import (
    mass_profile_exact,
    matrix_profile_exact,
    sliding_stats,
    zero_crossings,
)
from .sources.tokens import tokens_from_documents

W = 8  # power of two -> exact mean division
ZC_W = 16
BUCKET = 16
BUCKET_COARSE = 64

# ---------------------------------------------------------------- SQL CTEs

TOK_CTE = """
tok AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, source,
         [length(w) * 1000 + ascii(substr(w, 1, 1)) FOR w IN string_split(text, ' ')] AS tokens
  FROM documents
),
pos AS (
  SELECT doc_id, source,
         UNNEST(tokens) AS tok,
         generate_subscripts(tokens, 1) AS pos,
         len(tokens) AS n_tok
  FROM tok
)
"""

WIN_CTE = f"""
win AS (
  SELECT doc_id, CAST(pos - {W} AS INT) AS off,
         CAST(SUM(tok) OVER w AS BIGINT) AS s,
         CAST(SUM(tok * tok) OVER w AS BIGINT) AS s2,
         CAST(MIN(tok) OVER w AS INT) AS mn,
         CAST(MAX(tok) OVER w AS INT) AS mx
  FROM pos
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN {W - 1} PRECEDING AND CURRENT ROW)
  QUALIFY pos >= {W}
)
"""


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _tok(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tokens_from_documents(spark, sf_dir)


# Per-face cache registry: a face that persists an intermediate calls
# _face_cache(df); the NEXT face to call it first unpersists everything the
# previous face left behind. The certification driver materializes each
# face's result before invoking the next, so by then the old cache is dead
# weight — without this, ~50 faces in one session accumulate executor
# memory until LRU eviction kicks in (ADVICE r5).
_LIVE_FACE_CACHES: list[DataFrame] = []


def _face_caches_clear() -> None:
    while _LIVE_FACE_CACHES:
        _LIVE_FACE_CACHES.pop().unpersist()


def _face_cache(df: DataFrame) -> DataFrame:
    df = df.persist()
    _LIVE_FACE_CACHES.append(df)
    return df


def _kill_and_resume(make_job, inputs):
    """The durable faces' resume witness, so the driver gate itself
    certifies resumability: on a base dir with nothing committed, a first
    run (``make_job().run(inputs)``) is killed after 2 groups by the
    injected failure, and a new job must find exactly those 2 committed
    before it runs to completion; a base dir with committed groups is
    only resumed (a no-op when complete; the input binding still rejects
    a different input). Returns the job that completed the run."""
    job = make_job()
    if not job.completed_groups():
        try:
            job.run(inputs, fail_after=2)
            raise AssertionError("injected failure did not fire")
        except RuntimeError as e:
            if "injected failure" not in str(e):
                raise  # a REAL failure must surface, not masquerade
        job = make_job()
        if len(job.completed_groups()) != 2:
            raise AssertionError("expected exactly 2 committed groups")
    job.run(inputs)
    return job


def _in_base_dir(spark, prefix, face, sink_dir=None):
    """``face(base, durable)`` run in a base dir. With ``sink_dir`` (the
    100-TB path: a durable table location) ``durable`` is true and the
    result is returned lazily, no collect, dirs retained. Without, the
    base is a temp dir named ``prefix...``: the bounded result is
    materialized — the rows the driver would collect anyway — before the
    dir is removed."""
    if sink_dir is not None:
        return face(sink_dir, True)
    base = tempfile.mkdtemp(prefix=prefix)
    try:
        out = face(base, False)
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(base, ignore_errors=True)


# ---------------------------------------------------------------- queries

def q_rollup_1m(spark, sf_dir):
    r = tier_rollup(_tok(spark, sf_dir), {"1m": BUCKET})
    return r.select("doc_id", "bucket", "cnt", "sum_v", "sumsq", "min_v", "max_v")


SQL_ROLLUP_1M = f"""
WITH {TOK_CTE}
SELECT doc_id, CAST((pos - 1) // {BUCKET} AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS cnt,
       CAST(SUM(tok) AS BIGINT) AS sum_v,
       CAST(SUM(tok * tok) AS BIGINT) AS sumsq,
       CAST(MIN(tok) AS INT) AS min_v,
       CAST(MAX(tok) AS INT) AS max_v
FROM pos GROUP BY 1, 2
"""


def q_rollup_cascade(spark, sf_dir):
    m1 = tier_rollup(_tok(spark, sf_dir), {"1m": BUCKET})
    h1 = cascade_tier(m1, BUCKET, BUCKET_COARSE, "1h")
    return h1.select("doc_id", "bucket", "cnt", "sum_v", "sumsq", "min_v", "max_v")


SQL_ROLLUP_CASCADE = SQL_ROLLUP_1M.replace(f"// {BUCKET} ", f"// {BUCKET_COARSE} ")

RET_HORIZON = 32  # token positions; both tiers provably active for docs >= 81 tok


def q_retention_policy(spark, sf_dir):
    """North-rule "retention" stage: tiered serving view — offsets newer
    than the horizon served at the fine tier, older only at the coarse
    tier, cutoff aligned to a coarse boundary (exact partition of the
    offset axis; TimescaleDB drop_chunks + real-time aggregate analog)."""
    from .operators.rollup import retention_policy

    # persist: wm + fine-served + cascade branches all read m1; without
    # the cache the raw-token Arrow kernel would run once per branch
    _face_caches_clear()
    m1 = _face_cache(tier_rollup(_tok(spark, sf_dir), {"1m": BUCKET}))
    h1 = cascade_tier(m1, BUCKET, BUCKET_COARSE, "1h")
    served = retention_policy(m1, h1, BUCKET, BUCKET_COARSE, RET_HORIZON)
    return served.select(
        "doc_id", "tier", "bucket", "cnt", "sum_v", "sumsq", "min_v", "max_v"
    )


SQL_RETENTION_POLICY = f"""
WITH {TOK_CTE},
f AS (
  SELECT doc_id, (pos - 1) // {BUCKET} AS bucket,
         CAST(COUNT(*) AS BIGINT) AS cnt, CAST(SUM(tok) AS BIGINT) AS sum_v,
         CAST(SUM(tok * tok) AS BIGINT) AS sumsq,
         CAST(MIN(tok) AS INT) AS min_v, CAST(MAX(tok) AS INT) AS max_v
  FROM pos GROUP BY 1, 2
),
c AS (
  SELECT doc_id, (pos - 1) // {BUCKET_COARSE} AS bucket,
         CAST(COUNT(*) AS BIGINT) AS cnt, CAST(SUM(tok) AS BIGINT) AS sum_v,
         CAST(SUM(tok * tok) AS BIGINT) AS sumsq,
         CAST(MIN(tok) AS INT) AS min_v, CAST(MAX(tok) AS INT) AS max_v
  FROM pos GROUP BY 1, 2
),
wm AS (SELECT doc_id, (MAX(bucket) + 1) * {BUCKET} AS wm FROM f GROUP BY 1),
cut AS (
  SELECT doc_id,
         CAST(FLOOR((wm - {RET_HORIZON}) / {BUCKET_COARSE}.0)
              * {BUCKET_COARSE} AS BIGINT) AS cutoff
  FROM wm
)
SELECT f.doc_id, '1m' AS tier, CAST(f.bucket AS BIGINT) AS bucket,
       cnt, sum_v, sumsq, min_v, max_v
FROM f JOIN cut ON f.doc_id = cut.doc_id
WHERE (f.bucket + 1) * {BUCKET} > cutoff
UNION ALL
SELECT c.doc_id, '1h' AS tier, CAST(c.bucket AS BIGINT) AS bucket,
       cnt, sum_v, sumsq, min_v, max_v
FROM c JOIN cut ON c.doc_id = cut.doc_id
WHERE (c.bucket + 1) * {BUCKET_COARSE} <= cutoff
"""


def q_retention_expiry(spark, sf_dir):
    """PHYSICAL retention expiry (TimescaleDB drop_chunks analog,
    streaming/expiry.py): a snapshot-committed compaction job REWRITES the
    stored fine tier, dropping every bucket at or below the per-doc
    cutoff (same aligned-cutoff math as the retention_policy serving
    view). The face runs the job through an injected mid-run kill and a
    resume (:func:`_kill_and_resume`), so the driver's value hash
    certifies the committed store that a RESUMED run serves — and
    ``n_dropped`` embeds the expired-row census (capfire pattern,
    recomputed independently by the oracle), so the hash also proves rows
    were physically dropped, not just planned to be."""
    from .streaming.expiry import RetentionExpiryJob

    def face(base, _durable):
        # persist: the job reads its input live — the watermark pass,
        # the compaction pass and the resume run's re-fingerprint all
        # read the rollup; without the cache the raw-token Arrow kernel
        # would run once per pass
        _face_caches_clear()
        fine = _face_cache(tier_rollup(_tok(spark, sf_dir), {"1m": BUCKET}))
        job = _kill_and_resume(lambda: RetentionExpiryJob(
            spark, base, BUCKET, BUCKET_COARSE, RET_HORIZON, n_groups=4),
            fine)
        n_dropped = job.metrics()["rows_dropped"]
        return job.result().select(
            "doc_id", "bucket", "cnt", "sum_v", "sumsq", "min_v", "max_v",
            F.lit(int(n_dropped)).cast("long").alias("n_dropped"),
        )

    return _in_base_dir(spark, "retention_expiry_", face)


SQL_RETENTION_EXPIRY = f"""
WITH {TOK_CTE},
f AS (
  SELECT doc_id, (pos - 1) // {BUCKET} AS bucket,
         CAST(COUNT(*) AS BIGINT) AS cnt, CAST(SUM(tok) AS BIGINT) AS sum_v,
         CAST(SUM(tok * tok) AS BIGINT) AS sumsq,
         CAST(MIN(tok) AS INT) AS min_v, CAST(MAX(tok) AS INT) AS max_v
  FROM pos GROUP BY 1, 2
),
wm AS (SELECT doc_id, (MAX(bucket) + 1) * {BUCKET} AS wm FROM f GROUP BY 1),
cut AS (
  SELECT doc_id,
         CAST(FLOOR((wm - {RET_HORIZON}) / {BUCKET_COARSE}.0)
              * {BUCKET_COARSE} AS BIGINT) AS cutoff
  FROM wm
),
kept AS (
  SELECT f.doc_id, CAST(f.bucket AS BIGINT) AS bucket,
         cnt, sum_v, sumsq, min_v, max_v
  FROM f JOIN cut ON f.doc_id = cut.doc_id
  WHERE (f.bucket + 1) * {BUCKET} > cutoff
)
SELECT doc_id, bucket, cnt, sum_v, sumsq, min_v, max_v,
       CAST((SELECT COUNT(*) FROM f) - (SELECT COUNT(*) FROM kept)
            AS BIGINT) AS n_dropped
FROM kept
"""


def q_retention_expiry_tiers(spark, sf_dir):
    """N-tier physical expiry (streaming/expiry.py
    RetentionExpiryJobMulti): the full drop_chunks-per-hypertable analog
    — EVERY non-coarsest tier of the 16/32/64 cascade is compacted by
    its own aligned cutoff (the retention_tiers_3 policy), in one
    group-atomic snapshot-committed job. Run through an injected
    mid-run kill + resume like the 2-tier face; the output embeds BOTH
    per-tier expired-row censuses (capfire pattern, recomputed
    independently by the oracle), so the driver hash certifies that the
    resumed store physically dropped rows from each tier."""
    from .streaming.expiry import RetentionExpiryJobMulti

    sizes = [BUCKET, 2 * BUCKET, 4 * BUCKET]
    horizons = [BUCKET, 2 * BUCKET]

    def face(base, _durable):
        _face_caches_clear()
        m1 = _face_cache(tier_rollup(_tok(spark, sf_dir), {"1m": BUCKET}))
        m2 = cascade_tier(m1, BUCKET, 2 * BUCKET, "2m")
        job = _kill_and_resume(lambda: RetentionExpiryJobMulti(
            spark, base, sizes, horizons, n_groups=4), [m1, m2])
        census = job.metrics()["tiers"]
        return job.result().select(
            "doc_id", F.col("tier_idx").cast("int").alias("tier_idx"),
            "bucket", "cnt", "sum_v", "sumsq", "min_v", "max_v",
            F.lit(int(census[0]["rows_dropped"]))
            .cast("long").alias("nd_fine"),
            F.lit(int(census[1]["rows_dropped"]))
            .cast("long").alias("nd_mid"),
        )

    return _in_base_dir(spark, "retention_expiry_tiers_", face)


SQL_RETENTION_EXPIRY_TIERS = f"""
WITH {TOK_CTE},
f AS (
  SELECT doc_id, (pos - 1) // {BUCKET} AS bucket,
         CAST(COUNT(*) AS BIGINT) AS cnt, CAST(SUM(tok) AS BIGINT) AS sum_v,
         CAST(SUM(tok * tok) AS BIGINT) AS sumsq,
         CAST(MIN(tok) AS INT) AS min_v, CAST(MAX(tok) AS INT) AS max_v
  FROM pos GROUP BY 1, 2
),
m AS (
  SELECT doc_id, (pos - 1) // {2 * BUCKET} AS bucket,
         CAST(COUNT(*) AS BIGINT) AS cnt, CAST(SUM(tok) AS BIGINT) AS sum_v,
         CAST(SUM(tok * tok) AS BIGINT) AS sumsq,
         CAST(MIN(tok) AS INT) AS min_v, CAST(MAX(tok) AS INT) AS max_v
  FROM pos GROUP BY 1, 2
),
wm AS (SELECT doc_id, (MAX(bucket) + 1) * {BUCKET} AS wm FROM f GROUP BY 1),
cut AS (
  SELECT doc_id,
         CAST(FLOOR((wm - {BUCKET}) / {2 * BUCKET}.0)
              * {2 * BUCKET} AS BIGINT) AS cut0,
         CAST(FLOOR((wm - {2 * BUCKET}) / {4 * BUCKET}.0)
              * {4 * BUCKET} AS BIGINT) AS cut1
  FROM wm
),
k0 AS (
  SELECT f.doc_id, CAST(0 AS INT) AS tier_idx,
         CAST(f.bucket AS BIGINT) AS bucket, cnt, sum_v, sumsq, min_v, max_v
  FROM f JOIN cut ON f.doc_id = cut.doc_id
  WHERE (f.bucket + 1) * {BUCKET} > cut0
),
k1 AS (
  SELECT m.doc_id, CAST(1 AS INT) AS tier_idx,
         CAST(m.bucket AS BIGINT) AS bucket, cnt, sum_v, sumsq, min_v, max_v
  FROM m JOIN cut ON m.doc_id = cut.doc_id
  WHERE (m.bucket + 1) * {2 * BUCKET} > cut1
),
kept AS (SELECT * FROM k0 UNION ALL SELECT * FROM k1)
SELECT kept.*,
       CAST((SELECT COUNT(*) FROM f) - (SELECT COUNT(*) FROM k0)
            AS BIGINT) AS nd_fine,
       CAST((SELECT COUNT(*) FROM m) - (SELECT COUNT(*) FROM k1)
            AS BIGINT) AS nd_mid
FROM kept
"""


COMPRESS_CHUNK = 64    # token positions per compressed chunk (4 fine buckets;
                       # small so the cold path fires on sf0.001's short docs)
COMPRESS_HORIZON = 16  # recent history kept row-form


def q_retention_compress(spark, sf_dir):
    """Compression policy (TimescaleDB compress_chunks analog,
    streaming/compress.py): a snapshot-committed job REWRITES fine-tier
    rows older than a chunk-aligned horizon into per-(doc, chunk)
    delta-of-delta segment blobs; recent rows stay row-form. The face
    runs the job through an injected mid-run kill + resume, then hashes
    the DECODED serving view (head UNION decoded segments) — so the
    driver hash certifies decode(encode(x)) == x through a resumed
    commit — and embeds the compression census (rows compressed,
    segments written; capfire pattern, both recomputed independently by
    the oracle), so the hash also proves the cold path actually fired."""
    from .streaming.compress import CompressionPolicyJob

    def face(base, _durable):
        _face_caches_clear()
        fine = _face_cache(tier_rollup(_tok(spark, sf_dir), {"1m": BUCKET}))
        job = _kill_and_resume(lambda: CompressionPolicyJob(
            spark, base, BUCKET, COMPRESS_CHUNK, COMPRESS_HORIZON,
            n_groups=4), fine)
        m = job.metrics()
        if not m["rows_compressed"] or not m["n_segments"]:
            raise AssertionError(
                "compression face must exercise the cold path")
        return job.read_fine().select(
            "doc_id", "bucket", "cnt", "sum_v", "sumsq", "min_v", "max_v",
            F.lit(int(m["rows_compressed"])).cast("long").alias("n_comp"),
            F.lit(int(m["n_segments"])).cast("long").alias("n_seg"),
        )

    return _in_base_dir(spark, "retention_compress_", face)


SQL_RETENTION_COMPRESS = f"""
WITH {TOK_CTE},
f AS (
  SELECT doc_id, (pos - 1) // {BUCKET} AS bucket,
         CAST(COUNT(*) AS BIGINT) AS cnt, CAST(SUM(tok) AS BIGINT) AS sum_v,
         CAST(SUM(tok * tok) AS BIGINT) AS sumsq,
         CAST(MIN(tok) AS INT) AS min_v, CAST(MAX(tok) AS INT) AS max_v
  FROM pos GROUP BY 1, 2
),
wm AS (SELECT doc_id, (MAX(bucket) + 1) * {BUCKET} AS wm FROM f GROUP BY 1),
cut AS (
  SELECT doc_id,
         CAST(FLOOR((wm - {COMPRESS_HORIZON}) / {COMPRESS_CHUNK}.0)
              * {COMPRESS_CHUNK} AS BIGINT) AS cutoff
  FROM wm
),
cold AS (
  SELECT f.doc_id, f.bucket
  FROM f JOIN cut ON f.doc_id = cut.doc_id
  WHERE (f.bucket + 1) * {BUCKET} <= cutoff
),
census AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_comp,
         CAST(COUNT(DISTINCT doc_id || ':' ||
              CAST((bucket * {BUCKET}) // {COMPRESS_CHUNK} AS VARCHAR))
              AS BIGINT) AS n_seg
  FROM cold
)
SELECT f.doc_id, CAST(f.bucket AS BIGINT) AS bucket, cnt, sum_v, sumsq,
       min_v, max_v, n_comp, n_seg
FROM f, census
"""


RT_LAG = 24  # ingest lag the materializer trails by (not bucket-aligned)


def q_realtime_rollup(spark, sf_dir):
    """Real-time continuous aggregate (TimescaleDB real-time CAGG,
    operators/rollup.py realtime_rollup): a STALE materialized rollup
    (each doc's last {RT_LAG} positions not yet materialized) is unioned
    with an on-the-fly aggregation of the raw post-watermark tail. The
    output tags WHICH side served each row, so the driver hash certifies
    the exactly-once seam per row against the oracle's single full
    rollup + the same cutoff math."""
    from .operators.rollup import realtime_rollup

    _face_caches_clear()
    toks = _face_cache(_tok(spark, sf_dir))
    trunc = (
        toks.withColumn(
            "mwm",
            (F.floor(F.greatest(F.col("n_tok") - RT_LAG, F.lit(0)) / BUCKET)
             * BUCKET).cast("int"),
        )
        .withColumn("tokens", F.slice("tokens", F.lit(1), F.col("mwm")))
        .drop("mwm")
    )
    mat = tier_rollup(trunc, {"1m": BUCKET}).drop("tier")
    view = realtime_rollup(mat, toks, BUCKET, tag=True)
    return view.select(
        "doc_id", "bucket", "cnt", "sum_v", "sumsq", "min_v", "max_v",
        "part",
    )


SQL_REALTIME_ROLLUP = f"""
WITH {TOK_CTE},
r AS (
  SELECT doc_id, (pos - 1) // {BUCKET} AS bucket,
         CAST(COUNT(*) AS BIGINT) AS cnt, CAST(SUM(tok) AS BIGINT) AS sum_v,
         CAST(SUM(tok * tok) AS BIGINT) AS sumsq,
         CAST(MIN(tok) AS INT) AS min_v, CAST(MAX(tok) AS INT) AS max_v,
         MAX(n_tok) AS n_tok
  FROM pos GROUP BY 1, 2
)
SELECT doc_id, CAST(bucket AS BIGINT) AS bucket, cnt, sum_v, sumsq,
       min_v, max_v,
       CASE WHEN (bucket + 1) * {BUCKET}
                 <= CAST(FLOOR(GREATEST(n_tok - {RT_LAG}, 0) / {BUCKET}.0)
                         * {BUCKET} AS BIGINT)
            THEN 'materialized' ELSE 'fresh' END AS part
FROM r
"""


def q_retention_tiers_3(spark, sf_dir):
    """Three-tier retention serving view over the nested 16/32/64 cascade
    (labels 1m/2m/4m): offsets newer than 16 at the finest tier, 16..32
    at the middle tier, older only at the coarsest — cutoffs aligned to
    the next-coarser bucket grid so consecutive tiers meet seamlessly."""
    from .operators.rollup import retention_policy_multi

    _face_caches_clear()
    m1 = _face_cache(tier_rollup(_tok(spark, sf_dir), {"1m": BUCKET}))
    m2 = cascade_tier(m1, BUCKET, 2 * BUCKET, "2m")
    m4 = cascade_tier(m1, BUCKET, 4 * BUCKET, "4m")
    served = retention_policy_multi(
        [(m1, BUCKET), (m2, 2 * BUCKET), (m4, 4 * BUCKET)],
        [BUCKET, 2 * BUCKET],
    )
    return served.select(
        "doc_id", "tier", "bucket", "cnt", "sum_v", "sumsq", "min_v", "max_v"
    )


SQL_RETENTION_TIERS_3 = f"""
WITH {TOK_CTE},
f AS (
  SELECT doc_id, (pos - 1) // {BUCKET} AS bucket,
         CAST(COUNT(*) AS BIGINT) AS cnt, CAST(SUM(tok) AS BIGINT) AS sum_v,
         CAST(SUM(tok * tok) AS BIGINT) AS sumsq,
         CAST(MIN(tok) AS INT) AS min_v, CAST(MAX(tok) AS INT) AS max_v
  FROM pos GROUP BY 1, 2
),
m AS (
  SELECT doc_id, (pos - 1) // {2 * BUCKET} AS bucket,
         CAST(COUNT(*) AS BIGINT) AS cnt, CAST(SUM(tok) AS BIGINT) AS sum_v,
         CAST(SUM(tok * tok) AS BIGINT) AS sumsq,
         CAST(MIN(tok) AS INT) AS min_v, CAST(MAX(tok) AS INT) AS max_v
  FROM pos GROUP BY 1, 2
),
c AS (
  SELECT doc_id, (pos - 1) // {4 * BUCKET} AS bucket,
         CAST(COUNT(*) AS BIGINT) AS cnt, CAST(SUM(tok) AS BIGINT) AS sum_v,
         CAST(SUM(tok * tok) AS BIGINT) AS sumsq,
         CAST(MIN(tok) AS INT) AS min_v, CAST(MAX(tok) AS INT) AS max_v
  FROM pos GROUP BY 1, 2
),
wm AS (SELECT doc_id, (MAX(bucket) + 1) * {BUCKET} AS wm FROM f GROUP BY 1),
cut AS (
  SELECT doc_id,
         CAST(FLOOR((wm - {BUCKET}) / {2 * BUCKET}.0)
              * {2 * BUCKET} AS BIGINT) AS cut0,
         CAST(FLOOR((wm - {2 * BUCKET}) / {4 * BUCKET}.0)
              * {4 * BUCKET} AS BIGINT) AS cut1
  FROM wm
)
SELECT f.doc_id, '1m' AS tier, CAST(f.bucket AS BIGINT) AS bucket,
       cnt, sum_v, sumsq, min_v, max_v
FROM f JOIN cut ON f.doc_id = cut.doc_id
WHERE (f.bucket + 1) * {BUCKET} > cut0
UNION ALL
SELECT m.doc_id, '2m' AS tier, CAST(m.bucket AS BIGINT) AS bucket,
       cnt, sum_v, sumsq, min_v, max_v
FROM m JOIN cut ON m.doc_id = cut.doc_id
WHERE (m.bucket + 1) * {2 * BUCKET} > cut1
  AND (m.bucket + 1) * {2 * BUCKET} <= cut0
UNION ALL
SELECT c.doc_id, '4m' AS tier, CAST(c.bucket AS BIGINT) AS bucket,
       cnt, sum_v, sumsq, min_v, max_v
FROM c JOIN cut ON c.doc_id = cut.doc_id
WHERE (c.bucket + 1) * {4 * BUCKET} <= cut1
"""


def q_gapfill(spark, sf_dir):
    m1 = tier_rollup(_tok(spark, sf_dir), {"1m": BUCKET})
    holey = m1.filter(F.pmod(F.col("bucket"), F.lit(5)) != 3)
    filled = gap_fill(holey)
    return filled.select("doc_id", "bucket", "filled", "cnt", "sum_v")


SQL_GAPFILL = f"""
WITH {TOK_CTE},
r AS (
  SELECT doc_id, (pos - 1) // {BUCKET} AS bucket,
         CAST(COUNT(*) AS BIGINT) AS cnt, CAST(SUM(tok) AS BIGINT) AS sum_v
  FROM pos GROUP BY 1, 2
  HAVING (bucket % 5) != 3
),
mx AS (SELECT doc_id, MAX(bucket) AS mb FROM r GROUP BY 1),
spine AS (SELECT doc_id, UNNEST(range(0, mb + 1)) AS bucket FROM mx)
SELECT s.doc_id, CAST(s.bucket AS BIGINT) AS bucket,
       r.doc_id IS NULL AS filled,
       COALESCE(r.cnt, 0) AS cnt, COALESCE(r.sum_v, 0) AS sum_v
FROM spine s LEFT JOIN r ON s.doc_id = r.doc_id AND s.bucket = r.bucket
"""


def q_gapfill_locf(spark, sf_dir):
    """LOCF gap fill (TimescaleDB locf()): holes carry the LAST observed
    bucket's aggregates forward instead of zero-filling; mean derived
    after the carry with the shared sum/cnt expression."""
    from .operators.rollup import gap_fill_locf

    m1 = tier_rollup(_tok(spark, sf_dir), {"1m": BUCKET})
    _face_caches_clear()
    holey = _face_cache(m1.filter(F.pmod(F.col("bucket"), F.lit(5)) != 3))
    filled = gap_fill_locf(holey)
    return filled.select(
        "doc_id", "bucket", "filled", "cnt_locf", "sum_v_locf",
        "min_v_locf", "max_v_locf", "mean_locf"
    )


SQL_GAPFILL_LOCF = f"""
WITH {TOK_CTE},
r AS (
  SELECT doc_id, (pos - 1) // {BUCKET} AS bucket,
         CAST(COUNT(*) AS BIGINT) AS cnt, CAST(SUM(tok) AS BIGINT) AS sum_v,
         CAST(MIN(tok) AS INT) AS min_v, CAST(MAX(tok) AS INT) AS max_v
  FROM pos GROUP BY 1, 2
  HAVING (bucket % 5) != 3
),
mx AS (SELECT doc_id, MAX(bucket) AS mb FROM r GROUP BY 1),
spine AS (SELECT doc_id, UNNEST(range(0, mb + 1)) AS bucket FROM mx),
j AS (
  SELECT s.doc_id, CAST(s.bucket AS BIGINT) AS bucket,
         r.doc_id IS NULL AS filled, r.cnt, r.sum_v, r.min_v, r.max_v
  FROM spine s LEFT JOIN r ON s.doc_id = r.doc_id AND s.bucket = r.bucket
),
locf AS (
  SELECT doc_id, bucket, filled,
         last_value(cnt IGNORE NULLS) OVER w AS cnt_locf,
         last_value(sum_v IGNORE NULLS) OVER w AS sum_v_locf,
         last_value(min_v IGNORE NULLS) OVER w AS min_v_locf,
         last_value(max_v IGNORE NULLS) OVER w AS max_v_locf
  FROM j
  WINDOW w AS (PARTITION BY doc_id ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT doc_id, bucket, filled, cnt_locf, sum_v_locf, min_v_locf, max_v_locf,
       sum_v_locf / cnt_locf AS mean_locf
FROM locf
"""


def q_gapfill_interp(spark, sf_dir):
    """Linear-interpolation gap fill (TimescaleDB interpolate()): holes
    get the straight line between the bracketing observed buckets'
    means; unbracketed holes stay NULL."""
    from .operators.rollup import gap_fill_interpolate

    m1 = tier_rollup(_tok(spark, sf_dir), {"1m": BUCKET})
    _face_caches_clear()
    holey = _face_cache(m1.filter(F.pmod(F.col("bucket"), F.lit(5)) != 3))
    filled = gap_fill_interpolate(holey)
    return filled.select("doc_id", "bucket", "filled", "v_interp")


SQL_GAPFILL_INTERP = f"""
WITH {TOK_CTE},
r AS (
  SELECT doc_id, (pos - 1) // {BUCKET} AS bucket,
         CAST(COUNT(*) AS BIGINT) AS cnt, CAST(SUM(tok) AS BIGINT) AS sum_v
  FROM pos GROUP BY 1, 2
  HAVING (bucket % 5) != 3
),
mx AS (SELECT doc_id, MAX(bucket) AS mb FROM r GROUP BY 1),
spine AS (SELECT doc_id, UNNEST(range(0, mb + 1)) AS bucket FROM mx),
j AS (
  SELECT s.doc_id, CAST(s.bucket AS BIGINT) AS bucket,
         r.doc_id IS NULL AS filled, r.sum_v / r.cnt AS v
  FROM spine s LEFT JOIN r ON s.doc_id = r.doc_id AND s.bucket = r.bucket
),
br AS (
  SELECT doc_id, bucket, filled, v,
         last_value(v IGNORE NULLS) OVER back AS pv,
         last_value(CASE WHEN v IS NOT NULL THEN bucket END IGNORE NULLS)
             OVER back AS pb,
         first_value(v IGNORE NULLS) OVER fwd AS nv,
         first_value(CASE WHEN v IS NOT NULL THEN bucket END IGNORE NULLS)
             OVER fwd AS nb
  FROM j
  WINDOW back AS (PARTITION BY doc_id ORDER BY bucket
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         fwd AS (PARTITION BY doc_id ORDER BY bucket
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT doc_id, bucket, filled,
       CASE WHEN NOT filled THEN v
            WHEN pv IS NULL OR nv IS NULL THEN NULL
            ELSE pv + (nv - pv) * ((bucket - pb) / (nb - pb))
       END AS v_interp
FROM br
"""


def q_downsample_m4(spark, sf_dir):
    """M4 downsample per 64-offset bucket (the dashboard-standard
    min/max/first/last projection; extends the minmax face with the
    bucket's first and last points) — see
    operators/rollup.py:downsample_m4 for the single-aggregation plan."""
    from .operators.rollup import downsample_m4

    return downsample_m4(_tok(spark, sf_dir), BUCKET_COARSE)


SQL_DOWNSAMPLE_M4 = f"""
WITH {TOK_CTE}
SELECT doc_id, (pos - 1) // {BUCKET_COARSE} AS bucket,
       CAST(MIN(pos - 1) AS INT) AS first_off,
       arg_min(tok, pos) AS first_v,
       MIN(tok) AS min_v, MAX(tok) AS max_v,
       CAST(MAX(pos - 1) AS INT) AS last_off,
       arg_max(tok, pos) AS last_v
FROM pos GROUP BY 1, 2
"""


def q_downsample_minmax(spark, sf_dir):
    """Spike-preserving min/max downsample per 64-offset bucket (what a
    dashboard reads from a retention tier): each bucket keeps its min and
    max POINTS with their offsets (first occurrence on ties) — argmin/
    argmax semantics the plain rollup's min_v/max_v scalars don't carry."""
    t = _tok(spark, sf_dir)
    p = t.select(
        "doc_id",
        F.posexplode("tokens").alias("pos0", "tok"),
    ).withColumn("bucket", (F.col("pos0") / BUCKET_COARSE).cast("long"))
    # ONE map-side-combinable aggregation: lexicographic struct min gives
    # (min tok, first offset); min over (-tok, pos0) gives (max tok, first
    # offset) — no window sorts, no second shuffle
    agg = p.groupBy("doc_id", "bucket").agg(
        F.min(F.struct(F.col("tok"), F.col("pos0"))).alias("mn"),
        F.min(F.struct((-F.col("tok")).alias("ntok"), F.col("pos0"))).alias("mx"),
    )
    return agg.select(
        "doc_id", "bucket",
        F.col("mn.tok").alias("min_v"), F.col("mn.pos0").cast("int").alias("min_off"),
        (-F.col("mx.ntok")).alias("max_v"), F.col("mx.pos0").cast("int").alias("max_off"),
    )


SQL_DOWNSAMPLE_MINMAX = f"""
WITH {TOK_CTE},
b AS (
  SELECT doc_id, tok, CAST(pos - 1 AS BIGINT) AS pos0,
         (pos - 1) // {BUCKET_COARSE} AS bucket
  FROM pos
),
mn AS (
  SELECT doc_id, bucket, tok AS min_v, CAST(pos0 AS INT) AS min_off,
         ROW_NUMBER() OVER (PARTITION BY doc_id, bucket
             ORDER BY tok ASC, pos0 ASC) AS rn
  FROM b
),
mx AS (
  SELECT doc_id, bucket, tok AS max_v, CAST(pos0 AS INT) AS max_off,
         ROW_NUMBER() OVER (PARTITION BY doc_id, bucket
             ORDER BY tok DESC, pos0 ASC) AS rn
  FROM b
)
SELECT n.doc_id, CAST(n.bucket AS BIGINT) AS bucket,
       n.min_v, n.min_off, x.max_v, x.max_off
FROM (SELECT * FROM mn WHERE rn = 1) n
JOIN (SELECT * FROM mx WHERE rn = 1) x
  ON n.doc_id = x.doc_id AND n.bucket = x.bucket
"""


def q_sliding_stats(spark, sf_dir):
    s = sliding_stats(_tok(spark, sf_dir), W)
    # mov_var (ogita): (sumsq/w) - mean*mean, src/windowfunc.cpp:87-94
    s = s.withColumn("var", F.col("sumsq") / W - F.col("mean") * F.col("mean"))
    # NULL sig on zero-variance windows (exact integer test), matching SQL
    zero_var = F.col("sumsq") * W == F.col("sum_v") * F.col("sum_v")
    return s.withColumn("sig", F.when(zero_var, F.lit(None)).otherwise(F.col("sig")))


SQL_SLIDING_STATS = f"""
WITH {TOK_CTE}, {WIN_CTE}
SELECT doc_id, off,
       s AS sum_v,
       s2 AS sumsq,
       s / {W}.0 AS mean,
       s2 / {W}.0 - (s / {W}.0) * (s / {W}.0) AS var,
       sqrt(s2 / {W}.0 - (s / {W}.0) * (s / {W}.0)) AS std,
       CASE WHEN s2 * {W} = s * s THEN NULL
            ELSE 1.0 / sqrt(s2 - (s / {W}.0) * (s / {W}.0) * {W}) END AS sig,
       mn AS min_v, mx AS max_v
FROM win
"""


def q_zero_crossings(spark, sf_dir):
    return zero_crossings(_tok(spark, sf_dir), ZC_W)


SQL_ZERO_CROSSINGS = f"""
WITH {TOK_CTE},
docstats AS (
  SELECT doc_id, SUM(tok) / CAST(n_tok AS DOUBLE) AS m, n_tok
  FROM pos GROUP BY doc_id, n_tok
),
ind AS (
  SELECT p.doc_id, p.pos,
         CASE WHEN (p.tok - d.m) * (LAG(p.tok) OVER (PARTITION BY p.doc_id ORDER BY p.pos) - d.m) < 0
              THEN 1 ELSE 0 END AS c
  FROM pos p JOIN docstats d USING (doc_id)
),
roll AS (
  SELECT doc_id, pos,
         CAST(SUM(c) OVER (PARTITION BY doc_id ORDER BY pos
              ROWS BETWEEN CURRENT ROW AND {ZC_W - 3} FOLLOWING) AS INT) AS crossings
  FROM ind
)
SELECT r.doc_id, CAST(r.pos - 2 AS INT) AS off, r.crossings
FROM roll r JOIN docstats d USING (doc_id)
WHERE r.pos >= 2 AND r.pos - 2 <= d.n_tok - {ZC_W}
"""


def q_complexity(spark, sf_dir):
    """CID complexity per doc (R/math.R:179-181) — exact int diff sumsq.

    Docs with a single token have no diffs; the oracle's WHERE df IS NOT
    NULL drops them, so filter n_tok > 1 here too (row-set agreement)."""
    t = _tok(spark, sf_dir).filter(F.size("tokens") > 1)
    diffs = F.transform(
        F.slice(F.col("tokens"), 2, F.size("tokens") - 1),
        lambda x, i: (x.cast("long") - F.element_at(F.col("tokens"), i + 1).cast("long")),
    )
    ss = F.aggregate(diffs, F.lit(0).cast("long"), lambda acc, d: acc + d * d)
    return t.select("doc_id", F.sqrt(ss).alias("complexity"))


SQL_COMPLEXITY = f"""
WITH {TOK_CTE},
d AS (
  SELECT doc_id,
         tok - LAG(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS df
  FROM pos
)
SELECT doc_id, sqrt(CAST(SUM(df * df) AS BIGINT)) AS complexity
FROM d WHERE df IS NOT NULL GROUP BY doc_id
"""


def q_doc_znorm_stats(spark, sf_dir):
    """Per-doc mean / population-std (exact int sums) + the znorm
    low-variance branch flag (sd <= 0.01, src/mathtools.cpp:123)."""
    p = _tok(spark, sf_dir).select(
        "doc_id", F.explode("tokens").alias("tok"), F.size("tokens").alias("n")
    )
    g = p.groupBy("doc_id", "n").agg(
        F.sum(F.col("tok").cast("long")).alias("s"),
        F.sum((F.col("tok") * F.col("tok")).cast("long")).alias("s2"),
    )
    mean = F.col("s") / F.col("n")
    std = F.sqrt(F.col("s2") / F.col("n") - mean * mean)
    return g.select(
        "doc_id", mean.alias("mean"), std.alias("std"),
        (std <= 0.01).alias("low_var"),
    )


SQL_DOC_ZNORM_STATS = f"""
WITH {TOK_CTE},
g AS (
  SELECT doc_id, CAST(n_tok AS BIGINT) AS n,
         CAST(SUM(tok) AS BIGINT) AS s, CAST(SUM(tok * tok) AS BIGINT) AS s2
  FROM pos GROUP BY doc_id, n_tok
)
SELECT doc_id, s / CAST(n AS DOUBLE) AS mean,
       sqrt(s2 / CAST(n AS DOUBLE) - (s / CAST(n AS DOUBLE)) * (s / CAST(n AS DOUBLE))) AS std,
       sqrt(s2 / CAST(n AS DOUBLE) - (s / CAST(n AS DOUBLE)) * (s / CAST(n AS DOUBLE))) <= 0.01 AS low_var
FROM g
"""


def q_mode_token(spark, sf_dir):
    """Most frequent token per doc (mode, src/mathtools.cpp:101-107); ties
    -> smallest token (deterministic oracle tie-break). Lexicographic
    struct min == (max count, min token): one map-side-combinable agg
    instead of a per-doc window sort."""
    p = _tok(spark, sf_dir).select("doc_id", F.explode("tokens").alias("tok"))
    cnt = p.groupBy("doc_id", "tok").count()
    best = cnt.groupBy("doc_id").agg(
        F.min(F.struct((-F.col("count")).alias("ncnt"), F.col("tok"))).alias("b")
    )
    return best.select(
        "doc_id", F.col("b.tok").alias("mode_tok"),
        (-F.col("b.ncnt")).alias("freq"),
    )


SQL_MODE_TOKEN = f"""
WITH {TOK_CTE},
cnt AS (SELECT doc_id, tok, COUNT(*) AS freq FROM pos GROUP BY 1, 2),
rk AS (SELECT doc_id, tok, freq,
       ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY freq DESC, tok ASC) AS rn FROM cnt)
SELECT doc_id, CAST(tok AS INT) AS mode_tok, freq FROM rk WHERE rn = 1
"""


def q_mass_w8(spark, sf_dir):
    return mass_profile_exact(_tok(spark, sf_dir), W, query_off=0)


SQL_MASS_W8 = f"""
WITH {TOK_CTE}, {WIN_CTE},
stats AS (
  SELECT doc_id, off, s / {W}.0 AS mu,
         sqrt(s2 / {W}.0 - (s / {W}.0) * (s / {W}.0)) AS sd
  FROM win
),
prod AS (  -- q is the window at off 0: positions 1..{W}
  SELECT a.doc_id, b.pos - a.pos AS shift, a.tok * b.tok AS p
  FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND a.pos <= {W} AND b.pos - a.pos >= 0
  WHERE b.pos - a.pos <= b.n_tok - {W}
),
qt AS (SELECT doc_id, shift AS off, CAST(SUM(p) AS BIGINT) AS qt
       FROM prod GROUP BY 1, 2 HAVING COUNT(*) = {W})
SELECT q.doc_id, CAST(q.off AS INT) AS off,
       GREATEST(2 * ({W} - (q.qt - {W} * sq.mu * sd.mu) / (sq.sd * sd.sd)), 0) AS dist
FROM qt q
JOIN stats sq ON sq.doc_id = q.doc_id AND sq.off = 0
JOIN stats sd ON sd.doc_id = q.doc_id AND sd.off = q.off
WHERE sq.sd > 0 AND sd.sd > 0
"""


def q_matrix_profile_w8(spark, sf_dir):
    return matrix_profile_exact(_tok(spark, sf_dir), W, ez=0.5)


def q_matrix_profile_w8_dist(spark, sf_dir):
    """The TILED distributed matrix profile (one doc spans many tasks:
    chunk-pair tiles + min-merge, operators/mp_ops.py) — bit-identical to
    the one-task face and to the same all-pairs SQL oracle."""
    from .operators.mp_ops import matrix_profile_distributed

    return matrix_profile_distributed(_tok(spark, sf_dir), W, ez=0.5, chunk_len=24)


_EZ = 4  # round(8 * 0.5 + eps), src/stomp.cpp:29

SQL_MATRIX_PROFILE_W8 = f"""
WITH {TOK_CTE}, {WIN_CTE},
stats AS (
  SELECT doc_id, off, s / {W}.0 AS mu,
         sqrt(s2 / {W}.0 - (s / {W}.0) * (s / {W}.0)) AS sd
  FROM win JOIN (SELECT doc_id AS d2, n_tok FROM pos GROUP BY 1, 2) n
    ON win.doc_id = n.d2
  WHERE n.n_tok >= 2 * {W}
),
prod AS (
  SELECT a.doc_id, b.pos - a.pos AS diag, a.pos, a.tok * b.tok AS p
  FROM pos a JOIN pos b
    ON a.doc_id = b.doc_id AND b.pos - a.pos > {_EZ}
  WHERE a.n_tok >= 2 * {W}
),
qt AS (
  SELECT doc_id, diag, CAST(pos - {W} AS INT) AS o1,
         CAST(SUM(p) OVER (PARTITION BY doc_id, diag ORDER BY pos
              ROWS BETWEEN {W - 1} PRECEDING AND CURRENT ROW) AS BIGINT) AS qt,
         COUNT(*) OVER (PARTITION BY doc_id, diag ORDER BY pos
              ROWS BETWEEN {W - 1} PRECEDING AND CURRENT ROW) AS k
  FROM prod
  QUALIFY k = {W} AND pos >= {W}
),
cand AS (
  SELECT doc_id, o1 AS off, o1 + diag AS nn, qt FROM qt
  UNION ALL
  SELECT doc_id, o1 + diag AS off, o1 AS nn, qt FROM qt
),
dist AS (
  SELECT c.doc_id, c.off, c.nn,
         GREATEST(2 * ({W} - (c.qt - {W} * so.mu * sn.mu) / (so.sd * sn.sd)), 0) AS d
  FROM cand c
  JOIN stats so ON so.doc_id = c.doc_id AND so.off = c.off
  JOIN stats sn ON sn.doc_id = c.doc_id AND sn.off = c.nn
  WHERE so.sd > 0 AND sn.sd > 0
),
best AS (
  SELECT doc_id, off, nn, d,
         ROW_NUMBER() OVER (PARTITION BY doc_id, off ORDER BY d ASC, nn ASC) AS rn
  FROM dist
)
SELECT doc_id, CAST(off AS INT) AS off, sqrt(d) AS mp, CAST(nn AS INT) AS nn_off
FROM best WHERE rn = 1
"""


# -------------------------------------------------- training-data pipeline

def q_dedup_exact(spark, sf_dir):
    return exact_dedup(_docs(spark, sf_dir))


SQL_DEDUP_EXACT = """
SELECT md5(text) AS text_md5, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MIN(doc_id) AS BIGINT) AS keep_doc_id
FROM documents GROUP BY 1
"""


_NGRAM_DF_CAP = 500  # drop grams in > K docs: hot-key hygiene for the join


def q_dedup_ngram_jaccard(spark, sf_dir):
    return ngram_jaccard_pairs(
        _docs(spark, sf_dir), n=3, threshold=0.2, max_doc_freq=_NGRAM_DF_CAP
    )


def _attach_census(df, name: str, census):
    """Attach a 1-row count aggregate as a constant column. The census is
    computed distributed (map-side-combinable count) and only its single
    row reaches the driver — a bounded collect, same class as the IVF
    centroid sums. Attaching via lit() rather than a joined 1-row frame
    keeps the plan free of BroadcastNestedLoopJoin (Catalyst constant-
    folds any literal-key equi-join back into one). Deliberate trade:
    the census job runs eagerly at face-CONSTRUCTION time and rescans
    the gram/band universe the pairs plan will recompute — bounded,
    certification-face-only cost; the production operators themselves
    attach no census."""
    val = census.first()[0]
    return df.withColumn(name, F.lit(int(val)).cast("long"))


def _sql_dedup_ngram(cap: int, threshold: float, capfire: bool = False) -> str:
    """Capped n-gram Jaccard oracle; ``capfire`` appends the count of
    (source, gram) keys the DF cap removed as a constant column, so the
    driver's value hash itself certifies the cap dropped > 0 keys."""
    sel_extra = ",\n       ov.n_capped_grams" if capfire else ""
    join_extra = (
        "\nJOIN (SELECT CAST(COUNT(*) AS BIGINT) AS n_capped_grams\n"
        f"      FROM (SELECT source, gram FROM grams0 GROUP BY 1, 2\n"
        f"            HAVING COUNT(*) > {cap})) ov ON TRUE"
        if capfire else ""
    )
    return f"""
WITH w AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, source, string_split(text, ' ') AS words
  FROM documents
),
grams0 AS (
  SELECT DISTINCT doc_id, source,
         UNNEST([words[i] || ' ' || words[i+1] || ' ' || words[i+2]
                 FOR i IN range(1, len(words) - 1)]) AS gram
  FROM w
),
rare AS (
  SELECT source, gram FROM grams0 GROUP BY 1, 2
  HAVING COUNT(*) <= {cap}
),
grams AS (SELECT g.* FROM grams0 g JOIN rare USING (source, gram)),
sizes AS (SELECT doc_id, COUNT(*) AS n_grams FROM grams GROUP BY 1),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS common
  FROM grams a JOIN grams b ON a.gram = b.gram AND a.source = b.source
  WHERE a.doc_id < b.doc_id GROUP BY 1, 2
)
SELECT p.doc_a, p.doc_b, p.common,
       CAST(sa.n_grams AS BIGINT) AS na, CAST(sb.n_grams AS BIGINT) AS nb,
       p.common / CAST(sa.n_grams + sb.n_grams - p.common AS DOUBLE) AS jaccard{sel_extra}
FROM pairs p
JOIN sizes sa ON sa.doc_id = p.doc_a
JOIN sizes sb ON sb.doc_id = p.doc_b{join_extra}
WHERE p.common / CAST(sa.n_grams + sb.n_grams - p.common AS DOUBLE) >= {threshold}
"""


SQL_DEDUP_NGRAM_JACCARD = _sql_dedup_ngram(_NGRAM_DF_CAP, 0.2)

# cap-ACTIVE regime certification (VERDICT r4 #1): at the driver's sf the
# default caps (500 / 256) provably drop nothing, so the green rows only
# ever certified cap-inactive plans. These constants are chosen from the
# measured DF distribution of the test corpus (max per-source trigram DF
# is 3-4) so the cap verifiably removes keys AND changes the pair output.
CAPFIRE_DF = 2          # grams/buckets in > 2 docs are dropped
CAPFIRE_NGRAM_THR = 0.02

SQL_DEDUP_NGRAM_CAPFIRE = _sql_dedup_ngram(CAPFIRE_DF, CAPFIRE_NGRAM_THR,
                                           capfire=True)


def q_dedup_ngram_capfire(spark, sf_dir):
    """ngram_jaccard_pairs in the cap-ACTIVE regime: max_doc_freq=2 drops
    every gram shared by >2 docs (they exist in the test corpus — pinned
    by the n_capped_grams column the oracle replicates), and the capped
    gram universe changes both pair membership and the na/nb/jaccard
    values vs the uncapped plan. The dropped-key count rides on every
    output row, so the driver's value hash certifies the cap FIRED, not
    just that the capped plan exists."""
    from .operators.dedup import _ngrams, doc_words

    docs = _docs(spark, sf_dir)
    pairs = ngram_jaccard_pairs(docs, n=3, threshold=CAPFIRE_NGRAM_THR,
                                max_doc_freq=CAPFIRE_DF)
    grams = doc_words(docs).select(
        "doc_id", "source", F.explode(_ngrams(F.col("words"), 3)).alias("gram")
    )
    over = (
        grams.groupBy("source", "gram").count()
        .filter(F.col("count") > CAPFIRE_DF)
        .agg(F.count("*").alias("n_capped_grams"))
    )
    return _attach_census(pairs, "n_capped_grams", over)


LSH_MAX_BUCKET = 256  # drop degenerate LSH buckets past this size (both engines)


def q_dedup_minhash_lsh(spark, sf_dir):
    return minhash_lsh_pairs(_docs(spark, sf_dir), n=3, num_hashes=8, band_size=2,
                             max_bucket=LSH_MAX_BUCKET)


def _sql_minhash_bands(cap: int) -> str:
    return f"""w AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, string_split(text, ' ') AS words
  FROM documents
),
grams AS (
  SELECT DISTINCT doc_id,
         UNNEST([words[i] || ' ' || words[i+1] || ' ' || words[i+2]
                 FOR i IN range(1, len(words) - 1)]) AS gram
  FROM w
),
sig AS (
  SELECT doc_id,
         MIN(md5(gram || '#0')) AS mh0, MIN(md5(gram || '#1')) AS mh1,
         MIN(md5(gram || '#2')) AS mh2, MIN(md5(gram || '#3')) AS mh3,
         MIN(md5(gram || '#4')) AS mh4, MIN(md5(gram || '#5')) AS mh5,
         MIN(md5(gram || '#6')) AS mh6, MIN(md5(gram || '#7')) AS mh7
  FROM grams GROUP BY 1
),
bands0 AS (
  SELECT doc_id, 0 AS band, mh0 || '|' || mh1 AS bucket FROM sig UNION ALL
  SELECT doc_id, 1, mh2 || '|' || mh3 FROM sig UNION ALL
  SELECT doc_id, 2, mh4 || '|' || mh5 FROM sig UNION ALL
  SELECT doc_id, 3, mh6 || '|' || mh7 FROM sig
),
bsz AS (
  SELECT band, bucket FROM bands0 GROUP BY 1, 2 HAVING COUNT(*) <= {cap}
),
bands AS (
  SELECT b.* FROM bands0 b JOIN bsz USING (band, bucket)
)"""


_SQL_MINHASH_BANDS = _sql_minhash_bands(LSH_MAX_BUCKET)

SQL_DEDUP_MINHASH_LSH = f"""
WITH {_SQL_MINHASH_BANDS}
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
WHERE a.doc_id < b.doc_id
"""


def q_dedup_lsh_capfire(spark, sf_dir):
    """minhash_lsh_pairs in the cap-ACTIVE regime: max_bucket=2 drops the
    LSH buckets shared by >2 docs (the test corpus has 3-doc buckets —
    pinned by the n_capped_buckets column), so the candidate-pair set is a
    strict subset of the uncapped one (pytest-asserted). The dropped-
    bucket census runs against the same minhash_bands universe the pairs
    join consumes, and rides on every output row, so the driver's value
    hash certifies _cap_buckets FIRED."""
    from .operators.dedup import minhash_bands

    docs = _docs(spark, sf_dir)
    pairs = minhash_lsh_pairs(docs, n=3, num_hashes=8, band_size=2,
                              max_bucket=CAPFIRE_DF)
    over = (
        minhash_bands(docs, 3, 8, 2)
        .groupBy("band", "bucket").count()
        .filter(F.col("count") > CAPFIRE_DF)
        .agg(F.count("*").alias("n_capped_buckets"))
    )
    return _attach_census(pairs, "n_capped_buckets", over)


SQL_DEDUP_LSH_CAPFIRE = f"""
WITH {_sql_minhash_bands(CAPFIRE_DF)}
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, ov.n_capped_buckets
FROM bands a
JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
JOIN (SELECT CAST(COUNT(*) AS BIGINT) AS n_capped_buckets
      FROM (SELECT band, bucket FROM bands0 GROUP BY 1, 2
            HAVING COUNT(*) > {CAPFIRE_DF})) ov ON TRUE
WHERE a.doc_id < b.doc_id
"""


def q_dedup_components(spark, sf_dir):
    """Duplicate clusters: connected components over the MinHash-LSH
    candidate-pair graph (iterative min-label propagation) + one keeper
    per cluster — the keep-list step of a dedup pipeline. The oracle
    replays it as a recursive-CTE transitive closure."""
    from .operators.dedup import duplicate_components

    pairs = minhash_lsh_pairs(_docs(spark, sf_dir), n=3, num_hashes=8, band_size=2,
                              max_bucket=LSH_MAX_BUCKET)
    return duplicate_components(_docs(spark, sf_dir), pairs)


SQL_DEDUP_COMPONENTS = f"""
WITH RECURSIVE {_SQL_MINHASH_BANDS},
p AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
  WHERE a.doc_id < b.doc_id
),
e AS (SELECT doc_a AS s, doc_b AS t FROM p
      UNION SELECT doc_b, doc_a FROM p),
reach AS (
  SELECT s, t FROM e
  UNION
  SELECT r.s, e2.t FROM reach r JOIN e e2 ON r.t = e2.s
),
comp AS (SELECT s AS doc_id, MIN(t) AS mt FROM reach GROUP BY s),
alldocs AS (SELECT CAST(doc_id AS VARCHAR) AS doc_id FROM documents)
SELECT d.doc_id,
       COALESCE(LEAST(c.doc_id, c.mt), d.doc_id) AS component_id,
       COALESCE(LEAST(c.doc_id, c.mt), d.doc_id) = d.doc_id AS is_keeper
FROM alldocs d LEFT JOIN comp c ON c.doc_id = d.doc_id
"""


def q_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs with the portable md5-bit hash family (the
    production default is xxhash64 — same algorithm, faster JVM hash)."""
    return simhash_pairs(_docs(spark, sf_dir), max_hamming=20, hash_fn="md5",
                         max_bucket=LSH_MAX_BUCKET)


def _sql_simhash() -> str:
    bit_exprs = ",\n         ".join(
        f"SUM(CASE WHEN (dg[{j // 4 + 1}] >> {j % 4}) & 1 = 1 THEN 1 ELSE -1 END) AS b{j}"
        for j in range(64)
    )
    fp_terms = " + ".join(
        [f"(CASE WHEN b{j} > 0 THEN 1 ELSE 0 END) * CAST({1 << j} AS BIGINT)"
         for j in range(63)]
        + ["(CASE WHEN b63 > 0 THEN 1 ELSE 0 END) * (-9223372036854775807 - 1)"]
    )
    return f"""
WITH wrd AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         UNNEST(string_split(text, ' ')) AS word
  FROM documents
),
d AS (
  SELECT doc_id,
         [strpos('0123456789abcdef', substr(md5(word), k, 1)) - 1
          FOR k IN range(1, 17)] AS dg
  FROM wrd
),
b AS (SELECT doc_id,
         {bit_exprs}
      FROM d GROUP BY doc_id),
s AS (SELECT doc_id, CAST({fp_terms} AS BIGINT) AS simhash FROM b),
blk0 AS (
  SELECT doc_id, simhash, r AS slice_id,
         (simhash >> (16 * r)) & 65535 AS block
  FROM s, (VALUES (0), (1), (2), (3)) v(r)
),
bsz AS (
  SELECT slice_id, block FROM blk0 GROUP BY 1, 2 HAVING COUNT(*) <= {LSH_MAX_BUCKET}
),
blk AS (
  SELECT b.* FROM blk0 b JOIN bsz USING (slice_id, block)
)
SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b2.simhash)) AS INT) AS hamming
FROM blk a JOIN blk b2 ON a.slice_id = b2.slice_id AND a.block = b2.block
WHERE a.doc_id < b2.doc_id
  AND bit_count(xor(a.simhash, b2.simhash)) <= 20
"""


SQL_SIMHASH_PAIRS = _sql_simhash()


def q_ann_topk(spark, sf_dir):
    return cosine_topk(_emb(spark, sf_dir), k=3, num_queries=20)


SQL_ANN_TOPK = """
WITH qv AS (
  SELECT CAST(vec_id AS BIGINT) AS vec_id,
         [CAST(round(CAST(e AS DOUBLE) * 10000, 0) AS BIGINT) FOR e IN embedding] AS q
  FROM embeddings
),
nq AS (SELECT vec_id, q, CAST(list_sum([x * x FOR x IN q]) AS BIGINT) AS norm2 FROM qv),
pairs AS (
  SELECT a.vec_id AS q_id, b.vec_id AS nn_id,
         CAST(list_sum(list_transform(list_zip(a.q, b.q), t -> t[1] * t[2])) AS BIGINT) AS dot,
         a.norm2 AS qn, b.norm2 AS bn
  FROM nq a JOIN nq b ON a.vec_id < 20 AND a.vec_id != b.vec_id
),
rk AS (
  SELECT q_id, nn_id, dot / (sqrt(qn) * sqrt(bn)) AS cos,
         ROW_NUMBER() OVER (PARTITION BY q_id
             ORDER BY dot / (sqrt(qn) * sqrt(bn)) DESC, nn_id ASC) AS rank
  FROM pairs
)
SELECT q_id, nn_id, CAST(rank AS INT) AS rank, cos FROM rk WHERE rank <= 3
"""


def q_embedding_near_dups(spark, sf_dir):
    return cosine_pairs_above(_emb(spark, sf_dir), threshold=0.2)


SQL_EMBEDDING_NEAR_DUPS = """
WITH qv AS (
  SELECT CAST(vec_id AS BIGINT) AS vec_id,
         [CAST(round(CAST(e AS DOUBLE) * 10000, 0) AS BIGINT) FOR e IN embedding] AS q
  FROM embeddings
),
nq AS (SELECT vec_id, q, CAST(list_sum([x * x FOR x IN q]) AS BIGINT) AS norm2 FROM qv)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       CAST(list_sum(list_transform(list_zip(a.q, b.q), t -> t[1] * t[2])) AS BIGINT)
         / (sqrt(a.norm2) * sqrt(b.norm2)) AS cos
FROM nq a JOIN nq b ON a.vec_id < b.vec_id
WHERE CAST(list_sum(list_transform(list_zip(a.q, b.q), t -> t[1] * t[2])) AS BIGINT)
      / (sqrt(a.norm2) * sqrt(b.norm2)) >= 0.2
"""


def q_text_stats(spark, sf_dir):
    return text_stats(_docs(spark, sf_dir))


SQL_TEXT_STATS = """
WITH s AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         len(string_split(text, ' ')) AS n_words,
         length(text) AS n_chars,
         length(text) - length(regexp_replace(text, '[aeiou]', '', 'g')) AS n_vowels,
         len(list_filter(string_split(text, ' '),
             w -> w IN ('the','a','of','and','to','in','is','it'))) AS n_stopwords
  FROM documents
)
SELECT doc_id, CAST(n_words AS INT) AS n_words, CAST(n_vowels AS INT) AS n_vowels,
       CAST(n_stopwords AS INT) AS n_stopwords,
       (n_chars - (n_words - 1)) / CAST(n_words AS DOUBLE) AS avg_word_len,
       n_vowels / CAST(n_chars AS DOUBLE) AS vowel_ratio,
       n_stopwords / CAST(n_words AS DOUBLE) AS stop_ratio,
       0.5 * (n_stopwords / CAST(n_words AS DOUBLE)) + 0.5 * (n_vowels / CAST(n_chars AS DOUBLE)) AS quality,
       n_words >= 20 AS len_ok
FROM s
"""


def q_lang_guess(spark, sf_dir):
    return lang_guess(_docs(spark, sf_dir))


SQL_LANG_GUESS = """
WITH s AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         len(string_split(text, ' ')) AS n_words, length(text) AS n_chars,
         length(text) - length(regexp_replace(text, '[aeiou]', '', 'g')) AS n_vowels,
         len(list_filter(string_split(text, ' '),
             w -> w IN ('the','a','of','and','to','in','is','it'))) AS n_stopwords
  FROM documents
),
r AS (
  SELECT doc_id,
         n_vowels / CAST(n_chars AS DOUBLE) AS vowel_ratio,
         (n_chars - (n_words - 1)) / CAST(n_words AS DOUBLE) AS avg_word_len,
         n_stopwords / CAST(n_words AS DOUBLE) AS stop_ratio
  FROM s
)
SELECT doc_id,
       CASE WHEN vowel_ratio >= 0.31 AND avg_word_len < 4.6 THEN 'es'
            WHEN vowel_ratio >= 0.33 THEN 'fr'
            WHEN avg_word_len >= 5.2 THEN 'de'
            WHEN stop_ratio >= 0.2 THEN 'en'
            ELSE 'other' END AS lang_guess
FROM r
"""


def q_token_counts(spark, sf_dir):
    return token_counts(_docs(spark, sf_dir))


SQL_TOKEN_COUNTS = """
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(len(string_split(text, ' ')) AS INT) AS ws_tokens,
       CAST(length(replace(text, ' ', '')) AS INT) AS n_chars_nospace,
       CAST(ceil(length(replace(text, ' ', '')) / 4.0) AS BIGINT) AS bpe_tokens_est
FROM documents
"""


def q_fingerprint(spark, sf_dir):
    return fingerprint(_docs(spark, sf_dir))


SQL_FINGERPRINT = """
WITH w AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, string_split(text, ' ') AS words
  FROM documents
)
SELECT doc_id,
       CAST(list_sum([
         (length(words[i]) * 1000 + ascii(substr(words[i], 1, 1)))::BIGINT
           * ((i * 2654435761) % 1000003)
         FOR i IN range(1, len(words) + 1)
       ]) AS BIGINT) AS fp
FROM w
"""


# --------------------------------------------- kernel faces (char tokens)
#
# The w=64 MP/MASS family runs over CHAR-level tokens (ascii codes of the
# first 256 chars — documents average ~300 chars vs only ~55 words, long
# enough for 64-wide windows). Each face computes exact-integer semantics
# (bitwise SQL-matchable, same design as matrix_profile_w8) AND runs the
# real FFT/recurrence kernel in the same task, emitting a per-row
# kernel_close flag the oracle pins to TRUE — so every green row both
# hash-verifies the semantics and exercises the production kernel.

CW = 64           # char-face window (power of two -> exact mean division)
CEZ = 32          # c_round(64*0.5+eps); mpx uses CEZ+1 (src/mpx.cpp:883)
MAX_CHARS = 256

CHAR_CTE = f"""
ctok AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         [ascii(substr(t, i, 1)) FOR i IN range(1, length(t) + 1)] AS tokens
  FROM (SELECT doc_id, substr(text, 1, {MAX_CHARS}) AS t FROM documents)
),
cpos AS (
  SELECT doc_id, UNNEST(tokens) AS tok,
         generate_subscripts(tokens, 1) AS pos, len(tokens) AS n_tok
  FROM ctok
)
"""

# per-window exact int sums + the shared IEEE expression trees:
# mu = s/w, sd = sqrt(s2/w - mu*mu), sig = 1/sqrt(s2 - mu*mu*w) (muinvn)
CSTATS_CTE = f"""
cwin AS (
  SELECT doc_id, CAST(pos - {CW} AS INT) AS off,
         CAST(SUM(tok) OVER w AS BIGINT) AS s,
         CAST(SUM(tok * tok) OVER w AS BIGINT) AS s2,
         n_tok
  FROM cpos
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN {CW - 1} PRECEDING AND CURRENT ROW)
  QUALIFY pos >= {CW}
),
cstats AS (
  SELECT doc_id, off, s, s2, s / {CW}.0 AS mu,
         sqrt(s2 / {CW}.0 - (s / {CW}.0) * (s / {CW}.0)) AS sd,
         1.0 / sqrt(s2 - (s / {CW}.0) * (s / {CW}.0) * {CW}) AS sig
  FROM cwin WHERE n_tok >= 2 * {CW}
)
"""

# all same-doc window pairs with |i-j| > CEZ via per-diagonal window sums
CCAND_CTE = f"""
cprod AS (
  SELECT a.doc_id, b.pos - a.pos AS diag, a.pos, a.tok * b.tok AS p
  FROM cpos a JOIN cpos b
    ON a.doc_id = b.doc_id AND b.pos - a.pos > {CEZ}
  WHERE a.n_tok >= 2 * {CW}
),
cqt AS (
  SELECT doc_id, diag, CAST(pos - {CW} AS INT) AS o1,
         CAST(SUM(p) OVER (PARTITION BY doc_id, diag ORDER BY pos
              ROWS BETWEEN {CW - 1} PRECEDING AND CURRENT ROW) AS BIGINT) AS qt,
         COUNT(*) OVER (PARTITION BY doc_id, diag ORDER BY pos
              ROWS BETWEEN {CW - 1} PRECEDING AND CURRENT ROW) AS k
  FROM cprod
  QUALIFY k = {CW} AND pos >= {CW}
),
ccand AS (
  SELECT doc_id, o1 AS off, o1 + diag AS nn, qt FROM cqt
  UNION ALL
  SELECT doc_id, o1 + diag AS off, o1 AS nn, qt FROM cqt
)
"""

_CDIST_CTE = f"""
cdist AS (
  SELECT c.doc_id, c.off, c.nn,
         GREATEST(2 * ({CW} - (c.qt - {CW} * so.mu * sn.mu) / (so.sd * sn.sd)), 0) AS d
  FROM ccand c
  JOIN cstats so ON so.doc_id = c.doc_id AND so.off = c.off
  JOIN cstats sn ON sn.doc_id = c.doc_id AND sn.off = c.nn
  WHERE so.sd > 0 AND sn.sd > 0
)
"""


def _chars(spark, sf_dir):
    from .sources.tokens import chars_from_documents

    return chars_from_documents(spark, sf_dir, MAX_CHARS)


def q_kernel_stomp(spark, sf_dir):
    """STOMP face: exact-int MP + LEFT/RIGHT profiles (src/stomp.cpp:26-184,
    140-153) with the C-round exclusion zone; runs the real STOMP kernel
    per doc and pins |kernel - face| <= 1e-6 per row."""
    from .operators.mp_exact import mp_dist_face

    return mp_dist_face(_chars(spark, sf_dir), CW, kernel="stomp", left_right=True)


SQL_KERNEL_STOMP = f"""
WITH {CHAR_CTE}, {CSTATS_CTE}, {CCAND_CTE}, {_CDIST_CTE},
cbest AS (
  SELECT doc_id, off, nn, d,
         ROW_NUMBER() OVER (PARTITION BY doc_id, off ORDER BY d ASC, nn ASC) AS rn
  FROM cdist
),
lbest AS (
  SELECT doc_id, off, nn, d,
         ROW_NUMBER() OVER (PARTITION BY doc_id, off ORDER BY d ASC, nn ASC) AS rn
  FROM cdist WHERE nn < off
),
rbest AS (
  SELECT doc_id, off, nn, d,
         ROW_NUMBER() OVER (PARTITION BY doc_id, off ORDER BY d ASC, nn ASC) AS rn
  FROM cdist WHERE nn > off
)
SELECT b.doc_id, CAST(b.off AS INT) AS off, sqrt(b.d) AS mp,
       CAST(b.nn AS INT) AS nn_off,
       COALESCE(sqrt(l.d), -1.0) AS lmp, CAST(COALESCE(l.nn, -1) AS INT) AS lnn,
       COALESCE(sqrt(r.d), -1.0) AS rmp, CAST(COALESCE(r.nn, -1) AS INT) AS rnn,
       TRUE AS kernel_close
FROM cbest b
LEFT JOIN lbest l ON l.doc_id = b.doc_id AND l.off = b.off AND l.rn = 1
LEFT JOIN rbest r ON r.doc_id = b.doc_id AND r.off = b.off AND r.rn = 1
WHERE b.rn = 1
"""


def q_kernel_stamp(spark, sf_dir):
    """STAMP face (src/stamp.cpp:26-122): same exact MP semantics (the
    anytime order is result-irrelevant), kernel_close vs the real MASS-v3
    per-window STAMP kernel."""
    from .operators.mp_exact import mp_dist_face

    return mp_dist_face(_chars(spark, sf_dir), CW, kernel="stamp")


def q_kernel_scrimp(spark, sf_dir):
    """SCRIMP++ face (src/scrimp.cpp:26-280): PRE-SCRIMP + diagonal phase
    converge to the exact MP; kernel_close vs the real SCRIMP++ kernel."""
    from .operators.mp_exact import mp_dist_face

    return mp_dist_face(_chars(spark, sf_dir), CW, kernel="scrimp")


SQL_KERNEL_MP_PLAIN = f"""
WITH {CHAR_CTE}, {CSTATS_CTE}, {CCAND_CTE}, {_CDIST_CTE},
cbest AS (
  SELECT doc_id, off, nn, d,
         ROW_NUMBER() OVER (PARTITION BY doc_id, off ORDER BY d ASC, nn ASC) AS rn
  FROM cdist
)
SELECT doc_id, CAST(off AS INT) AS off, sqrt(d) AS mp, CAST(nn AS INT) AS nn_off,
       TRUE AS kernel_close
FROM cbest WHERE rn = 1
"""


def q_kernel_mpx(spark, sf_dir):
    """MPX face (src/mpx.cpp:880-996): Pearson-space max with MPX's +1
    exclusion, clip-at-1, ed = sqrt(2w(1-corr)); kernel_close vs the real
    (bit-exact-vs-reference) MPX kernel."""
    from .operators.mp_exact import mp_pearson_face

    return mp_pearson_face(_chars(spark, sf_dir), CW)


SQL_KERNEL_MPX = f"""
WITH {CHAR_CTE}, {CSTATS_CTE}, {CCAND_CTE},
ccorr AS (
  SELECT c.doc_id, c.off, c.nn,
         (c.qt - {CW} * so.mu * sn.mu) * so.sig * sn.sig AS corr
  FROM ccand c
  JOIN cstats so ON so.doc_id = c.doc_id AND so.off = c.off
  JOIN cstats sn ON sn.doc_id = c.doc_id AND sn.off = c.nn
  WHERE so.sd > 0 AND sn.sd > 0
),
cbest AS (
  SELECT doc_id, off, nn, corr,
         ROW_NUMBER() OVER (PARTITION BY doc_id, off ORDER BY corr DESC, nn ASC) AS rn
  FROM ccorr
)
SELECT doc_id, CAST(off AS INT) AS off,
       sqrt({2 * CW} * (1.0 - CASE WHEN corr > 1 THEN 1.0 ELSE corr END)) AS mp,
       CAST(nn AS INT) AS nn_off, TRUE AS kernel_close
FROM cbest WHERE rn = 1
"""


def q_kernel_mass(spark, sf_dir):
    """MASS v2/v3 face (src/mass.cpp:93-225): z-norm distance profile of
    the window at offset 0, exact-int dot products; kernel_close vs the
    real chunked-FFT MASS v3."""
    from .operators.mp_exact import mass_face

    return mass_face(_chars(spark, sf_dir), CW, kind="normalized")


SQL_KERNEL_MASS = f"""
WITH {CHAR_CTE}, {CSTATS_CTE},
prod AS (
  SELECT a.doc_id, b.pos - a.pos AS shift, a.tok * b.tok AS p
  FROM cpos a JOIN cpos b
    ON a.doc_id = b.doc_id AND a.pos <= {CW} AND b.pos - a.pos >= 0
  WHERE b.pos - a.pos <= b.n_tok - {CW} AND a.n_tok >= 2 * {CW}
),
qt AS (SELECT doc_id, shift AS off, CAST(SUM(p) AS BIGINT) AS qt
       FROM prod GROUP BY 1, 2 HAVING COUNT(*) = {CW})
SELECT q.doc_id, CAST(q.off AS INT) AS off,
       GREATEST(2 * ({CW} - (q.qt - {CW} * sq.mu * sd.mu) / (sq.sd * sd.sd)), 0) AS dist,
       TRUE AS kernel_close
FROM qt q
JOIN cstats sq ON sq.doc_id = q.doc_id AND sq.off = 0
JOIN cstats sd ON sd.doc_id = q.doc_id AND sd.off = q.off
WHERE sq.sd > 0 AND sd.sd > 0
"""


def q_kernel_mass_abs(spark, sf_dir):
    """MASS absolute face (src/mass.cpp:64-90): un-normalized squared ED
    sumx2 - 2*QT + sumy2 — every term an exact int64; kernel_close vs the
    real FFT mass_absolute."""
    from .operators.mp_exact import mass_face

    return mass_face(_chars(spark, sf_dir), CW, kind="absolute", tol=1e-4)


SQL_KERNEL_MASS_ABS = f"""
WITH {CHAR_CTE}, {CSTATS_CTE},
prod AS (
  SELECT a.doc_id, b.pos - a.pos AS shift, a.tok * b.tok AS p
  FROM cpos a JOIN cpos b
    ON a.doc_id = b.doc_id AND a.pos <= {CW} AND b.pos - a.pos >= 0
  WHERE b.pos - a.pos <= b.n_tok - {CW} AND a.n_tok >= 2 * {CW}
),
qt AS (SELECT doc_id, shift AS off, CAST(SUM(p) AS BIGINT) AS qt
       FROM prod GROUP BY 1, 2 HAVING COUNT(*) = {CW})
SELECT q.doc_id, CAST(q.off AS INT) AS off,
       CAST(q0.s2 + so.s2 - 2 * q.qt AS DOUBLE) AS dist,
       TRUE AS kernel_close
FROM qt q
JOIN cstats q0 ON q0.doc_id = q.doc_id AND q0.off = 0
JOIN cstats so ON so.doc_id = q.doc_id AND so.off = q.off
"""


def q_kernel_mass_weighted(spark, sf_dir):
    """MASS weighted face (src/mass.cpp:26-61,476-532): the reference's
    weighted z-norm distance algebra rebuilt from exact dyadic-weighted
    integer sums (weights 1 + (k%4)/4); kernel_close vs the real FFT
    mass_weighted."""
    from .operators.mp_exact import mass_face

    return mass_face(_chars(spark, sf_dir), CW, kind="weighted", tol=1e-5)


# sum of the dyadic weights 1 + (k%4)*0.25 over k=0..63: 64 + 16*1.5 = 88
_SUMW = "88.0"

SQL_KERNEL_MASS_WEIGHTED = f"""
WITH {CHAR_CTE}, {CSTATS_CTE},
qscal AS (
  SELECT doc_id,
         SUM((1 + ((pos - 1) % 4) * 0.25) * tok) AS swq,
         SUM((1 + ((pos - 1) % 4) * 0.25) * (tok * tok)) AS swq2
  FROM cpos WHERE pos <= {CW} AND n_tok >= 2 * {CW} GROUP BY 1
),
wprod AS (
  SELECT a.doc_id, b.pos - a.pos AS shift,
         1 + ((a.pos - 1) % 4) * 0.25 AS wt, a.tok AS qtok, b.tok AS dtok
  FROM cpos a JOIN cpos b
    ON a.doc_id = b.doc_id AND a.pos <= {CW} AND b.pos - a.pos >= 0
  WHERE b.pos - a.pos <= b.n_tok - {CW} AND a.n_tok >= 2 * {CW}
),
wsums AS (
  SELECT doc_id, shift AS off,
         SUM(wt * (qtok * dtok)) AS swqx,
         SUM(wt * dtok) AS swx,
         SUM(wt * (dtok * dtok)) AS swx2
  FROM wprod GROUP BY 1, 2 HAVING COUNT(*) = {CW}
),
wcalc AS (
  SELECT s.doc_id, s.off,
         (qs.swq - q0.mu * {_SUMW}) / q0.sd AS sumwy,
         (qs.swq2 - 2 * q0.mu * qs.swq + q0.mu * q0.mu * {_SUMW}) / (q0.sd * q0.sd) AS sumwy2,
         (s.swx2 - 2 * s.swx * st.mu + {_SUMW} * (st.mu * st.mu)) / (st.sd * st.sd) AS data_pre,
         (s.swqx - q0.mu * s.swx) / q0.sd AS z,
         st.mu AS mu, st.sd AS sd
  FROM wsums s
  JOIN cstats st ON st.doc_id = s.doc_id AND st.off = s.off
  JOIN cstats q0 ON q0.doc_id = s.doc_id AND q0.off = 0
  JOIN qscal qs ON qs.doc_id = s.doc_id
  WHERE q0.sd > 0 AND st.sd > 0
)
SELECT doc_id, CAST(off AS INT) AS off,
       CASE WHEN data_pre - 2 * (z - sumwy * mu) / sd + sumwy2 < 0 THEN 0
            ELSE data_pre - 2 * (z - sumwy * mu) / sd + sumwy2 END AS dist,
       TRUE AS kernel_close
FROM wcalc
"""




def q_normalize_params(spark, sf_dir):
    """normalize() rescale factors per doc (src/mathtools.cpp:131-143):
    a = (max_lim - min_lim)/(max - min), b = max_lim - a*max, plus how many
    positions clip — the whole affine map, verified without exploding."""
    t = _tok(spark, sf_dir)
    mx = F.array_max("tokens").cast("double")
    mn = F.array_min("tokens").cast("double")
    a = (F.lit(5.0) - F.lit(1.0)) / (mx - mn)
    bb = F.lit(5.0) - a * mx
    return t.select(
        "doc_id",
        a.alias("a"),
        bb.alias("b"),
        F.size(F.filter(F.col("tokens"), lambda x: a * x.cast("double") + bb > 5.0)).alias("n_clip_hi"),
    )


SQL_NORMALIZE_PARAMS = f"""
WITH {TOK_CTE},
g AS (
  SELECT doc_id, CAST(MAX(tok) AS DOUBLE) AS mx, CAST(MIN(tok) AS DOUBLE) AS mn,
         COUNT(*) AS n
  FROM pos GROUP BY 1
),
p AS (
  SELECT doc_id, (5.0 - 1.0) / (mx - mn) AS a, 5.0 - ((5.0 - 1.0) / (mx - mn)) * mx AS b
  FROM g
)
SELECT p.doc_id, p.a, p.b,
       CAST(COUNT(*) FILTER (WHERE p.a * pos.tok + p.b > 5.0) AS INT) AS n_clip_hi
FROM p JOIN pos ON pos.doc_id = p.doc_id
GROUP BY 1, 2, 3
"""


def q_ed_corr(spark, sf_dir):
    """ed_corr/corr_ed conversion pair (src/mathtools.cpp:191-204) applied
    to the matrix-profile distances; roundtrip must return the input where
    corr <= 1."""
    mp = matrix_profile_exact(_tok(spark, sf_dir), W, ez=0.5)
    corr = (F.lit(2 * W) - F.col("mp") * F.col("mp")) / F.lit(2 * W)
    back = F.sqrt(F.lit(2 * W) * (F.lit(1.0) - F.when(corr > 1, F.lit(1.0)).otherwise(corr)))
    return mp.select("doc_id", "off", corr.alias("corr"), back.alias("ed_back"))


SQL_ED_CORR = (
    SQL_MATRIX_PROFILE_W8.rstrip()
    .replace("SELECT doc_id, CAST(off AS INT) AS off, sqrt(d) AS mp, CAST(nn AS INT) AS nn_off\nFROM best WHERE rn = 1",
             """SELECT doc_id, CAST(off AS INT) AS off,
       (16 - sqrt(d) * sqrt(d)) / 16 AS corr,
       sqrt(16 * (1.0 - CASE WHEN (16 - sqrt(d) * sqrt(d)) / 16 > 1
                             THEN 1.0 ELSE (16 - sqrt(d) * sqrt(d)) / 16 END)) AS ed_back
FROM best WHERE rn = 1""")
)


_BSPLIT_SCHEMA = T.StructType(
    [T.StructField("pos", T.IntegerType()), T.StructField("idx", T.IntegerType())]
)


def q_binary_split(spark, sf_dir):
    """binary_split(200) anytime visit order (src/mathtools.cpp:146-188):
    BFS midpoint splitting of 1..n from a FIFO queue. The oracle replays
    the queue as a recursive CTE ordered by (depth, path) — FIFO pop order
    == level order with lo-half before hi-half."""
    from .kernels import binary_split

    order = binary_split(200)
    return spark.createDataFrame(
        [(int(i), int(v)) for i, v in enumerate(order)], schema=_BSPLIT_SCHEMA
    )


SQL_BINARY_SPLIT = """
WITH RECURSIVE t AS (
  SELECT 2 AS lb, 200 AS ub, 0 AS depth, '' AS path
  UNION ALL
  SELECT CASE WHEN c.side = 0 THEN t.lb ELSE (t.lb + t.ub) // 2 + 1 END,
         CASE WHEN c.side = 0 THEN (t.lb + t.ub) // 2 - 1 ELSE t.ub END,
         t.depth + 1, t.path || CAST(c.side AS VARCHAR)
  FROM t, (VALUES (0), (1)) c(side)
  WHERE (c.side = 0 AND t.lb < (t.lb + t.ub) // 2)
     OR (c.side = 1 AND t.ub > (t.lb + t.ub) // 2)
),
ord_ AS (
  SELECT (lb + ub) // 2 AS idx,
         ROW_NUMBER() OVER (ORDER BY depth, path) AS rn
  FROM t
)
SELECT CAST(0 AS INT) AS pos, CAST(1 AS INT) AS idx
UNION ALL
SELECT CAST(rn AS INT) AS pos, CAST(idx AS INT) AS idx FROM ord_
"""


# paired-doc CTEs: even doc id = A side (negative), odd = B side; both
# sides long enough for the window (same filter as the Spark faces)
def _pair_ctes(w: int) -> str:
    return f"""
apos AS (
  SELECT CAST(doc_id AS BIGINT) AS pa, tok, pos, n_tok
  FROM cpos WHERE CAST(doc_id AS BIGINT) % 2 = 0
),
bpos AS (
  SELECT CAST(doc_id AS BIGINT) - 1 AS pa, tok, pos, n_tok
  FROM cpos WHERE CAST(doc_id AS BIGINT) % 2 = 1
),
pok AS (
  SELECT a.pa FROM (SELECT DISTINCT pa, n_tok FROM apos) a
  JOIN (SELECT DISTINCT pa, n_tok FROM bpos) b USING (pa)
  WHERE a.n_tok >= 2 * {w} AND b.n_tok >= 2 * {w}
),
astat AS (
  SELECT pa, CAST(pos - {w} AS INT) AS off,
         CAST(SUM(tok) OVER v AS BIGINT) AS s,
         CAST(SUM(tok * tok) OVER v AS BIGINT) AS s2
  FROM apos WINDOW v AS (PARTITION BY pa ORDER BY pos
             ROWS BETWEEN {w - 1} PRECEDING AND CURRENT ROW)
  QUALIFY pos >= {w}
),
asig AS (
  SELECT pa, off, s / {w}.0 AS mu,
         sqrt(s2 / {w}.0 - (s / {w}.0) * (s / {w}.0)) AS sd,
         1.0 / sqrt(s2 - (s / {w}.0) * (s / {w}.0) * {w}) AS sig
  FROM astat
),
bstat AS (
  SELECT pa, CAST(pos - {w} AS INT) AS off,
         CAST(SUM(tok) OVER v AS BIGINT) AS s,
         CAST(SUM(tok * tok) OVER v AS BIGINT) AS s2
  FROM bpos WINDOW v AS (PARTITION BY pa ORDER BY pos
             ROWS BETWEEN {w - 1} PRECEDING AND CURRENT ROW)
  QUALIFY pos >= {w}
),
bsig AS (
  SELECT pa, off, s / {w}.0 AS mu,
         sqrt(s2 / {w}.0 - (s / {w}.0) * (s / {w}.0)) AS sd,
         1.0 / sqrt(s2 - (s / {w}.0) * (s / {w}.0) * {w}) AS sig
  FROM bstat
)
"""


def q_kernel_mpxab(spark, sf_dir):
    """MPX AB-join face (src/mpx.cpp:999-1174) between consecutive docs:
    A-side profile = max Pearson over every B window with the sig>60
    wild-sig guard; kernel_close vs the real MPXAB kernel."""
    from .operators.mp_exact import mpxab_face

    return mpxab_face(_chars(spark, sf_dir), CW)


# cross products A x B per (pair, diag = b.pos - a.pos), windowed over a.pos
SQL_KERNEL_MPXAB = f"""
WITH {CHAR_CTE}, {_pair_ctes(CW)},
abprod AS (
  SELECT a.pa, b.pos - a.pos AS diag, a.pos, a.tok * b.tok AS p
  FROM apos a JOIN bpos b ON a.pa = b.pa
  WHERE a.pa IN (SELECT pa FROM pok)
),
abqt AS (
  SELECT pa, diag, CAST(pos - {CW} AS INT) AS off,
         CAST(SUM(p) OVER (PARTITION BY pa, diag ORDER BY pos
              ROWS BETWEEN {CW - 1} PRECEDING AND CURRENT ROW) AS BIGINT) AS qt,
         COUNT(*) OVER (PARTITION BY pa, diag ORDER BY pos
              ROWS BETWEEN {CW - 1} PRECEDING AND CURRENT ROW) AS k
  FROM abprod
  QUALIFY k = {CW} AND pos >= {CW}
),
abcorr AS (
  SELECT q.pa, q.off, q.off + q.diag AS nn,
         (q.qt - {CW} * sa.mu * sb.mu) * sa.sig * sb.sig AS corr
  FROM abqt q
  JOIN asig sa ON sa.pa = q.pa AND sa.off = q.off
  JOIN bsig sb ON sb.pa = q.pa AND sb.off = q.off + q.diag
  WHERE sa.sig <= 60 AND sb.sig <= 60
),
abbest AS (
  SELECT pa, off, nn, corr,
         ROW_NUMBER() OVER (PARTITION BY pa, off ORDER BY corr DESC, nn ASC) AS rn
  FROM abcorr
)
SELECT CAST(pa AS VARCHAR) || '|' || CAST(pa + 1 AS VARCHAR) AS pair_id,
       CAST(off AS INT) AS off,
       sqrt({2 * CW} * (1.0 - CASE WHEN corr > 1 THEN 1.0 ELSE corr END)) AS mp_a,
       CAST(nn + 1 AS INT) AS pi_a, TRUE AS kernel_close
FROM abbest WHERE rn = 1
"""


def q_kernel_contrast(spark, sf_dir):
    """Contrast-profile face (src/contrast.cpp:22-88) at w=50 between
    consecutive docs (even = negative, odd = positive); kernel_close vs the
    real contrast kernel (MPX + MPXAB composite)."""
    from .operators.mp_exact import contrast_face

    return contrast_face(_chars(spark, sf_dir), 50)


_CPW = 50
_CPEX = 25  # self-join diag > 25 == MPX exclusion 26 at w=50

SQL_KERNEL_CONTRAST = f"""
WITH {CHAR_CTE}, {_pair_ctes(_CPW)},
selfprod AS (
  SELECT a.pa, b.pos - a.pos AS diag, a.pos, a.tok * b.tok AS p
  FROM bpos a JOIN bpos b ON a.pa = b.pa AND b.pos - a.pos > {_CPEX}
  WHERE a.pa IN (SELECT pa FROM pok)
),
selfqt AS (
  SELECT pa, diag, CAST(pos - {_CPW} AS INT) AS o1,
         CAST(SUM(p) OVER (PARTITION BY pa, diag ORDER BY pos
              ROWS BETWEEN {_CPW - 1} PRECEDING AND CURRENT ROW) AS BIGINT) AS qt,
         COUNT(*) OVER (PARTITION BY pa, diag ORDER BY pos
              ROWS BETWEEN {_CPW - 1} PRECEDING AND CURRENT ROW) AS k
  FROM selfprod
  QUALIFY k = {_CPW} AND pos >= {_CPW}
),
selfcand AS (
  SELECT pa, o1 AS off, o1 + diag AS nn, qt FROM selfqt
  UNION ALL
  SELECT pa, o1 + diag AS off, o1 AS nn, qt FROM selfqt
),
aa AS (
  SELECT c.pa, c.off,
         GREATEST(COALESCE(MAX((c.qt - {_CPW} * so.mu * sn.mu) * so.sig * sn.sig), -1.0), -1.0) AS corr
  FROM selfcand c
  JOIN bsig so ON so.pa = c.pa AND so.off = c.off
  JOIN bsig sn ON sn.pa = c.pa AND sn.off = c.nn
  WHERE sn.sd > 0
  GROUP BY 1, 2
),
abprod AS (
  SELECT p2.pa, n2.pos - p2.pos AS diag, p2.pos, p2.tok * n2.tok AS p
  FROM bpos p2 JOIN apos n2 ON p2.pa = n2.pa
  WHERE p2.pa IN (SELECT pa FROM pok)
),
abqt AS (
  SELECT pa, diag, CAST(pos - {_CPW} AS INT) AS off,
         CAST(SUM(p) OVER (PARTITION BY pa, diag ORDER BY pos
              ROWS BETWEEN {_CPW - 1} PRECEDING AND CURRENT ROW) AS BIGINT) AS qt,
         COUNT(*) OVER (PARTITION BY pa, diag ORDER BY pos
              ROWS BETWEEN {_CPW - 1} PRECEDING AND CURRENT ROW) AS k
  FROM abprod
  QUALIFY k = {_CPW} AND pos >= {_CPW}
),
ab AS (
  SELECT q.pa, q.off,
         GREATEST(COALESCE(MAX((q.qt - {_CPW} * sp.mu * sn.mu) * sp.sig * sn.sig), -1.0), -1.0) AS corr
  FROM abqt q
  JOIN bsig sp ON sp.pa = q.pa AND sp.off = q.off
  JOIN asig sn ON sn.pa = q.pa AND sn.off = q.off + q.diag
  WHERE sp.sig <= 60 AND sn.sig <= 60
  GROUP BY 1, 2
),
eds AS (
  SELECT b0.pa, b0.off,
         sqrt({2 * _CPW} * (1.0 - CASE WHEN ab.corr > 1 THEN 1.0
                                       ELSE COALESCE(ab.corr, -1.0) END)) AS ed_ab,
         sqrt({2 * _CPW} * (1.0 - CASE WHEN aa.corr > 1 THEN 1.0
                                       ELSE COALESCE(aa.corr, -1.0) END)) AS ed_aa
  FROM (SELECT pa, off, sd FROM bsig WHERE pa IN (SELECT pa FROM pok)) b0
  LEFT JOIN aa ON aa.pa = b0.pa AND aa.off = b0.off
  LEFT JOIN ab ON ab.pa = b0.pa AND ab.off = b0.off
  WHERE b0.sd > 0
),
cps AS (
  SELECT pa, off,
         CASE WHEN ((CASE WHEN ed_ab > 10 THEN 10 ELSE ed_ab END)
                  - (CASE WHEN ed_aa > 10 THEN 10 ELSE ed_aa END)) / 10.0 < 0
              THEN 0
              ELSE ((CASE WHEN ed_ab > 10 THEN 10 ELSE ed_ab END)
                  - (CASE WHEN ed_aa > 10 THEN 10 ELSE ed_aa END)) / 10.0 END AS cp
  FROM eds
),
plato AS (
  SELECT pa, off, cp,
         ROW_NUMBER() OVER (PARTITION BY pa ORDER BY cp DESC, off ASC) AS rn
  FROM cps
)
SELECT CAST(c.pa AS VARCHAR) || '|' || CAST(c.pa + 1 AS VARCHAR) AS pair_id,
       CAST(c.off AS INT) AS off, c.cp,
       CAST(p.off + 1 AS INT) AS plato_idx, TRUE AS kernel_close
FROM cps c JOIN plato p ON p.pa = c.pa AND p.rn = 1
"""


def q_kernel_mov_exp(spark, sf_dir):
    """The REAL weighted/fading exponential window kernels
    (src/windowfunc.cpp:286-450) on char tokens; the oracle replays the
    identical sequential recurrence in a recursive CTE (alpha embedded as a
    full-precision literal), verifying the production kernel itself
    bit-for-bit."""
    from .operators.mp_exact import mov_exp_face

    return mov_exp_face(_chars(spark, sf_dir), CW, eps=0.90)


def _sql_mov_exp() -> str:
    alpha = 0.90 ** (1.0 / CW)     # same expression the kernel evaluates
    aw1 = alpha ** (CW - 1)
    A, A1 = repr(alpha), repr(aw1)
    return f"""
WITH RECURSIVE {CHAR_CTE},
cx AS (SELECT doc_id, pos, CAST(tok AS DOUBLE) AS x FROM cpos),
r AS (
  SELECT doc_id, pos, x AS sw, x * x AS s2w, CAST(1.0 AS DOUBLE) AS cw,
         x AS sf, x * x AS s2f, CAST(1.0 AS DOUBLE) AS cf
  FROM cx WHERE pos = 1
  UNION ALL
  SELECT r.doc_id, r.pos + 1,
         CASE WHEN r.pos + 1 > {CW}
              THEN (r.sw * {A} + xn.x) - (xo.x * {A1})
              ELSE r.sw * {A} + xn.x END,
         CASE WHEN r.pos + 1 > {CW}
              THEN (r.s2w * {A} + xn.x * xn.x) - ((xo.x * xo.x) * {A1})
              ELSE r.s2w * {A} + xn.x * xn.x END,
         CASE WHEN r.pos + 1 > {CW}
              THEN (r.cw * {A} + 1) - {A1}
              ELSE r.cw * {A} + 1 END,
         r.sf * {A} + xn.x,
         r.s2f * {A} + xn.x * xn.x,
         r.cf * {A} + 1
  FROM r
  JOIN cx xn ON xn.doc_id = r.doc_id AND xn.pos = r.pos + 1
  LEFT JOIN cx xo ON xo.doc_id = r.doc_id AND xo.pos = r.pos + 1 - {CW}
)
SELECT doc_id, CAST(pos - {CW} AS INT) AS off,
       sw AS sum_weighted, sf AS sum_fading,
       sw / cw AS mean_weighted, sf / cf AS mean_fading,
       s2w / cw - ((sw * sw) / (cw * cw)) AS var_weighted,
       s2f / cf - ((sf * sf) / (cf * cf)) AS var_fading
FROM r WHERE pos >= {CW}
"""


SQL_KERNEL_MOV_EXP = _sql_mov_exp()




def q_events_rollup(spark, sf_dir):
    """Event-time tumbling-window rollup over the events stream table —
    the same tier semantics applied to wall-clock time: per (user_id, 1h
    bucket): count / exact cents sum / min / max. Late-data handling in a
    live pipeline would be watermarked Structured Streaming; the batch
    semantics here are identical."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    cents = F.round(F.col("value") * 100, 0).cast("long")
    return (
        ev.withColumn("bucket", F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH"))
        .groupBy("user_id", "bucket")
        .agg(
            F.count("*").alias("cnt"),
            F.sum(cents).alias("sum_cents"),
            F.min(cents).alias("min_cents"),
            F.max(cents).alias("max_cents"),
            F.countDistinct("event_type").alias("n_types"),
        )
    )


SQL_EVENTS_ROLLUP = """
SELECT user_id,
       strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS bucket,
       CAST(COUNT(*) AS BIGINT) AS cnt,
       CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS sum_cents,
       CAST(MIN(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS min_cents,
       CAST(MAX(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS max_cents,
       CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types
FROM events GROUP BY 1, 2
"""




def q_events_retention(spark, sf_dir):
    """Time-domain retention: the SAME retention_policy operator serving
    wall-clock series — per-user hourly event rollups inside a 48h
    horizon, daily rollups beyond it (cutoff aligned to day boundaries).
    Bucket unit = hours since the epoch anchor, so fine_size=1 and
    coarse_size=24; watermark = each user's own high-water hour."""
    from .operators.rollup import retention_policy

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    cents = F.round(F.col("value") * 100, 0).cast("long")
    hour = F.expr(
        "timestampdiff(HOUR, TIMESTAMP_NTZ '2024-01-01 00:00:00',"
        " date_trunc('hour', ts))"
    ).cast("long")
    fine = (
        ev.withColumn("bucket", hour)
        .groupBy(F.col("user_id").cast("string").alias("doc_id"), "bucket")
        .agg(
            F.count("*").alias("cnt"),
            F.sum(cents).alias("sum_cents"),
            F.min(cents).alias("min_cents"),
            F.max(cents).alias("max_cents"),
        )
        .withColumn("source", F.lit("events"))
        .withColumn("tier", F.lit("1h"))
    )
    _face_caches_clear()
    fine = _face_cache(fine)
    coarse = (
        # floor (not cast-truncate) so pre-anchor hours (negative buckets)
        # land in the right day bucket, matching the oracle's FLOOR — the
        # seam math still additionally assumes events >= the epoch anchor
        # (the fine hour bucket itself truncates toward zero in both
        # engines), which holds for the generated events table.
        fine.groupBy(
            "doc_id", "source",
            F.floor(F.col("bucket") / 24).cast("long").alias("bucket"),
        )
        .agg(
            F.sum("cnt").alias("cnt"),
            F.sum("sum_cents").alias("sum_cents"),
            F.min("min_cents").alias("min_cents"),
            F.max("max_cents").alias("max_cents"),
        )
        .withColumn("tier", F.lit("1d"))
    )
    served = retention_policy(fine, coarse, 1, 24, horizon=48)
    return served.select(
        "doc_id", "tier", "bucket", "cnt", "sum_cents",
        "min_cents", "max_cents",
    )


SQL_EVENTS_RETENTION = """
WITH f AS (
  SELECT CAST(user_id AS VARCHAR) AS doc_id,
         CAST(date_diff('hour', TIMESTAMP '2024-01-01 00:00:00',
                        date_trunc('hour', ts)) AS BIGINT) AS bucket,
         CAST(COUNT(*) AS BIGINT) AS cnt,
         CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS sum_cents,
         CAST(MIN(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS min_cents,
         CAST(MAX(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS max_cents
  FROM events GROUP BY 1, 2
),
c AS (
  SELECT doc_id, CAST(FLOOR(bucket / 24.0) AS BIGINT) AS bucket,
         CAST(SUM(cnt) AS BIGINT) AS cnt,
         CAST(SUM(sum_cents) AS BIGINT) AS sum_cents,
         CAST(MIN(min_cents) AS BIGINT) AS min_cents,
         CAST(MAX(max_cents) AS BIGINT) AS max_cents
  FROM f GROUP BY 1, 2
),
wm AS (SELECT doc_id, (MAX(bucket) + 1) * 1 AS wm FROM f GROUP BY 1),
cut AS (
  SELECT doc_id, CAST(FLOOR((wm - 48) / 24.0) * 24 AS BIGINT) AS cutoff
  FROM wm
)
SELECT f.doc_id, '1h' AS tier, f.bucket, cnt, sum_cents, min_cents, max_cents
FROM f JOIN cut ON f.doc_id = cut.doc_id
WHERE (f.bucket + 1) * 1 > cutoff
UNION ALL
SELECT c.doc_id, '1d' AS tier, c.bucket, cnt, sum_cents, min_cents, max_cents
FROM c JOIN cut ON c.doc_id = cut.doc_id
WHERE (c.bucket + 1) * 24 <= cutoff
"""


def q_tier_blobs(spark, sf_dir):
    """Gorilla/DoD tier blobs, verified THROUGH the codecs: rollup ->
    encode -> decode -> per-doc aggregates of the decoded series must equal
    the oracle's direct SQL aggregates (encode/decode cancels exactly —
    Gorilla round-trips every bit pattern)."""
    from .codecs import dod_decode, gorilla_decode
    from .operators.rollup import tier_blobs

    roll = tier_rollup(_tok(spark, sf_dir), {"1m": 60})
    blobs = tier_blobs(roll)

    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.StringType(), False),
            T.StructField("tier", T.StringType(), False),
            T.StructField("n_buckets", T.IntegerType(), False),
            T.StructField("b_min", T.LongType(), False),
            T.StructField("b_max", T.LongType(), False),
            T.StructField("cnt_sum", T.LongType(), False),
            T.StructField("mean_min", T.DoubleType(), False),
            T.StructField("mean_max", T.DoubleType(), False),
        ]
    )

    def decode(batches):
        for b in batches:
            rows = []
            for r in b.itertuples(index=False):
                buckets = dod_decode(bytes(r.buckets_blob))
                cnts = dod_decode(bytes(r.cnt_blob))
                means = gorilla_decode(bytes(r.mean_blob))
                rows.append(
                    (r.doc_id, r.tier, int(r.n_buckets),
                     int(buckets.min()), int(buckets.max()), int(cnts.sum()),
                     float(np.min(means)), float(np.max(means)))
                )
            yield pd.DataFrame(rows, columns=[f.name for f in out_schema.fields])

    return blobs.mapInPandas(decode, schema=out_schema)


SQL_TIER_BLOBS = f"""
WITH {TOK_CTE},
r AS (
  SELECT doc_id, (pos - 1) // 60 AS bucket,
         CAST(COUNT(*) AS BIGINT) AS cnt, CAST(SUM(tok) AS BIGINT) AS sum_v
  FROM pos GROUP BY 1, 2
)
SELECT doc_id, '1m' AS tier, CAST(COUNT(*) AS INT) AS n_buckets,
       CAST(MIN(bucket) AS BIGINT) AS b_min, CAST(MAX(bucket) AS BIGINT) AS b_max,
       CAST(SUM(cnt) AS BIGINT) AS cnt_sum,
       MIN(sum_v / CAST(cnt AS DOUBLE)) AS mean_min,
       MAX(sum_v / CAST(cnt AS DOUBLE)) AS mean_max
FROM r GROUP BY 1
"""


def q_image_features(spark, sf_dir):
    """Multimodal image pipeline, oracle-verified end to end: media table
    derived from documents (payload = text bytes), closed-form tile
    decoder, luminance stats from exact integer sums."""
    from .operators.multimodal import image_features_exact, media_from_documents

    return image_features_exact(media_from_documents(spark, sf_dir))


SQL_IMAGE_FEATURES = """
WITH img AS (
  SELECT doc_id, text, length(text) AS L,
         8 + doc_id % 8 AS w, 8 + doc_id % 5 AS h
  FROM documents WHERE doc_id % 2 = 0
),
tp AS (
  SELECT doc_id, h * w AS npix,
         UNNEST([
             ascii(substr(text, CAST((3 * p) % L AS INT) + 1, 1))
           + ascii(substr(text, CAST((3 * p + 1) % L AS INT) + 1, 1))
           + ascii(substr(text, CAST((3 * p + 2) % L AS INT) + 1, 1))
           FOR p IN range(0, h * w)]) AS t
  FROM img
),
agg AS (
  SELECT doc_id, npix, CAST(SUM(t) AS BIGINT) AS s,
         CAST(SUM(t * t) AS BIGINT) AS s2
  FROM tp GROUP BY 1, 2
)
SELECT 'img_' || CAST(doc_id AS VARCHAR) AS media_id,
       CAST(npix AS INT) AS n_pix,
       s / (npix * 3.0) AS mean_lum,
       sqrt((s2 / 9.0) / npix - (s / (npix * 3.0)) * (s / (npix * 3.0))) AS std_lum
FROM agg
"""


def q_audio_features(spark, sf_dir):
    """Multimodal audio pipeline, oracle-verified end to end: tile-decoded
    waveform (b-128)/128, rms/zcr from exact integer sums."""
    from .operators.multimodal import audio_features_exact, media_from_documents

    return audio_features_exact(media_from_documents(spark, sf_dir))


SQL_AUDIO_FEATURES = """
WITH aud AS (
  SELECT doc_id, text, length(text) AS L,
         1600 + (length(text) * 7) % 8000 AS n
  FROM documents WHERE doc_id % 2 = 1
),
smp AS (
  SELECT doc_id, n,
         UNNEST([ascii(substr(text, CAST(k % L AS INT) + 1, 1)) - 128
                 FOR k IN range(0, n)]) AS d,
         UNNEST(range(0, n)) AS k
  FROM aud
),
flg AS (
  SELECT doc_id, n, d,
         CASE WHEN d * LAG(d) OVER (PARTITION BY doc_id ORDER BY k) < 0
              THEN 1 ELSE 0 END AS c
  FROM smp
),
agg AS (
  SELECT doc_id, n, CAST(SUM(d * d) AS BIGINT) AS ss,
         CAST(SUM(c) AS BIGINT) AS zc
  FROM flg GROUP BY 1, 2
)
SELECT 'aud_' || CAST(doc_id AS VARCHAR) AS media_id,
       CAST(n AS INT) AS n_samples,
       n / 16000.0 AS duration_sec,
       sqrt((ss / 16384.0) / n) AS rms,
       zc / (n - 1.0) AS zcr
FROM agg
"""


def q_srp_buckets(spark, sf_dir):
    """ANN scale path: sign-random-projection LSH bucket ids. Hyperplane
    signs are md5-derived closed-form constants, embedded as literals in
    the oracle; projections are exact int64 sums, so bucket ids match
    bitwise."""
    from .operators.similarity import srp_bucketed_candidates

    return srp_bucketed_candidates(_emb(spark, sf_dir), n_planes=8)


def _srp_bucket_sql_expr(n_planes: int) -> str:
    from .operators.similarity import srp_signs

    signs = srp_signs(n_planes)
    terms = []
    for p in range(n_planes):
        arr = "[" + ", ".join(str(int(s)) for s in signs[p]) + "]"
        terms.append(
            f"(CASE WHEN list_sum(list_transform(list_zip(q, {arr}),"
            f" t -> t[1] * t[2])) > 0 THEN 1 ELSE 0 END) * {1 << p}"
        )
    return " + ".join(terms)


_SQL_QV_CTE = """
qv AS (
  SELECT CAST(vec_id AS BIGINT) AS vec_id,
         [CAST(round(CAST(e AS DOUBLE) * 10000, 0) AS BIGINT) FOR e IN embedding] AS q
  FROM embeddings
),
nq AS (SELECT vec_id, q, CAST(list_sum([x * x FOR x IN q]) AS BIGINT) AS norm2 FROM qv)
"""

SQL_SRP_BUCKETS = f"""
WITH {_SQL_QV_CTE}
SELECT vec_id, CAST({{expr}} AS BIGINT) AS bucket FROM nq
""".replace("{expr}", _srp_bucket_sql_expr(8))


def q_srp_pairs(spark, sf_dir):
    """The SRP candidate JOIN end-to-end: per-bucket self equi-join + exact
    quantized cosine >= threshold — the sub-quadratic 100-TB near-dup path
    (replaces the all-pairs block join when n is too large for n^2)."""
    from .operators.similarity import srp_pairs_above

    return srp_pairs_above(_emb(spark, sf_dir), threshold=0.2, n_planes=4)


SQL_SRP_PAIRS = f"""
WITH {_SQL_QV_CTE},
bk AS (SELECT vec_id, q, norm2, CAST({{expr}} AS BIGINT) AS bucket FROM nq)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       CAST(list_sum(list_transform(list_zip(a.q, b.q), t -> t[1] * t[2])) AS BIGINT)
         / (sqrt(a.norm2) * sqrt(b.norm2)) AS cos
FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE CAST(list_sum(list_transform(list_zip(a.q, b.q), t -> t[1] * t[2])) AS BIGINT)
      / (sqrt(a.norm2) * sqrt(b.norm2)) >= 0.2
""".replace("{expr}", _srp_bucket_sql_expr(4))




def q_doc_repetition(spark, sf_dir):
    """Repetition filter signals per doc (the spam/boilerplate gate of a
    text pipeline): total vs distinct word trigrams, repetition ratio
    1 - distinct/total, and the most-repeated trigram's count
    (deterministic tie: lexicographically smallest gram)."""
    from pyspark.sql.window import Window

    docs = _docs(spark, sf_dir)
    words = F.split(F.col("text"), " ")
    grams = F.filter(
        F.transform(
            words,
            lambda x, i: F.when(
                i <= F.size(words) - 3,
                F.concat_ws(" ", x, F.element_at(words, i + 2),
                            F.element_at(words, i + 3)),
            ),
        ),
        lambda g: g.isNotNull(),
    )
    g = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.explode(grams).alias("gram"),
    )
    per_gram = g.groupBy("doc_id", "gram").count()
    rk = Window.partitionBy("doc_id").orderBy(F.col("count").desc(), F.col("gram").asc())
    top = (
        per_gram.withColumn("rn", F.row_number().over(rk))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("count").alias("top_gram_count"))
    )
    agg = per_gram.groupBy("doc_id").agg(
        F.sum("count").alias("n_grams"),
        F.count("*").alias("n_distinct"),
    )
    return agg.join(top, "doc_id").select(
        "doc_id", "n_grams", "n_distinct",
        (F.lit(1.0) - F.col("n_distinct") / F.col("n_grams")).alias("repetition"),
        "top_gram_count",
    )


SQL_DOC_REPETITION = """
WITH w AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, string_split(text, ' ') AS words
  FROM documents
),
g AS (
  SELECT doc_id,
         UNNEST([words[i] || ' ' || words[i+1] || ' ' || words[i+2]
                 FOR i IN range(1, len(words) - 1)]) AS gram
  FROM w
),
pg AS (SELECT doc_id, gram, COUNT(*) AS c FROM g GROUP BY 1, 2),
top AS (
  SELECT doc_id, c AS top_gram_count,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY c DESC, gram ASC) AS rn
  FROM pg
),
agg AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_grams,
         CAST(COUNT(*) AS BIGINT) AS n_distinct
  FROM pg GROUP BY 1
)
SELECT a.doc_id, a.n_grams, a.n_distinct,
       1.0 - a.n_distinct / CAST(a.n_grams AS DOUBLE) AS repetition,
       CAST(t.top_gram_count AS BIGINT) AS top_gram_count
FROM agg a JOIN top t ON t.doc_id = a.doc_id AND t.rn = 1
"""


def q_bigram_commonness(spark, sf_dir):
    """Corpus-level language-model-flavoured signal: per doc, the mean
    CORPUS frequency of its word bigrams (exact integer sums — cliché-
    heavy docs score high, novel text low). Plan: one bigram-count
    aggregate (the small side after aggregation) joined back to the
    exploded doc bigrams — frequency tables broadcast at any corpus size
    once aggregated."""
    docs = _docs(spark, sf_dir)
    words = F.split(F.col("text"), " ")
    bigrams = F.filter(
        F.transform(
            words,
            lambda x, i: F.when(
                i <= F.size(words) - 2,
                F.concat_ws(" ", x, F.element_at(words, i + 2)),
            ),
        ),
        lambda g: g.isNotNull(),
    )
    g = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.explode(bigrams).alias("bg"),
    )
    freq = g.groupBy("bg").agg(F.count("*").alias("cf"))
    return (
        g.join(freq, "bg")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum("cf").alias("cf_sum"),
            (F.sum("cf") / F.count("*")).alias("mean_corpus_freq"),
        )
    )


SQL_BIGRAM_COMMONNESS = """
WITH w AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, string_split(text, ' ') AS words
  FROM documents
),
g AS (
  SELECT doc_id,
         UNNEST([words[i] || ' ' || words[i+1] FOR i IN range(1, len(words))]) AS bg
  FROM w
),
freq AS (SELECT bg, CAST(COUNT(*) AS BIGINT) AS cf FROM g GROUP BY 1)
SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       CAST(SUM(f.cf) AS BIGINT) AS cf_sum,
       SUM(f.cf) / CAST(COUNT(*) AS DOUBLE) AS mean_corpus_freq
FROM g JOIN freq f USING (bg)
GROUP BY 1
"""


def q_corpus_curation(spark, sf_dir):
    """End-to-end curation funnel per source: dedup keep-list (connected
    components over MinHash-LSH pairs) x quality gate (stop-word/vowel
    score >= 0.35 and >= 20 words) -> per-source kept-doc and kept-token
    counts — the composition a training-data pipeline actually ships."""
    from .operators.dedup import duplicate_components

    docs = _docs(spark, sf_dir)
    pairs = minhash_lsh_pairs(docs, n=3, num_hashes=8, band_size=2)
    comp = duplicate_components(docs, pairs)
    ts = text_stats(docs).select(
        "doc_id",
        ((F.col("quality") >= 0.35) & F.col("len_ok")).alias("good"),
        F.col("n_words"),
    )
    j = (
        docs.select(F.col("doc_id").cast("string").alias("doc_id"),
                    F.col("doc_id").cast("long").alias("did"), "source")
        .join(comp, "doc_id")
        .join(ts.withColumnRenamed("doc_id", "did2"),
              F.col("did") == F.col("did2"))
    )
    keep = F.col("is_keeper") & F.col("good")
    return j.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(keep.cast("long")).alias("n_kept"),
        F.sum(F.when(keep, F.col("n_words")).otherwise(0).cast("long")).alias("tok_kept"),
        (F.sum(keep.cast("long")) / F.count("*")).alias("keep_ratio"),
    )


SQL_CORPUS_CURATION = (
    SQL_DEDUP_COMPONENTS.rstrip()
    .replace(
        """SELECT d.doc_id,
       COALESCE(LEAST(c.doc_id, c.mt), d.doc_id) AS component_id,
       COALESCE(LEAST(c.doc_id, c.mt), d.doc_id) = d.doc_id AS is_keeper
FROM alldocs d LEFT JOIN comp c ON c.doc_id = d.doc_id""",
        """,
keepers AS (
  SELECT d.doc_id,
         COALESCE(LEAST(c.doc_id, c.mt), d.doc_id) = d.doc_id AS is_keeper
  FROM alldocs d LEFT JOIN comp c ON c.doc_id = d.doc_id
),
q AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, source,
         len(string_split(text, ' ')) AS n_words,
         length(text) AS n_chars,
         length(text) - length(regexp_replace(text, '[aeiou]', '', 'g')) AS n_vowels,
         len(list_filter(string_split(text, ' '),
             w -> w IN ('the','a','of','and','to','in','is','it'))) AS n_stopwords
  FROM documents
),
g AS (
  SELECT q.source,
         k.is_keeper AND
         (0.5 * (q.n_stopwords / CAST(q.n_words AS DOUBLE))
          + 0.5 * (q.n_vowels / CAST(q.n_chars AS DOUBLE))) >= 0.35
         AND q.n_words >= 20 AS keep,
         q.n_words
  FROM q JOIN keepers k ON k.doc_id = q.doc_id
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN keep THEN n_words ELSE 0 END) AS BIGINT) AS tok_kept,
       SUM(CASE WHEN keep THEN 1 ELSE 0 END) / CAST(COUNT(*) AS DOUBLE) AS keep_ratio
FROM g GROUP BY 1""",
    )
)


DECON_MAX_DOC_FREQ = 50  # corpus-wide doc-frequency cap on join grams


def q_decontamination(spark, sf_dir):
    """Train/eval contamination check (the decontamination pass every LLM
    corpus ships through): eval docs (deterministic held-out slice,
    doc_id % 17 == 0) are matched against the remaining corpus on shared
    word 5-grams; per eval doc: the most-overlapping train doc (ties ->
    smallest id) and the shared-gram count. The 5-gram equi-join is the
    standard blocking key — bounded buckets, no cross join — and grams
    appearing in more than DECON_MAX_DOC_FREQ docs (boilerplate) are
    dropped from the join universe (the dedup.py:78-85 rare-gram
    pattern), bounding the fan-out of any hot gram to K^2 pairs; the
    oracle applies the identical cap."""
    return _decon_top_hits(spark, sf_dir, DECON_MAX_DOC_FREQ)


def _decon_top_hits(spark, sf_dir, cap: int):
    """Shared decontamination pipeline (both the default-cap face and the
    cap-ACTIVE certification face run exactly this plan, differing only
    in ``cap`` — one definition so they cannot desync)."""
    from pyspark.sql.window import Window

    from .operators.dedup import _ngrams, doc_words

    docs = _docs(spark, sf_dir)
    w = doc_words(docs)
    grams = w.select(
        "doc_id",
        F.explode(_ngrams(F.col("words"), 5)).alias("gram"),
    )
    rare = (
        grams.groupBy("gram")
        .count()
        .filter(F.col("count") <= cap)
        .select("gram")
    )
    grams = grams.join(rare, "gram")
    did = F.col("doc_id").cast("long")
    ev = grams.filter(did % 17 == 0).select(
        F.col("doc_id").alias("eval_id"), "gram"
    )
    tr = grams.filter(did % 17 != 0).select(
        F.col("doc_id").alias("train_id"), "gram"
    )
    hits = (
        ev.join(tr, "gram")
        .groupBy("eval_id", "train_id")
        .agg(F.count("*").alias("shared"))
    )
    rk = Window.partitionBy("eval_id").orderBy(
        F.col("shared").desc(), F.col("train_id").asc()
    )
    return (
        hits.withColumn("rn", F.row_number().over(rk))
        .filter(F.col("rn") == 1)
        .select("eval_id", "train_id", "shared")
    )


def _sql_decontamination(cap: int, capfire: bool = False) -> str:
    sel_extra = ", ov.n_capped_grams" if capfire else ""
    join_extra = (
        "\nJOIN (SELECT CAST(COUNT(*) AS BIGINT) AS n_capped_grams\n"
        f"      FROM (SELECT gram FROM grams0 GROUP BY gram\n"
        f"            HAVING COUNT(*) > {cap})) ov ON TRUE"
        if capfire else ""
    )
    return f"""
WITH w AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, CAST(doc_id AS BIGINT) AS did,
         string_split(text, ' ') AS words
  FROM documents
),
grams0 AS (
  SELECT DISTINCT doc_id, did,
         UNNEST([words[i] || ' ' || words[i+1] || ' ' || words[i+2] || ' '
                 || words[i+3] || ' ' || words[i+4]
                 FOR i IN range(1, len(words) - 3)]) AS gram
  FROM w
),
rare AS (
  SELECT gram FROM grams0 GROUP BY gram HAVING COUNT(*) <= {cap}
),
grams AS (
  SELECT g.* FROM grams0 g JOIN rare USING (gram)
),
hits AS (
  SELECT e.doc_id AS eval_id, t.doc_id AS train_id,
         CAST(COUNT(*) AS BIGINT) AS shared
  FROM (SELECT * FROM grams WHERE did % 17 = 0) e
  JOIN (SELECT * FROM grams WHERE did % 17 != 0) t USING (gram)
  GROUP BY 1, 2
),
rk AS (
  SELECT eval_id, train_id, shared,
         ROW_NUMBER() OVER (PARTITION BY eval_id
             ORDER BY shared DESC, train_id ASC) AS rn
  FROM hits
)
SELECT eval_id, train_id, shared{sel_extra} FROM rk{join_extra} WHERE rn = 1
"""


SQL_DECONTAMINATION = _sql_decontamination(DECON_MAX_DOC_FREQ)
SQL_DECON_CAPFIRE = _sql_decontamination(CAPFIRE_DF, capfire=True)


def q_decontamination_capfire(spark, sf_dir):
    """The decontamination pass in the cap-ACTIVE regime: DF cap 2 drops
    every 5-gram shared by >2 docs (dozens exist in the test corpus —
    pinned by the n_capped_grams column the oracle replicates), so the
    eval-train overlap is computed over a verifiably capped gram universe.
    Same plan as q_decontamination (literally — both faces call the
    shared _decon_top_hits), lower cap, plus the dropped-gram census
    riding on each row."""
    from .operators.dedup import _ngrams, doc_words

    top = _decon_top_hits(spark, sf_dir, CAPFIRE_DF)
    grams0 = doc_words(_docs(spark, sf_dir)).select(
        "doc_id", F.explode(_ngrams(F.col("words"), 5)).alias("gram")
    )
    over = (
        grams0.groupBy("gram").count().filter(F.col("count") > CAPFIRE_DF)
        .agg(F.count("*").alias("n_capped_grams"))
    )
    return _attach_census(top, "n_capped_grams", over)


def q_sample_stratified(spark, sf_dir):
    """Deterministic hash sampling stratified by source (the reproducible
    subsample every corpus pipeline needs): keep a doc when its md5-bucket
    (2 hex digits -> 0..255) < 64 (25%); per-source totals."""
    docs = _docs(spark, sf_dir)
    bucket = F.conv(
        F.substring(F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("|s1"))), 1, 2),
        16, 10,
    ).cast("int")
    return docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum((bucket < 64).cast("long")).alias("n_sampled"),
    )


SQL_SAMPLE_STRATIFIED = """
WITH b AS (
  SELECT source,
         (strpos('0123456789abcdef',
                 substr(md5(CAST(doc_id AS VARCHAR) || '|s1'), 1, 1)) - 1) * 16
         + (strpos('0123456789abcdef',
                   substr(md5(CAST(doc_id AS VARCHAR) || '|s1'), 2, 1)) - 1) AS bucket
  FROM documents
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN bucket < 64 THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
FROM b GROUP BY 1
"""


def q_pack_sequences(spark, sf_dir):
    """Sequence packing for pretraining batches: per source, docs are
    concatenated in doc_id order and cut into 2048-token context windows
    (concat-and-cut packing). Per-source windows pack in parallel — the
    scale-shaped variant of global packing (which is inherently
    sequential). Emits each doc's window id, offset inside the window,
    and whether it spans a boundary."""
    from pyspark.sql.window import Window

    ctx = 2048
    t = _tok(spark, sf_dir).withColumn("did", F.col("doc_id").cast("long"))
    w = Window.partitionBy("source").orderBy("did")
    gstart = F.sum("n_tok").over(w) - F.col("n_tok")
    return t.select(
        "doc_id", "source",
        (gstart / ctx).cast("long").alias("bin_id"),
        F.pmod(gstart, F.lit(ctx)).cast("int").alias("off_in_bin"),
        (((gstart + F.col("n_tok") - 1) / ctx).cast("long")
         > (gstart / ctx).cast("long")).alias("spans_boundary"),
    )


SQL_PACK_SEQUENCES = f"""
WITH {TOK_CTE},
n AS (SELECT doc_id, source, MAX(n_tok) AS n_tok FROM pos GROUP BY 1, 2),
c AS (
  SELECT doc_id, source, n_tok,
         SUM(n_tok) OVER (PARTITION BY source ORDER BY CAST(doc_id AS BIGINT)
             ROWS UNBOUNDED PRECEDING) - n_tok AS gstart
  FROM n
)
SELECT doc_id, source,
       CAST(gstart // 2048 AS BIGINT) AS bin_id,
       CAST(gstart % 2048 AS INT) AS off_in_bin,
       (gstart + n_tok - 1) // 2048 > gstart // 2048 AS spans_boundary
FROM c
"""


def q_tpch_q1(spark, sf_dir):
    """TPC-H Q1-shaped pricing summary with exact-cents arithmetic
    (broadcastless single groupBy; doubles derived from exact int sums)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    qty = F.round(F.col("l_quantity") * 100, 0).cast("long")
    price = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    disc = F.round(F.col("l_discount") * 100, 0).cast("long")
    disc_price = price * (F.lit(100) - disc)  # cents * percent-units
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).alias("sum_qty_c"),
            F.sum(price).alias("sum_price_c"),
            F.sum(disc_price).alias("sum_disc_price_cc"),
            F.count("*").alias("count_order"),
        )
        .withColumn("avg_qty", F.col("sum_qty_c") / (F.col("count_order") * 100))
        .withColumn("avg_price", F.col("sum_price_c") / (F.col("count_order") * 100))
    )


SQL_TPCH_Q1 = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(round(l_quantity * 100, 0) AS BIGINT)) AS BIGINT) AS sum_qty_c,
       CAST(SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) AS sum_price_c,
       CAST(SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
                * (100 - CAST(round(l_discount * 100, 0) AS BIGINT))) AS BIGINT) AS sum_disc_price_cc,
       CAST(COUNT(*) AS BIGINT) AS count_order,
       SUM(CAST(round(l_quantity * 100, 0) AS BIGINT)) / CAST(COUNT(*) * 100 AS DOUBLE) AS avg_qty,
       SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) / CAST(COUNT(*) * 100 AS DOUBLE) AS avg_price
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY 1, 2
"""


def q_tpch_top_customers(spark, sf_dir):
    """Revenue per customer via orders join (small dim broadcast), top 25 by
    exact cents with deterministic tie-break."""
    from pyspark.sql.window import Window

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    rev = (
        orders.withColumn("cents", F.round(F.col("o_totalprice") * 100, 0).cast("long"))
        .groupBy("o_custkey")
        .agg(F.sum("cents").alias("revenue_c"), F.count("*").alias("n_orders"))
    )
    joined = rev.join(F.broadcast(cust), rev.o_custkey == cust.c_custkey)
    w = Window.orderBy(F.col("revenue_c").desc(), F.col("o_custkey").asc())
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 25)
        .select(
            F.col("o_custkey").alias("custkey"), "c_name", "c_mktsegment",
            "revenue_c", "n_orders", F.col("rank").cast("int").alias("rank"),
        )
    )


SQL_TPCH_TOP_CUSTOMERS = """
WITH rev AS (
  SELECT o_custkey,
         CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS revenue_c,
         CAST(COUNT(*) AS BIGINT) AS n_orders
  FROM orders GROUP BY 1
),
rk AS (
  SELECT r.o_custkey AS custkey, c.c_name, c.c_mktsegment, r.revenue_c, r.n_orders,
         ROW_NUMBER() OVER (ORDER BY r.revenue_c DESC, r.o_custkey ASC) AS rank
  FROM rev r JOIN customer c ON r.o_custkey = c.c_custkey
)
SELECT custkey, c_name, c_mktsegment, revenue_c, n_orders, CAST(rank AS INT) AS rank
FROM rk WHERE rank <= 25
"""




def q_mp_blobs(spark, sf_dir):
    """Distributed per-doc MPX matrix profile, Gorilla/DoD-compressed.

    The profile VALUES are MPX floats (bit-exact vs reference goldens in
    pytest, not SQL-derivable), so the oracle face checks the structural
    contract: per-doc row, profile_len == n_tok - w + 1 for every doc long
    enough, explicit truncation flags (never silent), blob presence. The
    blob payloads themselves are covered by codec round-trip tests and the
    embedded reference-golden doc test."""
    from .operators.mp_ops import matrix_profile_blobs

    toks = _tok(spark, sf_dir)
    return matrix_profile_blobs(toks, W, max_tokens=None).select(
        "doc_id", "w", "n_tok", "n_used", "truncated", "profile_len",
        F.col("mp_blob").isNotNull().alias("has_mp"),
        F.col("pi_blob").isNotNull().alias("has_pi"),
        "algo",
    )


SQL_MP_BLOBS = f"""
WITH n AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         len(string_split(text, ' ')) AS n_tok
  FROM documents
)
SELECT doc_id, {W} AS w, CAST(n_tok AS INT) AS n_tok,
       CAST(n_tok AS INT) AS n_used, FALSE AS truncated,
       CAST(CASE WHEN n_tok >= 2 * {W} THEN n_tok - {W} + 1 ELSE 0 END AS INT)
         AS profile_len,
       n_tok >= 2 * {W} AS has_mp, n_tok >= 2 * {W} AS has_pi,
       'mpx' AS algo
FROM n
"""




def q_ann_ivf_topk(spark, sf_dir):
    """IVF approximate top-1 (probe 4 of 8 lists) with SEED centroids —
    assignment/probing score dot_int/sqrt(seed_norm2), identical IEEE
    doubles in any engine, so the whole routing is oracle-deterministic.
    The k-means-refined index (ivf_topk/ivf_index, distributed centroid
    update) is recall-tested in pytest; nprobe == n_lists equals exact."""
    from .operators.similarity import ivf_seed_topk

    return ivf_seed_topk(_emb(spark, sf_dir), n_lists=8, nprobe=4, k=1,
                         num_queries=20)


SQL_ANN_IVF_TOPK = f"""
WITH {_SQL_QV_CTE},
cnt AS (SELECT GREATEST(COUNT(*) // 8, 1) AS step FROM nq),
seeds AS (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS list_id,
         q AS sq, norm2 AS sn2
  FROM nq, cnt WHERE vec_id % step = 0 AND vec_id < step * 8
),
assign AS (
  SELECT v.vec_id, s.list_id,
         ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
           CAST(list_sum(list_transform(list_zip(v.q, s.sq), t -> t[1] * t[2])) AS BIGINT)
             / sqrt(s.sn2) DESC, s.list_id ASC) AS rn
  FROM nq v CROSS JOIN seeds s
),
probes AS (
  SELECT v.vec_id AS q_id, s.list_id,
         ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
           CAST(list_sum(list_transform(list_zip(v.q, s.sq), t -> t[1] * t[2])) AS BIGINT)
             / sqrt(s.sn2) DESC, s.list_id ASC) AS rn
  FROM nq v CROSS JOIN seeds s WHERE v.vec_id < 20
),
cand AS (
  SELECT p.q_id, a.vec_id
  FROM (SELECT q_id, list_id FROM probes WHERE rn <= 4) p
  JOIN (SELECT vec_id, list_id FROM assign WHERE rn = 1) a USING (list_id)
  WHERE a.vec_id != p.q_id
),
scored AS (
  SELECT c.q_id, c.vec_id,
         CAST(list_sum(list_transform(list_zip(qq.q, vv.q), t -> t[1] * t[2])) AS BIGINT)
           / (sqrt(qq.norm2) * sqrt(vv.norm2)) AS cos
  FROM cand c
  JOIN nq qq ON qq.vec_id = c.q_id
  JOIN nq vv ON vv.vec_id = c.vec_id
),
rk AS (
  SELECT q_id, vec_id AS nn_id, cos,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT q_id, nn_id, CAST(rank AS INT) AS rank, cos FROM rk WHERE rank <= 1
"""




def q_lang_id_trigram(spark, sf_dir):
    from .functions.text import lang_id_trigram

    return lang_id_trigram(_docs(spark, sf_dir))


SQL_LANG_ID_TRIGRAM = """
WITH grams AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, lang,
         UNNEST([substr(text, i, 3) FOR i IN range(1, length(text) - 1)]) AS tri
  FROM documents
),
prof AS (
  SELECT lang AS profile_lang, tri,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY COUNT(*) DESC, tri ASC) AS rn
  FROM grams GROUP BY lang, tri
),
profile AS (SELECT profile_lang, tri FROM prof WHERE rn <= 50),
hits AS (
  SELECT g.doc_id, p.profile_lang, CAST(COUNT(*) AS BIGINT) AS hits
  FROM grams g JOIN profile p ON g.tri = p.tri
  GROUP BY 1, 2
),
best AS (
  SELECT doc_id, profile_lang, hits,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY hits DESC, profile_lang ASC) AS rn
  FROM hits
)
SELECT doc_id, profile_lang AS lang_pred, hits FROM best WHERE rn = 1
"""




def q_rollup_by_source(spark, sf_dir):
    """Corpus-level rollup: exact per-(source, bucket) stats across docs —
    the fleet-wide view of the same tier cascade (one extra exact-int
    groupBy over the finest tier)."""
    m1 = tier_rollup(_tok(spark, sf_dir), {"1m": BUCKET})
    return (
        m1.groupBy("source", "bucket")
        .agg(
            F.sum("cnt").alias("cnt"),
            F.sum("sum_v").alias("sum_v"),
            F.sum("sumsq").alias("sumsq"),
            F.min("min_v").alias("min_v"),
            F.max("max_v").alias("max_v"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
    )


SQL_ROLLUP_BY_SOURCE = f"""
WITH {TOK_CTE}
SELECT source, CAST((pos - 1) // {BUCKET} AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS cnt,
       CAST(SUM(tok) AS BIGINT) AS sum_v,
       CAST(SUM(tok * tok) AS BIGINT) AS sumsq,
       CAST(MIN(tok) AS INT) AS min_v,
       CAST(MAX(tok) AS INT) AS max_v,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM pos GROUP BY 1, 2
"""


def q_motifs_discords(spark, sf_dir):
    """Top-level motif/discord extraction: per doc, the window with the
    SMALLEST matrix-profile value (motif: best-repeated pattern) and the
    LARGEST (discord: most anomalous), deterministic tie-breaks."""
    mp = matrix_profile_exact(_tok(spark, sf_dir), W, ez=0.5)
    # one map-side-combinable agg: lexicographic struct min encodes both
    # extractions ((mp asc, off asc) for the motif; (-mp, off asc) for the
    # discord) — no per-doc window sorts, single shuffle
    agg = mp.groupBy("doc_id").agg(
        F.min(F.struct("mp", "off", "nn_off")).alias("mo"),
        F.min(F.struct((-F.col("mp")).alias("nmp"), F.col("off"))).alias("di"),
    )
    return agg.select(
        "doc_id",
        F.col("mo.off").alias("motif_off"), F.col("mo.nn_off").alias("motif_nn"),
        F.col("mo.mp").alias("motif_mp"),
        F.col("di.off").alias("discord_off"), (-F.col("di.nmp")).alias("discord_mp"),
    )


SQL_MOTIFS_DISCORDS = (
    SQL_MATRIX_PROFILE_W8.rstrip().replace(
        """SELECT doc_id, CAST(off AS INT) AS off, sqrt(d) AS mp, CAST(nn AS INT) AS nn_off
FROM best WHERE rn = 1""",
        """,
mp AS (
  SELECT doc_id, CAST(off AS INT) AS off, sqrt(d) AS mp, CAST(nn AS INT) AS nn_off
  FROM best WHERE rn = 1
),
mo AS (
  SELECT doc_id, off AS motif_off, nn_off AS motif_nn, mp AS motif_mp,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY mp ASC, off ASC) AS rn
  FROM mp
),
di AS (
  SELECT doc_id, off AS discord_off, mp AS discord_mp,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY mp DESC, off ASC) AS rn
  FROM mp
)
SELECT m.doc_id, m.motif_off, m.motif_nn, m.motif_mp, d.discord_off, d.discord_mp
FROM mo m JOIN di d ON m.doc_id = d.doc_id AND m.rn = 1 AND d.rn = 1""",
    )
)


def q_stream_rollup(spark, sf_dir, sink_dir: str | None = None):
    """STRUCTURED STREAMING face of the finest-tier rollup: the driver
    tokens table is staged as a file-source stream, a checkpointed
    availableNow streaming query rolls it up incrementally into a parquet
    sink, and the COMPLETED sink is returned. Same kernel as the batch
    path (tier_rollup is a streaming-legal transformation), so rows
    equal the batch rollup bit-for-bit — the oracle is the batch SQL.
    ``sink_dir``: see :func:`_in_base_dir`."""
    from .streaming.stream_rollup import stream_tokens_rollup

    def face(base, durable):
        inp = f"{base}/input"
        toks = _tok(spark, sf_dir)
        stage = True
        if durable:
            # durable mode must be re-invocation-safe: rewriting the
            # input mints new part-file names, which the file-source
            # checkpoint would ingest as NEW data and the append sink
            # would duplicate every row. Bind the base dir to the input
            # (the lifecycle jobs' fingerprint, streaming/commit.py):
            # matching input -> skip the rewrite (the stream no-ops and
            # the sink stands); different input -> fail loudly; torn
            # state -> fail loudly.
            import json as _json
            from pathlib import Path as _P

            from .streaming.commit import fingerprint, write_json

            fp_path = _P(base) / "input_fingerprint.json"
            fp = fingerprint(toks)
            if fp_path.exists():
                if _json.loads(fp_path.read_text()) != fp:
                    raise ValueError(
                        f"sink_dir {base} holds a stream for a different "
                        "input; use a fresh dir"
                    )
                stage = False
            elif _P(f"{base}/ckpt").exists():
                raise ValueError(
                    f"sink_dir {base} has a checkpoint but no input "
                    "fingerprint (torn earlier run); use a fresh dir"
                )
        if stage:
            toks.write.mode("overwrite").parquet(inp)
            if durable:
                write_json(fp_path, fp)
        q = stream_tokens_rollup(
            spark, inp, f"{base}/sink", f"{base}/ckpt", bucket_size=BUCKET
        )
        if not q.awaitTermination(600):
            q.stop()
            raise TimeoutError(
                "stream_rollup: availableNow query did not finish")
        return (
            spark.read.parquet(f"{base}/sink")
            .select("doc_id", "bucket", "cnt", "sum_v", "sumsq", "min_v", "max_v")
        )

    return _in_base_dir(spark, "stream_rollup_", face, sink_dir)


SQL_STREAM_ROLLUP = SQL_ROLLUP_1M


def q_checkpoint_rollup_resume(spark, sf_dir, sink_dir: str | None = None):
    """KILL-AND-RESUME face of the snapshot-checkpointed rollup job
    (:func:`_kill_and_resume`): the first run is killed after 2 of 4
    partition groups; a second job against the same base dir resumes
    from the per-group manifests and completes the rest. The committed
    output equals the batch rollup bit-for-bit — the oracle is the batch
    SQL, so the driver gate itself witnesses resumability (north_rule:
    resumable from checkpoint with per-partition lineage). ``sink_dir``
    (see :func:`_in_base_dir`) retains the base dir — input fingerprint,
    manifests and committed stage."""
    from .streaming.checkpoint import RollupJob

    def face(base, _durable):
        job = _kill_and_resume(
            lambda: RollupJob(spark, base, n_groups=4, bucket_size=BUCKET),
            _tok(spark, sf_dir))
        return job.result().select(
            "doc_id", "bucket", "cnt", "sum_v", "sumsq", "min_v", "max_v"
        )

    return _in_base_dir(spark, "ckpt_rollup_", face, sink_dir)


SQL_CHECKPOINT_ROLLUP = SQL_ROLLUP_1M


def q_sliding_stats_chunked(spark, sf_dir):
    """The offset-range CHUNKED path of the sliding window stats (the
    skew-defeat mechanism: w-1-overlap chunks, every window start in
    exactly one chunk) — per-window rows identical to the unchunked face,
    verified by the SAME SQL oracle. Chunk length 48 forces real
    multi-chunk docs at driver scale."""
    from .operators.rollup import chunk_tokens

    ch = chunk_tokens(_tok(spark, sf_dir), W, chunk_len=48)
    keyed = ch.select(
        F.concat_ws("#", "doc_id", F.col("chunk_off")).alias("doc_id"),
        "tokens",
    )
    s = sliding_stats(keyed, W)
    key = F.split(F.col("doc_id"), "#")
    s = s.select(
        key.getItem(0).alias("doc_id"),
        (key.getItem(1).cast("int") + F.col("off")).cast("int").alias("off"),
        "sum_v", "sumsq", "mean", "std", "sig", "min_v", "max_v",
    )
    s = s.withColumn("var", F.col("sumsq") / W - F.col("mean") * F.col("mean"))
    zero_var = F.col("sumsq") * W == F.col("sum_v") * F.col("sum_v")
    return s.withColumn("sig", F.when(zero_var, F.lit(None)).otherwise(F.col("sig")))


SQL_SLIDING_STATS_CHUNKED = SQL_SLIDING_STATS


def _ts_us(col: str):
    """Microseconds since 2024-01-01 (tz-free — the events ts column is
    TIMESTAMP_NTZ and DuckDB timestamps are naive, so an epoch-anchored
    integer diff is the portable representation)."""
    return F.expr(
        f"timestampdiff(MICROSECOND, TIMESTAMP_NTZ '2024-01-01 00:00:00', {col})"
    ).cast("long")


_SQL_TS_US = "date_diff('microsecond', TIMESTAMP '2024-01-01 00:00:00', {col})"


def q_asof_purchases(spark, sf_dir):
    """AS-OF JOIN (operators/asof.py): every event is joined to the most
    recent hourly PURCHASE rollup bucket of the same user at or before its
    timestamp. Routed through the SALTED hot-key-safe plan via the AUTO
    width: split_width="auto" runs the per-key census (auto_split_width)
    and picks a width putting ~auto_target_rows rows in each (user,
    range) bucket — 20 here so the census provably activates salting at
    test scale (hottest user ~86 rows). Result-identical to the plain
    single-shuffle plan for any width, pytest-asserted in
    tests/test_asof.py. The oracle is DuckDB's native ASOF JOIN —
    identical semantics, independent implementation."""
    from .operators.asof import asof_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    cents = F.round(F.col("value") * 100, 0).cast("long")
    hourly = (
        ev.filter(F.col("event_type") == "purchase")
        .withColumn("ts", F.date_trunc("hour", "ts"))
        .groupBy("user_id", "ts")
        .agg(F.count("*").alias("p_cnt"), F.sum(cents).alias("p_cents"))
    )
    left = ev.select("event_id", "user_id", "ts")
    j = asof_join(left, hourly, key="user_id", ts="ts",
                  payload_cols=["p_cnt", "p_cents"], split_width="auto",
                  auto_target_rows=20)
    return j.select(
        "event_id", "user_id",
        _ts_us("ts").alias("ts_us"),
        F.coalesce(F.col("p_cnt"), F.lit(-1).cast("long")).alias("p_cnt"),
        F.coalesce(F.col("p_cents"), F.lit(-1).cast("long")).alias("p_cents"),
        F.coalesce(_ts_us("asof_ts"), F.lit(-1).cast("long")).alias("asof_us"),
    )


SQL_ASOF_PURCHASES = """
WITH hourly AS (
  SELECT user_id, date_trunc('hour', ts) AS wstart,
         CAST(COUNT(*) AS BIGINT) AS p_cnt,
         CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS p_cents
  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
)
SELECT e.event_id, e.user_id,
       CAST(date_diff('microsecond', TIMESTAMP '2024-01-01 00:00:00', e.ts)
            AS BIGINT) AS ts_us,
       COALESCE(h.p_cnt, -1) AS p_cnt,
       COALESCE(h.p_cents, -1) AS p_cents,
       COALESCE(CAST(date_diff('microsecond',
                     TIMESTAMP '2024-01-01 00:00:00', h.wstart) AS BIGINT),
                -1) AS asof_us
FROM events e ASOF LEFT JOIN hourly h
  ON e.user_id = h.user_id AND e.ts >= h.wstart
"""


def q_sessionize_events(spark, sf_dir):
    """Gap-based sessionization (30-min inactivity closes a session) — the
    classic event-stream operator: lag + cumulative flag sum per user,
    then per-session aggregates. All integer epoch-microsecond arithmetic,
    so both engines agree exactly."""
    from pyspark.sql.window import Window

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    cents = F.round(F.col("value") * 100, 0).cast("long")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev = ev.withColumn("prev_ts", F.lag("ts").over(w))
    gap = _ts_us("ts") - _ts_us("prev_ts")
    flag = F.when(gap.isNull() | (gap > 1800 * 1_000_000), 1).otherwise(0)
    s = ev.withColumn("flag", flag).withColumn(
        "session_idx", F.sum("flag").over(w)
    )
    return s.groupBy("user_id", "session_idx").agg(
        F.count("*").alias("n_events"),
        F.min(_ts_us("ts")).alias("start_us"),
        F.max(_ts_us("ts")).alias("end_us"),
        F.sum(cents).alias("sum_cents"),
        F.countDistinct("event_type").alias("n_types"),
    )


SQL_SESSIONIZE = """
WITH g AS (
  SELECT user_id, event_id, ts, event_type,
         CAST(round(value * 100, 0) AS BIGINT) AS cents,
         CASE WHEN date_diff('microsecond',
                lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                ts) > 1800000000
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                 IS NULL
              THEN 1 ELSE 0 END AS flag
  FROM events
),
s AS (
  SELECT *, SUM(flag) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS session_idx
  FROM g
)
SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(MIN(date_diff('microsecond', TIMESTAMP '2024-01-01 00:00:00', ts))
            AS BIGINT) AS start_us,
       CAST(MAX(date_diff('microsecond', TIMESTAMP '2024-01-01 00:00:00', ts))
            AS BIGINT) AS end_us,
       CAST(SUM(cents) AS BIGINT) AS sum_cents,
       CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types
FROM s GROUP BY 1, 2
"""





def q_token_percentiles(spark, sf_dir):
    """Exact discrete percentiles of token values per doc (the percentile
    rollup a retention engine serves): element at rank ceil(p*n) of the
    sorted array — entirely JVM-side (array_sort + element_at, no UDF),
    identical integer ranks in both engines."""
    t = _tok(spark, sf_dir).filter(F.col("n_tok") > 0)
    arr = F.array_sort("tokens")
    n = F.col("n_tok")

    def pick(p):
        idx = F.ceil(F.lit(p) * n).cast("int")
        return F.element_at(arr, idx)

    return t.select(
        "doc_id", n.alias("n_tok"),
        pick(0.25).alias("p25"), pick(0.50).alias("p50"),
        pick(0.75).alias("p75"), pick(0.90).alias("p90"),
        pick(0.99).alias("p99"),
    )


SQL_TOKEN_PERCENTILES = f"""
WITH {TOK_CTE},
a AS (
  SELECT doc_id, list_sort(list(tok)) AS arr,
         CAST(COUNT(*) AS INT) AS n_tok
  FROM pos GROUP BY 1
)
SELECT doc_id, n_tok,
       CAST(arr[CAST(ceil(0.25 * n_tok) AS INT)] AS INT) AS p25,
       CAST(arr[CAST(ceil(0.50 * n_tok) AS INT)] AS INT) AS p50,
       CAST(arr[CAST(ceil(0.75 * n_tok) AS INT)] AS INT) AS p75,
       CAST(arr[CAST(ceil(0.90 * n_tok) AS INT)] AS INT) AS p90,
       CAST(arr[CAST(ceil(0.99 * n_tok) AS INT)] AS INT) AS p99
FROM a
"""


LTTB_B = 8  # offsets per LTTB bucket


def q_downsample_lttb(spark, sf_dir):
    """LTTB-style downsample (largest-triangle-three-buckets, Steinarsson
    2013 — the industry viz downsample): per doc, one point per offset
    bucket; bucket 0 keeps the first point, the last bucket keeps the last
    point, and every middle bucket keeps the point maximizing the triangle
    area spanned with the PREVIOUSLY CHOSEN point and the next bucket's
    centroid. The choice is sequential (each bucket depends on the last
    selection), and the area comparison is done on an EXACT integer score
    (area x 2 x next-bucket count — denominators cleared), ties to the
    smaller offset: bit-for-bit reproducible, and the oracle replays the
    recurrence with a recursive CTE."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    B = LTTB_B
    schema = T.StructType([
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("b", T.LongType(), False),
        T.StructField("x", T.LongType(), False),
        T.StructField("y", T.LongType(), False),
    ])

    def kernel(batches):
        # LTTB's bucket choice is inherently sequential PER DOC (bucket
        # bb's winner feeds bucket bb+1's triangle), so the recurrence
        # can't vectorize along a doc — but it CAN vectorize ACROSS docs:
        # all docs in the Arrow batch advance bucket-by-bucket in
        # lockstep, one (D x B) numpy step per bucket index. Python-loop
        # iterations per batch drop from sum(buckets per doc) to
        # max(buckets per doc) — the 16k-token Zipf-tail doc no longer
        # pays ~2k per-bucket Python steps alone; the whole batch
        # amortizes them. Integer arithmetic, np.abs and first-tie argmax
        # are identical to the per-doc formulation (oracle stays
        # bit-green).
        for batch in batches:
            docs = [
                (doc_id, np.asarray(toks, dtype=np.int64))
                for doc_id, toks in zip(batch["doc_id"], batch["tokens"])
                if len(toks) > B
            ]
            if not docs:
                continue
            # longest first -> the still-active docs at step k are always
            # a PREFIX, so the lockstep matrices shrink as short docs
            # finish: total work stays ~sum(m_i) like the per-doc loop,
            # but the Python iteration count is max(m_i)
            docs.sort(key=lambda p: -p[1].size)
            ids = np.array([d for d, _ in docs])
            ys_all = [y for _, y in docs]
            n = np.array([y.size for y in ys_all], dtype=np.int64)
            maxb = (n - 1) // B           # last bucket index per doc
            m = maxb - 1                  # middle buckets per doc
            D, M = len(docs), int(m.max(initial=0))
            # flat (ragged) per-doc tables — memory O(total tokens), not
            # O(D x max_buckets). Middle buckets (1..maxb-1) are always
            # FULL (only bucket maxb can be partial), so the candidate
            # matrix needs no mask; x sums are arithmetic-series exact,
            # so only y needs storage.
            nb = maxb + 1
            soff = np.zeros(D + 1, dtype=np.int64)
            np.cumsum(nb, out=soff[1:])
            SY = np.zeros(int(soff[-1]), dtype=np.int64)
            C = np.zeros_like(SY)
            yoff = np.zeros(D + 1, dtype=np.int64)
            np.cumsum(np.maximum(m, 0) * B, out=yoff[1:])
            YF = np.zeros(int(yoff[-1]), dtype=np.int64)
            for i, y in enumerate(ys_all):
                b = np.arange(y.size, dtype=np.int64) // B
                SY[soff[i]:soff[i] + nb[i]] = np.bincount(b, weights=y).astype(np.int64)
                C[soff[i]:soff[i] + nb[i]] = np.bincount(b).astype(np.int64)
                if m[i] > 0:
                    YF[yoff[i]:yoff[i + 1]] = y[B:(int(m[i]) + 1) * B]
            ar = np.arange(B, dtype=np.int64)

            out_id = [ids, ids]
            out_b = [np.zeros(D, dtype=np.int64), maxb]
            out_x = [np.zeros(D, dtype=np.int64), n - 1]
            out_y = [np.array([y[0] for y in ys_all], dtype=np.int64),
                     np.array([y[-1] for y in ys_all], dtype=np.int64)]

            xp = np.zeros(D, dtype=np.int64)
            yp = np.array([y[0] for y in ys_all], dtype=np.int64)
            a = D
            for k in range(M):
                while a > 0 and m[a - 1] <= k:
                    a -= 1                        # shrink to active prefix
                nxt = k + 2                       # next bucket index
                c1 = C[soff[:a] + nxt]
                syn = SY[soff[:a] + nxt]
                # sum(x) over bucket nxt: c1 consecutive offsets from nxt*B
                sxn = c1 * (nxt * B) + (c1 * (c1 - 1)) // 2
                xs = (k + 1) * B + ar             # shared across docs
                ys = YF[(yoff[:a] + k * B)[:, None] + ar[None, :]]
                score = np.abs(
                    (xp[:a] * c1 - sxn)[:, None] * (ys - yp[:a, None])
                    - (xp[:a, None] - xs[None, :]) * (syn - yp[:a] * c1)[:, None]
                )
                kk = np.argmax(score, axis=1)     # ties -> first = smallest x
                nxp = xs[kk]
                nyp = ys[np.arange(a), kk]
                out_id.append(ids[:a])
                out_b.append(np.full(a, k + 1, dtype=np.int64))
                out_x.append(nxp)
                out_y.append(nyp)
                xp[:a] = nxp
                yp[:a] = nyp
            yield pd.DataFrame({
                "doc_id": np.concatenate(out_id),
                "b": np.concatenate(out_b),
                "x": np.concatenate(out_x),
                "y": np.concatenate(out_y),
            })

    return _tok(spark, sf_dir).filter(F.col("n_tok") > B).select(
        "doc_id", "tokens"
    ).mapInPandas(kernel, schema=schema)


SQL_DOWNSAMPLE_LTTB = f"""
WITH RECURSIVE {TOK_CTE},
pts AS (
  SELECT doc_id, CAST(pos - 1 AS BIGINT) AS x, CAST(tok AS BIGINT) AS y,
         CAST((pos - 1) // {LTTB_B} AS BIGINT) AS b
  FROM pos
),
nd AS (SELECT doc_id, MAX(b) AS maxb, MAX(x) AS lastx FROM pts GROUP BY 1),
cent AS (
  SELECT doc_id, b, CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(y) AS BIGINT) AS sy, CAST(COUNT(*) AS BIGINT) AS c
  FROM pts GROUP BY 1, 2
),
sel AS (
  SELECT p.doc_id, CAST(0 AS BIGINT) AS b, p.x, p.y
  FROM pts p JOIN nd USING (doc_id)
  WHERE p.x = 0 AND nd.maxb >= 1
  UNION ALL
  SELECT s.doc_id, s.b + 1, p.x, p.y
  FROM sel s
  JOIN nd ON nd.doc_id = s.doc_id
  JOIN pts p ON p.doc_id = s.doc_id AND p.b = s.b + 1
  JOIN cent cn ON cn.doc_id = s.doc_id AND cn.b = s.b + 2
  WHERE s.b + 1 <= nd.maxb - 1
    AND NOT EXISTS (
      SELECT 1 FROM pts q
      WHERE q.doc_id = p.doc_id AND q.b = p.b
        AND (abs((s.x * cn.c - cn.sx) * (q.y - s.y)
                 - (s.x - q.x) * (cn.sy - s.y * cn.c))
               > abs((s.x * cn.c - cn.sx) * (p.y - s.y)
                     - (s.x - p.x) * (cn.sy - s.y * cn.c))
          OR (abs((s.x * cn.c - cn.sx) * (q.y - s.y)
                  - (s.x - q.x) * (cn.sy - s.y * cn.c))
                = abs((s.x * cn.c - cn.sx) * (p.y - s.y)
                      - (s.x - p.x) * (cn.sy - s.y * cn.c))
              AND q.x < p.x))
    )
)
SELECT doc_id, b, x, y FROM sel
UNION ALL
SELECT p.doc_id, p.b, p.x, p.y
FROM pts p JOIN nd USING (doc_id)
WHERE nd.maxb >= 1 AND p.x = nd.lastx
"""


def q_events_twa_rate(spark, sf_dir):
    """Irregular-series aggregates a retention engine needs (TimescaleDB's
    time_weighted_average / counter_agg rate, public semantics): per user,
    trapezoidal time-weighted value and monotonic-increase rate over the
    raw (irregularly spaced) events. All accumulators are EXACT int64 —
    2*integral = sum((c_i + c_{i+1}) * dt_us) — so both engines agree
    bit-for-bit, and the final doubles come from identical divisions."""
    from pyspark.sql.window import Window

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    cents = F.round(F.col("value") * 100, 0).cast("long")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    e = (
        ev.withColumn("c", cents)
        .withColumn("t_us", _ts_us("ts"))
        .withColumn("dt", F.lead("t_us").over(w) - F.col("t_us"))
        .withColumn("pair", F.col("c") + F.lead("c").over(w))
        .withColumn("inc", F.greatest(F.lead("c").over(w) - F.col("c"), F.lit(0)))
        .filter(F.col("dt").isNotNull())
    )
    g = e.groupBy("user_id").agg(
        F.count("*").alias("n_segments"),
        F.sum("dt").alias("span_us"),
        F.sum(F.col("pair") * F.col("dt")).alias("twa_num2"),
        F.sum("inc").alias("increase_cents"),
    )
    return g.select(
        "user_id", "n_segments", "span_us", "twa_num2", "increase_cents",
        (F.col("twa_num2").cast("double")
         / (F.lit(2.0) * F.col("span_us").cast("double"))).alias("twa_cents"),
        (F.col("increase_cents").cast("double") * F.lit(1000000.0)
         / F.col("span_us").cast("double")).alias("rate_cents_per_sec"),
    )


SQL_EVENTS_TWA_RATE = """
WITH e AS (
  SELECT user_id,
         CAST(round(value * 100, 0) AS BIGINT) AS c,
         CAST(date_diff('microsecond', TIMESTAMP '2024-01-01 00:00:00', ts)
              AS BIGINT) AS t_us,
         lead(CAST(round(value * 100, 0) AS BIGINT))
           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS c2,
         lead(CAST(date_diff('microsecond', TIMESTAMP '2024-01-01 00:00:00',
                             ts) AS BIGINT))
           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t2
  FROM events
),
seg AS (
  SELECT user_id, t2 - t_us AS dt, c + c2 AS pair,
         GREATEST(c2 - c, 0) AS inc
  FROM e WHERE t2 IS NOT NULL
),
g AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_segments,
         CAST(SUM(dt) AS BIGINT) AS span_us,
         CAST(SUM(pair * dt) AS BIGINT) AS twa_num2,
         CAST(SUM(inc) AS BIGINT) AS increase_cents
  FROM seg GROUP BY 1
)
SELECT user_id, n_segments, span_us, twa_num2, increase_cents,
       CAST(twa_num2 AS DOUBLE) / (2.0 * CAST(span_us AS DOUBLE)) AS twa_cents,
       CAST(increase_cents AS DOUBLE) * 1000000.0 / CAST(span_us AS DOUBLE)
         AS rate_cents_per_sec
FROM g
"""


def q_range_join_sessions(spark, sf_dir):
    """RANGE (interval) JOIN (operators/rangejoin.py — bucketized
    equi-join, no theta/nested-loop): every event matched to every session
    interval of the same user whose ±45-minute halo contains it (its own
    session plus any adjacent one within the halo — the halo exceeds the
    30-min session gap precisely so adjacent sessions DO multi-match). The
    oracle is a plain
    BETWEEN join over the identical session CTE — independent plan, same
    semantics."""
    from .operators.rangejoin import range_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    sess = q_sessionize_events(spark, sf_dir)
    halo = 2700 * 1_000_000
    iv = sess.select(
        "user_id", "session_idx", "n_events",
        (F.col("start_us") - halo).alias("lo"),
        (F.col("end_us") + halo).alias("hi"),
    )
    pts = ev.select("event_id", "user_id", _ts_us("ts").alias("t_us"))
    j = range_join(pts, iv, key="user_id", t="t_us", lo="lo", hi="hi",
                   bucket_width=1800 * 1_000_000)
    return j.select("event_id", "user_id", "t_us",
                    "session_idx", "n_events", "lo", "hi")


SQL_RANGE_JOIN_SESSIONS = SQL_SESSIONIZE.replace(
    """SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(MIN(date_diff('microsecond', TIMESTAMP '2024-01-01 00:00:00', ts))
            AS BIGINT) AS start_us,
       CAST(MAX(date_diff('microsecond', TIMESTAMP '2024-01-01 00:00:00', ts))
            AS BIGINT) AS end_us,
       CAST(SUM(cents) AS BIGINT) AS sum_cents,
       CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types
FROM s GROUP BY 1, 2""",
    """, sess AS (
  SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(MIN(date_diff('microsecond', TIMESTAMP '2024-01-01 00:00:00',
                            ts)) - 2700000000 AS BIGINT) AS lo,
         CAST(MAX(date_diff('microsecond', TIMESTAMP '2024-01-01 00:00:00',
                            ts)) + 2700000000 AS BIGINT) AS hi
  FROM s GROUP BY 1, 2
)
SELECT e.event_id, e.user_id,
       CAST(date_diff('microsecond', TIMESTAMP '2024-01-01 00:00:00', e.ts)
            AS BIGINT) AS t_us,
       v.session_idx, v.n_events, v.lo, v.hi
FROM events e JOIN sess v
  ON e.user_id = v.user_id
 AND date_diff('microsecond', TIMESTAMP '2024-01-01 00:00:00', e.ts)
     BETWEEN v.lo AND v.hi""",
)



def q_vocab_coverage(spark, sf_dir):
    """Corpus vocabulary statistics for tokenizer/curation work: top-100
    tokens by frequency with rank and cumulative corpus coverage. The
    global ranking window runs AFTER the groupBy has reduced the data to
    the (bounded) vocabulary — at any corpus size the sorted side is at
    most |vocab| rows."""
    from pyspark.sql.window import Window

    t = _tok(spark, sf_dir).select(F.explode("tokens").alias("tok"))
    freq = t.groupBy("tok").agg(F.count("*").alias("cnt"))
    total = F.sum("cnt").over(Window.partitionBy())
    wr = Window.orderBy(F.desc("cnt"), F.asc("tok"))
    cum = F.sum("cnt").over(wr.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (
        freq.withColumn("total", total)
        .withColumn("rank", F.row_number().over(wr))
        .withColumn("cum", cum)
        .filter(F.col("rank") <= 100)
        .select(
            "tok", "cnt", "rank",
            (F.col("cum").cast("double") / F.col("total")).alias("coverage"),
        )
    )


SQL_VOCAB_COVERAGE = f"""
WITH {TOK_CTE},
f AS (SELECT CAST(tok AS INT) AS tok, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM pos GROUP BY 1),
tot AS (SELECT SUM(cnt) AS t FROM f),
r AS (
  SELECT tok, cnt,
         ROW_NUMBER() OVER (ORDER BY cnt DESC, tok ASC) AS rank,
         SUM(cnt) OVER (ORDER BY cnt DESC, tok ASC
                        ROWS UNBOUNDED PRECEDING) AS cum
  FROM f
)
SELECT tok, cnt, CAST(rank AS INT) AS rank,
       CAST(cum AS DOUBLE) / t AS coverage
FROM r, tot WHERE rank <= 100
"""


# ---------------------------------------------------------------- registry

def queries() -> dict:
    # Registry order matters: the driver's correctness gate snapshots the
    # FIRST 50 entries. Rotation schedule (SURVEY §8): every face gets a
    # driver-gate row at least every TWO rounds — each round the head is
    # (a) faces new or code-changed this round, (b) every face whose last
    # driver row is two rounds old (the previous round's tail), (c)
    # operational keepers; everything displaced to the tail is
    # driver-green in the immediately preceding round's artifact.
    # Round 6 head = retention_expiry + retention_expiry_tiers +
    # retention_compress + realtime_rollup (new) + the 24 r5-tail entries
    # (last driver row r4 / judge-verified r5) + the 7 faces touched by
    # this round's hardening (retention/gapfill/cascade/asof) + 15
    # keepers. The 28 displaced faces are ALL driver-green in
    # CORRECTNESS_r05.json (commit 4dd049e) with code unchanged since.
    q = {
        # -- new this round: physical expiry + compression + realtime ----
        "retention_expiry": q_retention_expiry,
        "retention_expiry_tiers": q_retention_expiry_tiers,
        "retention_compress": q_retention_compress,
        "realtime_rollup": q_realtime_rollup,
        # -- code-changed this round (floor/fail-fast/cache hardening) ---
        "retention_policy": q_retention_policy,
        "retention_tiers_3": q_retention_tiers_3,
        "gapfill_locf": q_gapfill_locf,
        "gapfill_interp": q_gapfill_interp,
        "events_retention": q_events_retention,
        "rollup_cascade": q_rollup_cascade,
        "asof_purchases": q_asof_purchases,
        # -- the 24 r5-tail entries rotated back into the window ---------
        "kernel_stomp_w64": q_kernel_stomp,
        "kernel_stamp_w64": q_kernel_stamp,
        "kernel_scrimp_w64": q_kernel_scrimp,
        "kernel_mpx_w64": q_kernel_mpx,
        "kernel_mass_w64": q_kernel_mass,
        "kernel_mass_abs_w64": q_kernel_mass_abs,
        "kernel_mass_weighted_w64": q_kernel_mass_weighted,
        "kernel_mpxab_w64": q_kernel_mpxab,
        "kernel_contrast_w50": q_kernel_contrast,
        "kernel_mov_weighted_fading": q_kernel_mov_exp,
        "binary_split": q_binary_split,
        "normalize_params": q_normalize_params,
        "ed_corr_roundtrip": q_ed_corr,
        "tpch_q1_cents": q_tpch_q1,
        "tpch_top_customers": q_tpch_top_customers,
        "audio_features": q_audio_features,
        "ann_srp_buckets": q_srp_buckets,
        "ann_srp_pairs": q_srp_pairs,
        "doc_repetition": q_doc_repetition,
        "bigram_commonness": q_bigram_commonness,
        "corpus_curation": q_corpus_curation,
        "sample_stratified": q_sample_stratified,
        "pack_sequences": q_pack_sequences,
        "decontamination": q_decontamination,
        # -- operational keepers (driver-green r5, kept in-window) -------
        "downsample_m4": q_downsample_m4,
        "gapfill": q_gapfill,
        "rollup_1m": q_rollup_1m,
        "stream_rollup": q_stream_rollup,
        "checkpoint_rollup_resume": q_checkpoint_rollup_resume,
        "matrix_profile_blobs": q_mp_blobs,
        "matrix_profile_w8": q_matrix_profile_w8,
        "matrix_profile_w8_dist": q_matrix_profile_w8_dist,
        "sliding_stats_w8_chunked": q_sliding_stats_chunked,
        "mass_w8": q_mass_w8,
        "dedup_ngram_capfire": q_dedup_ngram_capfire,
        "dedup_lsh_capfire": q_dedup_lsh_capfire,
        "decontamination_capfire": q_decontamination_capfire,
        "dedup_exact": q_dedup_exact,
        "ann_ivf_topk": q_ann_ivf_topk,
        # ---- driver window ends after the 50th entry above -------------
        # -- tail: 28 faces, ALL driver-green in CORRECTNESS_r05.json ----
        # (downsample_lttb / vocab_coverage / token_percentiles displaced
        # by the round's new faces; their last driver rows are r5-green,
        # so the two-round rule holds)
        "vocab_coverage": q_vocab_coverage,
        "token_percentiles": q_token_percentiles,
        "downsample_lttb": q_downsample_lttb,
        "sliding_stats_w8": q_sliding_stats,
        "zero_crossings_w16": q_zero_crossings,
        "complexity": q_complexity,
        "doc_znorm_stats": q_doc_znorm_stats,
        "mode_token": q_mode_token,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "dedup_components": q_dedup_components,
        "simhash_pairs": q_simhash_pairs,
        "ann_topk": q_ann_topk,
        "embedding_near_dups": q_embedding_near_dups,
        "text_stats": q_text_stats,
        "lang_guess": q_lang_guess,
        "token_counts": q_token_counts,
        "fingerprint": q_fingerprint,
        "events_rollup_1h": q_events_rollup,
        "tier_blobs": q_tier_blobs,
        "image_features": q_image_features,
        "lang_id_trigram": q_lang_id_trigram,
        "rollup_by_source": q_rollup_by_source,
        "motifs_discords": q_motifs_discords,
        "sessionize_events": q_sessionize_events,
        "range_join_sessions": q_range_join_sessions,
        "events_twa_rate": q_events_twa_rate,
        "downsample_minmax": q_downsample_minmax,
    }
    return q


def oracle_sql() -> dict:
    return {
        "retention_expiry": SQL_RETENTION_EXPIRY,
        "retention_expiry_tiers": SQL_RETENTION_EXPIRY_TIERS,
        "retention_compress": SQL_RETENTION_COMPRESS,
        "realtime_rollup": SQL_REALTIME_ROLLUP,
        "retention_policy": SQL_RETENTION_POLICY,
        "retention_tiers_3": SQL_RETENTION_TIERS_3,
        "gapfill_locf": SQL_GAPFILL_LOCF,
        "gapfill_interp": SQL_GAPFILL_INTERP,
        "downsample_m4": SQL_DOWNSAMPLE_M4,
        "events_retention": SQL_EVENTS_RETENTION,
        "dedup_ngram_capfire": SQL_DEDUP_NGRAM_CAPFIRE,
        "dedup_lsh_capfire": SQL_DEDUP_LSH_CAPFIRE,
        "decontamination_capfire": SQL_DECON_CAPFIRE,
        "rollup_1m": SQL_ROLLUP_1M,
        "rollup_cascade": SQL_ROLLUP_CASCADE,
        "gapfill": SQL_GAPFILL,
        "downsample_minmax": SQL_DOWNSAMPLE_MINMAX,
        "sliding_stats_w8": SQL_SLIDING_STATS,
        "zero_crossings_w16": SQL_ZERO_CROSSINGS,
        "complexity": SQL_COMPLEXITY,
        "doc_znorm_stats": SQL_DOC_ZNORM_STATS,
        "mode_token": SQL_MODE_TOKEN,
        "mass_w8": SQL_MASS_W8,
        "matrix_profile_w8": SQL_MATRIX_PROFILE_W8,
        "matrix_profile_w8_dist": SQL_MATRIX_PROFILE_W8,
        "dedup_exact": SQL_DEDUP_EXACT,
        "dedup_ngram_jaccard": SQL_DEDUP_NGRAM_JACCARD,
        "dedup_minhash_lsh": SQL_DEDUP_MINHASH_LSH,
        "dedup_components": SQL_DEDUP_COMPONENTS,
        "simhash_pairs": SQL_SIMHASH_PAIRS,
        "ann_topk": SQL_ANN_TOPK,
        "ann_srp_buckets": SQL_SRP_BUCKETS,
        "ann_srp_pairs": SQL_SRP_PAIRS,
        "ann_ivf_topk": SQL_ANN_IVF_TOPK,
        "embedding_near_dups": SQL_EMBEDDING_NEAR_DUPS,
        "text_stats": SQL_TEXT_STATS,
        "lang_guess": SQL_LANG_GUESS,
        "token_counts": SQL_TOKEN_COUNTS,
        "fingerprint": SQL_FINGERPRINT,
        "kernel_stomp_w64": SQL_KERNEL_STOMP,
        "kernel_stamp_w64": SQL_KERNEL_MP_PLAIN,
        "kernel_scrimp_w64": SQL_KERNEL_MP_PLAIN,
        "kernel_mpx_w64": SQL_KERNEL_MPX,
        "kernel_mass_w64": SQL_KERNEL_MASS,
        "kernel_mass_abs_w64": SQL_KERNEL_MASS_ABS,
        "kernel_mass_weighted_w64": SQL_KERNEL_MASS_WEIGHTED,
        "kernel_mpxab_w64": SQL_KERNEL_MPXAB,
        "kernel_contrast_w50": SQL_KERNEL_CONTRAST,
        "kernel_mov_weighted_fading": SQL_KERNEL_MOV_EXP,
        "binary_split": SQL_BINARY_SPLIT,
        "tier_blobs": SQL_TIER_BLOBS,
        "image_features": SQL_IMAGE_FEATURES,
        "audio_features": SQL_AUDIO_FEATURES,
        "matrix_profile_blobs": SQL_MP_BLOBS,
        "normalize_params": SQL_NORMALIZE_PARAMS,
        "ed_corr_roundtrip": SQL_ED_CORR,
        "events_rollup_1h": SQL_EVENTS_ROLLUP,
        "doc_repetition": SQL_DOC_REPETITION,
        "bigram_commonness": SQL_BIGRAM_COMMONNESS,
        "corpus_curation": SQL_CORPUS_CURATION,
        "sample_stratified": SQL_SAMPLE_STRATIFIED,
        "pack_sequences": SQL_PACK_SEQUENCES,
        "decontamination": SQL_DECONTAMINATION,
        "tpch_q1_cents": SQL_TPCH_Q1,
        "tpch_top_customers": SQL_TPCH_TOP_CUSTOMERS,
        "lang_id_trigram": SQL_LANG_ID_TRIGRAM,
        "rollup_by_source": SQL_ROLLUP_BY_SOURCE,
        "motifs_discords": SQL_MOTIFS_DISCORDS,
        "stream_rollup": SQL_STREAM_ROLLUP,
        "checkpoint_rollup_resume": SQL_CHECKPOINT_ROLLUP,
        "sliding_stats_w8_chunked": SQL_SLIDING_STATS_CHUNKED,
        "asof_purchases": SQL_ASOF_PURCHASES,
        "sessionize_events": SQL_SESSIONIZE,
        "vocab_coverage": SQL_VOCAB_COVERAGE,
        "range_join_sessions": SQL_RANGE_JOIN_SESSIONS,
        "events_twa_rate": SQL_EVENTS_TWA_RATE,
        "downsample_lttb": SQL_DOWNSAMPLE_LTTB,
        "token_percentiles": SQL_TOKEN_PERCENTILES,
    }
