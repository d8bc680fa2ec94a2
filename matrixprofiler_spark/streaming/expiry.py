"""Physical retention expiry: the TimescaleDB ``drop_chunks`` analog.

``retention_policy`` (operators/rollup.py) is a serving VIEW — it decides
which tier answers for which offset range, but the expired fine-tier rows
stay on disk. At 100 TB the fine tier dominates storage cost, so the
missing half of the north rule's "retention engine" is a job that
physically REWRITES the stored fine tier dropping every bucket whose
serving responsibility has passed to the coarse tier (reference analog for
the contract shape: the precompute-once/serve-many stats-struct lifecycle
of /root/reference/src/mass.cpp:408-443).

Semantics (exactly the serving view's fine-tier predicate, so the view
over the compacted store is provably row-identical to the view over the
full store — pytest-asserted):

* per-doc watermark  ``wm = (max(bucket)+1) * fine_size``   (pre-compaction)
* expiry cutoff      ``cut = floor((wm - horizon)/coarse_size)*coarse_size``
  — aligned DOWN to the coarse grid, same math as
  ``retention_policy_multi`` (operators/rollup.py)
* a fine bucket is DROPPED iff ``(bucket+1)*fine_size <= cut``.

The job additionally persists the captured watermark table: after
compaction a fully-expired doc (horizon 0, wm on a coarse boundary) has no
fine rows left, so its watermark can no longer be recomputed from the
store — the serving view over a compacted store must read the stored
watermark (``retention_policy(..., watermark=job.watermarks())``), the
same way TimescaleDB keeps the continuous-aggregate watermark in catalog
metadata rather than deriving it from the hypertable.

One body serves both jobs: :class:`RetentionExpiryJobMulti` compacts every
non-coarsest tier of an N-tier cascade, and :class:`RetentionExpiryJob` is
its 2-tier case. The input is read live, never copied: the base dir binds
to its identity (streaming/commit.py holds the commit contract). Stores
under the base dir, each partitioned by commit group:

    watermarks/grp=<k>/            pre-compaction per-doc watermark
    compacted/grp=<k>/             kept rows, in the input's columns
    manifests/expiry_<k>.json      per-group, per-tier row census

With more than one tier to compact, the input and the compacted rows
carry a ``tier_idx`` column.

Scale shape: no copy of the input; per run, one shuffle of the batch's
ROLLUP rows (never raw tokens) into the commit-group layout, and the
watermark as a window over (grp, doc_id, source) inside it — no
aggregate joined back, no broadcast of any corpus-sized side, no second
shuffle. Both stores are written from one cache of the windowed rows. At
1000 executors each group maps to a set of Iceberg partition overwrites
(REPLACE WHERE).
"""

from __future__ import annotations

import time
from functools import reduce
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.rollup import (
    check_tiers,
    retention_policy,
    retention_policy_multi,
)
from .commit import GroupCommit, stored_schema

STAGE = "expiry"


class RetentionExpiryJobMulti:
    """N-tier physical expiry: compacts EVERY non-coarsest tier of the
    cascade by its own cutoff — the full ``drop_chunks``-per-hypertable
    analog for the raw->1m->1h->1d cascade that
    ``retention_policy_multi`` serves.

    ``sizes`` is the full finest-first nested tier-size list (coarsest
    included — it defines the alignment grid of the last cutoff);
    ``horizons`` has ``len(sizes)-1`` entries, nondecreasing
    finest-first, exactly as the serving view takes them. ``run`` takes
    the list of the ``len(sizes)-1`` non-coarsest tier stores
    finest-first; the coarsest tier is never compacted (it serves
    everything older than every cutoff, forever).

    Tier ``i``'s drop predicate is the complement of its serving range's
    reachable side: the view serves tier i on ``(cut[i], cut[i-1]]``,
    and as the watermark advances, ``cut[i-1]`` only moves FORWARD — so
    a row with ``(bucket+1)*sizes[i] <= cut[i]`` can never be served
    again (cut[i] also only advances) and is physically dropped, while
    rows above ``cut[i-1]`` (not served YET) must be kept.
    ``cut[i] = floor((wm - horizons[i]) / sizes[i+1]) * sizes[i+1]``,
    with ``wm`` the pre-compaction FINEST-tier watermark — identical
    math to the serving view, so view-over-compacted ==
    view-over-full row for row (pytest-asserted).

    One manifest per GROUP covers all tiers with a per-tier row census —
    a group commit is atomic across tiers, so a resume never serves a
    half-compacted cascade slice."""

    def __init__(self, spark: SparkSession, base_dir: str | Path,
                 sizes: list[int], horizons: list[int], n_groups: int = 8):
        check_tiers(sizes, horizons)
        self.spark = spark
        self.base = Path(base_dir)
        self.sizes = list(sizes)
        self.horizons = list(horizons)
        self.n_groups = n_groups
        self.store = GroupCommit(
            spark, base_dir, STAGE, n_groups,
            {"sizes": self.sizes, "horizons": self.horizons})

    def completed_groups(self) -> list[int]:
        return self.store.completed_groups()

    def _input(self, tiers: list[DataFrame]) -> DataFrame:
        if len(tiers) != len(self.sizes) - 1:
            raise ValueError(
                f"expected {len(self.sizes) - 1} non-coarsest tier stores,"
                f" got {len(tiers)}")
        if len(tiers) == 1:
            # nothing to tell apart: no tier_idx column to hash, shuffle
            # and store (it cost the 2-tier job ~10% of its run time,
            # measured on a 58k-row store)
            return tiers[0]
        # tier_idx is an input column, so the fingerprint is positional:
        # swapping two same-shape tiers cannot alias
        return reduce(DataFrame.unionByName, [
            df.withColumn("tier_idx", F.lit(i)) for i, df in enumerate(tiers)
        ])

    def _cut(self, i: int):
        align = self.sizes[i + 1]
        return (F.floor((F.col("wm") - self.horizons[i]) / align)
                * align).cast("long")

    def run(self, tiers: list[DataFrame],
            fail_after: int | None = None) -> list[int]:
        """Compact every incomplete group in ONE data pass: the batch is
        laid out by group once (:meth:`GroupCommit.layout`), each row gets
        its doc's watermark and per-tier row counts as windows over
        (grp, doc_id, source), and that windowed batch is cached; the
        watermark table (one row per doc) and the compacted store are
        whole-batch writes of it that replace only the batch's group
        partitions, then one manifest per group. Neither write shuffles
        or joins, and neither reads the other: the watermark table is
        written for the serving views, not for the compaction. Returns
        the groups committed this run.

        Censuses are observed on the two writes: per-(group, tier) rows
        before and the finest tier's surviving doc count ride the
        watermark write (a doc keeps a finest row iff its ``wm`` exceeds
        its cutoff), per-(group, tier) rows after ride the compacted
        write. Coarser-tier rows of docs absent from the finest tier
        violate the cascade-derivation contract: their window watermark
        is null, so they are dropped and left out of every census."""
        live = self.store.bind(self._input(tiers))
        batch, inject = self.store.batch(fail_after)
        if batch:
            t0 = time.time()
            wm_root = self.base / "watermarks"
            comp_root = self.base / "compacted"
            n_tiers = len(self.horizons)
            tier = F.col("tier_idx") if n_tiers > 1 else F.lit(0)
            n_cols = tuple(f"n{i}" for i in range(n_tiers))
            # grp is a window key (a doc lives wholly in one group), so
            # the layout's partitioning on grp already clusters the doc
            doc = Window.partitionBy("grp", "doc_id", "source").orderBy(
                "bucket")
            whole = doc.rowsBetween(Window.unboundedPreceding,
                                    Window.unboundedFollowing)
            rows = (
                self.store.layout(self.store.batch_rows(live, batch))
                .withColumns({
                    "wm": (F.max(F.when(tier == 0, F.col("bucket")))
                           .over(whole) + 1) * self.sizes[0],
                    **{c: F.count(F.when(tier == i, 1)).over(whole)
                       for i, c in enumerate(n_cols)},
                    "first": F.row_number().over(doc) == 1})
                .where(F.col("wm").isNotNull())
                .persist())
            # per-tier keep predicate, dispatched on tier_idx in ONE pass
            # — one filter + write, not T jobs; the last tier needs no
            # test (tier_idx < n_tiers)
            keeps = [(F.col("bucket") + 1) * size > self._cut(i)
                     for i, size in enumerate(self.sizes[:-1])]
            keep = keeps[-1]
            for i in reversed(range(n_tiers - 1)):
                keep = F.when(tier == i, keeps[i]).otherwise(keep)
            wm = rows.where("first").select("grp", "doc_id", "source", "wm",
                                            *n_cols)
            try:
                before = self.store.write(
                    wm, wm_root, batch,
                    {**{c: F.col(c) for c in n_cols},
                     "docs": F.when(F.col("wm") > self._cut(0), 1)
                     .otherwise(0)},
                    drop=n_cols)
                after = self.store.write(
                    rows.where(keep).select(*live.columns), comp_root,
                    batch, {f"n{i}": F.when(tier == i, 1).otherwise(0)
                            for i in range(n_tiers)})
            finally:
                rows.unpersist()
            fields = {}
            for k in batch:
                census = [
                    {"tier_idx": i, "rows_before": before[c][k],
                     "rows_dropped": before[c][k] - after[c][k],
                     "rows_after": after[c][k]}
                    for i, c in enumerate(n_cols)
                ]
                fields[k] = {
                    **{key: sum(t[key] for t in census)
                       for key in ("rows_before", "rows_dropped",
                                   "rows_after")},
                    "n_docs_after": before["docs"][k],
                    "tiers": census,
                }
            self.store.commit_batch(batch, t0, fields, "rows_before")
        return self.store.finish(batch, inject)

    # --------------------------------------------------------- reading

    def result(self) -> DataFrame:
        """All compacted tiers (``tier_idx`` column kept; full commit
        required)."""
        self.store.require_committed()
        root = self.base / "compacted"
        out = self.store.read(root, stored_schema(root)).drop("grp")
        if len(self.horizons) == 1:  # a one-tier store has no tier_idx
            out = out.withColumn("tier_idx", F.lit(0))
        return out

    def result_tier(self, i: int) -> DataFrame:
        """Compacted store of tier ``i`` (0 = finest)."""
        if not 0 <= i < len(self.sizes) - 1:
            raise ValueError(
                f"tier_idx must be in [0, {len(self.sizes) - 2}] — the "
                "coarsest tier is never compacted")
        return self.result().filter(F.col("tier_idx") == i).drop("tier_idx")

    def watermarks(self) -> DataFrame:
        """The pre-compaction per-doc watermark table — the authoritative
        high-water for serving views over the compacted store."""
        self.store.require_committed()
        root = self.base / "watermarks"
        return self.store.read(root, stored_schema(root)).drop("grp")

    def serving_view(self, coarsest: DataFrame) -> DataFrame:
        """N-tier retention serving view over the COMPACTED tiers + the
        stored watermark; row-identical to the view over the full
        stores (pytest-asserted)."""
        tiers = [
            (self.result_tier(i), s)
            for i, s in enumerate(self.sizes[:-1])
        ] + [(coarsest, self.sizes[-1])]
        return retention_policy_multi(
            tiers, self.horizons, watermark=self.watermarks())

    def metrics(self) -> dict:
        out = self.store.metrics("rows_before", "rows_dropped", "rows_after")
        ms = self.store.manifests()
        out["tiers"] = [
            {"tier_idx": i,
             **{key: sum(m["tiers"][i][key] for m in ms)
                for key in ("rows_before", "rows_dropped", "rows_after")}}
            for i in range(len(self.horizons))
        ]
        return out


class RetentionExpiryJob:
    """Partition-grouped, resumable physical expiry of a fine-tier rollup
    store: the 2-tier case ``sizes=[fine_size, coarse_size]``,
    ``horizons=[horizon]`` of :class:`RetentionExpiryJobMulti` (coarse_size
    must be a multiple of fine_size, horizon >= 0 — same domain the
    serving view enforces)."""

    def __init__(self, spark: SparkSession, base_dir: str | Path,
                 fine_size: int, coarse_size: int, horizon: int,
                 n_groups: int = 8):
        self.fine_size = fine_size
        self.coarse_size = coarse_size
        self.horizon = horizon
        self.n_groups = n_groups
        self._tiers = RetentionExpiryJobMulti(
            spark, base_dir, [fine_size, coarse_size], [horizon],
            n_groups=n_groups)
        self.store = self._tiers.store
        self.store.policy = {"fine_size": fine_size,
                             "coarse_size": coarse_size, "horizon": horizon}

    def completed_groups(self) -> list[int]:
        return self.store.completed_groups()

    def run(self, fine: DataFrame, fail_after: int | None = None) -> list[int]:
        return self._tiers.run([fine], fail_after)

    def result(self) -> DataFrame:
        """The compacted fine store (all groups; requires full commit)."""
        return self._tiers.result().drop("tier_idx")

    def watermarks(self) -> DataFrame:
        return self._tiers.watermarks()

    def serving_view(self, coarse: DataFrame) -> DataFrame:
        """Retention serving view over the COMPACTED store + stored
        watermark; row-identical to the view over the full store
        (pytest-asserted)."""
        return retention_policy(
            self.result(), coarse, self.fine_size, self.coarse_size,
            self.horizon, watermark=self.watermarks(),
        )

    def metrics(self) -> dict:
        out = self._tiers.metrics()
        del out["tiers"]
        return out
