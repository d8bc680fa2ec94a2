"""Resumable finest-tier rollup: a per-group loop on the group-commit
store (streaming/commit.py holds the commit contract — staging,
fingerprint, manifests, marker), with an optional Iceberg backend for the
per-group data commits. The reference's only analog is its
interrupt-safe partial return (R/stomp.R:50-58); full resumability is new
engine surface."""

from __future__ import annotations

import time
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.rollup import tier_rollup, with_derived_stats
from .commit import GroupCommit


def iceberg_available(spark: SparkSession, catalog: str = "mp_iceberg") -> bool:
    """True when an Iceberg catalog is configured on this session AND its
    implementation class actually loads (the runtime ships the Iceberg
    Spark runtime jar). On runtimes without the jar this is simply False
    and the parquet+manifest backend below is used — same commit contract,
    tested identically (tests/test_resume.py runs the Iceberg variants
    skip-if-missing)."""
    try:
        impl = spark.conf.get(f"spark.sql.catalog.{catalog}")
    except Exception:
        return False
    if not impl:
        return False
    try:
        spark._jvm.java.lang.Class.forName(impl)
        return True
    except Exception:
        return False


STAGE = "rollup_1m"


class RollupJob:
    """Partition-grouped, resumable finest-tier rollup.

    The tokens table is split into ``n_groups`` deterministic doc groups
    (hash of doc_id — the same salting used for skew defeat); each group is
    one unit of commit (streaming/commit.py). This mirrors a per-partition
    Iceberg write with commit metadata, at sandbox scale. Output layout:
    ``stage=rollup_1m/part=<k>/...parquet``."""

    def __init__(self, spark: SparkSession, base_dir: str | Path, n_groups: int = 8,
                 bucket_size: int = 60, iceberg_table: str | None = None):
        """``iceberg_table`` (e.g. ``mp_iceberg.db.rollup_1m``) switches
        the per-group data commits from path-parquet to atomic Iceberg
        partition overwrites on that table; the catalog named in the
        table's first part must be configured and its jar present
        (iceberg_available). Manifests — our lineage/metrics surface —
        stay JSON either way; with Iceberg each manifest also records the
        table snapshot_id of its commit."""
        self.spark = spark
        self.base = Path(base_dir)
        self.n_groups = n_groups
        self.bucket_size = bucket_size
        self.iceberg_table = iceberg_table
        if iceberg_table is not None:
            catalog = iceberg_table.split(".", 1)[0]
            if not iceberg_available(spark, catalog):
                raise RuntimeError(
                    f"iceberg_table={iceberg_table!r} requested but catalog "
                    f"{catalog!r} is not configured on this session (set "
                    f"spark.sql.catalog.{catalog} and ship the Iceberg "
                    "Spark runtime jar), falling back is not silent by "
                    "design — drop the argument to use parquet+manifests"
                )
        # staging keeps the input's own partitioning: each group's rollup
        # then runs with the input's parallelism, not one task per group
        self.store = GroupCommit(spark, base_dir, STAGE, n_groups,
                                 {"bucket_size": bucket_size},
                                 layout_staging=False)

    def completed_groups(self) -> list[int]:
        return self.store.completed_groups()

    def stage_input(self, tokens: DataFrame) -> DataFrame:
        return self.store.stage(tokens)

    def run(self, tokens: DataFrame, fail_after: int | None = None) -> list[int]:
        """Process all incomplete groups; returns the groups processed this
        run. ``fail_after`` aborts after N groups (for kill-and-resume
        tests)."""
        staged = self.store.stage(tokens)
        batch, inject = self.store.batch(fail_after)
        for k in batch:
            t0 = time.time()
            part_tokens = staged.filter(F.col("grp") == k)  # pruned read
            out = with_derived_stats(
                tier_rollup(part_tokens, {"1m": self.bucket_size}))
            lineage = {}
            if self.iceberg_table:
                committed, snapshot_id = self._commit_iceberg(out, k)
                if snapshot_id is not None:
                    lineage["iceberg_snapshot_id"] = snapshot_id
            else:
                out_path = str(self.base / f"stage={STAGE}" / f"part={k}")
                out.write.mode("overwrite").parquet(out_path)
                committed = self.spark.read.parquet(out_path)
            agg = committed.agg(
                F.count("*").alias("rows"),
                F.countDistinct("doc_id").alias("n_docs"),
            ).collect()[0]
            rows = int(agg["rows"])
            elapsed = time.time() - t0
            self.store.commit(k, {
                "n_docs": int(agg["n_docs"]),
                "rows": rows,
                "points": rows * 5,
                "elapsed_sec": round(elapsed, 3),
                "points_per_sec": round(rows * 5 / elapsed, 1) if elapsed else None,
                **lineage,
            })
        return self.store.finish(batch, inject)

    # The two catalog-API primitives of the commit path, factored out so
    # the ORCHESTRATION below (shape check, create-vs-replace decision,
    # snapshot lineage in manifests, resume/skip semantics) is executable
    # under test against the session catalog even without the Iceberg
    # runtime jar (tests/test_resume.py::test_iceberg_commit_contract_*);
    # only these two one-call wrappers stay jar-gated.

    def _replace_partition(self, data: DataFrame, exists: bool) -> None:
        """Create the partitioned table on first commit, else atomically
        REPLACE its part=k slice (Iceberg overwritePartitions — an
        all-or-nothing snapshot commit; a killed write leaves the
        previous snapshot intact, the same torn-write guarantee the
        parquet path gets from write-then-rename)."""
        w = data.writeTo(self.iceberg_table)
        if not exists:
            w.partitionedBy(F.col("part")).create()
        else:
            w.overwritePartitions()

    def _snapshot_id(self) -> int | None:
        """Main-branch head right after our commit (single-writer
        assumption, same as the manifest dir itself — a concurrent
        writer on the same table would need the Java commit API to
        capture its own snapshot atomically)."""
        snap = self.spark.sql(
            f"SELECT snapshot_id FROM {self.iceberg_table}.refs "
            "WHERE name = 'main'"
        ).collect()
        return int(snap[0][0]) if snap else None

    def _commit_iceberg(self, out: DataFrame, k: int):
        """Atomic per-group commit: REPLACE the grp=k partition of the
        Iceberg table. Returns (committed rows DF, snapshot_id)."""
        data = out.withColumn("part", F.lit(k))
        try:
            exists = self.spark.catalog.tableExists(self.iceberg_table)
        except Exception:
            exists = False
        if exists and not getattr(self, "_iceberg_shape_checked", False):
            # a table written by a job with a different n_groups would
            # keep its extra partitions past this job's overwrites and
            # result() would serve duplicated docs — bind the table to
            # one grouping, fail loudly otherwise
            stale = self.spark.sql(
                f"SELECT max(part) AS m FROM {self.iceberg_table}"
            ).collect()[0]["m"]
            if stale is not None and stale >= self.n_groups:
                raise ValueError(
                    f"iceberg table {self.iceberg_table} holds partitions "
                    f"up to part={stale} from a job with more groups than "
                    f"n_groups={self.n_groups}; use a fresh table"
                )
        self._iceberg_shape_checked = True
        self._replace_partition(data, exists)
        committed = (
            self.spark.table(self.iceberg_table).filter(F.col("part") == k).drop("part")
        )
        return committed, self._snapshot_id()

    def result(self) -> DataFrame:
        # drop the hive-style `part` layout column — physical detail only
        if self.iceberg_table:
            return self.spark.table(self.iceberg_table).drop("part")
        return self.spark.read.parquet(str(self.base / f"stage={STAGE}")).drop("part")

    def metrics(self) -> dict:
        m = self.store.metrics("rows", "points")
        return {"groups_done": m.pop("groups_committed"), **m}
