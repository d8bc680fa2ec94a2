"""Resumable finest-tier rollup on the group-commit store
(streaming/commit.py holds the commit contract — binding, fingerprint,
manifests, marker): each run rolls up every incomplete group in one pass
and one write, into ``stage=rollup_1m/grp=<k>/``, or into one Iceberg
partition overwrite per run. The reference's only analog is its
interrupt-safe partial return (R/stomp.R:50-58); full resumability is new
engine surface."""

from __future__ import annotations

import time
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.rollup import tier_rollup, with_derived_stats
from .commit import GroupCommit, stored_schema


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
    ``stage=rollup_1m/grp=<k>/...parquet``, every group of a run written in
    one pass."""

    def __init__(self, spark: SparkSession, base_dir: str | Path, n_groups: int = 8,
                 bucket_size: int = 60, iceberg_table: str | None = None):
        """``iceberg_table`` (e.g. ``mp_iceberg.db.rollup_1m``) switches
        the data commit from path-parquet to one atomic Iceberg partition
        overwrite on that table per run; the catalog named in the table's
        first part must be configured and its jar present
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
        self.store = GroupCommit(spark, base_dir, STAGE, n_groups,
                                 {"bucket_size": bucket_size})

    def completed_groups(self) -> list[int]:
        return self.store.completed_groups()

    def run(self, tokens: DataFrame, fail_after: int | None = None) -> list[int]:
        """Roll up every incomplete group in ONE pass over the live input
        (:meth:`GroupCommit.bind`, no copy): the kernel runs on the
        input's own partitions, its rows are laid out by group
        (:meth:`GroupCommit.layout` — the shuffle moves rollup rows, about
        one per ``bucket_size`` points, never token arrays), and one write
        replaces only the batch's group partitions, then one manifest per
        group. ``fail_after`` commits only the first N incomplete groups,
        then raises (kill-and-resume tests). Returns the groups committed
        this run.

        Censuses are observed on the write: per-group rows, and distinct
        ``doc_id``s as the first row of each (grp, doc_id) window — a doc
        lives wholly in one group, so the layout already clusters it.

        A base dir holding the older per-group ``part=<k>/`` layout is
        refused: ``result()`` could not read it next to ``grp=<k>/``."""
        root = self.base / f"stage={STAGE}"
        if next(root.glob("part=*"), None) is not None:
            raise ValueError(
                f"{root} holds the part=<k>/ layout of an older build, "
                "which this build's grp=<k>/ store cannot be read beside; "
                "use a fresh base dir")
        live = self.store.bind(tokens)
        batch, inject = self.store.batch(fail_after)
        if batch:
            t0 = time.time()
            rollup = with_derived_stats(tier_rollup(
                self.store.batch_rows(live, batch), {"1m": self.bucket_size}))
            doc = Window.partitionBy("grp", "doc_id").orderBy("source",
                                                             "bucket")
            rows = (self.store.layout(
                rollup.withColumn("grp", self.store.group_col()))
                .withColumn("first", F.row_number().over(doc) == 1))
            census = {"rows": F.lit(1),
                      "n_docs": F.when(F.col("first"), 1).otherwise(0)}
            lineage = {}
            if self.iceberg_table:
                counts, lineage = self._commit_iceberg(rows, batch, census)
            else:
                counts = self.store.write(rows, root, batch, census,
                                          drop=("first",))
            self.store.commit_batch(batch, t0, {
                k: {"n_docs": counts["n_docs"][k], "rows": counts["rows"][k],
                    "points": counts["rows"][k] * 5, **lineage}
                for k in batch}, "rows")
        return self.store.finish(batch, inject)

    # The two catalog-API primitives of the commit path, factored out so
    # the ORCHESTRATION below (shape check, create-vs-replace decision,
    # snapshot lineage in manifests, resume/skip semantics) is executable
    # under test against the session catalog even without the Iceberg
    # runtime jar (tests/test_resume.py::test_iceberg_commit_contract_*);
    # only these two one-call wrappers stay jar-gated.

    def _replace_partition(self, data: DataFrame, exists: bool) -> None:
        """Create the table partitioned by ``part`` on first commit, else
        atomically REPLACE the partitions ``data`` holds (Iceberg
        overwritePartitions — an all-or-nothing snapshot commit; a killed
        write leaves the previous snapshot intact, the same torn-write
        guarantee the parquet path gets from its manifests)."""
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

    def _commit_iceberg(self, rows: DataFrame, batch: list[int],
                        census: dict):
        """Atomic batch commit: REPLACE the batch's partitions of the
        Iceberg table (``part`` = ``grp``) in one overwrite. Returns the
        census observed on it and the lineage every manifest of the batch
        records: the snapshot id of that one commit."""
        try:
            exists = self.spark.catalog.tableExists(self.iceberg_table)
        except Exception:
            exists = False
        if exists:
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
        data, counts = self.store.observe_census(rows, batch, census,
                                                 drop=("first",))
        self._replace_partition(data.withColumnRenamed("grp", "part"), exists)
        return counts(), {"iceberg_snapshot_id": self._snapshot_id()}

    def result(self) -> DataFrame:
        """The rollup rows, read with the schema they were written with
        (no schema-inference job); the layout column (``grp``, or the
        Iceberg table's ``part``) is a physical detail and is dropped."""
        if self.iceberg_table:
            return self.spark.table(self.iceberg_table).drop("part")
        root = self.base / f"stage={STAGE}"
        return self.store.read(root, stored_schema(root)).drop("grp")

    def metrics(self) -> dict:
        m = self.store.metrics("rows", "points")
        return {"groups_done": m.pop("groups_committed"), **m}
