"""Group commit: the one commit contract under every lifecycle job
(BASELINE.json north_rule: snapshot-committed, resumable, per-partition
lineage manifests + metrics).

The rollup (checkpoint.py), expiry (expiry.py) and compression
(compress.py) jobs split their input into ``n_groups`` deterministic doc
groups, ``grp = pmod(xxhash64(doc_id), n_groups)`` — a doc lives wholly in
one group — and each run commits its incomplete groups through the same
calls: :meth:`~GroupCommit.bind`, :meth:`~GroupCommit.batch_rows`,
:meth:`~GroupCommit.layout`, :meth:`~GroupCommit.write`,
:meth:`~GroupCommit.commit_batch`, :meth:`~GroupCommit.finish`. In
production every group commit is an Iceberg snapshot commit (atomic,
versioned, time-travelable) and resume asks "which groups are already in
the committed snapshot?". The :class:`GroupCommit` store keeps that
contract with parquet and one JSON manifest per committed group; it is
the only code that writes fingerprints, manifests and stage markers, and
:meth:`~GroupCommit.write` owns the empty-group rule: every group a
write leaves without rows gets a schema-bearing empty file, so a store
stays readable however its rows fall.

Layout under ``base_dir``:

    input_fingerprint.json         identity of the bound input + policy,
                                   and the input's metadata pin
    <store>/grp=<k>/...parquet     the job's outputs, one partition per
                                   group, one file per group per write
                                   (an empty one where the write left
                                   the group without rows)
    manifests/<stage>_<k>.json     lineage of group k: censuses, bytes
                                   written per store, policy, input
                                   fingerprint, kernel version, wall time
    _stage_<stage>_COMMITTED       every group has a manifest

Binding. Every job reads its input live: the input is treated as an
immutable snapshot — the Iceberg snapshot-id analog — and the base dir
binds to its identity instead of a copy (:meth:`GroupCommit.bind`). Two
identities:

* the content fingerprint (recipe ``FP_RECIPE``): the row count plus the
  ``decimal(38,0)`` SUM of ``xxhash64`` over every input column. The sum
  is order-independent and, unlike a ``bit_xor`` (where a duplicated row
  pair cancels), duplicate-sensitive: {A, B, B} and {A, C, C} differ. The
  decimal cannot overflow at any realistic row count. A fresh binding
  observes it on the job's own first pass over the input (no extra
  pass); should AQE prune the observed stage — an empty input or batch —
  one aggregate computes it instead, so an empty input reads
  ``n = 0, h = 0``.
* the metadata pin: the sha256 of the canonicalized analyzed plan's text
  and of the schema (the plan text omits types), plus the sorted
  ``inputFiles()`` with each file's size and mtime. It exists only for a
  deterministic plan whose leaves are all file relations and that runs
  no Python UDF; the same files under another projection hash
  differently. Canonical plan text, unlike ``semanticHash()``, is the
  same in every session (JVM), so an unchanged re-run launches no Spark
  job, in the session that committed or in a new one.

The stored record carries the recipe tag, the job's policy and
``n_groups``, so a base dir binds to one (input, policy, grouping): a
re-run whose pin matches is bound; otherwise the content fingerprint
decides. A mismatch against committed work fails loudly — naming the
hash-formula change when the recipe tags differ — while a mismatch with
nothing committed simply rebinds.

Commit order, and what a crash at each point leaves behind:

1. the batch's data writes: dynamic partition overwrites that touch only
   the batch's groups, redone by the next run since no manifest names
   them (committed groups' data is never rewritten);
2. on a fresh binding, the fingerprint, before any manifest: a crash
   before it leaves no binding, and the next run binds afresh;
3. one manifest per group, write-then-rename: THE commit point — a torn
   or missing manifest means "not committed";
4. the stage marker, once every group has a manifest.

``fail_after=N`` restricts a run to the first N incomplete groups and
raises ``injected failure`` after committing them (kill-and-resume tests).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from pathlib import Path
from typing import Callable

import pyarrow.parquet as pq
from py4j.protocol import Py4JJavaError
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import __version__

# Version of the fingerprint RECIPE (not of the input), stored with every
# fingerprint so a resume can tell "the hash formula changed" from "the
# input changed". v1: xxhash64(doc_id, n_tok); v2: + token values, bit_xor;
# v3: decimal sum over every input column.
FP_RECIPE = 3

# footer key under which Spark's parquet writer keeps the row schema
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _fp_metrics(cols: list[str]) -> list[Column]:
    # SQL text: a Column tree costs several py4j calls per functions call
    names = ", ".join("`" + c.replace("`", "``") + "`" for c in cols)
    return [F.expr("count(1) AS n"),
            F.expr(f"sum(CAST(xxhash64({names}) AS DECIMAL(38,0))) AS h")]


def _fp(m) -> dict:
    return {"n": int(m["n"]), "h": int(m["h"] or 0), "recipe": FP_RECIPE}


def fingerprint(df: DataFrame) -> dict:
    """Order-independent, duplicate-sensitive identity of ``df`` (see the
    module docstring): one aggregate pass."""
    return _fp(df.agg(*_fp_metrics(df.columns)).collect()[0])


def write_json(path: Path, obj: dict) -> None:
    """Write-then-rename: readers see the old file or the new one, never a
    torn one."""
    tmp = path.with_name(f".{path.name}.tmp")
    tmp.write_text(json.dumps(obj))
    os.replace(tmp, path)


def read_manifest(base_dir: str | Path, stage: str, part: int) -> dict | None:
    p = Path(base_dir) / "manifests" / f"{stage}_{part}.json"
    if not p.exists():
        return None
    try:
        return json.loads(p.read_text())
    except json.JSONDecodeError:
        return None  # torn write == incomplete


def stored_schema(root: str | Path) -> T.StructType:
    """The row schema a group-partitioned store under ``root`` was
    written with, from one file's footer (every partition holds a file,
    see :meth:`GroupCommit.write`): no schema-inference job."""
    f = next(Path(root).glob("grp=*/*.parquet"), None)
    if f is None:
        raise FileNotFoundError(f"no committed store under {root}")
    meta = pq.read_schema(f).metadata[_SPARK_SCHEMA_KEY]
    return T.StructType.fromJson(json.loads(meta))


class GroupCommit:
    """The commit store of one job stage under ``base_dir``.

    ``policy`` (a JSON-able dict) is recorded in the fingerprint and in
    every manifest."""

    def __init__(self, spark: SparkSession, base_dir: str | Path, stage: str,
                 n_groups: int, policy: dict):
        self.spark = spark
        self.base = Path(base_dir)
        self.stage_name = stage
        self.n_groups = n_groups
        self.policy = policy
        self.fp: dict | None = None
        # a fresh binding until its fingerprint is written:
        # (input, observation, pin)
        self._fresh: tuple | None = None
        # the stores this run wrote, by name (for the manifests' bytes)
        self._roots: dict[str, Path] = {}
        (self.base / "manifests").mkdir(parents=True, exist_ok=True)

    # ------------------------------------------------------------ groups

    def group_col(self) -> Column:
        return F.pmod(F.xxhash64("doc_id"), F.lit(self.n_groups))

    def manifests(self) -> list[dict]:
        ms = (read_manifest(self.base, self.stage_name, k)
              for k in range(self.n_groups))
        return [m for m in ms if m is not None]

    def completed_groups(self) -> list[int]:
        return [k for k in range(self.n_groups)
                if read_manifest(self.base, self.stage_name, k) is not None]

    def batch(self, fail_after: int | None) -> tuple[list[int], bool]:
        """The incomplete groups this run commits, and whether it must
        raise the injected failure once they are committed."""
        done = set(self.completed_groups())
        todo = [k for k in range(self.n_groups) if k not in done]
        if fail_after is None or fail_after >= len(todo):
            return todo, False
        return todo[:fail_after], True

    def batch_rows(self, live: DataFrame, batch: list[int]) -> DataFrame:
        """The batch's rows of ``live`` (from :meth:`bind`) as the job's
        first pass reads them: on a fresh binding that pass observes the
        content fingerprint, over every input row (the batch filter comes
        after the observe)."""
        if self._fresh is not None:
            df, obs, _ = self._fresh
            live = live.observe(obs, *_fp_metrics(df.columns))
        return live.where(f"grp IN ({', '.join(map(str, batch))})")

    def layout(self, rows: DataFrame) -> DataFrame:
        """``rows`` (with ``grp``) laid out by group: the job's one
        shuffle. A per-doc quantity is then a window partitioned by
        ``grp`` and the doc, which this partitioning already clusters, and
        every store is written from these rows with no other shuffle.

        One hash repartition on the group puts each group into exactly one
        task, so one file per write (guide §6: without it each
        hive-partitioned write fanned ~shuffle-partitions tasks into up to
        n_groups dirs — 1004 files for a 6891-row store, a task + Python
        roundtrip per couple of files on every later scan). ``min(n_groups,
        task slots)`` tasks make each write one wave; at scale, choose
        n_groups so each file lands in the 128MB-1GB band."""
        return rows.repartition(
            min(self.n_groups, self.spark.sparkContext.defaultParallelism),
            F.col("grp"))

    # ----------------------------------------------------------- binding

    def _binding(self, fp: dict) -> dict:
        return {**fp, "policy": self.policy, "n_groups": self.n_groups}

    def _pin(self, df: DataFrame) -> dict | None:
        """The metadata identity of a file-backed input (module
        docstring), or None when ``df`` is not one — nor when its plan
        text is truncated (``spark.sql.debug.maxToStringFields``), since
        two projections could then print alike."""
        jvm = self.spark._jvm
        plan = df._jdf.queryExecution().analyzed()
        patterns = jvm.org.apache.spark.sql.catalyst.trees.TreePattern
        if (not plan.deterministic()
                or plan.containsPattern(patterns.PYTHON_UDF())):
            return None
        leaves = plan.collectLeaves()
        for i in range(leaves.size()):
            leaf = leaves.apply(i)
            if (leaf.getClass().getSimpleName() != "LogicalRelation"
                    or leaf.relation().getClass().getSimpleName()
                    != "HadoopFsRelation"):
                return None
        conf = self.spark._jsc.hadoopConfiguration()
        files = []
        for name in sorted(df.inputFiles()):
            path = jvm.org.apache.hadoop.fs.Path(name)
            st = path.getFileSystem(conf).getFileStatus(path)
            files.append([name, st.getLen(), st.getModificationTime()])
        text = plan.canonicalized().toString()
        if " more fields" in text:
            return None
        digest = hashlib.sha256((text + df.schema.json()).encode())
        return {"plan": digest.hexdigest(), "files": files}

    def _bound(self, df: DataFrame, pin: dict | None) -> bool:
        """Whether the base dir is already bound to ``df``: by the pin
        when it matches, else by the content fingerprint. Raises when
        committed work belongs to another input or policy; False means
        bind afresh."""
        fp_path = self.base / "input_fingerprint.json"
        if not fp_path.exists():
            return False
        old = json.loads(fp_path.read_text())
        old_pin = old.pop("pin", None)
        if pin is not None and pin == old_pin and old == self._binding(
                {"n": old.get("n"), "h": old.get("h"), "recipe": FP_RECIPE}):
            self.fp = old
            return True
        fp = self._binding(fingerprint(df))
        if old == fp:
            self.fp = fp
            return True
        if self.completed_groups():
            if old.get("recipe") != FP_RECIPE:
                raise ValueError(
                    f"base dir {self.base} was bound under fingerprint "
                    f"recipe {old.get('recipe', 'pre-tag')} and its "
                    f"values do not match this build's recipe-"
                    f"{FP_RECIPE} fingerprint; this is either a changed "
                    "input or a changed hash formula — discard the base "
                    "dir (or finish the run with the old build)")
            raise ValueError(
                f"base dir {self.base} holds committed "
                f"{self.stage_name} work for a different input or "
                f"policy (bound {old}, got {fp}); a base dir binds to "
                "one input and one policy — use a fresh base dir")
        return False

    def bind(self, df: DataFrame) -> DataFrame:
        """Bind the base dir to the live input ``df`` without copying it;
        returns ``df`` with ``grp``. A fresh binding's fingerprint is
        observed by the pass :meth:`batch_rows` marks and written before
        the first manifest."""
        pin = self._pin(df)
        if not self._bound(df, pin):
            self._fresh = (df, Observation(f"fp_{self.stage_name}"), pin)
        return df.withColumn("grp", self.group_col())

    def _record(self) -> None:
        """Write a fresh binding's fingerprint, once its observed pass
        has run."""
        df, obs, pin = self._fresh
        try:
            fp = _fp(obs.get)
        except Py4JJavaError:
            # AQE's empty-relation propagation replaced the stage that
            # held the metrics node (an empty input or batch), so the
            # observation has no row
            fp = fingerprint(df)
        self.fp = self._binding(fp)
        write_json(self.base / "input_fingerprint.json",
                   self.fp if pin is None else {**self.fp, "pin": pin})
        self._fresh = None

    # ------------------------------------------------------------ writes

    def observe_census(self, df: DataFrame, batch: list[int],
                       census: dict[str, Column],
                       drop: tuple[str, ...] = ()
                       ) -> tuple[DataFrame, Callable[[], dict]]:
        """``df`` with ``census`` observed on it and the census-only
        columns ``drop`` left out, and a function that returns — once the
        one write of those rows has run — per ``census`` name the
        per-group sum of its column: no read-back pass.

        The census is one ``array(sum(if(grp = k, c, 0)), ...)`` SQL
        expression per name: a Column tree per (name, group) cost several
        py4j calls per ``functions`` call. The observe sits ABOVE the
        layout's shuffle: a runtime-empty shuffle lets AQE's
        empty-relation propagation replace the subtree BELOW the metrics
        node, and a CollectMetrics inside the replaced subtree never
        reports — at the top of the plan it always survives and counts
        the same rows."""
        obs = Observation()
        cols = {f"_census_{name}": col for name, col in census.items()}
        metrics = [
            F.expr("array(" + ", ".join(
                f"sum(if(grp = {k}, `_census_{name}`, 0))" for k in batch)
                + f") AS `{name}`")
            for name in census
        ]

        def counts() -> dict[str, dict[int, int]]:
            m = obs.get
            return {name: {k: int(v or 0) for k, v in zip(batch, m[name])}
                    for name in census}

        return (df.withColumns(cols).observe(obs, *metrics)
                .drop(*cols, *drop), counts)

    def write(self, df: DataFrame, root: str | Path, batch: list[int],
              census: dict[str, Column], drop: tuple[str, ...] = ()
              ) -> dict[str, dict[int, int]]:
        """Write the batch's groups of ``df`` under ``root``:
        hive-partitioned by group, dynamic partition overwrite (only the
        batch's partitions are replaced). The caller lays out once and
        derives ``df`` from :meth:`layout`'s rows with no shuffle between,
        so each group is in one task and gets one file. Every batch group
        the write leaves without rows gets an empty file of the written
        rows' own schema (:meth:`_backfill`), so each group of the store
        is readable and the store holds one footer schema. Returns the
        census :meth:`observe_census` observes on the write."""
        rows, counts = self.observe_census(
            df, batch, {**census, "_written": F.lit(1)}, drop)
        (rows.write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("grp").parquet(str(root)))
        self._roots[Path(root).name] = Path(root)
        out = counts()
        written = out.pop("_written")
        empty = [k for k in batch if not written[k]]
        if empty:
            self._backfill(root, empty, rows.drop("grp").schema)
        return out

    def _backfill(self, root: str | Path, groups: list[int],
                  schema: T.StructType) -> None:
        """Schema-bearing empty partitions for the groups a dynamic write
        skipped (no rows): one Spark write of the empty file, copied into
        every such group's dir."""
        tmp = self.base / "_backfill"
        self.spark.createDataFrame([], schema).write.mode(
            "overwrite").parquet(str(tmp))
        src = next(tmp.glob("*.parquet"))
        for k in groups:
            part = Path(root) / f"grp={k}"
            shutil.rmtree(part, ignore_errors=True)
            part.mkdir(parents=True)
            shutil.copyfile(src, part / src.name)
        shutil.rmtree(tmp)

    # ----------------------------------------------------------- commits

    def commit_batch(self, batch: list[int], t0: float,
                     fields: dict[int, dict], rows_key: str) -> None:
        """Commit every group of a batch written as one shared pass: each
        group's manifest, with the shared lineage fields, is its commit
        point, and a fresh binding's fingerprint goes first. A group's
        wall time is an equal share of the batch's, and its
        ``bytes_written`` are the sizes of its files in each store this
        run wrote, stat'ed on the driver (no Spark job)."""
        share = (time.time() - t0) / len(batch)
        if self._fresh is not None:
            self._record()
        for k in batch:
            rows = fields[k][rows_key]
            write_json(
                self.base / "manifests" / f"{self.stage_name}_{k}.json",
                {
                    "stage": self.stage_name,
                    "part": k,
                    **fields[k],
                    "bytes_written": {
                        name: sum(f.stat().st_size
                                  for f in root.glob(f"grp={k}/*.parquet"))
                        for name, root in self._roots.items()},
                    "elapsed_sec": round(share, 3),
                    "rows_per_sec": round(rows / share, 1) if share else None,
                    "policy": self.policy,
                    "kernel_version": __version__,
                    "input_fingerprint": self.fp,
                    "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ",
                                                  time.gmtime()),
                },
            )

    def finish(self, batch: list[int], inject: bool) -> list[int]:
        """End a run: raise the injected failure, or mark the stage
        committed once every group is; returns the groups committed."""
        if inject:
            raise RuntimeError(f"injected failure after {len(batch)} groups")
        if len(self.completed_groups()) == self.n_groups:
            (self.base / f"_stage_{self.stage_name}_COMMITTED").touch()
        return batch

    # ----------------------------------------------------------- reading

    def read(self, root: str | Path, schema: T.StructType) -> DataFrame:
        """The store under ``root``, written from rows of ``schema`` and
        hive-partitioned by group, read with the schema it was written
        with: no schema-inference job. ``grp`` comes last, as the int
        that partition inference gives. The field list is a fresh one:
        ``StructType.add`` appends in place and ``StructType(fields)``
        shares the caller's list, so either would change ``schema``."""
        full = T.StructType([*schema.fields,
                             T.StructField("grp", T.IntegerType(), True)])
        return self.spark.read.schema(full).parquet(str(root))

    def require_committed(self) -> None:
        missing = sorted(set(range(self.n_groups))
                         - set(self.completed_groups()))
        if missing:
            raise RuntimeError(
                f"{self.stage_name} incomplete: groups {missing} have no "
                "manifest — run() to completion before reading the store")

    def metrics(self, *keys: str) -> dict:
        """Manifest sums of ``keys``, the committed group count, the
        summed wall time and, for the jobs that write through
        :meth:`write`, the bytes written per store."""
        ms = self.manifests()
        out = {
            "groups_committed": len(ms),
            **{key: sum(m[key] for m in ms) for key in keys},
            "elapsed_sec": round(sum(m["elapsed_sec"] for m in ms), 3),
        }
        written = [m["bytes_written"] for m in ms if "bytes_written" in m]
        if written:
            out["bytes_written"] = {
                name: sum(w.get(name, 0) for w in written)
                for name in written[0]}
        return out
