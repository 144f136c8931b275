"""The MERGE contract shared by the table layer's MERGEs
(`VersionedTable.merge` and `merge_dv`, pipeline/versioned.py).

The reference stores bronze/silver/gold in Iceberg with MERGE upserts
(bronze_to_silver.py:156-188) and partition layouts chosen for pruning
(SURVEY §4). This environment ships no Delta/Iceberg runtime, so the
engine implements the same contract on partitioned parquet files
listed by a manifest: a MERGE only ever rewrites the partitions the
source touches, never the table.

MERGE INTO t USING s ON key == (per touched partition):
    (target rows NOT matched by key)  UNION  (all source rows)
Matched rows are replaced by the source row (WHEN MATCHED UPDATE SET *
/ WHEN NOT MATCHED INSERT *, reference bronze_to_silver.py:171-186).

The source side of that contract is these module-level functions:
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
- `partition_dir` names a touched partition's directory, so that the
  files of a partition the MERGE emptied leave the manifest too.
`backfill_added_columns` is the read-side backfill of columns declared
by `add_column`.
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager
from functools import reduce

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Row
from pyspark.sql import functions as F

from crypto_lakehouse_spark.operators.checkpointing import release_lineage

# Spark's ExternalCatalogUtils.escapePathName / DEFAULT_PARTITION_NAME,
# so directory names computed here match what Spark wrote, NULL values
# and special characters ('%', ':', '=', '/', control chars, ...)
# included: an f"{col}={val}" path misses those.
_HIVE_DEFAULT_PARTITION = "__HIVE_DEFAULT_PARTITION__"
_PATH_ESCAPE_CHARS = set('"#%\'*/:=?\\{[]^\x7f') | {chr(c) for c in range(0x20)}


def partition_dir(partition_by: list[str], row: Row) -> str:
    """The table-relative directory Spark writes the partition whose
    `partition_by` values are `row` into."""

    def escape(value) -> str:
        if value is None or value == "":
            return _HIVE_DEFAULT_PARTITION
        s = str(value).lower() if isinstance(value, bool) else str(value)
        return "".join(f"%{ord(ch):02X}" if ch in _PATH_ESCAPE_CHARS else ch for ch in s)

    return "/".join(f"{c}={escape(row[c])}" for c in partition_by)


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
