"""SCD Type-2 dimension maintenance (slowly changing dimensions with
full history): the standard lakehouse pattern for dimension tables
whose attributes drift over time — each key keeps a chain of
(valid_from, valid_to] versions with exactly one open (current) row.

Spark-first shape: one equi-join of the incoming batch against only
the CURRENT slice of the dimension, classifying each update as
new-key / changed / unchanged, then a MERGE on (key, valid_from) that
closes superseded rows and inserts the new versions. At scale the
current slice is a partition (`is_current=true`), so the join never
touches history; history partitions are immutable bytes.

Semantics:
- an update with attributes equal to the key's current row is a no-op
  (idempotent re-delivery safe);
- a changed update closes the current row at `effective_ts` and opens
  a new one at `effective_ts` (half-open intervals: a row is valid for
  `valid_from <= t < valid_to`);
- a brand-new key opens its first row;
- a changed update whose `effective_ts` EQUALS the current row's
  `valid_from` is a same-instant correction: the current version is
  replaced in place (no close row — a zero-width [t, t) version would
  be unreadable history and a duplicate (key, valid_from) merge key);
- one batch must carry at most one update per key (same contract as
  MERGE, SURVEY §2.8.6) — deduplicate upstream by taking the latest
  per key first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from crypto_lakehouse_spark.pipeline.versioned import VersionedTable

META = ["valid_from", "valid_to", "is_current"]


def scd2_apply(
    table: VersionedTable,
    updates: DataFrame,
    key: str,
    effective_col: str = "effective_ts",
) -> dict[str, int]:
    """Apply one batch of dimension updates under SCD2 semantics.

    `updates` columns: key, attribute columns, `effective_col`.
    Returns counts {new, changed, unchanged}.
    """
    dup = updates.groupBy(key).count().filter(F.col("count") > 1).limit(1).count()
    if dup:
        raise ValueError(
            f"SCD2 batch has multiple updates for one {key}; "
            "reduce to latest-per-key first"
        )
    attrs = [c for c in updates.columns if c not in (key, effective_col)]
    incoming = updates.select(
        key,
        *attrs,
        F.col(effective_col).alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )

    if not table.exists():
        n_new = table.commit_info(table.overwrite(incoming))["rows"]
        return {"new": n_new, "changed": 0, "unchanged": 0}

    dim = table.read()
    current = dim.filter(F.col("is_current"))
    cur_for_join = current.select(
        F.col(key).alias("__k"),
        F.col("valid_from").alias("__cur_from"),
        *[F.col(c).alias(f"__cur_{c}") for c in attrs],
    )
    joined = incoming.join(cur_for_join, incoming[key] == F.col("__k"), "left")

    changed_pred = F.col("__k").isNotNull() & ~F.struct(
        *[F.col(c) for c in attrs]
    ).eqNullSafe(F.struct(*[F.col(f"__cur_{c}") for c in attrs]))
    new_pred = F.col("__k").isNull()

    # Same-instant correction: effective_ts equals the current row's
    # valid_from. The open row replaces the current version in place
    # (merge key (key, valid_from) matches it); emitting a close row
    # too would both create a zero-width version and collide with the
    # open on the merge key.
    collision_pred = changed_pred & (F.col("valid_from") == F.col("__cur_from"))

    out_cols = [key, *attrs, "valid_from", "valid_to", "is_current"]
    opens = joined.filter(new_pred | changed_pred).select(*out_cols)
    closes = (
        joined.filter(changed_pred & ~collision_pred)
        .select(
            F.col(key),
            *[F.col(f"__cur_{c}").alias(c) for c in attrs],
            F.col("__cur_from").alias("valid_from"),
            F.col("valid_from").alias("valid_to"),  # close at new effective
            F.lit(False).alias("is_current"),
        )
    )

    # One aggregation pass classifies every row — three separate
    # .count() actions would re-execute the join three times.
    stats = joined.agg(
        F.count(F.when(new_pred, 1)).alias("n_new"),
        F.count(F.when(changed_pred & ~new_pred, 1)).alias("n_changed"),
        F.count("*").alias("n_total"),
    ).first()
    n_new, n_changed = stats["n_new"], stats["n_changed"]
    n_unchanged = stats["n_total"] - n_new - n_changed

    delta = closes.unionByName(opens)
    if delta.limit(1).count():
        # (key, valid_from) uniquely identifies a version row: closes
        # UPDATE the superseded version in place, opens INSERT.
        table.merge(delta, keys=[key, "valid_from"])
    return {"new": n_new, "changed": n_changed, "unchanged": n_unchanged}


def current_of(table: VersionedTable) -> DataFrame:
    return table.read().filter(F.col("is_current"))


def as_of(table: VersionedTable, ts) -> DataFrame:
    """Point-in-time dimension lookup: the version valid at `ts`."""
    return table.read().filter(
        (F.col("valid_from") <= F.lit(ts))
        & (F.col("valid_to").isNull() | (F.col("valid_to") > F.lit(ts)))
    )
