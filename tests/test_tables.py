"""LakehouseTable semantics: MERGE upsert, dynamic partition
overwrite isolation, duplicate-source rejection (SURVEY §2.8.6),
compaction."""

from __future__ import annotations

import glob

import pytest
from pyspark.sql import functions as F

from crypto_lakehouse_spark.tables import LakehouseTable


def _df(spark, rows):
    return spark.createDataFrame(rows, "k BIGINT, v STRING, p STRING")


def test_merge_insert_update(spark, tmp_path):
    t = LakehouseTable(spark, str(tmp_path / "t"), ["p"])
    t.merge(_df(spark, [(1, "a", "x"), (2, "b", "y")]), ["k"])
    t.merge(_df(spark, [(2, "B", "y"), (3, "c", "y")]), ["k"])
    got = {(r.k, r.v, r.p) for r in t.read().collect()}
    assert got == {(1, "a", "x"), (2, "B", "y"), (3, "c", "y")}


def test_merge_rejects_duplicate_source_keys(spark, tmp_path):
    t = LakehouseTable(spark, str(tmp_path / "t"), ["p"])
    with pytest.raises(ValueError, match="not unique"):
        t.merge(_df(spark, [(1, "a", "x"), (1, "b", "x")]), ["k"])


def test_merge_touches_only_affected_partitions(spark, tmp_path):
    t = LakehouseTable(spark, str(tmp_path / "t"), ["p"])
    t.merge(_df(spark, [(1, "a", "x"), (2, "b", "y")]), ["k"])
    before = set(glob.glob(str(tmp_path / "t" / "p=x" / "*.parquet")))
    t.merge(_df(spark, [(2, "B", "y")]), ["k"])
    after = set(glob.glob(str(tmp_path / "t" / "p=x" / "*.parquet")))
    assert before == after, "untouched partition files must not be rewritten"
    got = {(r.k, r.v) for r in t.read().filter(F.col("p") == "y").collect()}
    assert got == {(2, "B")}


def test_compact_reduces_files(spark, tmp_path):
    t = LakehouseTable(spark, str(tmp_path / "t"), ["p"])
    for i in range(4):
        t.append(_df(spark, [(i, "v", "x")]))
    assert len(glob.glob(str(tmp_path / "t" / "p=x" / "*.parquet"))) >= 4
    t.compact()
    assert len(glob.glob(str(tmp_path / "t" / "p=x" / "*.parquet"))) == 1
    assert t.read().count() == 4


def test_compact_unpartitioned_keeps_rows(spark, tmp_path):
    """Compaction of an unpartitioned table stages its output before
    replacing the table: a static overwrite of the path it reads would
    delete the input files first."""
    t = LakehouseTable(spark, str(tmp_path / "u"))
    schema = "k BIGINT, v STRING"
    t.append(spark.createDataFrame([(1, "a")], schema))
    t.append(spark.createDataFrame([(2, "b")], schema))
    t.compact()
    assert len(glob.glob(str(tmp_path / "u" / "*.parquet"))) == 1
    assert {(r.k, r.v) for r in t.read().collect()} == {(1, "a"), (2, "b")}
    assert t.vacuum_staging() == 0


def test_unpartitioned_merge_swap(spark, tmp_path):
    t = LakehouseTable(spark, str(tmp_path / "u"))
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k BIGINT, v STRING")
    t.merge(df, ["k"])
    t.merge(spark.createDataFrame([(2, "B")], "k BIGINT, v STRING"), ["k"])
    assert {(r.k, r.v) for r in t.read().collect()} == {(1, "a"), (2, "B")}
    assert t.vacuum_staging() == 0  # swap cleaned up after itself


def test_add_column_sidecar_old_new_mix(spark, tmp_path):
    t = LakehouseTable(spark, str(tmp_path / "t"), ["p"])
    t.append(_df(spark, [(1, "a", "x")]))
    t.add_column("score", "double")
    got = t.read()
    assert "score" in got.columns
    assert [r.score for r in got.collect()] == [None]
    # New files carry real values; old files read NULL, merged on read.
    t.append(
        spark.createDataFrame(
            [(2, "b", "x", 0.7)], "k BIGINT, v STRING, p STRING, score DOUBLE"
        )
    )
    vals = {(r.k, r.score) for r in t.read().collect()}
    assert vals == {(1, None), (2, 0.7)}


def test_add_column_with_default_lakehouse(spark, tmp_path):
    t = LakehouseTable(spark, str(tmp_path / "t"), ["p"])
    t.append(_df(spark, [(1, "a", "x")]))
    t.add_column("lang", "string", default="en")
    assert [r.lang for r in t.read().collect()] == ["en"]


def test_merge_rejects_partition_moving_key_lakehouse(spark, tmp_path):
    import pytest

    t = LakehouseTable(spark, str(tmp_path / "t"), ["p"])
    t.merge(_df(spark, [(1, "a", "x"), (2, "b", "y")]), ["k"])
    with pytest.raises(ValueError, match="outside the source's partitions"):
        t.merge(_df(spark, [(1, "A", "y")]), ["k"])
    # Table unchanged by the failed merge.
    assert {(r.k, r.p) for r in t.read().collect()} == {(1, "x"), (2, "y")}


# --- MERGE WHEN MATCHED DELETE ---------------------------------------------


def test_merge_delete_matched(spark, tmp_path):
    t = LakehouseTable(spark, str(tmp_path / "t"), ["p"])
    t.merge(_df(spark, [(1, "a", "x"), (2, "b", "x"), (3, "c", "y")]), ["k"])
    # k=2 deleted, k=3 updated, k=4 inserted; k=9 delete-of-absent is a no-op.
    t.merge(
        _df(spark, [(2, "DEL", "x"), (3, "c2", "y"), (4, "d", "y"), (9, "DEL", "x")]),
        ["k"],
        delete_match="v = 'DEL'",
    )
    got = {(r.k, r.v, r.p) for r in t.read().collect()}
    assert got == {(1, "a", "x"), (3, "c2", "y"), (4, "d", "y")}


def test_merge_delete_empties_whole_partition(spark, tmp_path):
    import os

    t = LakehouseTable(spark, str(tmp_path / "t"), ["p"])
    t.merge(_df(spark, [(1, "a", "x"), (2, "b", "y")]), ["k"])
    # Deleting the only row of partition p=x must remove the partition
    # itself — dynamic overwrite alone would leave it behind.
    t.merge(_df(spark, [(1, "DEL", "x")]), ["k"], delete_match="v = 'DEL'")
    assert {(r.k, r.p) for r in t.read().collect()} == {(2, "y")}
    assert not os.path.isdir(os.path.join(t.path, "p=x"))


def test_merge_delete_unpartitioned(spark, tmp_path):
    t = LakehouseTable(spark, str(tmp_path / "t"))
    t.merge(_df(spark, [(1, "a", "x"), (2, "b", "y")]), ["k"])
    t.merge(_df(spark, [(2, "DEL", "y")]), ["k"], delete_match="v = 'DEL'")
    assert {(r.k, r.v) for r in t.read().collect()} == {(1, "a")}


def test_merge_delete_empties_escaped_partition(spark, tmp_path):
    """ADVICE r5 (tables.py merge cleanup): partition values Spark
    escapes on disk ('a:b' → 'a%3Ab') must still be found and removed
    when a MERGE delete empties the partition — previously the
    f"{col}={val}" path missed the escaped name and the rows survived."""
    t = LakehouseTable(spark, str(tmp_path / "t"), ["p"])
    t.merge(_df(spark, [(1, "a", "a:b"), (2, "b", "ok")]), ["k"])
    assert glob.glob(str(tmp_path / "t" / "p=a%3Ab" / "*.parquet"))
    t.merge(_df(spark, [(1, "DEL", "a:b")]), ["k"], delete_match="v = 'DEL'")
    assert {(r.k, r.p) for r in t.read().collect()} == {(2, "ok")}
    assert not glob.glob(str(tmp_path / "t" / "p=a%3Ab"))


def test_merge_delete_empties_null_partition(spark, tmp_path):
    """NULL partition value lands in __HIVE_DEFAULT_PARTITION__;
    emptying it via MERGE delete must remove that directory."""
    t = LakehouseTable(spark, str(tmp_path / "t"), ["p"])
    t.merge(_df(spark, [(1, "a", None), (2, "b", "ok")]), ["k"])
    assert glob.glob(str(tmp_path / "t" / "p=__HIVE_DEFAULT_PARTITION__"))
    t.merge(_df(spark, [(1, "DEL", None)]), ["k"], delete_match="v = 'DEL'")
    assert {(r.k, r.p) for r in t.read().collect()} == {(2, "ok")}
    assert not glob.glob(str(tmp_path / "t" / "p=__HIVE_DEFAULT_PARTITION__"))


def test_merge_upsert_preserves_null_partition_rows(spark, tmp_path):
    """Pruned-rewrite join must be NULL-safe: merging into the NULL
    partition must keep its unmatched target rows."""
    t = LakehouseTable(spark, str(tmp_path / "t"), ["p"])
    t.merge(_df(spark, [(1, "a", None), (2, "b", None)]), ["k"])
    t.merge(_df(spark, [(1, "A", None)]), ["k"])
    assert {(r.k, r.v) for r in t.read().collect()} == {(1, "A"), (2, "b")}


# --- materialized MERGE source, recorded-schema reads ----------------------


@pytest.mark.parametrize(
    "layer,keys",
    [
        ("lakehouse", ["k"]),
        ("versioned", ["k"]),
        ("versioned", ["k", "p"]),
        ("versioned_dv", ["k"]),
    ],
    ids=["lakehouse", "versioned", "versioned-partition-key", "versioned-dv"],
)
def test_merge_computes_source_once(spark, tmp_path, layer, keys):
    """The uniqueness check, partition discovery, moved-key check and
    rewrite all read one materialized copy of the source: a Python UDF
    computing the merge key runs once per source row, in both table
    layers and in the deletion-vector MERGE."""
    from pyspark.sql.types import LongType

    from crypto_lakehouse_spark.pipeline.versioned import VersionedTable

    if layer == "lakehouse":
        t = LakehouseTable(spark, str(tmp_path / "t"), ["p"])
        merge = t.merge
    else:
        t = VersionedTable(spark, str(tmp_path / "t"), ["p"])
        merge = t.merge if layer == "versioned" else t.merge_dv
    merge(_df(spark, [(1, "a", "x"), (2, "b", "y")]), keys)
    calls = spark.sparkContext.accumulator(0)

    def key(k):
        calls.add(1)
        return k

    key_udf = F.udf(key, LongType())
    rows = [(2, "B", "y"), (3, "c", "y"), (4, "d", "z")]
    merge(_df(spark, rows).withColumn("k", key_udf("k")), keys)
    assert calls.value == len(rows)
    got = {(r.k, r.v, r.p) for r in t.read().collect()}
    assert got == {(1, "a", "x"), (2, "B", "y"), (3, "c", "y"), (4, "d", "z")}


def test_overwrite_replaces_every_partition(spark, tmp_path):
    """`overwrite` is a full replace whatever the session's
    partitionOverwriteMode, and keeps `add_column` declarations;
    `overwrite_partitions` replaces only the partitions in its frame,
    also under a static session, and leaves the session conf alone."""
    mode = "spark.sql.sources.partitionOverwriteMode"
    t = LakehouseTable(spark, str(tmp_path / "t"), ["p"])
    t.overwrite(_df(spark, [(1, "a", "x"), (2, "b", "y")]))
    t.add_column("score", "double", default=0.5)
    t.overwrite(_df(spark, [(3, "c", "z")]))
    assert {(r.k, r.p, r.score) for r in t.read().collect()} == {(3, "z", 0.5)}

    prev = spark.conf.get(mode)
    spark.conf.set(mode, "static")
    try:
        t.overwrite_partitions(_df(spark, [(4, "d", "w")]))
        assert spark.conf.get(mode) == "static"
    finally:
        spark.conf.set(mode, prev)
    assert {(r.k, r.p) for r in t.read().collect()} == {(3, "z"), (4, "w")}


def test_merge_contract_defined_once():
    """Both parquet table layers share one implementation of the MERGE
    contract and of the added-column read backfill (`tables.py`): each
    contract message and the backfill loop appears once in the package.
    A message split over adjacent string literals is matched whole."""
    import pathlib
    import re

    import crypto_lakehouse_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    # Join implicitly concatenated literals broken across lines.
    text = {
        str(p.relative_to(root)): re.sub(r'"\s*\n\s*[rbf]*"', "", p.read_text())
        for p in sorted(root.rglob("*.py"))
    }
    for token in (
        "is not unique on keys",
        "outside the source's partitions",
        "for name, spec in added.items()",
    ):
        hits = [f"{p} x{src.count(token)}" for p, src in text.items() if token in src]
        assert hits == ["tables.py x1"], (token, hits)


def test_unpartitioned_merge_keeps_schema_sidecar(spark, tmp_path):
    """The stage-and-swap rewrite must carry `_schema.json` over: the
    swap used to drop the recorded schema and every added column."""
    import os

    t = LakehouseTable(spark, str(tmp_path / "u"))
    t.merge(spark.createDataFrame([(1, "a")], "k BIGINT, v STRING"), ["k"])
    t.add_column("score", "double", default=0.5)
    t.merge(spark.createDataFrame([(2, "b")], "k BIGINT, v STRING"), ["k"])
    assert os.path.isfile(os.path.join(t.path, "_schema.json"))
    assert {(r.k, r.score) for r in t.read().collect()} == {(1, 0.5), (2, 0.5)}


def test_read_keeps_recorded_string_partition_type(spark, tmp_path):
    """A STRING partition column holding numeric-looking values reads
    back as STRING; footer-and-directory inference would return INT."""
    t = LakehouseTable(spark, str(tmp_path / "t"), ["p"])
    t.append(_df(spark, [(1, "a", "7"), (2, "b", "8")]))
    assert dict(t.read().dtypes)["p"] == "string"
    assert {(r.k, r.p) for r in t.read().collect()} == {(1, "7"), (2, "8")}


def test_merge_literal_partition_pruning_is_null_safe(spark, tmp_path):
    """The touched-partition predicate matches NULL partition values:
    upserts keep the NULL partition's other rows, and a key moving out
    of a NULL partition is still caught, with one or two partition
    columns."""
    t = LakehouseTable(spark, str(tmp_path / "t"), ["p"])
    t.merge(_df(spark, [(1, "a", None), (2, "b", "x")]), ["k"])
    with pytest.raises(ValueError, match="outside the source's partitions"):
        t.merge(_df(spark, [(1, "A", "x")]), ["k"])

    def mk(rows):
        return spark.createDataFrame(rows, "k BIGINT, v STRING, p STRING, q STRING")

    t2 = LakehouseTable(spark, str(tmp_path / "t2"), ["p", "q"])
    t2.merge(mk([(1, "a", "x", None), (2, "b", "x", None), (3, "c", "x", "y")]), ["k"])
    t2.merge(mk([(1, "A", "x", None)]), ["k"])
    assert {(r.k, r.v) for r in t2.read().collect()} == {(1, "A"), (2, "b"), (3, "c")}
    with pytest.raises(ValueError, match="outside the source's partitions"):
        t2.merge(mk([(3, "C", "x", None)]), ["k"])
