"""The table layer's MERGE contract on `VersionedTable`: upsert,
touched-partition isolation, duplicate-source rejection (SURVEY
§2.8.6), WHEN MATCHED DELETE, compaction and recorded-schema reads."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from crypto_lakehouse_spark.pipeline.versioned import VersionedTable


def _df(spark, rows):
    return spark.createDataFrame(rows, "k BIGINT, v STRING, p STRING")


def _files(t, partition: str | None = None) -> set[str]:
    """The current snapshot's files, or those of one partition dir."""
    files, _ = t.files_for_scan()
    return {f for f in files if partition is None or os.path.dirname(f) == partition}


def test_merge_insert_update(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "t"), ["p"])
    t.merge(_df(spark, [(1, "a", "x"), (2, "b", "y")]), ["k"])
    t.merge(_df(spark, [(2, "B", "y"), (3, "c", "y")]), ["k"])
    got = {(r.k, r.v, r.p) for r in t.read().collect()}
    assert got == {(1, "a", "x"), (2, "B", "y"), (3, "c", "y")}


def test_merge_rejects_duplicate_source_keys(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "t"), ["p"])
    with pytest.raises(ValueError, match="not unique"):
        t.merge(_df(spark, [(1, "a", "x"), (1, "b", "x")]), ["k"])


def test_merge_touches_only_affected_partitions(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "t"), ["p"])
    t.merge(_df(spark, [(1, "a", "x"), (2, "b", "y")]), ["k"])
    before = _files(t, "p=x")
    t.merge(_df(spark, [(2, "B", "y")]), ["k"])
    assert before and _files(t, "p=x") == before, "untouched partition files must carry over"
    got = {(r.k, r.v) for r in t.read().filter(F.col("p") == "y").collect()}
    assert got == {(2, "B")}


def test_compact_reduces_files(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "t"), ["p"])
    for i in range(4):
        t.append(_df(spark, [(i, "v", "x")]))
    assert len(_files(t, "p=x")) >= 4
    t.compact()
    assert len(_files(t, "p=x")) == 1
    assert t.read().count() == 4


def test_compact_unpartitioned_keeps_rows(spark, tmp_path):
    """Compaction of an unpartitioned table rewrites the files it reads
    into one new file of the same rows."""
    t = VersionedTable(spark, str(tmp_path / "u"))
    schema = "k BIGINT, v STRING"
    t.append(spark.createDataFrame([(1, "a")], schema))
    t.append(spark.createDataFrame([(2, "b")], schema))
    t.compact()
    assert len(_files(t)) == 1
    assert {(r.k, r.v) for r in t.read().collect()} == {(1, "a"), (2, "b")}


def test_unpartitioned_merge_swap(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "u"))
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k BIGINT, v STRING")
    t.merge(df, ["k"])
    t.merge(spark.createDataFrame([(2, "B")], "k BIGINT, v STRING"), ["k"])
    assert {(r.k, r.v) for r in t.read().collect()} == {(1, "a"), (2, "B")}


def test_add_column_old_new_mix(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "t"), ["p"])
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
    t = VersionedTable(spark, str(tmp_path / "t"), ["p"])
    t.append(_df(spark, [(1, "a", "x")]))
    t.add_column("lang", "string", default="en")
    assert [r.lang for r in t.read().collect()] == ["en"]


def test_merge_rejects_partition_moving_key_lakehouse(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "t"), ["p"])
    t.merge(_df(spark, [(1, "a", "x"), (2, "b", "y")]), ["k"])
    with pytest.raises(ValueError, match="outside the source's partitions"):
        t.merge(_df(spark, [(1, "A", "y")]), ["k"])
    # Table unchanged by the failed merge.
    assert {(r.k, r.p) for r in t.read().collect()} == {(1, "x"), (2, "y")}


# --- MERGE WHEN MATCHED DELETE ---------------------------------------------


def test_merge_delete_matched(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "t"), ["p"])
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
    t = VersionedTable(spark, str(tmp_path / "t"), ["p"])
    t.merge(_df(spark, [(1, "a", "x"), (2, "b", "y")]), ["k"])
    # Deleting the only row of partition p=x writes no file there; its
    # old files must still leave the manifest.
    t.merge(_df(spark, [(1, "DEL", "x")]), ["k"], delete_match="v = 'DEL'")
    assert {(r.k, r.p) for r in t.read().collect()} == {(2, "y")}
    assert not _files(t, "p=x")


def test_merge_delete_unpartitioned(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.merge(_df(spark, [(1, "a", "x"), (2, "b", "y")]), ["k"])
    t.merge(_df(spark, [(2, "DEL", "y")]), ["k"], delete_match="v = 'DEL'")
    assert {(r.k, r.v) for r in t.read().collect()} == {(1, "a")}


def test_merge_delete_empties_escaped_partition(spark, tmp_path):
    """Partition values Spark escapes on disk ('a:b' -> 'a%3Ab') must
    still be matched when a MERGE delete empties the partition: an
    f"{col}={val}" name misses the escaped directory and its rows
    survive."""
    t = VersionedTable(spark, str(tmp_path / "t"), ["p"])
    t.merge(_df(spark, [(1, "a", "a:b"), (2, "b", "ok")]), ["k"])
    assert _files(t, "p=a%3Ab")
    t.merge(_df(spark, [(1, "DEL", "a:b")]), ["k"], delete_match="v = 'DEL'")
    assert {(r.k, r.p) for r in t.read().collect()} == {(2, "ok")}
    assert not _files(t, "p=a%3Ab")


def test_merge_delete_empties_null_partition(spark, tmp_path):
    """NULL partition value lands in __HIVE_DEFAULT_PARTITION__;
    emptying it via MERGE delete must drop that partition's files."""
    t = VersionedTable(spark, str(tmp_path / "t"), ["p"])
    t.merge(_df(spark, [(1, "a", None), (2, "b", "ok")]), ["k"])
    assert _files(t, "p=__HIVE_DEFAULT_PARTITION__")
    t.merge(_df(spark, [(1, "DEL", None)]), ["k"], delete_match="v = 'DEL'")
    assert {(r.k, r.p) for r in t.read().collect()} == {(2, "ok")}
    assert not _files(t, "p=__HIVE_DEFAULT_PARTITION__")


def test_merge_upsert_preserves_null_partition_rows(spark, tmp_path):
    """Pruned-rewrite join must be NULL-safe: merging into the NULL
    partition must keep its unmatched target rows."""
    t = VersionedTable(spark, str(tmp_path / "t"), ["p"])
    t.merge(_df(spark, [(1, "a", None), (2, "b", None)]), ["k"])
    t.merge(_df(spark, [(1, "A", None)]), ["k"])
    assert {(r.k, r.v) for r in t.read().collect()} == {(1, "A"), (2, "b")}


# --- materialized MERGE source, recorded-schema reads ----------------------


@pytest.mark.parametrize(
    "layer,keys",
    [
        ("versioned", ["k"]),
        ("versioned", ["k", "p"]),
        ("versioned_dv", ["k"]),
    ],
    ids=["versioned", "versioned-partition-key", "versioned-dv"],
)
def test_merge_computes_source_once(spark, tmp_path, layer, keys):
    """The uniqueness check, partition discovery, moved-key check and
    rewrite all read one materialized copy of the source: a Python UDF
    computing the merge key runs once per source row, in the
    copy-on-write and in the deletion-vector MERGE."""
    from pyspark.sql.types import LongType

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
    partitionOverwriteMode, and keeps `add_column` declarations."""
    t = VersionedTable(spark, str(tmp_path / "t"), ["p"])
    t.overwrite(_df(spark, [(1, "a", "x"), (2, "b", "y")]))
    t.add_column("score", "double", default=0.5)
    t.overwrite(_df(spark, [(3, "c", "z")]))
    assert {(r.k, r.p, r.score) for r in t.read().collect()} == {(3, "z", 0.5)}


def test_merge_contract_defined_once():
    """Every MERGE shares one implementation of the MERGE contract and
    of the added-column read backfill (`tables.py`): each contract
    message and the backfill loop appears once in the package. A
    message split over adjacent string literals is matched whole."""
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


def test_one_table_layer():
    """`VersionedTable` is the one table layer: no other class in the
    package defines both `read` and `merge`."""
    import ast
    import pathlib

    import crypto_lakehouse_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    layers = []
    for path in sorted(root.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.ClassDef):
                methods = {
                    n.name for n in node.body
                    if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
                }
                if {"read", "merge"} <= methods:
                    layers.append(f"{path.relative_to(root)}:{node.name}")
    assert layers == ["pipeline/versioned.py:VersionedTable"], layers


def test_unpartitioned_merge_keeps_added_column(spark, tmp_path):
    """A MERGE into an unpartitioned table rewrites all of it; the
    manifest must carry the `add_column` declaration over."""
    t = VersionedTable(spark, str(tmp_path / "u"))
    t.merge(spark.createDataFrame([(1, "a")], "k BIGINT, v STRING"), ["k"])
    t.add_column("score", "double", default=0.5)
    t.merge(spark.createDataFrame([(2, "b")], "k BIGINT, v STRING"), ["k"])
    assert {(r.k, r.score) for r in t.read().collect()} == {(1, 0.5), (2, 0.5)}


def test_read_keeps_recorded_string_partition_type(spark, tmp_path):
    """A STRING partition column holding numeric-looking values reads
    back as STRING, leading zero included; footer-and-directory
    inference would return INT 8 for "08"."""
    t = VersionedTable(spark, str(tmp_path / "t"), ["p"])
    t.append(_df(spark, [(1, "a", "7"), (2, "b", "08")]))
    assert dict(t.read().dtypes)["p"] == "string"
    assert {(r.k, r.p) for r in t.read().collect()} == {(1, "7"), (2, "08")}


def test_metadata_commit_keeps_written_schema(spark, tmp_path):
    """A commit that writes no files carries the previous snapshot's
    schema, not the schema of an earlier write by the same instance:
    A writes (a, b), B overwrites with (a, b, c), then A adds a
    constraint."""
    import pyarrow.parquet as pq

    path = str(tmp_path / "t")
    a = VersionedTable(spark, path)
    a.append(spark.createDataFrame([(1, "x")], "a BIGINT, b STRING"))
    b = VersionedTable(spark, path)
    b.overwrite(spark.createDataFrame([(2, "y", 0.5)], "a BIGINT, b STRING, c DOUBLE"))
    a.add_constraint("a_positive", "a > 0")
    assert a.history()[-1]["op"] == "add_constraint(a_positive)"
    manifest = a._load(a.current_version())
    recorded = [x["name"] for x in manifest["table_schema"]["fields"]]
    for f in manifest["files"]:
        assert recorded == pq.read_schema(os.path.join(path, f)).names
    assert a.read().columns == ["a", "b", "c"]


def test_merge_literal_partition_pruning_is_null_safe(spark, tmp_path):
    """The touched-partition predicate matches NULL partition values:
    upserts keep the NULL partition's other rows, and a key moving out
    of a NULL partition is still caught, with one or two partition
    columns."""
    t = VersionedTable(spark, str(tmp_path / "t"), ["p"])
    t.merge(_df(spark, [(1, "a", None), (2, "b", "x")]), ["k"])
    with pytest.raises(ValueError, match="outside the source's partitions"):
        t.merge(_df(spark, [(1, "A", "x")]), ["k"])

    def mk(rows):
        return spark.createDataFrame(rows, "k BIGINT, v STRING, p STRING, q STRING")

    t2 = VersionedTable(spark, str(tmp_path / "t2"), ["p", "q"])
    t2.merge(mk([(1, "a", "x", None), (2, "b", "x", None), (3, "c", "x", "y")]), ["k"])
    t2.merge(mk([(1, "A", "x", None)]), ["k"])
    assert {(r.k, r.v) for r in t2.read().collect()} == {(1, "A"), (2, "b"), (3, "c")}
    with pytest.raises(ValueError, match="outside the source's partitions"):
        t2.merge(mk([(3, "C", "x", None)]), ["k"])
