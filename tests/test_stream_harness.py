"""The streaming layer's stage -> replay -> drain harness
(`streaming/file_stream.py`) and the one scratch-dir registry
(`io.scratch_dir`)."""

from __future__ import annotations

import os
import pathlib
import tempfile

import pytest
from pyspark.sql import functions as F

import crypto_lakehouse_spark as pkg
from crypto_lakehouse_spark import io
from crypto_lakehouse_spark.streaming.file_stream import (
    drain,
    replay,
    stage_time_chunks,
)


def _read_chunks(spark, feed: str):
    return [
        spark.read.parquet(os.path.join(feed, f)) for f in sorted(os.listdir(feed))
    ]


@pytest.mark.parametrize(
    "col,n",
    [
        ("ts", 2),  # TIMESTAMP: quantiles over epoch micros
        ("ts_us", 4),  # BIGINT micros: quantiles over the values
    ],
)
def test_stage_time_chunks_contiguous_ranges(spark, col, n):
    # 97 distinct instants over 500 rows: ties straddle every quantile.
    us = (F.col("id") * 31 % 97) * 1_000_000
    df = spark.range(500).select(
        F.col("id").alias("event_id"),
        F.timestamp_micros(us).alias("ts"),
        us.alias("ts_us"),
    )
    feed = stage_time_chunks(df, col, n)

    assert sorted(os.listdir(feed)) == [f"{i:03d}.parquet" for i in range(n)]
    chunks = _read_chunks(spark, feed)
    union = chunks[0]
    for c in chunks[1:]:
        union = union.unionByName(c)
    assert union.exceptAll(df).count() == 0
    assert df.exceptAll(union).count() == 0
    spans = [c.agg(F.min(col), F.max(col)).first() for c in chunks]
    for (_, hi), (lo, _) in zip(spans, spans[1:]):
        assert hi <= lo


def test_stage_time_chunks_empty_input_drains_empty(spark):
    df = spark.range(0).select(
        F.col("id").alias("event_id"), F.timestamp_micros("id").alias("ts")
    )
    feed = stage_time_chunks(df, "ts", 3)

    assert sorted(os.listdir(feed)) == ["000.parquet", "001.parquet", "002.parquet"]
    assert all(c.count() == 0 for c in _read_chunks(spark, feed))
    assert drain(replay(spark, feed), "append").count() == 0


def test_drains_drop_their_memory_sinks(spark):
    """A drained memory sink leaves no temp view behind (its rows would
    stay in memory for the session), and the returned frame still reads
    its rows."""
    df = spark.range(10).select(
        F.col("id").alias("event_id"), F.timestamp_micros("id").alias("ts")
    )
    feed = stage_time_chunks(df, "ts", 2)

    def sinks():
        return {t.name for t in spark.catalog.listTables() if t.name.startswith("sink_")}

    before = sinks()
    frames = [drain(replay(spark, feed), "append") for _ in range(3)]
    assert sinks() - before == set()
    assert [f.count() for f in frames] == [10, 10, 10]


def test_streaming_harness_defined_once():
    """The memory sink and the one-file-per-batch replay source live
    only in `streaming/file_stream.py`; temp dirs are made only in
    `io.py` (`scratch_dir` plus the layout cache)."""
    root = pathlib.Path(pkg.__file__).parent
    sources = {
        str(p.relative_to(root)): p.read_text() for p in sorted(root.rglob("*.py"))
    }

    def where(token: str) -> list[str]:
        return [f"{p} x{src.count(token)}" for p, src in sources.items() if token in src]

    assert where('format("memory")') == ["streaming/file_stream.py x1"]
    assert where('.option("maxFilesPerTrigger", 1)') == ["streaming/file_stream.py x1"]
    assert [w.split()[0] for w in where("mkdtemp(")] == ["io.py"]


def test_scratch_dirs_all_registered(spark, sf_dir, tmp_path, monkeypatch):
    """Every temp dir the streaming, ingest and python-datasource write
    queries create is in the `io.scratch_dir` registry (swept at
    exit), none leaks past the process."""
    from crypto_lakehouse_spark import queries as qmod
    from crypto_lakehouse_spark.queries.registry import REGISTRY

    qmod.load_all()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    for name in (
        "streaming_cusum_alarms",
        "stream_ingest_bronze",
        "python_datasource_write_roundtrip",
    ):
        REGISTRY[name].spark_fn(spark, sf_dir).collect()

    made = {os.path.realpath(p) for p in tmp_path.iterdir() if p.is_dir()}
    assert made
    registered = {os.path.realpath(d) for d in io._SCRATCH}
    assert made <= registered, sorted(made - registered)
