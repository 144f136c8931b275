"""Streaming-vs-batch convergence: running the medallion pipeline
incrementally inside foreachBatch micro-batches (ingest -> silver
MERGE -> gold candle MERGE per batch) must land byte-identical silver
and gold tables to the one-shot batch pipeline. This exercises the
MERGE matched-update path across batches (batch 2 updates candles
batch 1 created) — the reference's hourly incremental mode
(orchestration/dags/bronze_to_silver.py:42) compressed into a test.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from crypto_lakehouse_spark.pipeline.lakehouse import Lakehouse
from crypto_lakehouse_spark.sources.trade_feed import trade_feed
from crypto_lakehouse_spark.streaming.file_stream import run_stream_ingest

SF = "/root/testdata/sf0.001"


def _rows(df, cols):
    return sorted(tuple(r) for r in df.select(*[F.col(c) for c in cols]).collect())


def test_streaming_medallion_converges_to_batch(spark, tmp_path):
    gold_builds = []

    def each_batch(lh: Lakehouse, batch_id: int) -> None:
        lh.bronze_to_silver(lookback_hours=None)
        gold_builds.append(lh.build_ohlcv("minute", lookback=None))

    lh_stream, metrics = run_stream_ingest(
        spark, SF, str(tmp_path / "stream_wh"), each_batch=each_batch
    )
    assert len(metrics) == 2 and len(gold_builds) == 2

    # T8 monitoring: the StreamingQueryListener + df.observe path must
    # have produced engine-side per-batch metrics that agree with the
    # foreachBatch-side counts (listener callbacks are async — the
    # merge in run_stream_ingest waits for termination first).
    for m in metrics:
        assert m["engine_input_rows"] > 0
        assert m["engine_observed"]["ingest"]["rows"] == m["engine_input_rows"]
        assert m["engine_batch_duration_ms"] is not None

    lh_batch = Lakehouse(spark, str(tmp_path / "batch_wh"))
    lh_batch.ingest_feed(trade_feed(spark, SF))
    lh_batch.bronze_to_silver(lookback_hours=None)
    lh_batch.build_ohlcv("minute", lookback=None)

    s_cols = ["trade_id", "product_id", "price", "size", "side", "trade_time"]
    assert _rows(lh_stream.silver.read(), s_cols) == _rows(lh_batch.silver.read(), s_cols)

    g_cols = ["product_id", "window_start", "open", "high", "low", "close", "volume", "trade_count"]
    stream_gold = _rows(lh_stream.gold["ohlcv_1m"].read(), g_cols)
    batch_gold = _rows(lh_batch.gold["ohlcv_1m"].read(), g_cols)
    assert stream_gold == batch_gold
    # Batch 2 must have UPDATED candles created by batch 1, not only
    # inserted new ones — otherwise this test isn't exercising MERGE.
    assert gold_builds[1] >= gold_builds[0] > 0


def test_kafka_construction_without_broker(spark):
    """The production Kafka path, covered up to the connector-jar
    boundary with no broker: (a) the parse/projection logic runs
    verbatim on a static frame with the Kafka wire schema and yields
    the bronze feed contract (catches option/schema typos); (b) the
    reader construction either resolves the kafka source (connector
    present) or fails with the connector-missing error — never an
    option error."""
    import json as _json

    from crypto_lakehouse_spark.streaming.file_stream import (
        KAFKA_WIRE_SCHEMA,
        kafka_events_stream,
        kafka_reader,
        parse_kafka_feed,
    )

    msg = {
        "trade_id": 42,
        "product_id": "BTC-USD",
        "price": "50000.01",
        "size": "0.25",
        "side": "buy",
        "time": "2026-01-01T00:00:00Z",
    }
    hb = {"type": "heartbeat"}  # non-trade message: must be filtered
    wire = spark.createDataFrame(
        [
            (None, _json.dumps(msg).encode(), "trades", 0, 7, None, 0),
            (None, _json.dumps(hb).encode(), "trades", 0, 8, None, 0),
        ],
        KAFKA_WIRE_SCHEMA,
    )
    out = parse_kafka_feed(wire)
    assert out.columns == [
        "_ingested_at",
        "_raw_payload",
        "_kafka_offset",
        "_kafka_partition",
        "trade_id",
        "product_id",
        "price",
        "size",
        "side",
        "time",
        "_ingestion_date",
    ]
    rows = out.collect()
    assert len(rows) == 1  # heartbeat dropped (T7)
    r = rows[0]
    # trade_id parses as STRING: the wire carries it quoted and the
    # reference schema is all-STRING (see TRADE_JSON_SCHEMA).
    assert (r.trade_id, r.product_id, r.side, r._kafka_offset, r._kafka_partition) == (
        "42",
        "BTC-USD",
        "buy",
        7,
        0,
    )
    assert _json.loads(r._raw_payload)["trade_id"] == 42

    # Reader construction: configured options are accepted; .load()
    # resolves the source only when the connector jar is present.
    reader = kafka_reader(spark, "broker:9092", "trades.raw")
    try:
        df = reader.load()
    except Exception as e:  # connector absent in this container
        assert "kafka" in str(e).lower(), f"unexpected failure: {e}"
    else:
        stream = kafka_events_stream(spark, "broker:9092", "trades.raw")
        assert stream.isStreaming
        assert df.columns[:5] == ["key", "value", "topic", "partition", "offset"]


def test_checkpoint_recovery_no_reprocessing(spark, tmp_path):
    """T2/T3's actual claim: restarting the checkpointed ingest over
    the same source replays NOTHING already committed; only files that
    arrived after the checkpoint are processed, exactly once."""
    from pyspark.sql import functions as F

    from crypto_lakehouse_spark.sources.trade_feed import trade_feed
    from crypto_lakehouse_spark.streaming.file_stream import run_stream_ingest

    sf = "/root/testdata/sf0.001"
    stage, ckpt, wh = str(tmp_path / "stage"), str(tmp_path / "ckpt"), str(tmp_path / "wh")

    lh1, m1 = run_stream_ingest(spark, sf, wh, stage_dir=stage, ckpt_dir=ckpt)
    assert len(m1) == 2
    bronze_after_first = lh1.bronze.read().count()

    # Restart against the same checkpoint: zero batches, zero new rows.
    lh2, m2 = run_stream_ingest(spark, sf, wh, stage_dir=stage, ckpt_dir=ckpt)
    assert m2 == []
    assert lh2.bronze.read().count() == bronze_after_first

    # A file that arrives after the checkpoint is processed exactly once.
    late = (
        trade_feed(spark, sf)
        .filter(F.col("offset") % 1000 == 3)
        .filter(F.col("value").startswith('{"type":"match"'))  # bronze-bound only
        .limit(50)
    )
    n_late = late.count()
    assert n_late > 0
    late.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "late"))
    import os as _os
    import shutil as _shutil

    part = next(
        p for p in sorted(_os.listdir(str(tmp_path / "late"))) if p.endswith(".parquet")
    )
    _shutil.copy(str(tmp_path / "late" / part), f"{stage}/002.parquet")

    lh3, m3 = run_stream_ingest(spark, sf, wh, stage_dir=stage, ckpt_dir=ckpt)
    assert len(m3) == 1
    assert lh3.bronze.read().count() == bronze_after_first + n_late


def test_ingest_replay_after_lost_checkpoint_commit_is_skipped(spark, tmp_path):
    """A batch the bronze and DLQ appends committed but the checkpoint
    did not (its `commits/N` file lost) is replayed under the same
    batch id on restart, and the appends skip it: bronze and the DLQ
    keep their counts. A fresh checkpoint against the same warehouse
    is a new app and ingests the stage again."""
    import os

    stage, ckpt, wh = str(tmp_path / "stage"), str(tmp_path / "ckpt"), str(tmp_path / "wh")
    lh, _ = run_stream_ingest(spark, SF, wh, stage_dir=stage, ckpt_dir=ckpt)
    n_bronze, n_dlq = lh.bronze.read().count(), lh.dlq.read().count()
    assert n_bronze > 0 and n_dlq > 0

    commits = os.path.join(ckpt, "commits")
    last = max((n for n in os.listdir(commits) if n.isdigit()), key=int)
    os.remove(os.path.join(commits, last))
    os.remove(os.path.join(commits, f".{last}.crc"))
    lh, m2 = run_stream_ingest(spark, SF, wh, stage_dir=stage, ckpt_dir=ckpt)
    assert [(m["batch_id"], m["bronze"], m["dlq"]) for m in m2] == [(int(last), 0, 0)]
    assert lh.bronze.read().count() == n_bronze
    assert lh.dlq.read().count() == n_dlq

    lh, m3 = run_stream_ingest(
        spark, SF, wh, stage_dir=stage, ckpt_dir=str(tmp_path / "ckpt2")
    )
    assert sum(m["bronze"] for m in m3) == n_bronze
    assert lh.bronze.read().count() == 2 * n_bronze


def test_cdc_merge_crash_replay_exactly_once(spark, tmp_path):
    """VERDICT r5 item 3: kill the CDC MERGE stream mid-feed (after a
    batch's merge ran but before its checkpoint offset committed),
    restart from the same checkpoint, and prove the final table equals
    the latest-row-per-key oracle. The crashed batch is REPLAYED on
    restart (observed via batch-id log) and the MERGE re-applies
    idempotently — the foreachBatch+MERGE exactly-once recipe."""
    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from crypto_lakehouse_spark.pipeline.versioned import VersionedTable

    feed = tmp_path / "feed"
    feed.mkdir()

    def _mk(rows):
        return spark.createDataFrame(rows, "k BIGINT, v STRING, p STRING")

    def _stage(df, n):
        tmp = str(tmp_path / f"chunk{n}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        import glob as _g
        import os as _o

        part = next(iter(sorted(_g.glob(f"{tmp}/*.parquet"))))
        _o.rename(part, str(feed / f"{n:03d}.parquet"))

    base = [(k, "base", "x" if k % 2 else "y") for k in range(20)]
    upd1 = [(k, "u1", "x" if k % 2 else "y") for k in range(0, 20, 2)]
    upd2 = [(k, "u2", "x" if k % 2 else "y") for k in range(0, 20, 4)]
    _stage(_mk(base), 0)
    _stage(_mk(upd1), 1)
    _stage(_mk(upd2), 2)

    table = VersionedTable(spark, str(tmp_path / "tbl"), partition_by=["p"])
    ckpt = str(tmp_path / "ckpt")
    seen: list[int] = []

    def _run(crash_at):
        def _process(batch_df, batch_id):
            table.merge(batch_df.select("k", "v", "p"), keys=["k"])
            seen.append(batch_id)
            if batch_id == crash_at:
                # Crash AFTER the sink write, BEFORE the offset commit:
                # the replay-on-restart scenario exactly-once must survive.
                raise RuntimeError("injected crash")

        q = (
            spark.readStream.schema("k BIGINT, v STRING, p STRING")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(feed))
            .writeStream.foreachBatch(_process)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    with pytest.raises(StreamingQueryException):
        _run(crash_at=1)
    assert seen == [0, 1], "crash must land after batch 1's merge ran"

    _run(crash_at=None)  # restart from the checkpoint; drain the rest
    # Batch 1's offsets never committed, so it is REPLAYED: its merge
    # runs twice in total. Idempotency is the point under test.
    assert seen == [0, 1, 1, 2]

    expect = {(k, "base") for k in range(20) if k % 2}
    expect |= {(k, "u1") for k in range(0, 20, 2) if k % 4}
    expect |= {(k, "u2") for k in range(0, 20, 4)}
    got = {(r.k, r.v) for r in table.read().collect()}
    assert got == expect


def test_append_sink_crash_replay_dedup_via_txn(spark, tmp_path):
    """Append-only sink exactly-once WITHOUT merge semantics: the
    foreachBatch writer passes txn=(app, batch_id) to
    VersionedTable.append, so the batch replayed after a crash (merge
    ran, offset commit didn't) is skipped by the transaction
    watermark instead of landing twice."""
    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from crypto_lakehouse_spark.pipeline.versioned import VersionedTable

    feed = tmp_path / "feed"
    feed.mkdir()

    def _stage(rows, n):
        df = spark.createDataFrame(rows, "k BIGINT, v STRING")
        tmp = str(tmp_path / f"chunk{n}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        import glob as _g
        import os as _o

        part = next(iter(sorted(_g.glob(f"{tmp}/*.parquet"))))
        _o.rename(part, str(feed / f"{n:03d}.parquet"))

    _stage([(1, "a"), (2, "b")], 0)
    _stage([(3, "c")], 1)
    _stage([(4, "d")], 2)

    table = VersionedTable(spark, str(tmp_path / "tbl"))
    ckpt = str(tmp_path / "ckpt")

    def _run(crash_at):
        def _process(batch_df, batch_id):
            table.append(batch_df, txn=("stream", batch_id))
            if batch_id == crash_at:
                raise RuntimeError("injected crash")

        q = (
            spark.readStream.schema("k BIGINT, v STRING")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(feed))
            .writeStream.foreachBatch(_process)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    with pytest.raises(StreamingQueryException):
        _run(crash_at=1)
    _run(crash_at=None)
    # Batch 1 was appended once, then REPLAYED and skipped by the txn
    # watermark — k=3 appears exactly once.
    got = sorted(r.k for r in table.read().collect())
    assert got == [1, 2, 3, 4]
    assert table.last_txn_version("stream") == 2


def test_stream_static_enrich_pinned_vs_refreshed(spark, tmp_path):
    """Documents the stream-static gotcha with a manifest-resolved
    table: VersionedTable.read() pins the file list at PLAN time, so
    a stream-static join sees the dimension AS OF query start even if
    the dimension table commits new versions mid-stream (repeatable
    enrichment). The refresh pattern is re-reading inside
    foreachBatch, which picks up each batch's current version."""
    from crypto_lakehouse_spark.pipeline.versioned import VersionedTable

    dim = VersionedTable(spark, str(tmp_path / "dim"))
    dim.overwrite(
        spark.createDataFrame([(1, "old"), (2, "old")], "k BIGINT, tag STRING")
    )

    feed = tmp_path / "feed"
    feed.mkdir()

    def _stage(rows, n):
        df = spark.createDataFrame(rows, "k BIGINT")
        tmp = str(tmp_path / f"c{n}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        import glob as _g
        import os as _o

        part = next(iter(sorted(_g.glob(f"{tmp}/*.parquet"))))
        _o.rename(part, str(feed / f"{n:03d}.parquet"))

    _stage([(1,)], 0)
    _stage([(2,)], 1)

    pinned = dim.read()  # plan pinned to v0's files
    seen: list[tuple[int, int, str, str]] = []

    def _process(batch_df, batch_id):
        refreshed = dim.read()  # re-resolves the CURRENT version
        joined = (
            batch_df.join(pinned.withColumnRenamed("tag", "pinned_tag"), "k")
            .join(refreshed.withColumnRenamed("tag", "fresh_tag"), "k")
        )
        for r in joined.collect():
            seen.append((batch_id, r.k, r.pinned_tag, r.fresh_tag))
        if batch_id == 0:
            # Dimension updates BETWEEN batches.
            dim.overwrite(
                spark.createDataFrame(
                    [(1, "new"), (2, "new")], "k BIGINT, tag STRING"
                )
            )

    q = (
        spark.readStream.schema("k BIGINT")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(feed))
        .writeStream.foreachBatch(_process)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert sorted(seen) == [
        (0, 1, "old", "old"),
        (1, 2, "old", "new"),  # pinned stays v0; refreshed sees v1
    ]


def test_versioned_source_to_versioned_sink_pipeline(spark, tmp_path):
    """End-to-end through both new connectors: a bronze VersionedTable
    streams out via format('versioned_table'), the stream transforms,
    and lands in a silver VersionedTable through the txn-idempotent
    write_stream sink — contents equal the batch transform of bronze."""
    from pyspark.sql import functions as F

    from crypto_lakehouse_spark.pipeline.versioned import VersionedTable
    from crypto_lakehouse_spark.sources.versioned_stream import register

    register(spark)
    bronze = VersionedTable(spark, str(tmp_path / "bronze"))
    bronze.append(
        spark.createDataFrame(
            [(i, float(i) * 1.5) for i in range(50)], "k BIGINT, x DOUBLE"
        ).coalesce(2)
    )
    bronze.append(
        spark.createDataFrame(
            [(i, float(i) * 1.5) for i in range(50, 80)], "k BIGINT, x DOUBLE"
        ).coalesce(1)
    )

    silver = VersionedTable(spark, str(tmp_path / "silver"))
    stream = (
        spark.readStream.format("versioned_table")
        .option("path", bronze.path)
        .load()
        .filter(F.col("k") % 2 == 0)
        .withColumn("x2", F.col("x") * 2)
    )
    q = silver.write_stream(stream, str(tmp_path / "ckpt"), app_id="silverize")
    q.awaitTermination()

    expect = {(k, k * 1.5 * 2) for k in range(0, 80, 2)}
    got = {(r.k, r.x2) for r in silver.read().collect()}
    assert got == expect


def test_join_then_window_crash_replay(spark):
    """Multi-stateful chain (stream-stream join -> windowed agg)
    survives a mid-replay kill: the first run is stopped after one
    micro-batch (both operators' state checkpointed), the restart
    drains the rest from the SAME checkpoint, and the final result is
    identical to an uninterrupted run AND to the batch join+agg — the
    exactly-once contract across TWO recovered stateful operators."""
    from crypto_lakehouse_spark.streaming.file_stream import (
        run_join_then_window,
    )

    sf = "/root/testdata/sf0.001"
    crashed = run_join_then_window(spark, sf, stop_after_first_batch=True)
    clean = run_join_then_window(spark, sf)
    a = [tuple(r) for r in crashed.collect()]
    b = [tuple(r) for r in clean.collect()]
    assert a == b
    assert len(a) > 0, "chain emitted no finalized windows"


def test_merge_sink_crash_replay_exactly_once_upsert(spark, tmp_path):
    """Streaming MERGE sink (write_stream_merge): each micro-batch
    UPSERTS by key with txn idempotence — a batch replayed after a
    crash (merge committed, offset commit didn't) is skipped by the
    transaction watermark, so the upsert applies exactly once and
    late batches overwrite earlier images of the same key."""
    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from crypto_lakehouse_spark.pipeline.versioned import VersionedTable

    feed = tmp_path / "feed"
    feed.mkdir()

    def _stage(rows, n):
        df = spark.createDataFrame(rows, "k BIGINT, v STRING")
        tmp = str(tmp_path / f"chunk{n}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        import glob as _g
        import os as _o

        part = next(iter(sorted(_g.glob(f"{tmp}/*.parquet"))))
        _o.rename(part, str(feed / f"{n:03d}.parquet"))

    _stage([(1, "a0"), (2, "b0")], 0)
    _stage([(2, "b1"), (3, "c0")], 1)  # update k=2, insert k=3
    _stage([(1, "a2")], 2)  # update k=1

    table = VersionedTable(spark, str(tmp_path / "tbl"))
    ckpt = str(tmp_path / "ckpt")

    crash_state = {"at": 1}

    def _run():
        src = (
            spark.readStream.schema("k BIGINT, v STRING")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(feed))
        )

        def _apply(batch_df, batch_id):
            if batch_df.isEmpty():
                return
            table.merge(batch_df, ["k"], txn=("msink", batch_id))
            if batch_id == crash_state["at"]:
                raise RuntimeError("injected crash")

        q = (
            src.writeStream.foreachBatch(_apply)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    with pytest.raises(StreamingQueryException):
        _run()
    crash_state["at"] = None
    _run()
    got = {r.k: r.v for r in table.read().collect()}
    # Exactly-once upsert: batch 1's merge was committed once (the
    # replay skipped), every key holds its LATEST image, no
    # duplicates.
    assert got == {1: "a2", 2: "b1", 3: "c0"}
    assert table.read().count() == 3
    assert table.last_txn_version("msink") == 2


def test_write_stream_merge_end_to_end(spark, tmp_path):
    """The packaged write_stream_merge sink: availableNow over a file
    feed upserts every batch; restart with the same checkpoint
    replays nothing."""
    from crypto_lakehouse_spark.pipeline.versioned import VersionedTable

    feed = tmp_path / "feed2"
    feed.mkdir()
    df = spark.createDataFrame(
        [(1, "x"), (2, "y"), (1, "x2")], "k BIGINT, v STRING"
    )
    # Two files so two batches with maxFilesPerTrigger=1 would race
    # key 1 — keep one file per key-image instead: batch 0 = initial,
    # batch 1 = update.
    spark.createDataFrame([(1, "x"), (2, "y")], "k BIGINT, v STRING").coalesce(
        1
    ).write.mode("overwrite").parquet(str(tmp_path / "c0"))
    spark.createDataFrame([(1, "x2")], "k BIGINT, v STRING").coalesce(
        1
    ).write.mode("overwrite").parquet(str(tmp_path / "c1"))
    import glob as _g
    import os as _o

    for i in range(2):
        part = next(
            iter(sorted(_g.glob(str(tmp_path / f"c{i}") + "/*.parquet")))
        )
        _o.rename(part, str(feed / f"{i:03d}.parquet"))

    table = VersionedTable(spark, str(tmp_path / "tbl2"))
    src = (
        spark.readStream.schema("k BIGINT, v STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(feed))
    )
    q = table.write_stream_merge(src, ["k"], str(tmp_path / "ckpt2"))
    q.awaitTermination()
    got = {r.k: r.v for r in table.read().collect()}
    assert got == {1: "x2", 2: "y"}
    # Restart: nothing replays, table unchanged.
    v = table.current_version()
    src2 = (
        spark.readStream.schema("k BIGINT, v STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(feed))
    )
    q2 = table.write_stream_merge(src2, ["k"], str(tmp_path / "ckpt2"))
    q2.awaitTermination()
    assert table.current_version() == v
