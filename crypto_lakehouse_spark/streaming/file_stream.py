"""Structured Streaming ingest (reference streaming_bronze_writer.py,
re-expressed Spark-first without Kafka — this environment has no Kafka
connector, and the reference's Kafka topic is an implementation detail
of its deployment; the engine abstracts the source).

`events_stream` replays the driver's events parquet as a file-source
stream (deterministic; the test-time analog of the Kafka topic —
SURVEY §2.1 S1 "abstract behind a Source so tests can substitute
file/rate/in-memory replay"). Production wiring would swap
`.format("parquet")` for `.format("kafka")` + from_json, which is the
only line that changes.

Semantics carried over from the reference:
- micro-batch trigger (T1): `availableNow` in tests (deterministic
  drain), `processingTime="5 seconds"` in continuous mode
  (spark_config.py:60);
- append-only bronze sink with checkpoint (T2/T3);
- non-trade filtering by null key (T7) and DLQ routing of invalid
  rows via foreachBatch (T9, engine-side analog of the producer DLQ).
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import threading
import time
import uuid
import warnings

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

# Staging/feed/checkpoint dirs are process-scoped scratch; register
# every one for atexit removal so long driver/bench sessions don't
# accumulate temp dirs (same pattern as queries/formats_ops._STAGED).
_SCRATCH: list[str] = []


@atexit.register
def _cleanup_scratch() -> None:
    for d in _SCRATCH:
        shutil.rmtree(d, ignore_errors=True)
    _SCRATCH.clear()


def _scratch_dir(prefix: str) -> str:
    d = tempfile.mkdtemp(prefix=prefix)
    _SCRATCH.append(d)
    return d


def _stage_file(df: DataFrame, dest: str, n: int) -> None:
    """Write `df` as the single parquet file `<dest>/<n:03d>.parquet`:
    one file per replayed micro-batch (with maxFilesPerTrigger=1, file
    n is batch n)."""
    tmp = _scratch_dir("stage_chunk_")
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = next(p for p in sorted(os.listdir(tmp)) if p.endswith(".parquet"))
    os.rename(os.path.join(tmp, part), os.path.join(dest, f"{n:03d}.parquet"))

def _median_micros(ev: DataFrame) -> int:
    """Median event time as epoch micros, used to split the replay
    timeline into deterministic halves. Empty relation (a legal empty
    partition) has no quantile — return epoch 0 so every half-filter
    stages an empty chunk and the stream drains to an empty result
    instead of IndexError-ing on approxQuantile's empty list."""
    qs = ev.select(F.unix_micros("ts").alias("us")).approxQuantile(
        "us", [0.5], 0.0
    )
    return int(qs[0]) if qs else 0


def _stream_schema(spark: SparkSession, path: str):
    """Schema for a file-source stream, read from the ACTUAL parquet
    footers (one batch-reader footer fetch, no data scan). The file
    source requires a declared schema; hard-coding the physical type of
    driver-owned data silently mangled rows when the testdata was
    regenerated with different timestamp encoding — deriving it keeps
    the replay byte-exact against whatever the files really contain."""
    return spark.read.parquet(path).schema


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source streaming read of the events table (ts normalized to
    TIMESTAMP from whatever encoding the parquet uses — bigint nanos or
    TIMESTAMP_NTZ micros, same dtype-keyed rule as `io.load_table`).

    The file source requires a directory; the read-only testdata file
    is staged into a temp dir via symlink (zero-copy).
    """
    from crypto_lakehouse_spark.io import normalize_timestamps

    src = f"{sf_dir}/events.parquet"
    stage = _scratch_dir("stream_src_")
    os.symlink(src, f"{stage}/events.parquet")
    raw = (
        spark.readStream.schema(_stream_schema(spark, src))
        .format("parquet")
        .load(stage)
    )
    return normalize_timestamps(raw, ["ts"])


# Kafka wire schema: what every Spark kafka source row looks like
# (fixed by the connector, independent of topic contents).
KAFKA_WIRE_SCHEMA = (
    "key BINARY, value BINARY, topic STRING, partition INT, offset BIGINT, "
    "timestamp TIMESTAMP, timestampType INT"
)

# All-STRING parse schema, exactly as the reference declares it
# (streaming_bronze_writer.py:48-58): the Coinbase wire emits trade_id/
# sequence as quoted strings, and Jackson will NOT coerce a quoted
# string into a numeric field — a BIGINT trade_id here silently nulls
# every row (caught by the kafka_wire_parse differential, round 5).
# Numeric typing happens downstream in silver, mirroring the
# reference's bronze-keeps-strings contract.
TRADE_JSON_SCHEMA = (
    "trade_id STRING, product_id STRING, price STRING, size STRING, "
    "side STRING, time STRING"
)


def kafka_reader(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "earliest",
):
    """The production source: the reference's Kafka read options
    verbatim (streaming_bronze_writer.py:119-127). Returns the
    configured DataStreamReader; `.load()` is the only step that needs
    the kafka connector jar on the classpath."""
    return (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .option("failOnDataLoss", "false")
    )


def parse_kafka_feed(raw: DataFrame) -> DataFrame:
    """Kafka wire rows -> bronze trade-feed rows (reference
    streaming_bronze_writer.py:130-166): cast value to string, parse
    the trade JSON, keep raw payload + kafka position metadata, stamp
    ingestion time/date. A pure DataFrame transform over
    KAFKA_WIRE_SCHEMA, so it runs identically on the streaming kafka
    source and on a static test frame — the construction coverage that
    catches option/schema typos without a broker."""
    parsed = (
        raw.withColumn("_raw_payload", F.col("value").cast("string"))
        .withColumn("parsed", F.from_json(F.col("value").cast("string"), TRADE_JSON_SCHEMA))
        .withColumn("_ingested_at", F.current_timestamp())
        .withColumn("_kafka_offset", F.col("offset"))
        .withColumn("_kafka_partition", F.col("partition"))
        .withColumn("_ingestion_date", F.to_date(F.col("_ingested_at")))
    )
    return parsed.select(
        "_ingested_at",
        "_raw_payload",
        "_kafka_offset",
        "_kafka_partition",
        F.col("parsed.trade_id").alias("trade_id"),
        F.col("parsed.product_id").alias("product_id"),
        F.col("parsed.price").alias("price"),
        F.col("parsed.size").alias("size"),
        F.col("parsed.side").alias("side"),
        F.col("parsed.time").alias("time"),
        "_ingestion_date",
    ).filter(F.col("trade_id").isNotNull())


def kafka_events_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "earliest",
) -> DataFrame:
    """Kafka -> bronze feed: the production twin of `events_stream`.
    Requires the spark-sql-kafka connector on the classpath (absent in
    this container; the plan-construction test covers everything up to
    the jar boundary)."""
    return parse_kafka_feed(
        kafka_reader(spark, bootstrap_servers, topic, starting_offsets).load()
    )


def run_kafka_wire_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kafka wire-path proof WITHOUT a broker: replay the trade feed as
    a STREAM of rows in exactly the connector's wire shape
    (KAFKA_WIRE_SCHEMA — BINARY key/value, topic/partition/offset/
    timestamp/timestampType) and run the production `parse_kafka_feed`
    transform over it, drained with availableNow. This differentially
    proves every stage downstream of `.format("kafka").load()` — binary
    decode, JSON parse, heartbeat/malformed filtering, position
    metadata — against a batch oracle; the TCP socket is the only
    untested inch (reference streaming_bronze_writer.py:119-166).

    Two micro-batches (offset parity split) exercise multi-batch
    parsing; the aggregate excludes `_ingested_at` (wall clock, the one
    nondeterministic column) so the result is value-exact.
    """
    from crypto_lakehouse_spark.sources.trade_feed import trade_feed

    wire = trade_feed(spark, sf_dir).select(
        F.col("key").cast("binary").alias("key"),
        F.col("value").cast("binary").alias("value"),
        F.lit("trades").alias("topic"),
        F.col("partition").cast("int").alias("partition"),
        F.col("offset").cast("bigint").alias("offset"),
        F.col("ingested_at").alias("timestamp"),
        F.lit(0).alias("timestampType"),
    )
    feed = _scratch_dir("kafka_wire_")

    _stage_file(wire.filter(F.col("offset") % 2 == 0), feed, 0)
    _stage_file(wire.filter(F.col("offset") % 2 == 1), feed, 1)

    raw = (
        spark.readStream.schema(KAFKA_WIRE_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    parsed = parse_kafka_feed(raw).select(
        "product_id",
        "price",
        "time",
        "_kafka_offset",
        "_kafka_partition",
    )
    name = f"kafka_wire_{uuid.uuid4().hex[:8]}"
    ckpt = _scratch_dir("ckpt_")
    q = (
        parsed.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.table(name)
        .groupBy("product_id")
        .agg(
            F.count("*").alias("n_messages"),
            F.sum("_kafka_offset").alias("offset_sum"),
            F.countDistinct("_kafka_partition").alias("n_partitions"),
            # bronze carries price as STRING (reference contract); the
            # silver-style numeric cast happens here for the aggregate.
            F.sum(F.col("price").cast("double").cast("decimal(18,4)")).alias(
                "price_sum"
            ),
            F.max("time").alias("max_time"),
        )
        .select(
            "product_id",
            "n_messages",
            "offset_sum",
            "n_partitions",
            F.col("price_sum").cast("double").alias("price_sum"),
            "max_time",
        )
        .orderBy("product_id")
    )


def run_streaming_ohlcv_1m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FLAGSHIP parity query: 1-minute OHLCV candles computed by a
    real Structured Streaming window aggregation over a replayed trade
    feed, oracle-checked against the BATCH ohlcv_1m SQL — the batch ==
    streaming equivalence (T5) on the reference's actual workload, not
    a toy counter.

    The aggregates are the shared fused candle build
    (`operators.gold.candle_aggs`): open/close are min_by/max_by over
    the (trade_time, trade_id) struct — the declarative,
    order-insensitive equivalent of the batch plan's full-frame
    FIRST/LAST_VALUE window with the same tie-break, so the results are
    value-identical no matter how rows land in micro-batches.
    high/low/volume/pv are plain algebraic aggregates; vwap divides
    the exact decimal pv at emission, identical to _finish_candles.
    The silver relation is staged (the dedup step is covered by the
    streaming_dedup_* queries; chaining both stateful stages here would
    just retest them), split into 3 micro-batches by trade_id so every
    window's state is built incrementally across triggers. Complete
    output mode keeps the bounded window x product key space; at 100 TB
    this becomes watermark + append into a keyed sink with the same
    plan shape.
    """
    from crypto_lakehouse_spark.functions import ddiv, fmt_ts
    from crypto_lakehouse_spark.operators.gold import candle_aggs
    from crypto_lakehouse_spark.operators.trades import (
        raw_trades,
        silver_trades,
    )

    s = silver_trades(raw_trades(spark, sf_dir)).select(
        "product_id", "trade_id", "trade_time", "price", "size"
    )
    feed = _scratch_dir("ohlcv_feed_")

    for chunk in range(3):
        _stage_file(s.filter(F.col("trade_id") % 3 == chunk), feed, chunk)

    stream = (
        spark.readStream.schema(_stream_schema(spark, feed))
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    agg = (
        stream.groupBy(F.window("trade_time", "1 minute").alias("w"), F.col("product_id"))
        .agg(*candle_aggs())
        .select(
            "product_id",
            fmt_ts("w.start").alias("window_start"),
            fmt_ts("w.end").alias("window_end"),
            F.col("open").cast("double").alias("open"),
            F.col("high").cast("double").alias("high"),
            F.col("low").cast("double").alias("low"),
            F.col("close").cast("double").alias("close"),
            F.col("volume").cast("double").alias("volume"),
            "trade_count",
            ddiv(F.col("pv"), F.col("volume")).alias("vwap"),
        )
    )
    name = f"ohlcv_stream_{uuid.uuid4().hex[:8]}"
    ckpt = _scratch_dir("ckpt_")
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def run_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming tumbling-window aggregation (T5 as a *real* streaming
    window, not batch date_trunc): hourly event counts + value sum per
    event_type, drained deterministically with availableNow into a
    memory sink.

    Complete output mode keeps every window (bounded key space here).
    At scale this would be update mode + watermark into a keyed sink;
    the plan (partial aggs -> stateful window agg) is identical.
    """
    name = f"win_counts_{uuid.uuid4().hex[:8]}"
    ckpt = _scratch_dir("ckpt_")
    stream = events_stream(spark, sf_dir)
    agg = (
        stream.groupBy(
            F.window("ts", "1 hour").alias("w"),
            F.col("event_type"),
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).alias("value_sum"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            F.col("value_sum").cast("double").alias("value_sum"),
        )
    )
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def run_watermarked_counts(
    spark: SparkSession, sf_dir: str, delay: str = "30 minutes", late_rows: int = 200
) -> DataFrame:
    """T4 extension: a REAL event-time watermark with append-mode
    emission and late-data dropping (the reference only *flags* late
    rows in batch, bronze_to_silver.py:127-130; SURVEY §2.7 marks true
    watermarking as engine extension).

    Replay is 3 deterministic micro-batches: the first half of the
    timeline, the second half, then a LATE batch re-emitting the
    `late_rows` earliest events. By then the watermark has advanced to
    (max event time - delay), so every late row is behind it and must
    be dropped, and exactly the windows with
    window_end <= max_ts - delay have been finalized. Both effects are
    therefore expressible as batch SQL over the original table — the
    oracle proves the watermark semantics, not just row plumbing.
    """
    from crypto_lakehouse_spark.io import load_table

    # Batch-load (normalized ts) then re-stage: the staged chunks are
    # written by THIS session, so the replay schema is derived from the
    # staged files themselves — no assumption about the driver encoding.
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    # approxQuantile needs a numeric column; quantile the epoch-micros
    # view of ts and split on the exact timestamp it maps back to.
    mid_us = _median_micros(ev)
    mid = F.timestamp_micros(F.lit(mid_us))
    feed = _scratch_dir("wm_feed_")

    _stage_file(ev.filter(F.col("ts") <= mid), feed, 0)
    _stage_file(ev.filter(F.col("ts") > mid), feed, 1)
    _stage_file(ev.orderBy("ts", "event_id").limit(late_rows), feed, 2)

    stream = (
        spark.readStream.schema(_stream_schema(spark, feed))
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    agg = (
        stream.withWatermark("ts", delay)
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).alias("value_sum"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            F.col("value_sum").cast("double").alias("value_sum"),
        )
    )
    name = f"wm_counts_{uuid.uuid4().hex[:8]}"
    ckpt = _scratch_dir("ckpt_")
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


class IngestMetricsListener(StreamingQueryListener):
    """Engine-side run metrics: the Spark-native analog of the
    reference's Prometheus counters/histograms + Grafana pipeline-health
    dashboard (ingestion/producers/coinbase_producer.py:68-72,
    monitoring/grafana/provisioning/dashboards/pipeline-health.json:82,210).

    Collects, per micro-batch: `numInputRows`, `processedRowsPerSecond`,
    `durationMs`, and every `df.observe()` aggregate attached to the
    query plan (computed ENGINE-side during the batch — zero extra
    actions, unlike a foreachBatch `.count()`). On a production cluster
    this listener is where rows/sec and late/invalid-row counts get
    pushed to a metrics sink; the callbacks run on a background thread,
    hence the event-based drain in `wait_terminated`.
    """

    def __init__(self) -> None:
        self.progress: list[dict] = []
        self._terminated: set[str] = set()
        self._lock = threading.Lock()
        self._done = threading.Event()

    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        observed = {}
        for name, row in (p.observedMetrics or {}).items():
            observed[name] = row.asDict()
        with self._lock:
            self.progress.append(
                {
                    "query_id": str(p.id),
                    "batch_id": p.batchId,
                    "num_input_rows": p.numInputRows,
                    "processed_rows_per_second": p.processedRowsPerSecond,
                    "batch_duration_ms": dict(p.durationMs).get("triggerExecution"),
                    "observed": observed,
                }
            )

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        with self._lock:
            self._terminated.add(str(event.id))
        self._done.set()

    def wait_terminated(self, query_id: str, timeout: float = 15.0) -> bool:
        """Block until this query's terminated event arrived (listener
        callbacks are async w.r.t. awaitTermination)."""
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            with self._lock:
                if query_id in self._terminated:
                    return True
            self._done.wait(0.2)
            self._done.clear()
        return False

    def batches_for(self, query_id: str) -> list[dict]:
        with self._lock:
            return [r for r in self.progress if r["query_id"] == query_id]


def run_stream_ingest(
    spark: SparkSession,
    sf_dir: str,
    warehouse: str,
    each_batch=None,
    stage_dir: str | None = None,
    ckpt_dir: str | None = None,
):
    """Streaming bronze ingest: trade-feed replay -> foreachBatch ->
    bronze append + DLQ (S3 sink with checkpoint/trigger, T8 per-batch
    inspection hook, T9 bad-record routing — reference
    streaming_bronze_writer.py:94-100,169-177).

    Returns (lakehouse, metrics) where metrics is one dict per
    micro-batch — the engine-side analog of the reference's
    process_batch count logger; its `bronze` and `dlq` keys are the
    rows that batch appended.

    Pass the same `stage_dir`/`ckpt_dir` across calls to exercise
    checkpoint RECOVERY: a restart replays nothing already committed
    (T2/T3's actual claim); only files added to `stage_dir` since the
    checkpoint are processed.
    """
    from crypto_lakehouse_spark.pipeline.lakehouse import Lakehouse
    from crypto_lakehouse_spark.sources.trade_feed import trade_feed

    stage = stage_dir or _scratch_dir("ingest_feed_")
    fresh = not os.listdir(stage) if os.path.isdir(stage) else True
    os.makedirs(stage, exist_ok=True)

    if fresh:
        feed = trade_feed(spark, sf_dir)
        # Two deterministic micro-batches, split on offset parity.
        _stage_file(feed.filter(F.col("offset") % 2 == 0), stage, 0)
        _stage_file(feed.filter(F.col("offset") % 2 == 1), stage, 1)

    stream = (
        spark.readStream.schema(
            "key STRING, value STRING, offset BIGINT, partition INT, ingested_at TIMESTAMP"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
        # Engine-side per-batch metric: computed DURING the batch by the
        # JVM (zero extra actions), surfaced via the listener below.
        .observe("ingest", F.count(F.lit(1)).alias("rows"), F.count("key").alias("keyed_rows"))
    )

    lh = Lakehouse(spark, warehouse)
    metrics: list[dict] = []

    def _process(batch_df: DataFrame, batch_id: int) -> None:  # T8 hook
        counts = lh.ingest_feed(batch_df)
        metrics.append({"batch_id": batch_id, **counts})
        if each_batch is not None:
            # Downstream incremental stages (silver MERGE, gold builds)
            # run inside the micro-batch — the continuous-medallion mode.
            each_batch(lh, batch_id)

    ckpt = ckpt_dir or _scratch_dir("ckpt_ingest_")
    listener = IngestMetricsListener()
    spark.streams.addListener(listener)
    try:
        q = (
            stream.writeStream.foreachBatch(_process)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        qid = str(q.id)
        drained = listener.wait_terminated(qid)
    finally:
        spark.streams.removeListener(listener)

    # Merge the listener's engine-side view into the per-batch dicts —
    # the production monitoring path (rows/sec, input rows, observed
    # aggregates) exercised on every ingest, not dead wiring. If the
    # async callbacks did NOT drain within the timeout, the engine_*
    # keys are still populated (None) so consumers index them safely,
    # and the miss is diagnosable instead of a downstream KeyError.
    if not drained:
        warnings.warn(
            f"streaming listener events for query {qid} did not drain "
            "within the wait window; engine-side batch metrics degraded "
            "to None",
            RuntimeWarning,
            stacklevel=2,
        )
    by_batch = {r["batch_id"]: r for r in listener.batches_for(qid)}
    for m in metrics:
        eng = by_batch.get(m["batch_id"])
        m["engine_input_rows"] = eng["num_input_rows"] if eng else None
        m["engine_batch_duration_ms"] = eng["batch_duration_ms"] if eng else None
        m["engine_observed"] = eng["observed"] if eng else None
    return lh, metrics


def run_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dropDuplicates (T6 extension): exactly-once event ids
    within the stream, then per-type counts. availableNow drain."""
    name = f"dedup_{uuid.uuid4().hex[:8]}"
    ckpt = _scratch_dir("ckpt_")
    stream = events_stream(spark, sf_dir)
    agg = (
        stream.dropDuplicates(["event_id"])
        .groupBy("event_type")
        .agg(F.count("*").alias("n_events"))
    )
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name).orderBy("event_type")


def run_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark-4 `dropDuplicatesWithinWatermark` (the production form of
    streaming dedup: state is EVICTED once the watermark passes an
    event's time + delay, so memory is bounded — plain streaming
    dropDuplicates keeps all keys forever). Replay: the full events
    table, then a second micro-batch re-delivering every 13th event.
    The delay (30 days) exceeds the data's whole time span, so no
    state is evicted mid-replay and every re-delivery is suppressed —
    making the batch COUNT(DISTINCT) oracle exact. (With a short
    delay, suppression of old duplicates would be best-effort — that
    mode is the scale behavior, not a differential-checkable one.)"""
    from crypto_lakehouse_spark.io import load_table

    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "event_type")
    feed = _scratch_dir("ddw_feed_")

    _stage_file(ev, feed, 0)
    _stage_file(ev.filter(F.col("event_id") % 13 == 0), feed, 1)  # re-delivery batch

    stream = (
        spark.readStream.schema(_stream_schema(spark, feed))
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    deduped = stream.withWatermark("ts", "30 days").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    agg = deduped.groupBy("event_type").agg(F.count("*").alias("n_events"))
    name = f"ddw_{uuid.uuid4().hex[:8]}"
    ckpt = _scratch_dir("ckpt_")
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name).orderBy("event_type")


def run_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STATIC broadcast enrichment — the dimension-join pattern
    every production stream runs (fact stream joined to a slowly
    changing dimension). The events stream joins the static `nation`
    table (user_id % 25 -> nationkey) per micro-batch:

    - no watermark required: stream-static joins hold no join state
      (the static side is fully available each batch);
    - the dimension is broadcast, so the stream side never shuffles
      for the join — at 100 TB/day this is the only viable shape;
    - on a live stream the static side is re-resolved per batch, so
      dimension updates between batches are picked up automatically.

    availableNow drain into a memory sink; the batch join over the
    same two tables is the oracle."""
    from crypto_lakehouse_spark.io import load_table

    name = f"enrich_{uuid.uuid4().hex[:8]}"
    ckpt = _scratch_dir("ckpt_")
    nation = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nk"), "n_name"
    )
    stream = events_stream(spark, sf_dir)
    enriched = stream.withColumn("nk", F.col("user_id") % 25).join(
        F.broadcast(nation), "nk"
    )
    agg = enriched.groupBy("n_name").agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,4)")).alias("value_sum"),
    )
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.table(name)
        .select(
            "n_name",
            "n_events",
            F.col("value_sum").cast("double").alias("value_sum"),
        )
        .orderBy("n_name")
    )


def run_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with event-time range condition:
    click stream joined to purchase stream (same user, click within
    the 5 minutes before the purchase) — the streaming twin of the
    batch `range_join_click_purchase`, whose SQL is the oracle.

    Both sides carry watermarks and the join condition bounds event
    time on both sides, so Spark can size and expire the join state
    (without the time bound the state would grow forever). Under an
    availableNow full replay every match is emitted exactly once in
    append mode, which is why batch equivalence holds.
    """
    name = f"ss_join_{uuid.uuid4().hex[:8]}"
    ckpt = _scratch_dir("ckpt_")
    clicks = (
        events_stream(spark, sf_dir)
        .where("event_type = 'click'")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        events_stream(spark, sf_dir)
        .where("event_type = 'purchase'")
        .select(
            "user_id",
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("user_id"))
        & (F.col("click_ts") >= F.col("p_ts") - F.expr("INTERVAL 5 MINUTES"))
        & (F.col("click_ts") < F.col("p_ts")),
        "inner",
    ).select(
        "purchase_id",
        "click_id",
        "user_id",
        F.col("purchase_value").cast("double").alias("purchase_value"),
    )
    q = (
        joined.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name).orderBy("purchase_id", "click_id")


def run_join_then_window(
    spark: SparkSession, sf_dir: str, stop_after_first_batch: bool = False
) -> DataFrame:
    """MULTI-STATEFUL chain (Spark 4): watermarked stream-stream range
    join feeding a downstream tumbling-window aggregation — TWO
    stateful operators in one streaming query, append mode, the
    composition Spark <3.5 rejected outright (SPARK-42376 lifted it).

    Pipeline: clicks x purchases (same user, click within the 5
    minutes before the purchase — the `range_join_click_purchase`
    condition) -> groupBy(window(p_ts, 10 min)) count + exact-decimal
    value sum. Watermarks on BOTH join inputs bound the join state;
    the join's output watermark then drives the window agg's
    finalization — the propagation chain this query exists to prove.

    Determinism: append mode only emits windows whose end falls
    behind the final watermark, so the replay stages a FLUSH batch
    after the real data — one click + one purchase 10 hours past the
    real max event time, under join-partner-less user ids (-1/-2).
    They advance both sides' watermarks beyond every real window but
    can never join, so they add no output rows — and therefore the
    batch join + window-agg SQL over the original table is the EXACT
    oracle, no emitted-window cutoff term needed.

    `stop_after_first_batch=True` kills the query after one
    micro-batch (crash injection); rerunning on the same feed +
    checkpoint must converge to the identical result — the
    exactly-once contract the crash-replay test pins across BOTH
    stateful operators' recovered state.
    """
    from crypto_lakehouse_spark.io import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value", "user_id"
    )
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    flush = spark.createDataFrame(
        [
            (-1, max_ts, "click", 0.0, -1),
            (-2, max_ts, "purchase", 0.0, -2),
        ],
        ev.schema,
    ).withColumn("ts", F.col("ts") + F.expr("INTERVAL 10 HOURS"))

    feed = _scratch_dir("jw_feed_")

    mid_us = _median_micros(ev)
    mid = F.timestamp_micros(F.lit(mid_us))
    _stage_file(ev.filter(F.col("ts") <= mid), feed, 0)
    _stage_file(ev.filter(F.col("ts") > mid), feed, 1)
    _stage_file(flush, feed, 2)

    def _source() -> DataFrame:
        return (
            spark.readStream.schema(_stream_schema(spark, feed))
            .option("maxFilesPerTrigger", 1)
            .parquet(feed)
        )

    clicks = (
        _source()
        .where("event_type = 'click'")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        _source()
        .where("event_type = 'purchase'")
        .select(
            "user_id",
            F.col("ts").alias("p_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("user_id"))
        & (F.col("click_ts") >= F.col("p_ts") - F.expr("INTERVAL 5 MINUTES"))
        & (F.col("click_ts") < F.col("p_ts")),
        "inner",
    )
    agg = (
        joined.groupBy(F.window("p_ts", "10 minutes").alias("w"))
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum(F.col("purchase_value").cast("decimal(18,4)")).alias(
                "value_sum"
            ),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "n_pairs",
            F.col("value_sum").cast("double").alias("value_sum"),
        )
    )
    # FILE sink, not memory: the memory sink cannot recover from a
    # checkpoint (crash-replay would fail to restart), while the
    # parquet sink's _spark_metadata commit manifest gives end-to-end
    # exactly-once across the kill/restart — the property the
    # crash-replay test pins.
    out_dir = _scratch_dir("jw_out_")
    ckpt = _scratch_dir("ckpt_jw_")

    def _start():
        return (
            agg.writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    if stop_after_first_batch:
        q = _start()
        while not q.recentProgress:
            time.sleep(0.05)
        q.stop()  # crash injection: state checkpointed mid-replay
        q.awaitTermination()
    q = _start()
    q.awaitTermination()
    return (
        spark.read.schema(agg.schema).parquet(out_dir).orderBy("window_start")
    )


def run_stream_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC upsert: a 3-batch change feed drained through
    foreachBatch into a partitioned LakehouseTable MERGE — the
    continuous silver-maintenance mode a lakehouse actually runs
    (Delta's `foreachBatch + MERGE` recipe; reference
    bronze_to_silver.py:156-188 runs the same MERGE in batch).

    Replay: batch 0 is the full orders base; batch 1 updates every
    10th key (status -> 'U1', price +100); batch 2 updates every
    100th key again (status -> 'U2', price +250). Each micro-batch is
    unique on the merge key (MERGE's contract) and leaves the
    partition column (o_orderpriority) untouched, so every merge is a
    pruned dynamic-partition overwrite — at scale only the partitions
    a batch touches are rewritten, and exactly-once holds because the
    file-source checkpoint replays no committed batch.

    Returns the final table state aggregated per status — the latest
    row per key wins, which is what the latest-state SQL oracle
    re-derives relationally.
    """
    from crypto_lakehouse_spark.io import load_table
    from crypto_lakehouse_spark.tables import LakehouseTable

    cols = ["o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority"]
    orders = load_table(spark, sf_dir, "orders").select(*cols)
    u1 = (
        orders.filter(F.col("o_orderkey") % 10 == 0)
        .withColumn("o_orderstatus", F.lit("U1"))
        .withColumn("o_totalprice", F.col("o_totalprice") + 100)
    )
    u2 = (
        orders.filter(F.col("o_orderkey") % 100 == 0)
        .withColumn("o_orderstatus", F.lit("U2"))
        .withColumn("o_totalprice", F.col("o_totalprice") + 250)
    )

    feed = _scratch_dir("cdc_feed_")

    _stage_file(orders, feed, 0)
    _stage_file(u1, feed, 1)
    _stage_file(u2, feed, 2)

    table = LakehouseTable(
        spark,
        os.path.join(_scratch_dir("cdc_tbl_"), "orders_silver"),
        partition_by=["o_orderpriority"],
    )

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        table.merge(batch_df.select(*cols), keys=["o_orderkey"])

    stream = (
        spark.readStream.schema(_stream_schema(spark, feed))
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    q = (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", _scratch_dir("ckpt_cdc_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    return (
        table.read()
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,4)")).alias("price_sum"),
        )
        .select(
            F.col("o_orderstatus").alias("status"),
            "n_orders",
            F.col("price_sum").cast("double").alias("price_sum"),
        )
        .orderBy("status")
    )


def run_streaming_session_window(
    spark: SparkSession, sf_dir: str, gap: str = "30 minutes", delay: str = "30 minutes"
) -> DataFrame:
    """Streaming sessionization with the NATIVE session_window operator
    under a real event-time watermark — the streaming twin of
    `session_window_native` (queries/events_ops.py), whose dynamic
    gap-merged windows carry over unchanged (that's the point of using
    the native operator: the same expression runs batch and stream).

    Replay is 2 chronological halves, which makes the emitted set
    exact batch SQL: chronological order means a session still open at
    a batch boundary can always absorb the next batch's events before
    the watermark passes its end (an open session's end is within
    `gap` of the boundary, while the watermark trails by `delay` >= 0
    behind max event time), so no session is finalized early or split.
    Append mode emits exactly the sessions whose end <= final
    watermark (max_ts - delay); the oracle filters the batch session
    derivation the same way.
    """
    from crypto_lakehouse_spark.io import load_table

    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "user_id")
    mid_us = _median_micros(ev)
    mid = F.timestamp_micros(F.lit(mid_us))
    feed = _scratch_dir("sess_feed_")

    _stage_file(ev.filter(F.col("ts") <= mid), feed, 0)
    _stage_file(ev.filter(F.col("ts") > mid), feed, 1)

    stream = (
        spark.readStream.schema(_stream_schema(spark, feed))
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    agg = (
        stream.withWatermark("ts", delay)
        .groupBy("user_id", F.session_window("ts", gap).alias("sw"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.date_format("sw.start", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "session_start"
            ),
            F.date_format("sw.end", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "session_end"
            ),
            "n_events",
        )
    )
    name = f"sess_win_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", _scratch_dir("ckpt_sess_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name).orderBy("user_id", "session_start")


def run_python_datasource_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming aggregation through the CUSTOM Python data source
    (sources/pyarrow_source.ArrowParquetStreamReader): the events
    table replayed as 3 row-range micro-batches with JSON-dict
    offsets and checkpoint-tracked exactly-once progress, aggregated
    per event_type in complete mode. Proves the connector's streaming
    half end-to-end — offsets, partition planning, Arrow batch reads —
    against the same batch oracle as the native path.

    The source is unbounded from Spark's perspective (latestOffset
    advances one chunk per trigger), so the drain is: poll the memory
    sink until the aggregated row count equals the table's footer
    row count, then stop — the Python-source equivalent of
    availableNow (which caps at the FIRST latestOffset and would
    replay only one chunk)."""
    import time as _time

    import pyarrow.parquet as _pq

    from crypto_lakehouse_spark.sources.pyarrow_source import register

    register(spark)
    src = f"{sf_dir}/events.parquet"
    files = (
        sorted(
            os.path.join(src, f) for f in os.listdir(src) if f.endswith(".parquet")
        )
        if os.path.isdir(src)
        else [src]
    )
    total = sum(_pq.ParquetFile(f).metadata.num_rows for f in files)

    df = (
        spark.readStream.format("arrow_parquet")
        .option("path", src)
        .option("columns", "event_id,ts,event_type,value")
        .option("n_batches", "3")
        .load()
    )
    agg = (
        df.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("event_id").alias("min_id"),
            F.sum(F.col("value").cast("decimal(18,4)")).alias("value_sum"),
        )
    )
    name = f"pyds_agg_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", _scratch_dir("ckpt_pydss_"))
        .trigger(processingTime="0 seconds")
        .start()
    )
    deadline = _time.time() + 120
    done = None
    while _time.time() < deadline:
        done = (
            spark.table(name).agg(F.sum("n_events").alias("n")).collect()[0]["n"]
        )
        done = 0 if done is None else done  # SUM over no rows is NULL
        if done == total:
            break
        _time.sleep(0.3)
    q.stop()
    if done != total:
        # Fail loudly (ADVICE r5): a silent fall-through here returns a
        # partial aggregate that only surfaces as a distant value-hash
        # mismatch in the differential.
        raise TimeoutError(
            f"python-datasource stream drained {done} of {total} rows "
            f"within 120 s (memory sink {name!r})"
        )
    return (
        spark.table(name)
        .select(
            "event_type",
            "n_events",
            "min_id",
            F.col("value_sum").cast("double").alias("value_sum"),
        )
        .orderBy("event_type")
    )


def run_stream_stream_left_join(
    spark: SparkSession, sf_dir: str, delay: str = "1 hour"
) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER join — the outer variant of
    run_stream_stream_join, exercising the semantics inner joins never
    touch: an unmatched left row is held in state until the watermark
    proves no future right row can match (here: wm > click_ts + 5min,
    from the join's time bound), then emitted with nulls. Matched rows
    emit on match, as in the inner join.

    Replay is 2 chronological halves of the events file; the final
    global watermark is min(max click_ts, max purchase_ts) - delay
    (Spark takes the min across watermark operators), so the emitted
    set is: ALL matches, plus exactly the unmatched clicks whose
    last-possible-match instant (click_ts + 5min) is at or below that
    watermark — which is what the batch oracle derives.
    """
    from crypto_lakehouse_spark.io import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    mid_us = _median_micros(ev)
    mid = F.timestamp_micros(F.lit(mid_us))
    feed = _scratch_dir("ssl_feed_")

    _stage_file(ev.filter(F.col("ts") <= mid), feed, 0)
    _stage_file(ev.filter(F.col("ts") > mid), feed, 1)

    def _src() -> DataFrame:
        return (
            spark.readStream.schema(_stream_schema(spark, feed))
            .option("maxFilesPerTrigger", 1)
            .parquet(feed)
        )

    clicks = (
        _src()
        .where("event_type = 'click'")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", delay)
    )
    purchases = (
        _src()
        .where("event_type = 'purchase'")
        .select(
            "user_id",
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("p_ts", delay)
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("user_id"))
        & (F.col("click_ts") >= F.col("p_ts") - F.expr("INTERVAL 5 MINUTES"))
        & (F.col("click_ts") < F.col("p_ts")),
        "left_outer",
    ).select(
        "click_id",
        F.col("c_user").alias("user_id"),
        "purchase_id",
        F.col("purchase_value").cast("double").alias("purchase_value"),
    )
    name = f"ssl_join_{uuid.uuid4().hex[:8]}"
    q = (
        joined.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", _scratch_dir("ckpt_ssl_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name).orderBy("click_id", "purchase_id")


def run_versioned_table_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream FROM the versioned table format (sources/
    versioned_stream.py — the Delta streaming-source analog): orders
    land in a VersionedTable in three appends, two of them committed
    WHILE the stream is already running, and the memory-sink aggregate
    must equal the batch aggregate over everything appended — proving
    version-offset planning, live tailing of new commits, and the
    Arrow read path in one pass. Offsets are table versions; each
    micro-batch is exactly the files its versions added."""
    import time as _time

    from pyspark.sql import functions as F

    from crypto_lakehouse_spark.io import load_table
    from crypto_lakehouse_spark.pipeline.versioned import VersionedTable
    from crypto_lakehouse_spark.sources.versioned_stream import register

    register(spark)
    cols = ["o_orderkey", "o_orderstatus", "o_totalprice"]
    orders = load_table(spark, sf_dir, "orders").select(*cols)
    chunks = [
        orders.filter(F.col("o_orderkey") % 3 == i).coalesce(2) for i in range(3)
    ]
    total = orders.count()

    t = VersionedTable(spark, _scratch_dir("vstream_tbl_") + "/t")
    t.append(chunks[0])  # v0 exists before the stream starts

    df = (
        spark.readStream.format("versioned_table")
        .option("path", t.path)
        .load()
    )
    agg = df.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.min("o_orderkey").alias("min_key"),
        F.sum(F.col("o_totalprice").cast("decimal(18,4)")).alias("price_sum"),
    )
    name = f"vstream_agg_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", _scratch_dir("ckpt_vstream_"))
        .trigger(processingTime="0 seconds")
        .start()
    )
    # Commit two more versions while the stream is live — the source
    # must tail them from the manifest log.
    t.append(chunks[1])
    t.append(chunks[2])
    deadline = _time.time() + 120
    done = None
    while _time.time() < deadline:
        done = (
            spark.table(name).agg(F.sum("n_orders").alias("n")).collect()[0]["n"]
        )
        done = 0 if done is None else done  # SUM over no rows is NULL
        if done == total:
            break
        _time.sleep(0.3)
    q.stop()
    if done != total:
        raise TimeoutError(
            f"versioned-table stream drained {done} of {total} rows "
            f"within 120 s (memory sink {name!r})"
        )
    return (
        spark.table(name)
        .select(
            F.col("o_orderstatus").alias("status"),
            "n_orders",
            "min_key",
            F.col("price_sum").cast("double").alias("price_sum"),
        )
        .orderBy("status")
    )
