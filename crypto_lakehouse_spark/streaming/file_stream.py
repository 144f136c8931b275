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

Every replayed query runs the same stage -> replay -> drain harness:
`stage_time_chunks` (or `_stage_file` per batch) writes one parquet
file per micro-batch into a scratch dir, `replay` reads them back one
file per trigger, and `drain` runs the query to completion into a
memory sink (`drain_until` polls one for sources that stay unbounded).
Scratch dirs come from `io.scratch_dir`, swept at process exit.
"""

from __future__ import annotations

import os
import threading
import time
import uuid
import warnings

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery, StreamingQueryListener

from crypto_lakehouse_spark.io import load_table, normalize_timestamps, scratch_dir
from crypto_lakehouse_spark.schemas import TRADE_JSON_SCHEMA


def _stage_file(df: DataFrame, dest: str, n: int) -> None:
    """Write `df` as the single parquet file `<dest>/<n:03d>.parquet`:
    one file per replayed micro-batch (with maxFilesPerTrigger=1, file
    n is batch n)."""
    tmp = scratch_dir("stage_chunk_")
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = next(p for p in sorted(os.listdir(tmp)) if p.endswith(".parquet"))
    os.rename(os.path.join(tmp, part), os.path.join(dest, f"{n:03d}.parquet"))


def stage_time_chunks(df: DataFrame, ts: str, n: int) -> str:
    """Stage `df` as `n` contiguous `ts` ranges, one `_stage_file` each
    (`000.parquet` ...), in a fresh scratch dir; returns the dir.

    Chunk i holds b[i-1] < ts <= b[i], where the b are exact quantiles
    (relative error 0.0) taken over epoch micros for a TIMESTAMP column
    and over the values themselves for a numeric one. An empty relation
    (a legal empty partition) has no quantiles, so every chunk is
    staged empty and the stream drains to an empty result instead of
    IndexError-ing on approxQuantile's empty list."""
    is_ts = dict(df.dtypes)[ts] == "timestamp"
    key = F.unix_micros(ts) if is_ts else F.col(ts)
    bounds = df.select(key.alias("_k")).approxQuantile(
        "_k", [i / n for i in range(1, n)], 0.0
    )
    bound = (lambda b: F.timestamp_micros(F.lit(int(b)))) if is_ts else F.lit
    feed = scratch_dir("replay_feed_")
    for i in range(n):
        chunk = df
        if bounds and i > 0:
            chunk = chunk.filter(F.col(ts) > bound(bounds[i - 1]))
        if bounds and i < n - 1:
            chunk = chunk.filter(F.col(ts) <= bound(bounds[i]))
        _stage_file(chunk, feed, i)
    return feed


def replay(spark: SparkSession, feed: str, schema=None) -> DataFrame:
    """File-source stream over a staged feed, one file per micro-batch
    (file n is batch n). The schema defaults to the staged files' own
    footers (`_stream_schema`); pass a declared one to skip that read."""
    return (
        spark.readStream.schema(schema or _stream_schema(spark, feed))
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )


def _memory_sink(
    df: DataFrame, mode: str, **trigger
) -> tuple[StreamingQuery, DataFrame]:
    """Start `df` into a uuid-named memory sink with a scratch
    checkpoint; returns the running query and the sink table."""
    q = (
        df.writeStream.format("memory")
        .queryName(f"sink_{uuid.uuid4().hex[:8]}")
        .outputMode(mode)
        .option("checkpointLocation", scratch_dir("ckpt_"))
        .trigger(**trigger)
        .start()
    )
    return q, df.sparkSession.table(q.name)


def drain(df: DataFrame, mode: str) -> DataFrame:
    """Run `df` to completion (availableNow) into a memory sink and
    return the sink table."""
    q, sink = _memory_sink(df, mode, availableNow=True)
    try:
        q.awaitTermination()
    finally:
        # The view would keep the sink's rows in memory for the rest of
        # the session; the returned frame keeps its resolved plan.
        sink.sparkSession.catalog.dropTempView(q.name)
    return sink


def drain_until(
    q: StreamingQuery, sink: DataFrame, count_col: str, total: int
) -> DataFrame:
    """Poll a running memory sink until SUM(`count_col`) equals
    `total`, then stop the query, drop its view (as `drain` does) and
    return the sink table — the drain for sources that stay unbounded
    from Spark's perspective (availableNow caps at the FIRST
    latestOffset and would replay only one chunk)."""
    deadline = time.time() + 120
    done = None
    try:
        while time.time() < deadline:
            done = sink.agg(F.sum(count_col)).collect()[0][0]
            done = 0 if done is None else done  # SUM over no rows is NULL
            if done == total:
                break
            time.sleep(0.3)
    finally:
        q.stop()
        sink.sparkSession.catalog.dropTempView(q.name)
    if done != total:
        # Fail loudly (ADVICE r5): a silent fall-through here returns a
        # partial aggregate that only surfaces as a distant value-hash
        # mismatch in the differential.
        raise TimeoutError(
            f"stream drained {done} of {total} rows within 120 s "
            f"(memory sink {q.name!r})"
        )
    return sink


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
    src = f"{sf_dir}/events.parquet"
    stage = scratch_dir("stream_src_")
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
    feed = scratch_dir("kafka_wire_")

    _stage_file(wire.filter(F.col("offset") % 2 == 0), feed, 0)
    _stage_file(wire.filter(F.col("offset") % 2 == 1), feed, 1)

    parsed = parse_kafka_feed(replay(spark, feed, KAFKA_WIRE_SCHEMA)).select(
        "product_id",
        "price",
        "time",
        "_kafka_offset",
        "_kafka_partition",
    )
    return (
        drain(parsed, "append")
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
    feed = scratch_dir("ohlcv_feed_")

    for chunk in range(3):
        _stage_file(s.filter(F.col("trade_id") % 3 == chunk), feed, chunk)

    agg = (
        replay(spark, feed)
        .groupBy(F.window("trade_time", "1 minute").alias("w"), F.col("product_id"))
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
    return drain(agg, "complete")


def run_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming tumbling-window aggregation (T5 as a *real* streaming
    window, not batch date_trunc): hourly event counts + value sum per
    event_type, drained deterministically with availableNow into a
    memory sink.

    Complete output mode keeps every window (bounded key space here).
    At scale this would be update mode + watermark into a keyed sink;
    the plan (partial aggs -> stateful window agg) is identical.
    """
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
    return drain(agg, "complete")


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
    # Batch-load (normalized ts) then re-stage: the staged chunks are
    # written by THIS session, so the replay schema is derived from the
    # staged files themselves — no assumption about the driver encoding.
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    feed = stage_time_chunks(ev, "ts", 2)
    _stage_file(ev.orderBy("ts", "event_id").limit(late_rows), feed, 2)

    agg = (
        replay(spark, feed)
        .withWatermark("ts", delay)
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
    return drain(agg, "append")


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

    stage = stage_dir or scratch_dir("ingest_feed_")
    fresh = not os.listdir(stage) if os.path.isdir(stage) else True
    os.makedirs(stage, exist_ok=True)

    if fresh:
        feed = trade_feed(spark, sf_dir)
        # Two deterministic micro-batches, split on offset parity.
        _stage_file(feed.filter(F.col("offset") % 2 == 0), stage, 0)
        _stage_file(feed.filter(F.col("offset") % 2 == 1), stage, 1)

    stream = (
        replay(
            spark,
            stage,
            "key STRING, value STRING, offset BIGINT, partition INT, ingested_at TIMESTAMP",
        )
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

    ckpt = ckpt_dir or scratch_dir("ckpt_ingest_")
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
    stream = events_stream(spark, sf_dir)
    agg = (
        stream.dropDuplicates(["event_id"])
        .groupBy("event_type")
        .agg(F.count("*").alias("n_events"))
    )
    return drain(agg, "complete").orderBy("event_type")


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
    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "event_type")
    feed = scratch_dir("ddw_feed_")

    _stage_file(ev, feed, 0)
    _stage_file(ev.filter(F.col("event_id") % 13 == 0), feed, 1)  # re-delivery batch

    deduped = (
        replay(spark, feed)
        .withWatermark("ts", "30 days")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    agg = deduped.groupBy("event_type").agg(F.count("*").alias("n_events"))
    return drain(agg, "complete").orderBy("event_type")


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
    return (
        drain(agg, "complete")
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
    return drain(joined, "append").orderBy("purchase_id", "click_id")


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

    feed = stage_time_chunks(ev, "ts", 2)
    _stage_file(flush, feed, 2)

    clicks = (
        replay(spark, feed)
        .where("event_type = 'click'")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        replay(spark, feed)
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
    out_dir = scratch_dir("jw_out_")
    ckpt = scratch_dir("ckpt_jw_")

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

    feed = scratch_dir("cdc_feed_")

    _stage_file(orders, feed, 0)
    _stage_file(u1, feed, 1)
    _stage_file(u2, feed, 2)

    table = LakehouseTable(
        spark,
        os.path.join(scratch_dir("cdc_tbl_"), "orders_silver"),
        partition_by=["o_orderpriority"],
    )

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        table.merge(batch_df.select(*cols), keys=["o_orderkey"])

    q = (
        replay(spark, feed)
        .writeStream.foreachBatch(_process)
        .option("checkpointLocation", scratch_dir("ckpt_cdc_"))
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
    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "user_id")
    feed = stage_time_chunks(ev, "ts", 2)

    agg = (
        replay(spark, feed)
        .withWatermark("ts", delay)
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
    return drain(agg, "append").orderBy("user_id", "session_start")


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
    q, sink = _memory_sink(agg, "complete", processingTime="0 seconds")
    return (
        drain_until(q, sink, "n_events", total)
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
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    feed = stage_time_chunks(ev, "ts", 2)

    clicks = (
        replay(spark, feed)
        .where("event_type = 'click'")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", delay)
    )
    purchases = (
        replay(spark, feed)
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
    return drain(joined, "append").orderBy("click_id", "purchase_id")


def run_versioned_table_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream FROM the versioned table format (sources/
    versioned_stream.py — the Delta streaming-source analog): orders
    land in a VersionedTable in three appends, two of them committed
    WHILE the stream is already running, and the memory-sink aggregate
    must equal the batch aggregate over everything appended — proving
    version-offset planning, live tailing of new commits, and the
    Arrow read path in one pass. Offsets are table versions; each
    micro-batch is exactly the files its versions added."""
    from crypto_lakehouse_spark.pipeline.versioned import VersionedTable
    from crypto_lakehouse_spark.sources.versioned_stream import register

    register(spark)
    cols = ["o_orderkey", "o_orderstatus", "o_totalprice"]
    orders = load_table(spark, sf_dir, "orders").select(*cols)
    chunks = [
        orders.filter(F.col("o_orderkey") % 3 == i).coalesce(2) for i in range(3)
    ]
    total = orders.count()

    t = VersionedTable(spark, scratch_dir("vstream_tbl_") + "/t")
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
    q, sink = _memory_sink(agg, "complete", processingTime="0 seconds")
    # Commit two more versions while the stream is live — the source
    # must tail them from the manifest log.
    t.append(chunks[1])
    t.append(chunks[2])
    return (
        drain_until(q, sink, "n_orders", total)
        .select(
            F.col("o_orderstatus").alias("status"),
            "n_orders",
            "min_key",
            F.col("price_sum").cast("double").alias("price_sum"),
        )
        .orderBy("status")
    )
