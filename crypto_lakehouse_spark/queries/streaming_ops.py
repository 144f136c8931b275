"""Structured Streaming queries registered for the correctness gate.

These run REAL streaming plans (file-source replay -> stateful
windowed aggregation -> availableNow drain into a memory sink) and are
still deterministic, so they carry full DuckDB oracles — stronger than
the rows-only fallback.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from crypto_lakehouse_spark.io import scratch_dir
from crypto_lakehouse_spark.queries.registry import REGISTRY, query
from crypto_lakehouse_spark.session import configure_session
from crypto_lakehouse_spark.streaming.file_stream import (
    run_stream_ingest,
    run_stream_static_enrich,
    run_streaming_dedup,
    run_watermarked_counts,
    run_windowed_counts,
)


@query(
    "streaming_window_counts",
    oracle="""
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
           AS window_start,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS value_sum
FROM events
GROUP BY 1, 2
""",
    tags=("streaming", "window"),
    bench=False,
)
def streaming_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 as a real Structured Streaming tumbling window (F.window) —
    oracle-equivalent to batch date_trunc bucketing per SURVEY §2.7."""
    configure_session(spark)
    return run_windowed_counts(spark, sf_dir)


@query(
    "streaming_watermarked_counts",
    oracle="""
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
           AS window_start,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS value_sum
FROM events
WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR
      <= (SELECT MAX(ts) FROM events) - INTERVAL 30 MINUTE
GROUP BY 1, 2
""",
    tags=("streaming", "watermark", "late-data"),
    bench=False,
)
def streaming_watermarked_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4 extension: real event-time watermark, append-mode windowed
    aggregation, deterministic late-batch replay proven dropped — the
    oracle filters to windows finalized under max_ts - delay and counts
    each event once (late re-emissions excluded)."""
    configure_session(spark)
    return run_watermarked_counts(spark, sf_dir)


@query(
    "streaming_static_enrich",
    oracle="""
SELECT n.n_name,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(e.value AS DECIMAL(18,4))) AS DOUBLE) AS value_sum
FROM events e
JOIN nation n ON e.user_id % 25 = n.n_nationkey
GROUP BY 1
ORDER BY 1
""",
    tags=("streaming", "stream-static-join", "broadcast"),
    bench=False,
)
def streaming_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static broadcast dimension join (no watermark, no join
    state; dimension re-broadcast per micro-batch) — see
    run_stream_static_enrich for the scale rationale. Batch join over
    the same tables is the oracle."""
    configure_session(spark)
    return run_stream_static_enrich(spark, sf_dir)


@query(
    "stream_ingest_bronze",
    oracle="""
WITH base AS (
    SELECT event_id, ts, event_type, value, props, FALSE AS is_dup
    FROM events WHERE event_id % 131 <> 0
    UNION ALL
    SELECT event_id, ts, event_type, value, props, TRUE
    FROM events WHERE event_id % 7 = 0
)
SELECT event_id AS trade_id,
       event_type AS product_id,
       value AS price,
       CAST(json_extract_string(props, '$.k') AS BIGINT) + 1 AS size,
       CASE WHEN event_id % 2 = 0 THEN 'buy' ELSE 'sell' END AS side,
       strftime(ts, '%Y-%m-%dT%H:%M:%S.%fZ') AS trade_time,
       event_id + CASE WHEN is_dup THEN 10000000 ELSE 0 END AS kafka_offset,
       CAST(event_id % 4 AS INT) AS kafka_partition,
       strftime(ts + (event_id % 600 + CASE WHEN is_dup THEN 30 ELSE 0 END)
                     * INTERVAL 1 SECOND, '%Y-%m-%d') AS ingestion_date
FROM base
ORDER BY kafka_offset
""",
    tags=("streaming", "ingest", "dlq", "foreachBatch"),
    bench=False,
)
def stream_ingest_bronze(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3/T8/T9: streaming ingest through foreachBatch into the bronze
    table with DLQ routing; both duplicate deliveries land (dedup is
    silver's job, T6), heartbeats are dropped (T7), malformed payloads
    go to the DLQ. The oracle re-derives the exact bronze contents from
    the events table; string-typed bronze columns are cast back to
    numeric so the comparison is engine-neutral."""
    configure_session(spark)
    lh, metrics = run_stream_ingest(spark, sf_dir, scratch_dir("wh_ingest_"))
    # Silent-empty-ingest guard: a batch that HAD input rows must land
    # bronze rows. A genuinely empty source (legal empty partition) is
    # not a silent loss — engine_input_rows says so per batch.
    assert metrics and all(
        m["bronze"] > 0 or m["engine_input_rows"] == 0 for m in metrics
    ), metrics
    from pyspark.sql import functions as F

    b = lh.bronze.read()
    return b.select(
        F.col("trade_id").cast("bigint").alias("trade_id"),
        "product_id",
        F.col("price").cast("double").alias("price"),
        F.col("size").cast("bigint").alias("size"),
        "side",
        F.col("time").alias("trade_time"),
        F.col("_kafka_offset").alias("kafka_offset"),
        F.col("_kafka_partition").alias("kafka_partition"),
        F.date_format("_ingestion_date", "yyyy-MM-dd").alias("ingestion_date"),
    ).orderBy("kafka_offset")


@query(
    "kafka_wire_parse",
    oracle="""
WITH feed AS (
    SELECT event_type AS product_id, event_id AS off, event_id % 4 AS part,
           CAST(value AS DECIMAL(18,4)) AS price,
           strftime(ts, '%Y-%m-%dT%H:%M:%S.%fZ') AS time
    FROM events WHERE event_id % 131 <> 0
    UNION ALL
    SELECT event_type, event_id + 10000000, event_id % 4,
           CAST(value AS DECIMAL(18,4)),
           strftime(ts, '%Y-%m-%dT%H:%M:%S.%fZ')
    FROM events WHERE event_id % 7 = 0
)
SELECT product_id,
       COUNT(*) AS n_messages,
       CAST(SUM(off) AS BIGINT) AS offset_sum,
       COUNT(DISTINCT part) AS n_partitions,
       CAST(SUM(price) AS DOUBLE) AS price_sum,
       MAX(time) AS max_time
FROM feed
GROUP BY product_id
ORDER BY product_id
""",
    tags=("streaming", "kafka", "wire-parse"),
    bench=False,
)
def kafka_wire_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 wire-path proof: `parse_kafka_feed` driven by a file-backed
    STREAM of rows in the connector's exact wire shape (binary
    key/value, KAFKA_WIRE_SCHEMA) — differentially proves the
    production parse chain end-to-end without a broker; only the
    socket itself is out of scope. The oracle re-derives the parsed
    feed (malformed payloads and heartbeats excluded, duplicate
    deliveries included) from the events table."""
    configure_session(spark)
    from crypto_lakehouse_spark.streaming.file_stream import run_kafka_wire_parse

    return run_kafka_wire_parse(spark, sf_dir)


@query(
    "streaming_dedup_counts",
    oracle="""
SELECT event_type, COUNT(DISTINCT event_id) AS n_events
FROM events
GROUP BY event_type
ORDER BY event_type
""",
    tags=("streaming", "dedup"),
    bench=False,
)
def streaming_dedup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6: streaming dropDuplicates on the event key, then counts."""
    configure_session(spark)
    return run_streaming_dedup(spark, sf_dir)


@query(
    "streaming_dedup_within_watermark",
    oracle="""
SELECT event_type, COUNT(DISTINCT event_id) AS n_events
FROM events
GROUP BY event_type
ORDER BY event_type
""",
    tags=("streaming", "dedup", "watermark", "spark4"),
    bench=False,
)
def streaming_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6 production form: dropDuplicatesWithinWatermark — bounded
    dedup state with watermark eviction (see
    streaming/file_stream.run_dedup_within_watermark for why the
    replay makes the batch-distinct oracle exact)."""
    configure_session(spark)
    from crypto_lakehouse_spark.streaming.file_stream import (
        run_dedup_within_watermark,
    )

    return run_dedup_within_watermark(spark, sf_dir)


@query(
    "streaming_stream_stream_join",
    oracle=None,  # wired below: shares the batch range-join oracle
    tags=("streaming", "stream-stream-join", "range-join"),
    bench=False,
)
def streaming_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream inner join (clicks x purchases, 5-min
    event-time range) drained with availableNow — differentially
    proven equal to the batch range join by sharing its oracle SQL.
    See streaming/file_stream.run_stream_stream_join for the state
    management rationale."""
    configure_session(spark)
    from crypto_lakehouse_spark.streaming.file_stream import run_stream_stream_join

    return run_stream_stream_join(spark, sf_dir)


def _wire_ss_join_oracle() -> None:
    import crypto_lakehouse_spark.queries.scale_ops  # noqa: F401

    REGISTRY["streaming_stream_stream_join"].oracle = REGISTRY[
        "range_join_click_purchase"
    ].oracle


_wire_ss_join_oracle()


@query(
    "streaming_join_then_window",
    oracle="""
WITH j AS (
    SELECT p.ts AS p_ts, CAST(p.value AS DECIMAL(18,4)) AS pv
    FROM events p
    JOIN events c
      ON c.user_id = p.user_id
     AND p.event_type = 'purchase'
     AND c.event_type = 'click'
     AND c.ts >= p.ts - INTERVAL 5 MINUTE
     AND c.ts < p.ts
)
SELECT strftime(time_bucket(INTERVAL 10 MINUTE, p_ts), '%Y-%m-%d %H:%M:%S')
           AS window_start,
       COUNT(*) AS n_pairs,
       CAST(SUM(pv) AS DOUBLE) AS value_sum
FROM j
GROUP BY 1
ORDER BY window_start
""",
    tags=("streaming", "multi-stateful", "stream-stream-join", "window", "spark4"),
    bench=False,
)
def streaming_join_then_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-stateful chain: watermarked stream-stream range join
    feeding a tumbling-window aggregation in ONE streaming query
    (two stateful operators, append mode — the Spark-4 composition).
    A join-partner-less flush batch advances both watermarks past
    every real window, so the batch join+agg SQL is the exact oracle.
    See streaming/file_stream.run_join_then_window for the watermark
    propagation and crash-replay rationale."""
    configure_session(spark)
    from crypto_lakehouse_spark.streaming.file_stream import (
        run_join_then_window,
    )

    return run_join_then_window(spark, sf_dir)


@query(
    "streaming_merge_upsert",
    oracle="""
WITH u1 AS (
    SELECT o_orderkey, 'U1' AS st, o_totalprice + 100 AS tp
    FROM orders WHERE o_orderkey % 10 = 0
),
u2 AS (
    SELECT o_orderkey, 'U2' AS st, o_totalprice + 250 AS tp
    FROM orders WHERE o_orderkey % 100 = 0
),
final AS (
    SELECT b.o_orderkey,
           COALESCE(u2.st, u1.st, b.o_orderstatus) AS status,
           COALESCE(u2.tp, u1.tp, b.o_totalprice) AS totalprice
    FROM orders b
    LEFT JOIN u1 ON b.o_orderkey = u1.o_orderkey
    LEFT JOIN u2 ON b.o_orderkey = u2.o_orderkey
)
SELECT status,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(totalprice AS DECIMAL(18,4))) AS DOUBLE) AS price_sum
FROM final
GROUP BY status
ORDER BY status
""",
    tags=("streaming", "merge", "cdc", "foreachBatch", "lakehouse"),
    bench=False,
)
def streaming_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5/J4/T1-T3 composed: a streaming change feed upserted into a
    partitioned silver table via foreachBatch + MERGE (the Delta
    streaming-MERGE recipe), final state proven equal to the
    relational latest-row-per-key derivation. See
    streaming/file_stream.run_stream_merge_upsert for the
    exactly-once and partition-pruning rationale."""
    configure_session(spark)
    from crypto_lakehouse_spark.streaming.file_stream import run_stream_merge_upsert

    return run_stream_merge_upsert(spark, sf_dir)


@query(
    "streaming_session_window",
    oracle="""
WITH o AS (
    SELECT user_id, event_id, ts, epoch_us(ts) AS us,
           LAG(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
    FROM events
),
m AS (
    SELECT user_id, ts,
           SUM(CASE WHEN prev_us IS NULL
                         OR us - prev_us >= 1800000000
                    THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id) AS sid
    FROM o
),
sess AS (
    SELECT user_id,
           MIN(ts) AS s_start,
           MAX(ts) + INTERVAL 30 MINUTE AS s_end,
           COUNT(*) AS n_events
    FROM m GROUP BY user_id, sid
)
SELECT user_id,
       strftime(s_start, '%Y-%m-%d %H:%M:%S.%f') AS session_start,
       strftime(s_end, '%Y-%m-%d %H:%M:%S.%f') AS session_end,
       n_events
FROM sess
WHERE s_end <= (SELECT MAX(ts) FROM events) - INTERVAL 30 MINUTE
ORDER BY user_id, session_start
""",
    tags=("streaming", "session-window", "watermark", "sessionization"),
    bench=False,
)
def streaming_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4/T5 composed with dynamic windows: native session_window
    under a real watermark, drained availableNow in append mode —
    emits exactly the sessions finalized under max_ts - delay, which
    the oracle re-derives relationally (the same lag/cumsum session
    derivation as `session_window_native`, watermark-filtered). See
    streaming/file_stream.run_streaming_session_window for why
    chronological replay makes the emitted set exact."""
    configure_session(spark)
    from crypto_lakehouse_spark.streaming.file_stream import (
        run_streaming_session_window,
    )

    return run_streaming_session_window(spark, sf_dir)


@query(
    "python_datasource_stream_agg",
    oracle="""
SELECT event_type,
       COUNT(*) AS n_events,
       MIN(event_id) AS min_id,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS value_sum
FROM events
GROUP BY event_type
ORDER BY event_type
""",
    tags=("streaming", "python-datasource", "spark4", "connector"),
    bench=False,
)
def python_datasource_stream_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 through the CONNECTOR extension point: the custom Python
    data source's streaming reader (row-range offsets, 3
    micro-batches, checkpointed) feeding a complete-mode streaming
    aggregation; values must hash-match the batch oracle. See
    streaming/file_stream.run_python_datasource_stream."""
    configure_session(spark)
    from crypto_lakehouse_spark.streaming.file_stream import (
        run_python_datasource_stream,
    )

    return run_python_datasource_stream(spark, sf_dir)


@query(
    "streaming_stream_stream_left_join",
    oracle="""
WITH clicks AS (
    SELECT user_id, event_id AS click_id, ts AS click_ts
    FROM events WHERE event_type = 'click'
),
purchases AS (
    SELECT user_id, event_id AS purchase_id, ts AS p_ts, value
    FROM events WHERE event_type = 'purchase'
),
wm AS (
    SELECT LEAST((SELECT MAX(click_ts) FROM clicks),
                 (SELECT MAX(p_ts) FROM purchases))
           - INTERVAL 1 HOUR AS w
),
matched AS (
    SELECT c.click_id, c.user_id, p.purchase_id,
           CAST(p.value AS DOUBLE) AS purchase_value
    FROM clicks c JOIN purchases p
      ON c.user_id = p.user_id
     AND c.click_ts >= p.p_ts - INTERVAL 5 MINUTE
     AND c.click_ts < p.p_ts
),
unmatched AS (
    SELECT c.click_id, c.user_id,
           CAST(NULL AS BIGINT) AS purchase_id,
           CAST(NULL AS DOUBLE) AS purchase_value
    FROM clicks c CROSS JOIN wm
    WHERE NOT EXISTS (
        SELECT 1 FROM purchases p
        WHERE p.user_id = c.user_id
          AND c.click_ts >= p.p_ts - INTERVAL 5 MINUTE
          AND c.click_ts < p.p_ts
    )
    AND c.click_ts + INTERVAL 5 MINUTE <= wm.w
)
SELECT * FROM matched
UNION ALL
SELECT * FROM unmatched
ORDER BY click_id, purchase_id
""",
    tags=("streaming", "stream-stream-join", "outer-join", "watermark"),
    bench=False,
)
def streaming_stream_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER join drained availableNow:
    matches emit on match; unmatched clicks emit with nulls exactly
    when the watermark proves no purchase can still arrive. The oracle
    derives both sets relationally (see
    streaming/file_stream.run_stream_stream_left_join)."""
    configure_session(spark)
    from crypto_lakehouse_spark.streaming.file_stream import (
        run_stream_stream_left_join,
    )

    return run_stream_stream_left_join(spark, sf_dir)


@query(
    "versioned_table_stream_agg",
    oracle="""
SELECT o_orderstatus AS status,
       COUNT(*) AS n_orders,
       CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS price_sum
FROM orders
GROUP BY o_orderstatus
ORDER BY status
""",
    tags=("streaming", "versioned-table", "delta-source-analog", "connector"),
    bench=False,  # write-path demo; convention: storage-layer queries stay out of bench
)
def versioned_table_stream_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming FROM the engine's table format: version
    offsets, live tailing of commits made while the query runs, Arrow
    executor reads — streaming/file_stream.run_versioned_table_stream,
    sources/versioned_stream.py."""
    from crypto_lakehouse_spark.streaming.file_stream import (
        run_versioned_table_stream,
    )

    configure_session(spark)
    return run_versioned_table_stream(spark, sf_dir)


def _ohlcv_stream_oracle() -> str:
    """The streaming OHLCV oracle IS the batch ohlcv_1m oracle: the
    whole point of the query is batch == streaming value equivalence
    on the flagship workload (T5 at reference fidelity)."""
    from crypto_lakehouse_spark.operators.trades import ORACLE_TRADES_CTE
    from crypto_lakehouse_spark.queries.reference_ops import (
        _ORACLE_CANDLES,
        _ORACLE_FINISH,
    )

    return (
        ORACLE_TRADES_CTE
        + ","
        + _ORACLE_CANDLES.format(bucket="minute")
        + _ORACLE_FINISH.format(interval="MINUTE")
    )


@query(
    "streaming_ohlcv_1m",
    oracle=_ohlcv_stream_oracle(),
    tags=("streaming", "ohlcv", "window", "parity"),
    bench=False,
)
def streaming_ohlcv_1m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship batch == streaming parity: 1-minute OHLCV candles from
    a real streaming window aggregation (min_by/max_by open/close with
    the batch plan's exact (trade_time, trade_id) tie-break), drained
    across 3 micro-batches, hash-checked against the batch ohlcv_1m
    oracle. See streaming/file_stream.run_streaming_ohlcv_1m."""
    from crypto_lakehouse_spark.streaming.file_stream import (
        run_streaming_ohlcv_1m,
    )

    configure_session(spark)
    return run_streaming_ohlcv_1m(spark, sf_dir)


@query(
    "streaming_cusum_alarms",
    oracle="""
WITH v AS (
    SELECT event_type, ts, event_id,
           CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT) AS vi
    FROM events
),
cum AS (
    SELECT event_type, ts, event_id,
           SUM(vi - 500000) OVER w AS cp,
           SUM(vi + 500000) OVER w AS cm
    FROM v
    WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
stat AS (
    SELECT event_type,
           cp - LEAST(MIN(cp) OVER w, 0) AS sp,
           GREATEST(MAX(cm) OVER w, 0) - cm AS sm
    FROM cum
    WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CASE WHEN sp > 5000000 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_alarms_up,
       CAST(SUM(CASE WHEN sm > 5000000 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_alarms_down,
       ROUND(MAX(sp) / 1000000.0, 9) AS max_s_plus,
       ROUND(MAX(sm) / 1000000.0, 9) AS max_s_minus
FROM stat
GROUP BY event_type
ORDER BY event_type
""",
    tags=("streaming", "stateful", "cusum", "drift"),
    bench=False,
)
def streaming_cusum_alarms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page CUSUM drift alarms as a REAL stateful streaming operator
    (applyInPandasWithState, state carried across 4 event-time-ordered
    micro-batches) — integer micro-unit arithmetic end to end, so the
    streaming fold value-hashes against the batch prefix-identity
    oracle (streaming/stateful_cusum.py module docstring)."""
    configure_session(spark)
    from crypto_lakehouse_spark.streaming.stateful_cusum import (
        run_streaming_cusum,
    )

    return run_streaming_cusum(spark, sf_dir)
