"""SURVEY §2 operator inventory, expressed Spark-first over the
driver's `events` table via the trades mapping (operators/trades.py).

Each query cites the reference semantics it reproduces
(file:line of /root/reference) and carries a DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from crypto_lakehouse_spark.functions import ddiv, fmt_date, fmt_ts
from crypto_lakehouse_spark.io import load_table
from crypto_lakehouse_spark.operators.checkpointing import truncate_lineage
from crypto_lakehouse_spark.operators.gold import candles, latest_prices
from crypto_lakehouse_spark.queries.fixture_meter import fixture
from crypto_lakehouse_spark.operators.trades import (
    ORACLE_TRADES_CTE,
    raw_trades,
    silver_trades,
)
from crypto_lakehouse_spark.queries.registry import query

# The queries that need silver twice (A6 watermark scalar + the main
# plan) previously each called .cache() on a FRESH frame — up to three
# duplicate cached copies of the same data per suite run, none ever
# unpersisted. One session fixture bounds executor storage AND lets
# the three queries share one in-memory copy.
@fixture("silver")
def cached_silver(spark: SparkSession, sf_dir: str) -> DataFrame:
    # truncate_lineage (localCheckpoint), NOT persist+materialize:
    # building the columnar InMemoryRelation for this relation
    # measured 16.7 s vs 4.6 s for the checkpoint at sf0.1 (99k
    # rows!), and checkpointed scans are also faster (0.47 vs
    # 1.04 s for a full-column agg). Eager by construction, so the
    # one-time build is a metered `fixture:silver` line item
    # instead of hiding inside the first consumer's discarded
    # run-1 timing.
    return truncate_lineage(silver_trades(raw_trades(spark, sf_dir)), spark)


# The watermark is a pure function of the cached_silver fixture, but
# each consumer ran its own MAX(trade_time) job per CALL — 3 queries x
# best-of-3 bench runs = 9 driver jobs per suite for one deterministic
# value (r14 optimization round, guide §2.4 "don't compute things
# twice").
@fixture("silver_watermark")
def silver_watermark(spark: SparkSession, sf_dir: str):
    """The deterministic injected "now" (SURVEY §2.8.7): MAX(trade_time)
    of silver as a driver scalar. On an EMPTY relation the max is NULL,
    and `lit(None) - INTERVAL` fails analysis — a daily pipeline run
    over an empty partition must degrade to an empty result, not crash,
    so fall back to the epoch. Every consumer only uses the scalar
    inside `trade_time >= now - INTERVAL ...` filters over the same
    (empty) relation, so any fallback value yields the same empty
    output; the DuckDB oracles get NULL-propagation (no rows) —
    equivalent."""
    import datetime as _dt

    now = cached_silver(spark, sf_dir).agg(F.max("trade_time")).first()[0]
    return now if now is not None else _dt.datetime(1970, 1, 1)


# ---------------------------------------------------------------------------
# bronze: projection / JSON parse / derived columns
# (reference streaming_bronze_writer.py:132-166 — P1, P2, P3, from_json)
# ---------------------------------------------------------------------------


@query(
    "bronze_projection",
    oracle="""
SELECT event_id AS trade_id,
       event_type AS product_id,
       value AS price,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS size_k,
       CASE WHEN event_id % 2 = 0 THEN 'buy' ELSE 'sell' END AS side,
       strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS trade_time,
       strftime(date_trunc('day', ts), '%Y-%m-%d') AS ingestion_date,
       (event_id IS NOT NULL AND value > 0) AS is_valid
FROM events
""",
    tags=("reference", "projection", "json"),
)
def bronze_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1/P2/P3 + JSON parse: the bronze-shaping projection chain
    (reference streaming_bronze_writer.py:132-166). `from_json` into a
    typed struct, derived ingestion date, validity predicate."""
    ev = load_table(spark, sf_dir, "events")
    parsed = ev.withColumn("parsed", F.from_json("props", "k BIGINT"))
    return parsed.select(
        F.col("event_id").alias("trade_id"),
        F.col("event_type").alias("product_id"),
        F.col("value").alias("price"),
        F.col("parsed.k").alias("size_k"),
        F.when(F.col("event_id") % 2 == 0, F.lit("buy")).otherwise(F.lit("sell")).alias("side"),
        fmt_ts("ts", micros=True).alias("trade_time"),
        fmt_date(F.date_trunc("day", F.col("ts"))).alias("ingestion_date"),
        (F.col("event_id").isNotNull() & (F.col("value") > 0)).alias("is_valid"),
    )


# ---------------------------------------------------------------------------
# silver: dedup + casts + validity + latency flags
# (reference bronze_to_silver.py:94-153 — W1, P3, P4, T4)
# ---------------------------------------------------------------------------


@query(
    "silver_trades",
    oracle=ORACLE_TRADES_CTE
    + """
SELECT trade_id,
       product_id,
       CAST(price AS DOUBLE) AS price,
       CAST("size" AS DOUBLE) AS size,
       side,
       strftime(trade_time, '%Y-%m-%d %H:%M:%S.%f') AS trade_time,
       strftime(ingested_at, '%Y-%m-%d %H:%M:%S.%f') AS ingested_at,
       _source_latency_ms,
       _source_latency_ms > 300000 AS _is_late_arrival,
       strftime(date_trunc('day', trade_time), '%Y-%m-%d') AS _trade_date
FROM silver
""",
    tags=("reference", "dedup", "window"),
)
def silver_trades_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 keep-first dedup with deterministic tie-break + T4 late-arrival
    flag + P4 validity filters (reference bronze_to_silver.py:94-153)."""
    s = silver_trades(raw_trades(spark, sf_dir))
    return s.select(
        "trade_id",
        "product_id",
        F.col("price").cast("double").alias("price"),
        F.col("size").cast("double").alias("size"),
        "side",
        fmt_ts("trade_time", micros=True).alias("trade_time"),
        fmt_ts("ingested_at", micros=True).alias("ingested_at"),
        "_source_latency_ms",
        "_is_late_arrival",
        fmt_date("_trade_date").alias("_trade_date"),
    )


@query(
    "silver_stats",
    oracle=ORACLE_TRADES_CTE
    + """
SELECT product_id,
       COUNT(*) AS trade_count,
       MIN(_source_latency_ms) AS min_latency_ms,
       MAX(_source_latency_ms) AS max_latency_ms,
       CAST(SUM(_source_latency_ms) AS DOUBLE) / COUNT(*) AS avg_latency_ms,
       CAST(SUM(CASE WHEN _source_latency_ms > 300000 THEN 1 ELSE 0 END)
            AS BIGINT) AS late_arrivals
FROM silver
GROUP BY product_id
ORDER BY product_id
""",
    tags=("reference", "aggregation"),
)
def silver_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: stats aggregation with conditional count
    (reference bronze_to_silver.py:191-209)."""
    s = cached_silver(spark, sf_dir)
    return (
        s.groupBy("product_id")
        .agg(
            F.count("*").alias("trade_count"),
            F.min("_source_latency_ms").alias("min_latency_ms"),
            F.max("_source_latency_ms").alias("max_latency_ms"),
            ddiv(F.sum("_source_latency_ms"), F.count("*")).alias("avg_latency_ms"),
            F.sum(F.when(F.col("_is_late_arrival"), 1).otherwise(0)).alias("late_arrivals"),
        )
        .orderBy("product_id")
    )


# ---------------------------------------------------------------------------
# gold: OHLCV hierarchy (reference ohlcv_1m.sql / ohlcv_1h.sql /
# daily_metrics.sql — W4, J1/J2, A1-A3)
# ---------------------------------------------------------------------------


def _candles(spark: SparkSession, sf_dir: str, bucket: str) -> DataFrame:
    """Reference-shaped candle build at `bucket` granularity:
    full-frame FIRST_VALUE/LAST_VALUE window (W4, ohlcv_1m.sql:31-40)
    + group agg (A1/A2) + equi-join of the two (J1).

    Carries the exact decimal `pv = sum(price*size)` through so
    hierarchical vwap re-aggregation stays order-independent
    (mathematically identical to the reference's
    `sum(vwap*volume)/sum(volume)`, ohlcv_1h.sql:62).
    """
    s = cached_silver(spark, sf_dir)
    stg = s.select(
        "product_id",
        "trade_id",
        "trade_time",
        "price",
        "size",
        (F.col("price") * F.col("size")).alias("trade_value"),
        F.date_trunc(bucket, "trade_time").alias("bucket"),
    )
    w = (
        Window.partitionBy("product_id", "bucket")
        .orderBy("trade_time", "trade_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    fl = stg.select(
        "product_id",
        "bucket",
        F.first("price").over(w).alias("open"),
        F.last("price").over(w).alias("close"),
    ).distinct()
    agg = stg.groupBy("product_id", "bucket").agg(
        F.max("price").alias("high"),
        F.min("price").alias("low"),
        F.sum("size").alias("volume"),
        F.count("*").alias("trade_count"),
        F.sum("trade_value").alias("pv"),
    )
    return agg.join(fl, ["product_id", "bucket"])


_ORACLE_CANDLES = """
stg AS (
    SELECT product_id, trade_id, trade_time, price, "size",
           price * "size" AS trade_value,
           date_trunc('{bucket}', trade_time) AS bucket
    FROM silver
),
fl AS (
    SELECT DISTINCT product_id, bucket,
           FIRST_VALUE(price) OVER w AS open,
           LAST_VALUE(price) OVER w AS close
    FROM stg
    WINDOW w AS (PARTITION BY product_id, bucket
                 ORDER BY trade_time, trade_id
                 ROWS BETWEEN UNBOUNDED PRECEDING
                          AND UNBOUNDED FOLLOWING)
),
agg AS (
    SELECT product_id, bucket,
           MAX(price) AS high, MIN(price) AS low,
           SUM("size") AS volume, COUNT(*) AS trade_count,
           SUM(trade_value) AS pv
    FROM stg
    GROUP BY product_id, bucket
),
candles AS (
    SELECT agg.*, fl.open, fl.close
    FROM agg JOIN fl USING (product_id, bucket)
)
"""


def _finish_candles(c: DataFrame, interval: str) -> DataFrame:
    return c.select(
        "product_id",
        fmt_ts("bucket").alias("window_start"),
        fmt_ts(F.col("bucket") + F.expr(f"INTERVAL 1 {interval}")).alias("window_end"),
        F.col("open").cast("double").alias("open"),
        F.col("high").cast("double").alias("high"),
        F.col("low").cast("double").alias("low"),
        F.col("close").cast("double").alias("close"),
        F.col("volume").cast("double").alias("volume"),
        "trade_count",
        ddiv(F.col("pv"), F.col("volume")).alias("vwap"),
    )


_ORACLE_FINISH = """
SELECT product_id,
       strftime(bucket, '%Y-%m-%d %H:%M:%S') AS window_start,
       strftime(bucket + INTERVAL 1 {interval}, '%Y-%m-%d %H:%M:%S')
           AS window_end,
       CAST(open AS DOUBLE) AS open,
       CAST(high AS DOUBLE) AS high,
       CAST(low AS DOUBLE) AS low,
       CAST(close AS DOUBLE) AS close,
       CAST(volume AS DOUBLE) AS volume,
       trade_count,
       CAST(pv AS DOUBLE) / NULLIF(CAST(volume AS DOUBLE), 0) AS vwap
FROM candles
"""


@query(
    "ohlcv_1m",
    oracle=ORACLE_TRADES_CTE
    + ","
    + _ORACLE_CANDLES.format(bucket="minute")
    + _ORACLE_FINISH.format(interval="MINUTE"),
    tags=("reference", "ohlcv", "window", "join", "aggregation"),
)
def ohlcv_1m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-minute OHLCV candles, reference-shaped W4+J1+A1/A2 plan
    (reference ohlcv_1m.sql:27-91)."""
    return _finish_candles(_candles(spark, sf_dir, "minute"), "MINUTE")


@query(
    "ohlcv_1m_fused",
    oracle=ORACLE_TRADES_CTE
    + ","
    + _ORACLE_CANDLES.format(bucket="minute")
    + _ORACLE_FINISH.format(interval="MINUTE"),
    tags=("reference", "ohlcv", "aggregation", "optimized"),
)
def ohlcv_1m_fused(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass OHLCV: the shared fused candle build
    (`operators.gold.candles`, the rewrite SURVEY §7 proposes for the
    reference's W4+J1 plan, ohlcv_1m.sql:27-91). One hash aggregation,
    one shuffle on (product_id, bucket) instead of window + distinct +
    self-join (tests/test_plans.py asserts it). Declared against the
    SAME reference-shaped oracle, so the differential check proves plan
    equivalence."""
    return _finish_candles(candles(cached_silver(spark, sf_dir), "minute"), "MINUTE")


@query(
    "ohlcv_1h",
    oracle=ORACLE_TRADES_CTE
    + ","
    + _ORACLE_CANDLES.format(bucket="hour")
    + _ORACLE_FINISH.format(interval="HOUR"),
    tags=("reference", "ohlcv", "aggregation"),
)
def ohlcv_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour candles (reference ohlcv_1h.sql:27-90). Semantically the
    reference re-aggregates 1m candles (A3); open/close/high/low/vwap
    of the hour are identical computed from trades directly, which is
    the plan shape we declare (one shuffle instead of two)."""
    return _finish_candles(_candles(spark, sf_dir, "hour"), "HOUR")


@query(
    "ohlcv_1h_from_1m",
    oracle=ORACLE_TRADES_CTE
    + ","
    + _ORACLE_CANDLES.format(bucket="hour")
    + _ORACLE_FINISH.format(interval="HOUR"),
    tags=("reference", "ohlcv", "aggregation", "hierarchical"),
)
def ohlcv_1h_from_1m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 as the reference literally does it (ohlcv_1h.sql:52-62):
    re-aggregate 1-MINUTE CANDLES into hourly ones — SUM(volume),
    SUM(trade_count), MAX(high), MIN(low), open/close from the
    first/last minute candle, vwap re-weighted via the exact-decimal
    pv carry (mathematically `sum(vwap*volume)/sum(volume)`).
    Declared against the trade-level hourly oracle, proving the
    hierarchical rollup loses nothing. At scale this is the cheap
    path: |minute candles| << |trades|, so the second shuffle is tiny."""
    m = _candles(spark, sf_dir, "minute")
    h = (
        m.withColumn("hbucket", F.date_trunc("hour", "bucket"))
        .groupBy("product_id", "hbucket")
        .agg(
            F.min_by("open", F.col("bucket")).alias("open"),
            F.max_by("close", F.col("bucket")).alias("close"),
            F.max("high").alias("high"),
            F.min("low").alias("low"),
            F.sum("volume").alias("volume"),
            F.sum("trade_count").alias("trade_count"),
            F.sum("pv").alias("pv"),
        )
        .withColumnRenamed("hbucket", "bucket")
    )
    return _finish_candles(h, "HOUR")


@query(
    "daily_metrics",
    oracle=ORACLE_TRADES_CTE
    + ","
    + _ORACLE_CANDLES.format(bucket="day")
    + """
SELECT product_id,
       strftime(bucket, '%Y-%m-%d') AS date,
       CAST(open AS DOUBLE) AS open,
       CAST(high AS DOUBLE) AS high,
       CAST(low AS DOUBLE) AS low,
       CAST(close AS DOUBLE) AS close,
       CAST(volume AS DOUBLE) AS total_volume,
       trade_count AS total_trades,
       (CAST(close AS DOUBLE) - CAST(open AS DOUBLE))
           / NULLIF(CAST(open AS DOUBLE), 0) AS daily_return,
       (CAST(high AS DOUBLE) - CAST(low AS DOUBLE))
           / NULLIF(CAST(open AS DOUBLE), 0) AS volatility,
       (CAST(high AS DOUBLE) - CAST(low AS DOUBLE))
           / NULLIF(CAST(high AS DOUBLE), 0) AS max_drawdown,
       strftime(date_trunc('month', bucket), '%Y-%m-%d')
           AS _partition_month
FROM candles
""",
    tags=("reference", "ohlcv", "aggregation"),
)
def daily_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily OHLCV + derived metrics. Formulas are the reference CODE's,
    not its prose (SURVEY §2.8.1-2): daily_return=(close-open)/open,
    volatility=(high-low)/open, max_drawdown=(high-low)/high
    (reference daily_metrics.sql:84-91); the dead COLLECT_LIST is
    dropped."""
    c = _candles(spark, sf_dir, "day")
    o = F.col("open").cast("double")
    h = F.col("high").cast("double")
    lo = F.col("low").cast("double")
    cl = F.col("close").cast("double")
    return c.select(
        "product_id",
        fmt_date("bucket").alias("date"),
        o.alias("open"),
        h.alias("high"),
        lo.alias("low"),
        cl.alias("close"),
        F.col("volume").cast("double").alias("total_volume"),
        F.col("trade_count").alias("total_trades"),
        ((cl - o) / F.nullif(o, F.lit(0.0))).alias("daily_return"),
        ((h - lo) / F.nullif(o, F.lit(0.0))).alias("volatility"),
        ((h - lo) / F.nullif(h, F.lit(0.0))).alias("max_drawdown"),
        fmt_date(F.date_trunc("month", "bucket")).alias("_partition_month"),
    )


# ---------------------------------------------------------------------------
# price_latest (reference price_latest.sql — W2, W3, J3, P6)
# ---------------------------------------------------------------------------


_PRICE_LATEST_ORACLE = (
    ORACLE_TRADES_CTE
    + """,
now_t AS (SELECT MAX(trade_time) AS now FROM silver),
latest AS (
    SELECT product_id, price, trade_time FROM (
        SELECT product_id, price, trade_time,
               ROW_NUMBER() OVER (PARTITION BY product_id
                                  ORDER BY trade_time DESC, trade_id DESC)
                   AS rn
        FROM silver
    ) WHERE rn = 1
),
c1m AS (
    SELECT product_id, date_trunc('minute', trade_time) AS bucket,
           MAX(price) AS high, MIN(price) AS low
    FROM silver GROUP BY 1, 2
),
prev_1m AS (
    SELECT product_id, bucket FROM (
        SELECT product_id, bucket,
               ROW_NUMBER() OVER (PARTITION BY product_id
                                  ORDER BY bucket DESC) AS rn
        FROM c1m, now_t
        WHERE bucket >= now - INTERVAL 10 MINUTE
    ) WHERE rn = 2
),
prev_1m_close AS (
    SELECT product_id, price AS prev_close_1m FROM (
        SELECT s.product_id, s.price,
               ROW_NUMBER() OVER (PARTITION BY s.product_id
                                  ORDER BY s.trade_time DESC,
                                           s.trade_id DESC) AS rn
        FROM silver s JOIN prev_1m p
          ON s.product_id = p.product_id
         AND date_trunc('minute', s.trade_time) = p.bucket
    ) WHERE rn = 1
),
prev_1h AS (
    SELECT product_id, bucket FROM (
        SELECT product_id, bucket,
               ROW_NUMBER() OVER (PARTITION BY product_id
                                  ORDER BY bucket DESC) AS rn
        FROM (SELECT product_id, date_trunc('hour', trade_time) AS bucket
              FROM silver GROUP BY 1, 2), now_t
        WHERE bucket >= now - INTERVAL 10 HOUR
    ) WHERE rn = 2
),
prev_1h_close AS (
    SELECT product_id, price AS prev_close_1h FROM (
        SELECT s.product_id, s.price,
               ROW_NUMBER() OVER (PARTITION BY s.product_id
                                  ORDER BY s.trade_time DESC,
                                           s.trade_id DESC) AS rn
        FROM silver s JOIN prev_1h p
          ON s.product_id = p.product_id
         AND date_trunc('hour', s.trade_time) = p.bucket
    ) WHERE rn = 1
),
stats24 AS (
    SELECT product_id, MAX(price) AS high_24h, MIN(price) AS low_24h,
           SUM("size") AS volume_24h
    FROM silver, now_t
    WHERE trade_time >= now - INTERVAL 24 HOUR
    GROUP BY product_id
)
SELECT l.product_id,
       CAST(l.price AS DOUBLE) AS price,
       strftime(l.trade_time, '%Y-%m-%d %H:%M:%S.%f') AS updated_at,
       (CAST(l.price AS DOUBLE) - CAST(m.prev_close_1m AS DOUBLE))
           / CAST(m.prev_close_1m AS DOUBLE) * 100 AS change_1m_pct,
       (CAST(l.price AS DOUBLE) - CAST(h.prev_close_1h AS DOUBLE))
           / CAST(h.prev_close_1h AS DOUBLE) * 100 AS change_1h_pct,
       CAST(s.high_24h AS DOUBLE) AS high_24h,
       CAST(s.low_24h AS DOUBLE) AS low_24h,
       CAST(s.volume_24h AS DOUBLE) AS volume_24h
FROM latest l
LEFT JOIN prev_1m_close m ON l.product_id = m.product_id
LEFT JOIN prev_1h_close h ON l.product_id = h.product_id
LEFT JOIN stats24 s ON l.product_id = s.product_id
"""
)


@query(
    "price_latest",
    oracle=_PRICE_LATEST_ORACLE,
    tags=("reference", "window", "join"),
)
def price_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest price + change vs previous minute/hour candle + 24h stats
    (reference price_latest.sql:61-93): W2 top-1 per group, W3
    nth-per-group (QUALIFY rn=2 desugared to window+filter, SURVEY
    §2.8.3), J3 chained left joins. "now" is the deterministic max
    trade_time (SURVEY §2.8.7); the lookback windows are widened to 10
    bucket-lengths so the synthetic event spacing always yields a
    previous candle, preserving the reference's operator shape."""
    s = cached_silver(spark, sf_dir)
    now = silver_watermark(spark, sf_dir)  # A6 scalar watermark

    w2 = Window.partitionBy("product_id").orderBy(
        F.col("trade_time").desc(), F.col("trade_id").desc()
    )
    latest = (
        s.withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") == 1)
        .select("product_id", "price", "trade_time")
    )

    def prev_close(bucket: str, lookback: str):
        buckets = (
            s.select("product_id", F.date_trunc(bucket, "trade_time").alias("bucket"))
            .distinct()
            .filter(F.col("bucket") >= F.lit(now) - F.expr(f"INTERVAL 10 {lookback}"))
        )
        wn = Window.partitionBy("product_id").orderBy(F.col("bucket").desc())
        nth = (
            buckets.withColumn("rn", F.row_number().over(wn))
            .filter(F.col("rn") == 2)
            .select(F.col("product_id").alias("p2"), F.col("bucket").alias("b2"))
        )
        joined = s.join(
            F.broadcast(nth),
            (F.col("product_id") == F.col("p2"))
            & (F.date_trunc(bucket, F.col("trade_time")) == F.col("b2")),
        ).select("product_id", "price", "trade_time", "trade_id")
        return joined.groupBy("product_id").agg(
            F.max_by("price", F.struct("trade_time", "trade_id")).alias(f"prev_close_{bucket}")
        )

    p1m = prev_close("minute", "MINUTE")
    p1h = prev_close("hour", "HOUR")
    stats24 = (
        s.filter(F.col("trade_time") >= F.lit(now) - F.expr("INTERVAL 24 HOURS"))
        .groupBy("product_id")
        .agg(
            F.max("price").alias("high_24h"),
            F.min("price").alias("low_24h"),
            F.sum("size").alias("volume_24h"),
        )
    )

    price_d = F.col("price").cast("double")
    out = (
        latest.join(F.broadcast(p1m), "product_id", "left")
        .join(F.broadcast(p1h), "product_id", "left")
        .join(F.broadcast(stats24), "product_id", "left")
        .select(
            "product_id",
            price_d.alias("price"),
            fmt_ts("trade_time", micros=True).alias("updated_at"),
            (
                (price_d - F.col("prev_close_minute").cast("double"))
                / F.col("prev_close_minute").cast("double")
                * 100
            ).alias("change_1m_pct"),
            (
                (price_d - F.col("prev_close_hour").cast("double"))
                / F.col("prev_close_hour").cast("double")
                * 100
            ).alias("change_1h_pct"),
            F.col("high_24h").cast("double").alias("high_24h"),
            F.col("low_24h").cast("double").alias("low_24h"),
            F.col("volume_24h").cast("double").alias("volume_24h"),
        )
    )
    return out


@query(
    "price_latest_fused",
    oracle=_PRICE_LATEST_ORACLE,
    tags=("reference", "window", "join", "fused"),
)
def price_latest_fused(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Optimized twin of `price_latest` (same oracle — the ohlcv_1m /
    ohlcv_1m_fused pattern: reference shape as the anchor, fused plan
    as the scale path):

    - latest price + 24h stats in ONE full-table aggregation
      (`operators.gold.latest_prices`, shared with the pipeline's
      price_latest table);
    - prev-minute/hour closes by aggregating candles FIRST
      (groupBy bucket, max_by close) and ranking the tiny bucket set,
      instead of distinct-buckets + window + join-back-to-silver + agg.

    Plan: 1 full shuffle + 2 small filtered shuffles + 2 broadcast
    joins, vs the reference shape's full-table sort-window plus two
    (distinct + window + join + agg) chains. At 100 TB the bucket
    aggregation reduces cardinality before any window/join touches it.
    """
    s = cached_silver(spark, sf_dir)
    now = silver_watermark(spark, sf_dir)  # A6 scalar watermark
    latest = latest_prices(s, now)
    ordkey = F.struct("trade_time", "trade_id")

    def prev_close(bucket: str, lookback: str):
        # Same bucket-window predicate as the reference shape: filter
        # on the TRUNCATED bucket (a trade after the cutoff whose
        # bucket starts before it must stay excluded).
        candles = (
            s.withColumn("bucket", F.date_trunc(bucket, "trade_time"))
            .filter(F.col("bucket") >= F.lit(now) - F.expr(f"INTERVAL 10 {lookback}"))
            .groupBy("product_id", "bucket")
            .agg(F.max_by("price", ordkey).alias("close"))
        )
        wn = Window.partitionBy("product_id").orderBy(F.col("bucket").desc())
        return (
            candles.withColumn("rn", F.row_number().over(wn))
            .filter(F.col("rn") == 2)
            .select("product_id", F.col("close").alias(f"prev_close_{bucket}"))
        )

    p1m = prev_close("minute", "MINUTE")
    p1h = prev_close("hour", "HOUR")

    price_d = F.col("price").cast("double")
    return (
        latest.join(F.broadcast(p1m), "product_id", "left")
        .join(F.broadcast(p1h), "product_id", "left")
        .select(
            "product_id",
            price_d.alias("price"),
            fmt_ts("trade_time", micros=True).alias("updated_at"),
            (
                (price_d - F.col("prev_close_minute").cast("double"))
                / F.col("prev_close_minute").cast("double")
                * 100
            ).alias("change_1m_pct"),
            (
                (price_d - F.col("prev_close_hour").cast("double"))
                / F.col("prev_close_hour").cast("double")
                * 100
            ).alias("change_1h_pct"),
            F.col("high_24h").cast("double").alias("high_24h"),
            F.col("low_24h").cast("double").alias("low_24h"),
            F.col("volume_24h").cast("double").alias("volume_24h"),
        )
    )


# ---------------------------------------------------------------------------
# incremental lookback predicate (P5/A6) — the dbt incremental pattern
# ---------------------------------------------------------------------------


@query(
    "incremental_lookback",
    oracle=ORACLE_TRADES_CTE
    + """
SELECT product_id,
       strftime(date_trunc('hour', trade_time), '%Y-%m-%d %H:%M:%S')
           AS bucket,
       COUNT(*) AS trade_count,
       CAST(SUM("size") AS DOUBLE) AS volume
FROM silver
WHERE trade_time >= (SELECT MAX(trade_time) FROM silver)
                    - INTERVAL 48 HOUR
GROUP BY 1, 2
ORDER BY product_id, bucket
""",
    tags=("reference", "incremental"),
)
def incremental_lookback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5: the dbt incremental-merge lookback predicate (reference
    ohlcv_1m.sql:18-23) — watermark scalar (A6) then filtered
    re-aggregation of only the recent window. At scale the predicate
    prunes partitions; only recent data is rescanned."""
    # cache: the watermark .first() and the main aggregation both read
    # silver — without it the W1 window dedup executes twice.
    s = cached_silver(spark, sf_dir)
    wm = silver_watermark(spark, sf_dir)
    return (
        s.filter(F.col("trade_time") >= F.lit(wm) - F.expr("INTERVAL 48 HOURS"))
        .groupBy("product_id", F.date_trunc("hour", "trade_time").alias("b"))
        .agg(F.count("*").alias("trade_count"), F.sum("size").alias("volume"))
        .select(
            "product_id",
            fmt_ts("b").alias("bucket"),
            "trade_count",
            F.col("volume").cast("double").alias("volume"),
        )
        .orderBy("product_id", "bucket")
    )
