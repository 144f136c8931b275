"""Crypto-trade domain derived deterministically from the driver's
`events` table.

The reference's data model (FIXTURES.md A1-A3; reference
streaming_bronze_writer.py:47-89, bronze_to_silver.py:49-69) is a
stream of trades with duplicates, late arrivals and invalid rows.
We map the synthetic `events` table onto that model 1:1 so that the
reference's full operator inventory (dedup W1, casts, validity
filters P3/P4, latency/late flags T4, OHLCV W4/J1/A1-A3, price_latest
W2/W3/J3) runs — and is oracle-checkable — on driver-provided input
only:

    trade_id    = event_id                        (BIGINT)
    product_id  = event_type                      (the "trading pair")
    price       = value        -> DECIMAL(18,4)
    size        = json props.k + 1 -> DECIMAL(18,4)  (JSON parse path)
    side        = buy/sell by event_id parity
    trade_time  = ts
    ingested_at = ts + (event_id % 600) seconds   (deterministic lag;
                  rows with lag > 300 s exercise _is_late_arrival)
    _kafka_offset = event_id (dup copies: event_id + 10_000_000 —
                  the deterministic dedup tie-break, SURVEY §2.8.5)

Duplicates: every event with event_id % 7 == 0 is re-emitted with a
30 s later ingested_at and a higher offset; keep-first dedup must drop
the copy. Invalid rows: event_id % 97 == 0 gets a negated price
(exercises the `price > 0` validity filter, bronze_to_silver.py:149).

`ORACLE_TRADES_CTE` is the same derivation in DuckDB SQL so oracle
queries see byte-identical input.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from crypto_lakehouse_spark.io import load_table

LATE_ARRIVAL_THRESHOLD_MS = 300_000  # reference bronze_to_silver.py:39


def raw_trades(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bronze-shaped trade stream (with dups / late / invalid rows)."""
    ev = load_table(spark, sf_dir, "events")

    def shape(df: DataFrame, dup_copy: bool) -> DataFrame:
        lag_s = (F.col("event_id") % 600) + (F.lit(30) if dup_copy else F.lit(0))
        offset = F.col("event_id") + (F.lit(10_000_000) if dup_copy else F.lit(0))
        price = F.when(F.col("event_id") % 97 == 0, -F.col("value")).otherwise(F.col("value"))
        return df.select(
            F.col("event_id").alias("trade_id"),
            F.col("event_type").alias("product_id"),
            price.cast("decimal(18,4)").alias("price"),
            (F.get_json_object("props", "$.k").cast("int") + F.lit(1))
            .cast("decimal(18,4)")
            .alias("size"),
            F.when(F.col("event_id") % 2 == 0, F.lit("buy")).otherwise(F.lit("sell")).alias("side"),
            F.col("ts").alias("trade_time"),
            (F.col("ts") + lag_s.cast("int") * F.expr("INTERVAL 1 SECOND")).alias("ingested_at"),
            offset.alias("_kafka_offset"),
        )

    base = shape(ev, dup_copy=False)
    dups = shape(ev.filter(F.col("event_id") % 7 == 0), dup_copy=True)
    return base.unionAll(dups)


def silver_trades(raw: DataFrame) -> DataFrame:
    """Bronze -> silver transform (reference bronze_to_silver.py:94-153).

    Keep-first dedup by trade_id (W1) with the deterministic
    `_kafka_offset` tie-break, latency + late-arrival derivation (T4),
    and validity filters (P3/P4: not-null key, price>0, size>0).
    Runs as one shuffle on trade_id; at scale the window partitions by
    the dedup key so state is bounded per key, never global.

    The one W1 implementation: the registered queries and fixtures run
    it over `raw_trades`, the medallion pipeline
    (`Lakehouse.bronze_to_silver`) over typed bronze rows.
    """
    w = Window.partitionBy("trade_id").orderBy("ingested_at", "_kafka_offset")
    return (
        raw.filter(F.col("trade_id").isNotNull())
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
        .withColumn(
            "_source_latency_ms",
            ((F.unix_timestamp("ingested_at") - F.unix_timestamp("trade_time")) * 1000).cast(
                "long"
            ),
        )
        .withColumn(
            "_is_late_arrival", F.col("_source_latency_ms") > F.lit(LATE_ARRIVAL_THRESHOLD_MS)
        )
        .withColumn("_trade_date", F.to_date("trade_time"))
        .filter((F.col("price") > 0) & (F.col("size") > 0))
    )


# The same derivation for the DuckDB oracle. Prepend to oracle SQL.
ORACLE_TRADES_CTE = """
WITH raw_trades AS (
    SELECT event_id AS trade_id,
           event_type AS product_id,
           CAST(CASE WHEN event_id % 97 = 0 THEN -value ELSE value END
                AS DECIMAL(18,4)) AS price,
           CAST(CAST(json_extract_string(props, '$.k') AS INTEGER) + 1
                AS DECIMAL(18,4)) AS size,
           CASE WHEN event_id % 2 = 0 THEN 'buy' ELSE 'sell' END AS side,
           ts AS trade_time,
           ts + CAST(event_id % 600 AS INTEGER) * INTERVAL 1 SECOND
               AS ingested_at,
           event_id AS _kafka_offset
    FROM events
    UNION ALL
    SELECT event_id,
           event_type,
           CAST(CASE WHEN event_id % 97 = 0 THEN -value ELSE value END
                AS DECIMAL(18,4)),
           CAST(CAST(json_extract_string(props, '$.k') AS INTEGER) + 1
                AS DECIMAL(18,4)),
           CASE WHEN event_id % 2 = 0 THEN 'buy' ELSE 'sell' END,
           ts,
           ts + CAST(event_id % 600 + 30 AS INTEGER) * INTERVAL 1 SECOND,
           event_id + 10000000
    FROM events
    WHERE event_id % 7 = 0
),
silver AS (
    SELECT * FROM (
        SELECT *,
               ROW_NUMBER() OVER (
                   PARTITION BY trade_id
                   ORDER BY ingested_at, _kafka_offset) AS rn,
               CAST((epoch_us(ingested_at) - epoch_us(trade_time)) / 1000
                    AS BIGINT) AS _source_latency_ms
        FROM raw_trades
        WHERE trade_id IS NOT NULL
    )
    WHERE rn = 1 AND price > 0 AND "size" > 0
)
"""
