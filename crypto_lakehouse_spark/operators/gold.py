"""Gold transforms over silver trades: fused OHLCV candles and the
latest price with its 24 h stats.

One implementation each, shared by the medallion pipeline
(pipeline/lakehouse.py), the registered queries and the session
fixtures (queries/reference_ops.py, queries/ta_ops.py) and the
streaming candle query (streaming/file_stream.py).

Open/close and the latest price are `min_by`/`max_by` over the
(trade_time, trade_id) struct: one hash aggregation, one shuffle on
the group key, and the same deterministic tie-break as the
reference's FIRST/LAST_VALUE and ROW_NUMBER windows (SURVEY §7,
"built-in vs custom"). The oracle-checked `ohlcv_1m_fused` and
`price_latest_fused` queries prove them equal to the reference-shaped
plans, which stay in queries/reference_ops.py as the declared
operators.

The aggregates read silver's columns (`product_id`, `trade_id`,
`trade_time`, `price`, `size`) and keep their types.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def candle_aggs() -> list[Column]:
    """OHLCV aggregates of one candle, in the column order of the
    reference-shaped candle build (`reference_ops._candles`): `high,
    low, volume, trade_count, pv, open, close`. `pv` is the exact
    decimal sum(price * size), so vwap (pv / volume) can be
    re-aggregated in any order."""
    order = F.struct("trade_time", "trade_id")
    return [
        F.max("price").alias("high"),
        F.min("price").alias("low"),
        F.sum("size").alias("volume"),
        F.count("*").alias("trade_count"),
        F.sum(F.col("price") * F.col("size")).alias("pv"),
        F.min_by("price", order).alias("open"),
        F.max_by("price", order).alias("close"),
    ]


def candles(trades: DataFrame, bucket: str) -> DataFrame:
    """Candles per (product_id, `date_trunc(bucket, trade_time)` AS
    bucket): `product_id, bucket` then `candle_aggs()`."""
    return trades.groupBy(
        "product_id", F.date_trunc(bucket, "trade_time").alias("bucket")
    ).agg(*candle_aggs())


def latest_prices(trades: DataFrame, now) -> DataFrame:
    """Per product: the price of the latest trade (highest
    (trade_time, trade_id)), its `trade_time`, and `high_24h`,
    `low_24h`, `volume_24h` over the trades at or after `now` - 24 h.
    One aggregation; a product with no trade in that window keeps its
    row with NULL stats, as the reference's LEFT JOIN gives."""
    in24h = F.col("trade_time") >= F.lit(now) - F.expr("INTERVAL 24 HOURS")
    return trades.groupBy("product_id").agg(
        F.max_by("price", F.struct("trade_time", "trade_id")).alias("price"),
        F.max("trade_time").alias("trade_time"),
        F.max(F.when(in24h, F.col("price"))).alias("high_24h"),
        F.min(F.when(in24h, F.col("price"))).alias("low_24h"),
        F.sum(F.when(in24h, F.col("size"))).alias("volume_24h"),
    )
