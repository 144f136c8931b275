"""The medallion pipeline: feed -> bronze -> silver -> gold.

A from-scratch Spark-first re-expression of the reference's three
entry points (SURVEY §3): streaming ingest
(streaming_bronze_writer.py), hourly bronze->silver batch
(bronze_to_silver.py), and the dbt gold builds (ohlcv_1m/1h,
daily_metrics, price_latest) — as one engine over LakehouseTable
storage with partition-overwrite MERGE.

Bronze, silver and the OHLCV tables are incremental by construction:
- bronze: append-only, partitioned by ingestion date;
- silver: lookback-filtered scan of bronze (P5), dedup W1, typed
  casts, MERGE on trade_id — only touched _trade_date partitions
  rewrite;
- ohlcv_1m/1h: lookback watermark (A6) + MERGE on (product_id,
  window_start) — the dbt incremental-merge strategy (S7) without dbt.

The other two gold tables are not: daily_metrics re-aggregates all of
silver on every call before its MERGE, and price_latest is a full
rebuild (the dbt table materialization).

The transforms themselves — W1 dedup (`operators.trades`), fused
candles and latest prices (`operators.gold`) — are the ones the
registered queries and session fixtures run; this module adds only
the bronze projection, the gold column finish and the storage.

Each stage returns the rows its own call wrote (for a MERGE, the rows
of its source), counted on the write side; none of them re-reads the
table it wrote to count it.

At 100 TB: bronze/silver scans prune on partition date; the silver
dedup window shuffles only the lookback slice; gold candle builds are
single-shuffle groupBys on (product_id, bucket); MERGEs rewrite only
recent partitions.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from crypto_lakehouse_spark import schemas
from crypto_lakehouse_spark.operators.gold import candles, latest_prices
from crypto_lakehouse_spark.operators.trades import silver_trades
from crypto_lakehouse_spark.schemas import TRADE_JSON_SCHEMA
from crypto_lakehouse_spark.tables import LakehouseTable


class Lakehouse:
    def __init__(self, spark: SparkSession, warehouse: str):
        self.spark = spark
        self.warehouse = warehouse
        os.makedirs(warehouse, exist_ok=True)
        self.bronze = LakehouseTable(
            spark, f"{warehouse}/bronze_trades", schemas.BRONZE_PARTITIONS
        )
        self.dlq = LakehouseTable(spark, f"{warehouse}/dlq")
        self.silver = LakehouseTable(
            spark, f"{warehouse}/silver_trades", schemas.SILVER_PARTITIONS
        )
        self.gold: dict[str, LakehouseTable] = {
            "ohlcv_1m": LakehouseTable(spark, f"{warehouse}/ohlcv_1m", schemas.GOLD_PARTITIONS),
            "ohlcv_1h": LakehouseTable(spark, f"{warehouse}/ohlcv_1h", schemas.GOLD_PARTITIONS),
            "daily_metrics": LakehouseTable(spark, f"{warehouse}/daily_metrics"),
            "price_latest": LakehouseTable(spark, f"{warehouse}/price_latest"),
        }

    # ------------------------------------------------------------------
    # bronze ingest (reference streaming_bronze_writer.py:132-166)
    # ------------------------------------------------------------------
    def ingest_feed(self, feed: DataFrame) -> dict[str, int]:
        """Kafka-envelope feed -> bronze append + DLQ routing.

        Parse failures (malformed JSON) land in the DLQ table wrapped
        with error context (reference producer DLQ, S9/T9); heartbeats
        and other non-trades are dropped by the null-key filter (T7).
        Returns the rows this call appended to bronze and to the DLQ.
        """
        # PERMISSIVE from_json yields an all-null struct on bad input;
        # `type` is present on every well-formed message, so a null
        # `type` identifies parse failures. The bronze append counts
        # them as it parses, so the DLQ costs a job only when it has
        # rows to write.
        obs = Observation()
        parsed = feed.withColumn(
            "parsed", F.from_json("value", TRADE_JSON_SCHEMA)
        ).observe(obs, F.count_if(F.col("parsed.type").isNull()).alias("bad"))
        bad = parsed.filter(F.col("parsed.type").isNull()).select(
            F.col("value").alias("original_message"),
            F.lit("json_parse_error").alias("error"),
            F.col("ingested_at").alias("failed_at"),
        )
        good = parsed.filter(F.col("parsed.type").isNotNull())
        bronze_rows = (
            good.select(
                F.col("ingested_at").alias("_ingested_at"),
                F.col("value").alias("_raw_payload"),
                F.col("offset").alias("_kafka_offset"),
                F.col("partition").alias("_kafka_partition"),
                F.col("parsed.trade_id").alias("trade_id"),
                F.col("parsed.product_id").alias("product_id"),
                F.col("parsed.price").alias("price"),
                F.col("parsed.size").alias("size"),
                F.col("parsed.side").alias("side"),
                F.col("parsed.time").alias("time"),
                F.to_date("ingested_at").alias("_ingestion_date"),
            )
            .filter(F.col("trade_id").isNotNull())  # T7 heartbeat drop
        )
        n_bronze = self.bronze.append(bronze_rows)
        n_bad = obs.get["bad"]
        if n_bad:
            self.dlq.append(bad)
        return {"bronze": n_bronze, "dlq": n_bad}

    # ------------------------------------------------------------------
    # bronze -> silver (reference bronze_to_silver.py:94-188)
    # ------------------------------------------------------------------
    def bronze_to_silver(self, lookback_hours: int | None = 2) -> int:
        """Incremental dedup/cast/validate/MERGE batch job.

        lookback_hours=None processes the full table (backfill).
        Returns the silver rows this call merged.
        """
        b = self.bronze.read()
        if lookback_hours is not None:
            # The watermark is a column-pruned max over the STORED
            # bronze parquet — a second file scan, not a recompute of
            # any upstream transformation (unlike derived-plan callers
            # such as incremental_lookback, which must cache first).
            wm = b.agg(F.max("_ingested_at")).first()[0]
            if wm is not None:
                cutoff = F.lit(wm) - F.expr(f"INTERVAL {lookback_hours} HOURS")
                # Partition-prune first (ingestion_date), then row filter.
                b = b.filter(
                    (F.col("_ingestion_date") >= F.to_date(cutoff))
                    & (F.col("_ingested_at") >= cutoff)
                )

        # W1 dedups on the bronze STRING trade_id; the key is cast only
        # after it. The winner depends on (ingested_at, _kafka_offset)
        # alone, so the other columns can be typed first.
        typed = b.select(
            "trade_id",
            "product_id",
            F.col("price").cast("decimal(18,8)").alias("price"),
            F.col("size").cast("decimal(18,8)").alias("size"),
            "side",
            F.to_timestamp("time").alias("trade_time"),
            F.col("_ingested_at").alias("ingested_at"),
            "_kafka_offset",
        )
        silver = (
            silver_trades(typed)
            .filter(F.col("trade_time").isNotNull() & F.col("side").isin("buy", "sell"))
            # silver's stored column order, which its _schema.json records
            .select(
                F.col("trade_id").cast("long").alias("trade_id"),
                "product_id",
                "price",
                "size",
                "side",
                "trade_time",
                "ingested_at",
                "_source_latency_ms",
                "_is_late_arrival",
                "_trade_date",
            )
        )
        # Keyed on trade_id alone, so MERGE keeps its moved-key check:
        # a re-picked duplicate can carry a different trade_time, and
        # so a different _trade_date partition.
        return self.silver.merge(silver, keys=["trade_id"])

    # ------------------------------------------------------------------
    # gold builds (reference dbt marts)
    # ------------------------------------------------------------------
    def _candles(self, source: DataFrame, bucket: str) -> DataFrame:
        """Gold candle rows: the shared fused build
        (`operators.gold.candles`) with window_end, decimal(18,8)
        casts, vwap and the partition date."""
        return candles(source, bucket).select(
            "product_id",
            F.col("bucket").alias("window_start"),
            (F.col("bucket") + F.expr(f"INTERVAL 1 {bucket.upper()}")).alias("window_end"),
            F.col("open").cast("decimal(18,8)").alias("open"),
            F.col("high").cast("decimal(18,8)").alias("high"),
            F.col("low").cast("decimal(18,8)").alias("low"),
            F.col("close").cast("decimal(18,8)").alias("close"),
            F.col("volume").cast("decimal(18,8)").alias("volume"),
            "trade_count",
            (F.col("pv") / F.nullif(F.col("volume"), F.lit(0)))
            .cast("decimal(18,8)")
            .alias("vwap"),
            F.to_date("bucket").alias("_partition_date"),
        )

    def build_ohlcv(self, bucket: str = "minute", lookback: str | None = "2 HOURS") -> int:
        """Incremental candle build + MERGE (dbt incremental strategy,
        ohlcv_1m.sql:1-23): recompute only buckets newer than
        max(window_start) - lookback, upsert on (product_id,
        window_start). Returns the candles this call merged."""
        name = "ohlcv_1m" if bucket == "minute" else "ohlcv_1h"
        table = self.gold[name]
        s = self.silver.read()
        if lookback is not None and table.exists():
            wm = table.read().agg(F.max("window_start")).first()[0]
            if wm is not None:
                cutoff = F.lit(wm) - F.expr(f"INTERVAL {lookback}")
                s = s.filter(F.col("trade_time") >= cutoff)
        out = self._candles(s, bucket)
        # _partition_date is to_date(window_start), so adding it leaves
        # the key set unchanged; with the partition column inside the
        # keys, a key cannot move partitions and MERGE skips that check.
        return table.merge(out, keys=["product_id", "window_start", "_partition_date"])

    def build_daily_metrics(self) -> int:
        """daily_metrics from silver (formulas per SURVEY §2.8.1-2).
        Returns the rows this call merged."""
        c = self._candles(self.silver.read(), "day")
        o, h, lo, cl = (F.col(x).cast("double") for x in ("open", "high", "low", "close"))
        out = c.select(
            "product_id",
            F.to_date("window_start").alias("date"),
            F.col("open"),
            F.col("high"),
            F.col("low"),
            F.col("close"),
            F.col("volume").alias("total_volume"),
            F.col("trade_count").alias("total_trades"),
            ((cl - o) / F.nullif(o, F.lit(0.0))).cast("decimal(18,8)").alias("daily_return"),
            ((h - lo) / F.nullif(o, F.lit(0.0))).cast("decimal(18,8)").alias("volatility"),
            ((h - lo) / F.nullif(h, F.lit(0.0))).cast("decimal(18,8)").alias("max_drawdown"),
            F.date_trunc("month", "window_start").cast("date").alias("_partition_month"),
        )
        return self.gold["daily_metrics"].merge(out, keys=["product_id", "date"])

    def build_price_latest(self, now=None) -> int:
        """price_latest full rebuild (dbt table materialization,
        price_latest.sql:1-5). `now` injectable for determinism
        (SURVEY §2.8.7). Returns the rows written."""
        s = self.silver.read()
        if now is None:
            now = s.agg(F.max("trade_time")).first()[0]
        out = latest_prices(s, now).select(
            "product_id",
            "price",
            F.col("trade_time").alias("updated_at"),
            "high_24h",
            "low_24h",
            F.col("volume_24h").cast("decimal(18,8)").alias("volume_24h"),
            F.lit(now).alias("snapshot_time"),
        )
        return self.gold["price_latest"].overwrite(out)

    # ------------------------------------------------------------------
    def run_all(self, feed: DataFrame) -> dict[str, int]:
        counts = self.ingest_feed(feed)
        counts["silver"] = self.bronze_to_silver(lookback_hours=None)
        counts["ohlcv_1m"] = self.build_ohlcv("minute", lookback=None)
        counts["ohlcv_1h"] = self.build_ohlcv("hour", lookback=None)
        counts["daily_metrics"] = self.build_daily_metrics()
        counts["price_latest"] = self.build_price_latest()
        return counts
