"""Parse schema and partition layouts for the medallion layers
(SURVEY §1.3: fixed, explicit schemas, never inferred).

Bronze keeps raw string fields + full payload (schema-on-read escape
hatch, reference streaming_bronze_writer.py:69-89); silver is typed
and deduplicated (bronze_to_silver.py:49-69); gold carries the OHLCV
column specs (ohlcv_1m.sql:79-91). The column list of each stored
table is the one its writer (pipeline/lakehouse.py) produces; each
commit's manifest records it, and `VersionedTable.read()` reads with
that recorded schema
(tests/test_lakehouse.py::test_recorded_schema_matches_files pins it
against the files).
"""

from __future__ import annotations

from pyspark.sql.types import StringType, StructField, StructType

# Parse schema for raw trade JSON — all strings, convert in silver
# (reference TRADE_SCHEMA, streaming_bronze_writer.py:47-59). The
# Coinbase wire emits trade_id/sequence as quoted strings, and Jackson
# will NOT coerce a quoted string into a numeric field — a BIGINT
# trade_id here silently nulls every row (caught by the
# kafka_wire_parse differential, round 5). Numeric typing happens
# downstream in silver, mirroring the reference's bronze-keeps-strings
# contract.
TRADE_JSON_SCHEMA = StructType(
    [
        StructField("type", StringType()),
        StructField("trade_id", StringType()),
        StructField("sequence", StringType()),
        StructField("maker_order_id", StringType()),
        StructField("taker_order_id", StringType()),
        StructField("time", StringType()),
        StructField("product_id", StringType()),
        StructField("size", StringType()),
        StructField("price", StringType()),
        StructField("side", StringType()),
    ]
)

# Partition layouts (SURVEY §4: pruning-first data layout).
BRONZE_PARTITIONS = ["_ingestion_date"]
SILVER_PARTITIONS = ["_trade_date"]  # product_id kept as a column;
# at 100 TB sub-partitioning by product would explode file counts for
# thousands of products — date-only + column stats prunes well.
GOLD_PARTITIONS = ["_partition_date"]
