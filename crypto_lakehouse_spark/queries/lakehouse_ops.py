"""Lakehouse TABLE operations exposed to the driver's correctness
gate — the rows the round-1 scorecard could only mark
"untested(driver)" because MERGE/materialization lived behind pytest.

Each query here executes real table writes (into a per-call temp
warehouse) and returns the STORED table contents; the oracle
recomputes what the storage layer must contain from the source tables
alone. That differentially proves the write path (S4 partitioned
create, S5/J4 MERGE upsert, S7 materialization), not just the
read-side plans.

- `merge_upsert_result`: VersionedTable COW MERGE (update + insert in
  one source) on a partitioned table; oracle = anti-join ∪ source
  (the MERGE definition, reference bronze_to_silver.py:156-188).
- `medallion_gold_ohlcv`: the full medallion path feed → bronze
  (DLQ routing) → silver (dedup/cast/validate MERGE) → gold 1-minute
  candles (incremental-build MERGE), compared against a single SQL
  derivation from `events`. The oracle is the silver-trades CTE with
  the feed's malformed rows (event_id % 131, DLQ-routed base copies)
  excluded, composed with the candle SQL the declarative `ohlcv_1m`
  query already proves. vwap is excluded from the projection: gold
  stores it as DECIMAL(18,8) division while the comparison contract
  is double division — its value is proven by `ohlcv_1m`/`ohlcv_1m_
  fused` from the same pv/volume inputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crypto_lakehouse_spark.functions import fmt_ts
from crypto_lakehouse_spark.io import register_views, scratch_dir
from crypto_lakehouse_spark.operators.trades import ORACLE_TRADES_CTE
from crypto_lakehouse_spark.queries.registry import query

# The medallion feed (sources/trade_feed.py) differs from the query
# mapping (operators/trades.py raw_trades) in exactly two ways:
# (1) base copies of event_id % 131 rows are malformed JSON and
# DLQ-routed, so they never reach silver (their % 7 duplicate copies
# are well-formed and survive as the keep-first row); (2) the feed
# does NOT carry raw_trades' synthetic negative-price rows
# (event_id % 97) — prices are the raw event values, all valid.
_MEDALLION_TRADES_CTE = ORACLE_TRADES_CTE.replace(
    "    FROM events\n    UNION ALL",
    "    FROM events\n    WHERE event_id % 131 <> 0\n    UNION ALL",
).replace(
    "CAST(CASE WHEN event_id % 97 = 0 THEN -value ELSE value END\n"
    "                AS DECIMAL(18,4))",
    "CAST(value AS DECIMAL(18,4))",
)

_MERGE_SRC_SQL = """
SELECT o_orderkey, o_orderstatus, o_totalprice * 2 AS o_totalprice,
       o_orderpriority
FROM orders WHERE o_orderkey % 6 = 0
UNION ALL
SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
FROM orders WHERE o_orderkey % 3 = 1 AND o_orderkey % 5 = 0
"""


@query(
    "merge_upsert_result",
    oracle=f"""
WITH target AS (
    SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
    FROM orders WHERE o_orderkey % 3 = 0
),
src AS (
{_MERGE_SRC_SQL}
)
SELECT o_orderkey, o_orderstatus,
       CAST(o_totalprice AS DOUBLE) AS total_price,
       o_orderpriority
FROM (
    SELECT * FROM src
    UNION ALL
    SELECT t.* FROM target t
    WHERE NOT EXISTS (SELECT 1 FROM src s WHERE s.o_orderkey = t.o_orderkey)
)
ORDER BY o_orderkey
""",
    tags=("lakehouse", "merge", "table"),
    bench=False,
)
def merge_upsert_result(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5/J4 driver check: partitioned COW MERGE (matched keys updated
    in place — doubled totalprice — unmatched inserted), then the
    STORED table is returned. Partition column (o_orderstatus) is
    stable under the update, so only touched partitions rewrite."""
    from crypto_lakehouse_spark.pipeline.versioned import VersionedTable

    register_views(spark, sf_dir, ["orders"])
    target = spark.sql(
        """
        SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
        FROM orders WHERE o_orderkey % 3 = 0
        """
    )
    t = VersionedTable(
        spark,
        scratch_dir("merge_q_") + "/t",
        partition_by=["o_orderstatus"],
    )
    t.overwrite(target)
    t.merge(spark.sql(_MERGE_SRC_SQL), keys=["o_orderkey"])
    return (
        t.read()
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.col("o_totalprice").cast("double").alias("total_price"),
            "o_orderpriority",
        )
        .orderBy("o_orderkey")
    )


@query(
    "medallion_gold_ohlcv",
    oracle=_MEDALLION_TRADES_CTE
    + """,
stg AS (
    SELECT product_id, trade_id, trade_time, price, "size",
           price * "size" AS trade_value,
           date_trunc('minute', trade_time) AS bucket
    FROM silver
),
agg AS (
    SELECT product_id, bucket,
           MAX(price) AS high, MIN(price) AS low,
           SUM("size") AS volume, COUNT(*) AS trade_count
    FROM stg
    GROUP BY product_id, bucket
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
)
SELECT agg.product_id,
       strftime(agg.bucket, '%Y-%m-%d %H:%M:%S') AS window_start,
       strftime(agg.bucket + INTERVAL 1 MINUTE, '%Y-%m-%d %H:%M:%S')
           AS window_end,
       CAST(fl.open AS DOUBLE) AS open,
       CAST(agg.high AS DOUBLE) AS high,
       CAST(agg.low AS DOUBLE) AS low,
       CAST(fl.close AS DOUBLE) AS close,
       CAST(agg.volume AS DOUBLE) AS volume,
       agg.trade_count
FROM agg JOIN fl USING (product_id, bucket)
ORDER BY product_id, window_start
""",
    tags=("lakehouse", "medallion", "materialization"),
    bench=False,
)
def medallion_gold_ohlcv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 driver check: run the STORED medallion (feed ingest with DLQ,
    silver MERGE, gold candle MERGE — full backfill) in a temp
    warehouse and return the gold ohlcv_1m TABLE contents; the oracle
    derives the same candles from `events` in one SQL statement."""
    from crypto_lakehouse_spark.pipeline.lakehouse import Lakehouse
    from crypto_lakehouse_spark.sources.trade_feed import trade_feed

    lh = Lakehouse(spark, scratch_dir("wh_medallion_"))
    lh.ingest_feed(trade_feed(spark, sf_dir))
    lh.bronze_to_silver(lookback_hours=None)
    lh.build_ohlcv("minute", lookback=None)
    g = lh.gold["ohlcv_1m"].read()
    return (
        g.select(
            "product_id",
            fmt_ts("window_start").alias("window_start"),
            fmt_ts("window_end").alias("window_end"),
            F.col("open").cast("double").alias("open"),
            F.col("high").cast("double").alias("high"),
            F.col("low").cast("double").alias("low"),
            F.col("close").cast("double").alias("close"),
            F.col("volume").cast("double").alias("volume"),
            "trade_count",
        )
        .orderBy("product_id", "window_start")
    )


_VT_SRC_SQL = """
SELECT o_orderkey, o_totalprice * 2 AS o_totalprice
FROM orders WHERE o_orderkey % 8 = 0
UNION ALL
SELECT o_orderkey, o_totalprice
FROM orders WHERE o_orderkey % 4 = 1 AND o_orderkey % 6 = 1
"""


@query(
    "versioned_time_travel_result",
    oracle=f"""
WITH base AS (
    SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 4 = 0
),
src AS (
{_VT_SRC_SQL}
),
v1 AS (
    SELECT * FROM src
    UNION ALL
    SELECT b.* FROM base b
    WHERE NOT EXISTS (SELECT 1 FROM src s WHERE s.o_orderkey = b.o_orderkey)
)
SELECT version, o_orderkey, CAST(o_totalprice AS DOUBLE) AS total_price
FROM (
    SELECT 0 AS version, * FROM base
    UNION ALL
    SELECT 1 AS version, * FROM v1
)
ORDER BY version, o_orderkey
""",
    tags=("lakehouse", "time-travel", "merge", "versioned"),
    bench=False,
)
def versioned_time_travel_result(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-layer driver check: VersionedTable append (v0) + COW
    MERGE (v1), then BOTH snapshots read back via time travel in one
    result. Proves the immutable-file + manifest design end-to-end:
    v0's rows must be byte-stable after the merge commit, v1 must be
    exactly (source ∪ unmatched-target)."""
    from crypto_lakehouse_spark.pipeline.versioned import VersionedTable

    register_views(spark, sf_dir, ["orders"])
    base = spark.sql(
        "SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 4 = 0"
    )
    t = VersionedTable(spark, scratch_dir("vt_q_") + "/t")
    assert t.append(base) == 0
    assert t.merge(spark.sql(_VT_SRC_SQL), keys=["o_orderkey"]) == 1

    def snap(version: int | None, label: int) -> DataFrame:
        return t.read(version=version).select(
            F.lit(label).alias("version"),
            "o_orderkey",
            F.col("o_totalprice").cast("double").alias("total_price"),
        )

    return snap(0, 0).unionByName(snap(None, 1)).orderBy("version", "o_orderkey")


_MERGE_DEL_SRC_SQL = """
SELECT o_orderkey,
       CASE WHEN o_orderkey % 12 = 0 THEN 'DEL' ELSE 'UPD' END
           AS o_orderstatus,
       o_totalprice + 50 AS o_totalprice,
       o_orderpriority
FROM orders WHERE o_orderkey % 6 = 0
"""


@query(
    "merge_delete_result",
    oracle=f"""
WITH target AS (
    SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
    FROM orders WHERE o_orderkey % 3 = 0
),
src AS (
{_MERGE_DEL_SRC_SQL}
),
upserts AS (SELECT * FROM src WHERE o_orderstatus <> 'DEL')
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS price_sum
FROM (
    SELECT * FROM upserts
    UNION ALL
    SELECT t.* FROM target t
    WHERE NOT EXISTS (SELECT 1 FROM src s WHERE s.o_orderkey = t.o_orderkey)
)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
    tags=("lakehouse", "merge", "delete", "table"),
    bench=False,
)
def merge_delete_result(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5/J4 extended with Delta's third MERGE clause: WHEN MATCHED
    AND <pred> THEN DELETE. Every 6th key is merged (every 12th marked
    DEL and removed, the rest updated +50); the STORED table's
    per-priority census is returned and must equal the relational
    derivation. Partition pruning holds (o_orderpriority stable under
    the update), and fully-emptied partitions are dropped, not left
    behind (`VersionedTable.merge` docstring)."""
    from crypto_lakehouse_spark.pipeline.versioned import VersionedTable

    register_views(spark, sf_dir, ["orders"])
    target = spark.sql(
        """
        SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
        FROM orders WHERE o_orderkey % 3 = 0
        """
    )
    t = VersionedTable(
        spark,
        scratch_dir("merge_del_q_") + "/t",
        partition_by=["o_orderpriority"],
    )
    t.overwrite(target)
    t.merge(
        spark.sql(_MERGE_DEL_SRC_SQL),
        keys=["o_orderkey"],
        delete_match="o_orderstatus = 'DEL'",
    )
    from pyspark.sql import functions as F

    return (
        t.read()
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,4)")).alias("price_sum"),
        )
        .select(
            "o_orderpriority",
            "n_orders",
            F.col("price_sum").cast("double").alias("price_sum"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "versioned_change_feed",
    oracle=f"""
WITH target AS (
    SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
    FROM orders WHERE o_orderkey % 3 = 0
),
src AS (
{_MERGE_SRC_SQL}
),
ins AS (
    SELECT s.*, 'insert' AS _change_type FROM src s
    WHERE NOT EXISTS (SELECT 1 FROM target t
                      WHERE t.o_orderkey = s.o_orderkey)
),
upd_keys AS (
    SELECT s.o_orderkey FROM src s JOIN target t
      ON s.o_orderkey = t.o_orderkey
    WHERE s.o_orderstatus IS DISTINCT FROM t.o_orderstatus
       OR s.o_totalprice IS DISTINCT FROM t.o_totalprice
       OR s.o_orderpriority IS DISTINCT FROM t.o_orderpriority
),
pre AS (
    SELECT t.*, 'update_preimage' AS _change_type
    FROM target t JOIN upd_keys u ON t.o_orderkey = u.o_orderkey
),
post AS (
    SELECT s.*, 'update_postimage' AS _change_type
    FROM src s JOIN upd_keys u ON s.o_orderkey = u.o_orderkey
)
SELECT o_orderkey, o_orderstatus,
       CAST(o_totalprice AS DOUBLE) AS total_price,
       o_orderpriority, _change_type
FROM (SELECT * FROM ins UNION ALL SELECT * FROM pre
      UNION ALL SELECT * FROM post)
ORDER BY o_orderkey, _change_type
""",
    tags=("lakehouse", "cdf", "change-data-feed", "versioned"),
    bench=False,
)
def versioned_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta Change-Data-Feed analog: v0 = the orders subset, v1 = the
    MERGE upsert (same source as merge_upsert_result), then
    table_changes(keys, 0, 1) emits inserts and both update images —
    proven against the relational snapshot-diff derivation. See
    pipeline/versioned.table_changes for the one-join scale shape."""
    from pyspark.sql import functions as F

    from crypto_lakehouse_spark.pipeline.versioned import VersionedTable

    register_views(spark, sf_dir, ["orders"])
    target = spark.sql(
        """
        SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
        FROM orders WHERE o_orderkey % 3 = 0
        """
    )
    t = VersionedTable(spark, scratch_dir("cdf_q_") + "/t")
    t.overwrite(target)                                   # v0
    t.merge(spark.sql(_MERGE_SRC_SQL), keys=["o_orderkey"])  # v1
    return (
        t.table_changes(["o_orderkey"], 0, 1)
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.col("o_totalprice").cast("double").alias("total_price"),
            "o_orderpriority",
            "_change_type",
        )
        .orderBy("o_orderkey", "_change_type")
    )


@query(
    "dq_documents_report",
    oracle="""
SELECT 'doc_id_not_null' AS check_name,
       CAST(SUM(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_failed,
       SUM(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) = 0 AS passed
FROM documents
UNION ALL
SELECT 'text_nonempty',
       CAST(SUM(CASE WHEN text IS NULL OR length(text) = 0
                     THEN 1 ELSE 0 END) AS BIGINT),
       SUM(CASE WHEN text IS NULL OR length(text) = 0
                THEN 1 ELSE 0 END) = 0
FROM documents
UNION ALL
SELECT 'lang_accepted',
       CAST(SUM(CASE WHEN lang NOT IN ('en','de','es','fr','zh')
                     THEN 1 ELSE 0 END) AS BIGINT),
       SUM(CASE WHEN lang NOT IN ('en','de','es','fr','zh')
                THEN 1 ELSE 0 END) = 0
FROM documents
UNION ALL
SELECT 'n_chars_consistent',
       CAST(SUM(CASE WHEN n_chars <> length(text) THEN 1 ELSE 0 END)
           AS BIGINT),
       SUM(CASE WHEN n_chars <> length(text) THEN 1 ELSE 0 END) = 0
FROM documents
UNION ALL
SELECT 'n_chars_range',
       CAST(SUM(CASE WHEN n_chars < 1 OR n_chars > 100000
                     THEN 1 ELSE 0 END) AS BIGINT),
       SUM(CASE WHEN n_chars < 1 OR n_chars > 100000
                THEN 1 ELSE 0 END) = 0
FROM documents
UNION ALL
SELECT 'doc_id_unique',
       CAST(COALESCE((SELECT SUM(c - 1) FROM
             (SELECT COUNT(*) AS c FROM documents GROUP BY doc_id
              HAVING COUNT(*) > 1)), 0) AS BIGINT),
       COALESCE((SELECT SUM(c - 1) FROM
             (SELECT COUNT(*) AS c FROM documents GROUP BY doc_id
              HAVING COUNT(*) > 1)), 0) = 0
ORDER BY check_name
""",
    tags=("lakehouse", "data-quality", "expectations"),
    bench=False,
)
def dq_documents_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality suite over the documents corpus
    through pipeline/quality.run_checks (the engine analog of the
    reference's Great Expectations suites — every row predicate in ONE
    aggregation pass, uniqueness in one more; quality.py module
    docstring has the one-scan rationale). The report the suite
    returns must hash-match the oracle recomputing each failure count
    relationally."""
    from pyspark.sql import functions as F

    from crypto_lakehouse_spark.io import load_table
    from crypto_lakehouse_spark.pipeline.quality import Check, Unique, run_checks

    docs = load_table(spark, sf_dir, "documents")
    suite = [
        Check("doc_id_not_null", F.col("doc_id").isNotNull()),
        Check(
            "text_nonempty",
            F.col("text").isNotNull() & (F.length("text") > 0),
        ),
        Check("lang_accepted", F.col("lang").isin("en", "de", "es", "fr", "zh")),
        Check("n_chars_consistent", F.col("n_chars") == F.length("text")),
        Check("n_chars_range", F.col("n_chars").between(1, 100000)),
        Unique("doc_id_unique", ("doc_id",)),
    ]
    results = run_checks(docs, suite)
    return (
        spark.createDataFrame(
            [(r.name, r.n_failed, r.passed) for r in results],
            "check_name STRING, n_failed BIGINT, passed BOOLEAN",
        )
        .orderBy("check_name")
    )


@query(
    "fk_integrity_audit",
    oracle="""
SELECT 'lineitem.orderkey->orders' AS relationship,
       (SELECT COUNT(*) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_orderkey = l.l_orderkey)) AS n_orphans,
       (SELECT COUNT(*) FROM lineitem) AS n_rows
UNION ALL
SELECT 'orders.custkey->customer',
       (SELECT COUNT(*) FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM customer c
                          WHERE c.c_custkey = o.o_custkey)),
       (SELECT COUNT(*) FROM orders)
UNION ALL
SELECT 'customer.nationkey->nation',
       (SELECT COUNT(*) FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM nation n
                          WHERE n.n_nationkey = c.c_nationkey)),
       (SELECT COUNT(*) FROM customer)
UNION ALL
SELECT 'supplier.nationkey->nation',
       (SELECT COUNT(*) FROM supplier s
        WHERE NOT EXISTS (SELECT 1 FROM nation n
                          WHERE n.n_nationkey = s.s_nationkey)),
       (SELECT COUNT(*) FROM supplier)
UNION ALL
SELECT 'lineitem.partkey->part',
       (SELECT COUNT(*) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM part p
                          WHERE p.p_partkey = l.l_partkey)),
       (SELECT COUNT(*) FROM lineitem)
ORDER BY relationship
""",
    tags=("lakehouse", "data-quality", "referential-integrity"),
    bench=False,
)
def fk_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across the star schema: orphan
    counts per FK relationship via LEFT ANTI joins (each one shuffle
    or broadcast — Catalyst picks; nation/part/customer are
    broadcast-sized dims). The report a warehouse runs before
    trusting joins for training-data extraction."""
    from pyspark.sql import functions as F

    from crypto_lakehouse_spark.io import load_table

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    supp = load_table(spark, sf_dir, "supplier")
    part = load_table(spark, sf_dir, "part")

    def audit(name, child, child_key, parent, parent_key):
        orphans = child.join(
            parent, child[child_key] == parent[parent_key], "left_anti"
        ).count()
        return (name, orphans, child.count())

    rows = [
        audit("lineitem.orderkey->orders", li, "l_orderkey", orders, "o_orderkey"),
        audit("orders.custkey->customer", orders, "o_custkey", cust, "c_custkey"),
        audit("customer.nationkey->nation", cust, "c_nationkey", nation, "n_nationkey"),
        audit("supplier.nationkey->nation", supp, "s_nationkey", nation, "n_nationkey"),
        audit("lineitem.partkey->part", li, "l_partkey", part, "p_partkey"),
    ]
    return spark.createDataFrame(
        rows, "relationship STRING, n_orphans BIGINT, n_rows BIGINT"
    ).orderBy("relationship")


@query(
    "versioned_history_report",
    oracle="""
WITH src AS (
    SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
    WHERE o_orderkey % 4 = 0
),
ver AS (
    SELECT 0 AS version, 'overwrite' AS op,
           (SELECT COUNT(*) FROM src) AS n_rows
    UNION ALL
    SELECT 1, 'append',
           (SELECT COUNT(*) FROM src)
           + (SELECT COUNT(*) FROM orders WHERE o_orderkey % 4 = 1)
    UNION ALL
    SELECT 2, 'merge',
           (SELECT COUNT(*) FROM src)
           + (SELECT COUNT(*) FROM orders WHERE o_orderkey % 4 = 1)
    UNION ALL
    SELECT 3, 'restore(v0)', (SELECT COUNT(*) FROM src)
)
SELECT version, op, n_rows FROM ver ORDER BY version
""",
    tags=("lakehouse", "history", "time-travel", "versioned"),
    bench=False,
)
def versioned_history_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DESCRIBE HISTORY analog as a query: drive a versioned table
    through overwrite -> append -> merge -> restore and report each
    commit's op plus its snapshot's row count (time travel exercised
    for every version). Wall-clock timestamps and physical file
    counts are excluded from the report — only the deterministic
    ledger is value-checked."""
    from pyspark.sql import functions as F

    from crypto_lakehouse_spark.pipeline.versioned import VersionedTable

    register_views(spark, sf_dir, ["orders"])
    base = spark.sql(
        "SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders "
        "WHERE o_orderkey % 4 = 0"
    )
    extra = spark.sql(
        "SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders "
        "WHERE o_orderkey % 4 = 1"
    )
    upd = base.withColumn("o_totalprice", F.col("o_totalprice") + 1)

    t = VersionedTable(spark, scratch_dir("hist_q_") + "/t")
    t.overwrite(base)       # v0
    t.append(extra)         # v1
    t.merge(upd, keys=["o_orderkey"])  # v2 (updates only: row count stable)
    t.restore(0)            # v3

    rows = [
        (h["version"], h["op"], t.read(version=h["version"]).count())
        for h in t.history()
    ]
    return spark.createDataFrame(
        rows, "version BIGINT, op STRING, n_rows BIGINT"
    ).orderBy("version")


@query(
    "zorder_clustered_scan",
    oracle="""
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(MIN(event_id) AS BIGINT) AS min_id,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS value_sum
FROM events
WHERE epoch_us(ts) // 60000000 BETWEEN 28414080 AND 28421280
  AND value BETWEEN 100.0 AND 200.0
GROUP BY event_type
ORDER BY event_type
""",
    tags=("lakehouse", "zorder", "data-skipping"),
    bench=False,  # write-path demo; convention: storage-layer queries stay out of bench
)
def zorder_clustered_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end OPTIMIZE ZORDER proof over a real VersionedTable
    (VERDICT r5 item 4): events land in the table, a Morton-clustered
    rewrite follows (`optimize(cluster_by=["tmin", "value"])`), and
    the bounded read goes through `files_for_scan` 2-D skipping plus
    the residual row filter — the returned aggregate must equal the
    plain relational filter over the source, whatever the file layout
    did. (The file-count pruning assertions live in
    tests/test_versioned.py; DuckDB cannot observe file layouts.)
    tmin bounds are minutes-since-epoch for 2024-01-10 .. 2024-01-15."""
    from pyspark.sql import functions as F

    from crypto_lakehouse_spark.io import load_table
    from crypto_lakehouse_spark.pipeline.versioned import VersionedTable

    events = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        (F.unix_micros("ts") / F.lit(60_000_000)).cast("bigint").alias("tmin"),
        "value",
    )
    t = VersionedTable(spark, scratch_dir("zorder_q_") + "/t")
    t.overwrite(events.repartition(8))
    t.optimize(target_file_mb=0.2, cluster_by=["tmin", "value"])
    lo_t, hi_t = 28_414_080, 28_421_280
    bounded = t.read(between={"tmin": (lo_t, hi_t), "value": (100.0, 200.0)})
    return (
        bounded.filter(
            F.col("tmin").between(lo_t, hi_t)
            & F.col("value").between(100.0, 200.0)
        )
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
    "versioned_delete_result",
    oracle="""
WITH target AS (
    SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
    FROM orders
    WHERE NOT (o_orderstatus = 'F' AND CAST(o_totalprice AS DECIMAL(18,4)) > 150000.0)
)
SELECT o_orderstatus AS status,
       COUNT(*) AS n_orders,
       CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS price_sum
FROM target
GROUP BY o_orderstatus
ORDER BY status
""",
    tags=("lakehouse", "delete", "cow"),
    bench=False,  # write-path demo; convention: storage-layer queries stay out of bench
)
def versioned_delete_result(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level COW DELETE through the versioned table layer (round
    6): orders land in a partitioned VersionedTable, `DELETE WHERE
    status='F' AND price>150k` rewrites only files containing matches
    (find-files via one predicate-pushed input_file_name scan —
    Delta's DELETE shape), and the STORED post-delete state is
    returned. The oracle is the complement filter over the source —
    if the rewrite dropped a carried file or kept a deleted row, the
    hash diverges. Pre-delete history remains readable (asserted in
    tests/test_versioned.py)."""
    from pyspark.sql import functions as F

    from crypto_lakehouse_spark.io import load_table
    from crypto_lakehouse_spark.pipeline.versioned import VersionedTable

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority"
    )
    t = VersionedTable(
        spark,
        scratch_dir("vdel_q_") + "/t",
        partition_by=["o_orderpriority"],
    )
    t.overwrite(orders.repartition(4))
    t.delete("o_orderstatus = 'F' AND CAST(o_totalprice AS DECIMAL(18,4)) > 150000.0")
    return (
        t.read()
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            F.min("o_orderkey").alias("min_key"),
            F.sum(F.col("o_totalprice").cast("decimal(18,4)")).alias("price_sum"),
        )
        .select(
            F.col("o_orderstatus").alias("status"),
            "n_orders",
            "min_key",
            F.col("price_sum").cast("double").alias("price_sum"),
        )
        .orderBy("status")
    )


@query(
    "versioned_update_result",
    oracle="""
WITH target AS (
    SELECT o_orderkey,
           CASE WHEN o_orderstatus = 'P'
                THEN 'PENDING' ELSE o_orderstatus END AS o_orderstatus,
           CASE WHEN o_orderstatus = 'P'
                THEN CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 2 AS DOUBLE)
                ELSE CAST(CAST(o_totalprice AS DECIMAL(18,4)) AS DOUBLE)
           END AS o_totalprice,
           o_orderpriority
    FROM orders
)
SELECT o_orderstatus AS status,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS price_sum
FROM target
GROUP BY o_orderstatus
ORDER BY status
""",
    tags=("lakehouse", "update", "cow"),
    bench=False,  # write-path demo; convention: storage-layer queries stay out of bench
)
def versioned_update_result(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level COW UPDATE through the versioned table layer (round
    6): `UPDATE SET status='PENDING', price=price*2 WHERE status='P'`
    rewrites only files containing 'P' rows (find-files + file-local
    transform, Delta's UPDATE shape); the STORED post-update state
    must equal the CASE-WHEN relational oracle. Decimal discipline:
    price is stored DECIMAL(18,4)-rounded on write so both engines
    fold identical values."""
    from pyspark.sql import functions as F

    from crypto_lakehouse_spark.io import load_table
    from crypto_lakehouse_spark.pipeline.versioned import VersionedTable

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("decimal(18,4)").cast("double").alias("o_totalprice"),
        "o_orderpriority",
    )
    t = VersionedTable(
        spark,
        scratch_dir("vupd_q_") + "/t",
        partition_by=["o_orderpriority"],
    )
    t.overwrite(orders.repartition(4))
    t.update(
        "o_orderstatus = 'P'",
        set={
            "o_orderstatus": "'PENDING'",
            "o_totalprice": "CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 2 AS DOUBLE)",
        },
    )
    return (
        t.read()
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


@query(
    "cdf_incremental_view_maintenance",
    oracle="""
WITH base AS (
    SELECT o_orderkey, o_orderstatus,
           CAST(o_totalprice AS DECIMAL(18,4)) AS price
    FROM orders
),
v1 AS (
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 10 = 0 THEN 'U1' ELSE o_orderstatus END AS status,
           CASE WHEN o_orderkey % 10 = 0 THEN price + 100 ELSE price END AS price
    FROM base
),
v2 AS (SELECT * FROM v1 WHERE o_orderkey % 100 <> 0)
SELECT status,
       COUNT(*) AS n_orders,
       CAST(SUM(price) AS DOUBLE) AS price_sum
FROM v2
GROUP BY status
ORDER BY status
""",
    tags=("lakehouse", "cdf", "incremental-view-maintenance"),
    bench=False,  # write-path demo; convention: storage-layer queries stay out of bench
)
def cdf_incremental_view_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance over the change feed (round 6) —
    the reason CDF exists: a downstream aggregate is maintained by
    applying SIGNED contributions from `table_changes` batches
    (+post/+insert, -pre/-delete) instead of recomputing from the
    table. History: v0 full load -> v1 MERGE updating every 10th key
    (status 'U1', price +100) -> v2 DELETE of every 100th key. The
    query aggregates the v0 snapshot once, folds in the two change
    batches, and must land EXACTLY on the relational recompute of the
    final state (the oracle) — any missed/doubled change row diverges
    the hash. At 100 TB the change batches are deltas, not snapshots:
    maintenance cost tracks churn, not table size."""
    from pyspark.sql import functions as F

    from crypto_lakehouse_spark.io import load_table
    from crypto_lakehouse_spark.pipeline.versioned import VersionedTable

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").cast("decimal(18,4)").alias("price"),
    )
    t = VersionedTable(spark, scratch_dir("ivm_q_") + "/t")
    t.overwrite(orders.repartition(4))  # v0
    upd = orders.filter(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey",
        F.lit("U1").alias("status"),
        (F.col("price") + 100).cast("decimal(18,4)").alias("price"),
    )
    t.merge(upd, keys=["o_orderkey"])  # v1
    t.delete("o_orderkey % 100 = 0")  # v2

    agg0 = (
        t.read(version=0)
        .groupBy("status")
        .agg(
            F.count("*").alias("n"),
            F.sum("price").alias("s"),
        )
    )
    # On an empty input table the MERGE/DELETE above skip their commits
    # (nothing matched — no version published), so walk the ACTUAL
    # version chain instead of assuming v0..v2 exist.
    vs = t.versions()
    hops = [
        t.table_changes(["o_orderkey"], a, b) for a, b in zip(vs, vs[1:])
    ]
    if not hops:
        return (
            agg0.select(
                "status",
                F.col("n").alias("n_orders"),
                F.col("s").cast("double").alias("price_sum"),
            )
            .filter(F.col("n_orders") > 0)
            .orderBy("status")
        )
    changes = hops[0]
    for h in hops[1:]:
        changes = changes.unionByName(h)
    signed = changes.select(
        "status",
        F.when(
            F.col("_change_type").isin("insert", "update_postimage"), F.lit(1)
        )
        .otherwise(F.lit(-1))
        .alias("sign"),
        "price",
    )
    deltas = signed.groupBy("status").agg(
        F.sum("sign").alias("dn"),
        F.sum(F.col("sign") * F.col("price")).alias("ds"),
    )
    merged = (
        agg0.join(deltas, "status", "full_outer")
        .select(
            "status",
            (F.coalesce(F.col("n"), F.lit(0)) + F.coalesce(F.col("dn"), F.lit(0))).alias("n_orders"),
            (
                F.coalesce(F.col("s"), F.lit(0).cast("decimal(18,4)"))
                + F.coalesce(F.col("ds"), F.lit(0).cast("decimal(18,4)"))
            ).alias("price_sum"),
        )
        .filter(F.col("n_orders") > 0)
    )
    return merged.select(
        "status",
        "n_orders",
        F.col("price_sum").cast("double").alias("price_sum"),
    ).orderBy("status")


@query(
    "bloom_point_lookup",
    oracle="""
SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
       o_orderstatus,
       CAST(CAST(o_totalprice AS DECIMAL(18,4)) AS DOUBLE) AS o_totalprice
FROM orders
WHERE md5(CAST(o_orderkey AS VARCHAR)) = md5('1000')
ORDER BY o_orderkey
""",
    tags=("lakehouse", "bloom-index", "point-lookup"),
    bench=False,  # write-path demo; convention: storage-layer queries stay out of bench
)
def bloom_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point lookup through the Bloom file index (round 6): orders are
    stored under an md5 surrogate key in RANDOM layout (min/max spans
    every file — stats-skipping is useless), and the lookup goes
    through `read(point={...})`, which prunes files via the per-file
    Blooms recorded at write time and applies the residual equality
    filter. The oracle is the plain relational lookup — a Bloom false
    PRUNE (losing the row) or a broken residual filter (extra rows)
    both diverge the hash. File-count pruning is asserted in
    tests/test_versioned.py."""
    from pyspark.sql import functions as F

    from crypto_lakehouse_spark.io import load_table
    from crypto_lakehouse_spark.pipeline.versioned import VersionedTable

    orders = load_table(spark, sf_dir, "orders").select(
        F.md5(F.col("o_orderkey").cast("string")).alias("key"),
        "o_orderkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("decimal(18,4)").cast("double").alias("o_totalprice"),
    )
    t = VersionedTable(
        spark, scratch_dir("bloom_q_") + "/t", bloom_columns=["key"]
    )
    t.overwrite(orders.repartition(16))
    import hashlib

    probe = hashlib.md5(b"1000").hexdigest()
    return (
        t.read(point={"key": probe})
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .orderBy("o_orderkey")
    )


@query(
    "timestamp_time_travel",
    oracle="""
SELECT o_orderstatus AS status,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS price_sum
FROM orders
GROUP BY o_orderstatus
ORDER BY status
""",
    tags=("lakehouse", "time-travel", "timestamp-as-of"),
    bench=False,  # write-path demo; convention: storage-layer queries stay out of bench
)
def timestamp_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIMESTAMP AS OF (round 6): commit v0 (full orders), capture a
    wall-clock instant, commit v1 (a status-mangling overwrite), then
    read AS OF the captured instant — the result must be v0's exact
    contents (the oracle over the unmangled source), proving
    version_as_of resolves to the pre-overwrite snapshot."""
    import time as _time

    from pyspark.sql import functions as F

    from crypto_lakehouse_spark.io import load_table
    from crypto_lakehouse_spark.pipeline.versioned import VersionedTable

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("decimal(18,4)").alias("o_totalprice"),
    )
    t = VersionedTable(spark, scratch_dir("tstt_q_") + "/t")
    t.overwrite(orders.repartition(4))  # v0
    mid = _time.time()
    _time.sleep(0.05)
    t.overwrite(orders.withColumn("o_orderstatus", F.lit("MANGLED")))  # v1
    return (
        t.read(version=t.version_as_of(mid))
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum("o_totalprice").alias("price_sum"),
        )
        .select(
            F.col("o_orderstatus").alias("status"),
            "n_orders",
            F.col("price_sum").cast("double").alias("price_sum"),
        )
        .orderBy("status")
    )


@query(
    "row_tracking_lineage",
    oracle="""
WITH init AS (
    SELECT o_orderkey, o_orderstatus, o_totalprice,
           ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS rid
    FROM orders
    WHERE o_orderkey % 4 = 0
),
after_delete AS (
    SELECT * FROM init
    WHERE NOT (o_orderstatus = 'F'
               AND CAST(o_totalprice AS DECIMAL(18,4)) > 150000.0)
),
after_update AS (
    SELECT o_orderkey, o_orderstatus,
           CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice * 2
                ELSE o_totalprice END AS o_totalprice,
           rid
    FROM after_delete
),
merged AS (
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 10 = 0 THEN 'X'
                ELSE o_orderstatus END AS o_orderstatus,
           CASE WHEN o_orderkey % 10 = 0 THEN 999999.0
                ELSE o_totalprice END AS o_totalprice,
           rid
    FROM after_update
    UNION ALL
    SELECT 9000000 + i, 'N', CAST(9000000 + i AS DOUBLE), NULL
    FROM range(1, 21) t(i)
)
SELECT o_orderkey,
       o_orderstatus,
       CAST(o_totalprice AS DOUBLE) AS price,
       CAST(COALESCE(rid, -1) AS BIGINT) AS stable_id,
       (rid IS NULL) AS is_fresh
FROM merged
ORDER BY o_orderkey
""",
    tags=("lakehouse", "row-tracking", "merge", "dml"),
    bench=False,  # write-path demo; storage-layer queries stay out of bench
)
def row_tracking_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta row-tracking analog, end-to-end through the DML ladder
    (round 13): orders land in a row-tracked VersionedTable as ONE
    sorted file (so the initial stable id is provably
    rank(o_orderkey)-1), then COW DELETE -> UPDATE -> MERGE
    (matched update + 20 inserts) -> compact. Surviving rows must
    still carry their CREATION id (rewrites materialize ids into the
    new files; merge hands a matched row's id to its replacement);
    inserted rows must draw FRESH ids >= the initial next counter.
    The oracle replays the same lineage in SQL with
    rid = ROW_NUMBER()-1: survivors report stable_id = rid,
    inserts report stable_id = -1 / is_fresh = true (their concrete
    ids depend on physical row placement, which is the one
    deliberately unpinned degree of freedom). Uniqueness + the
    concrete-id invariants across compact/OPTIMIZE/restore/clone are
    pinned in tests/test_versioned_row_tracking.py."""
    from crypto_lakehouse_spark.io import load_table
    from crypto_lakehouse_spark.pipeline.versioned import VersionedTable

    orders = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .filter("o_orderkey % 4 = 0")
    )
    t = VersionedTable(
        spark, scratch_dir("rowtrack_q_") + "/t", row_tracking=True
    )
    t.overwrite(orders.coalesce(1).sortWithinPartitions("o_orderkey"))
    n0 = t._load(0)["row_tracking"]["next"]
    t.delete(
        "o_orderstatus = 'F' AND CAST(o_totalprice AS DECIMAL(18,4)) "
        "> 150000.0"
    )
    t.update("o_orderkey % 3 = 0", {"o_totalprice": "o_totalprice * 2"})
    matched = (
        t.read()
        .filter("o_orderkey % 10 = 0")
        .select(
            "o_orderkey",
            F.lit("X").alias("o_orderstatus"),
            F.lit(999999.0).alias("o_totalprice"),
        )
    )
    inserts = spark.range(1, 21).select(
        (F.col("id") + 9000000).alias("o_orderkey"),
        F.lit("N").alias("o_orderstatus"),
        (F.col("id") + 9000000).cast("double").alias("o_totalprice"),
    )
    t.merge(matched.unionByName(inserts), keys=["o_orderkey"])
    t.compact()
    return (
        t.read(with_row_ids=True)
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.col("o_totalprice").cast("double").alias("price"),
            F.when(F.col("_row_id") < n0, F.col("_row_id"))
            .otherwise(F.lit(-1))
            .cast("bigint")
            .alias("stable_id"),
            (F.col("_row_id") >= n0).alias("is_fresh"),
        )
        .orderBy("o_orderkey")
    )


@query(
    "cdf_by_row_id_lineage",
    oracle="""
WITH init AS (
    SELECT o_orderkey, o_orderstatus, o_totalprice,
           ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS rid
    FROM orders
    WHERE o_orderkey % 4 = 0
),
after_delete AS (
    SELECT * FROM init
    WHERE NOT (o_orderstatus = 'F'
               AND CAST(o_totalprice AS DECIMAL(18,4)) > 150000.0)
),
final AS (
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 10 = 0 THEN 'X'
                ELSE o_orderstatus END AS o_orderstatus,
           CASE WHEN o_orderkey % 10 = 0 THEN 999999.0
                WHEN o_orderkey % 3 = 0 THEN o_totalprice * 2
                ELSE o_totalprice END AS o_totalprice,
           rid
    FROM after_delete
),
changed AS (
    SELECT f.rid FROM final f JOIN init i ON i.rid = f.rid
    WHERE f.o_orderstatus <> i.o_orderstatus
       OR f.o_totalprice <> i.o_totalprice
),
out AS (
    SELECT o_orderkey, o_orderstatus,
           CAST(o_totalprice AS DOUBLE) AS price,
           'delete' AS _change_type
    FROM init
    WHERE o_orderstatus = 'F'
      AND CAST(o_totalprice AS DECIMAL(18,4)) > 150000.0
    UNION ALL
    SELECT i.o_orderkey, i.o_orderstatus,
           CAST(i.o_totalprice AS DOUBLE), 'update_preimage'
    FROM init i JOIN changed c ON c.rid = i.rid
    UNION ALL
    SELECT f.o_orderkey, f.o_orderstatus,
           CAST(f.o_totalprice AS DOUBLE), 'update_postimage'
    FROM final f JOIN changed c ON c.rid = f.rid
    UNION ALL
    SELECT 9000000 + i, 'N', CAST(9000000 + i AS DOUBLE), 'insert'
    FROM range(1, 21) t(i)
)
SELECT * FROM out ORDER BY o_orderkey, _change_type
""",
    tags=("lakehouse", "row-tracking", "cdf", "cdc"),
    bench=False,  # write-path demo; storage-layer queries stay out of bench
)
def cdf_by_row_id_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-less CDC through row tracking (round 13): the same DML
    lineage as `row_tracking_lineage` (sorted single-file seed ->
    COW DELETE -> UPDATE -> MERGE -> compact), then
    `table_changes_by_row_id(0)` classifies every row change with NO
    user key — `_row_id` is the join identity. The oracle replays
    the lineage and derives the exact change set: DELETE-hit rows as
    'delete' pre-images, rows whose (status, price) differ between
    v0 and head as an update pre/post pair, the 20 merge inserts as
    'insert'. The trailing compact MUST contribute zero rows (a
    layout rewrite is invisible to row-id CDC — pinned here
    end-to-end, and unprovable by key-less value diffing)."""
    from crypto_lakehouse_spark.io import load_table
    from crypto_lakehouse_spark.pipeline.versioned import VersionedTable

    orders = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .filter("o_orderkey % 4 = 0")
    )
    t = VersionedTable(
        spark, scratch_dir("cdfrow_q_") + "/t", row_tracking=True
    )
    t.overwrite(orders.coalesce(1).sortWithinPartitions("o_orderkey"))
    t.delete(
        "o_orderstatus = 'F' AND CAST(o_totalprice AS DECIMAL(18,4)) "
        "> 150000.0"
    )
    t.update("o_orderkey % 3 = 0", {"o_totalprice": "o_totalprice * 2"})
    matched = (
        t.read()
        .filter("o_orderkey % 10 = 0")
        .select(
            "o_orderkey",
            F.lit("X").alias("o_orderstatus"),
            F.lit(999999.0).alias("o_totalprice"),
        )
    )
    inserts = spark.range(1, 21).select(
        (F.col("id") + 9000000).alias("o_orderkey"),
        F.lit("N").alias("o_orderstatus"),
        (F.col("id") + 9000000).cast("double").alias("o_totalprice"),
    )
    t.merge(matched.unionByName(inserts), keys=["o_orderkey"])
    t.compact()
    return (
        t.table_changes_by_row_id(0)
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.col("o_totalprice").cast("double").alias("price"),
            "_change_type",
        )
        .orderBy("o_orderkey", "_change_type")
    )


@query(
    "equality_delete_result",
    oracle="""
WITH kept AS (
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM orders WHERE o_orderkey % 13 <> 0
    UNION ALL
    SELECT o_orderkey, 'R' AS o_orderstatus, 1.0 AS o_totalprice
    FROM orders WHERE o_orderkey % 26 = 0
)
SELECT o_orderstatus AS status,
       COUNT(*) AS n_orders,
       CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS price_sum
FROM kept
GROUP BY o_orderstatus
ORDER BY status
""",
    tags=("lakehouse", "equality-delete", "merge-on-read"),
    bench=False,  # write-path demo; storage-layer queries stay out of bench
)
def equality_delete_result(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg-v2-style equality delete through the versioned table
    layer (round 13): orders land in a partitioned VersionedTable,
    `delete_eq` suppresses every row whose o_orderkey is in a
    value set (keys % 13 = 0) as an O(|values|) METADATA commit — no
    data file read or rewritten — then half of the deleted keys
    (% 26 = 0) are RE-APPENDED with fresh values. The appended rows
    must be visible despite carrying deleted key values (the Iceberg
    sequence-number rule: an equality delete covers only files that
    existed when it was committed). The oracle is the complement
    filter plus the appended rows; a resurrection of eq-deleted
    originals, a kill of the re-appended rows, or a missed delete all
    diverge the hash. Fold-away via OPTIMIZE, composition with DVs /
    row tracking / restore / clone are pinned in
    tests/test_versioned_eq_delete.py."""
    from crypto_lakehouse_spark.io import load_table
    from crypto_lakehouse_spark.pipeline.versioned import VersionedTable

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority"
    )
    t = VersionedTable(
        spark,
        scratch_dir("eqdel_q_") + "/t",
        partition_by=["o_orderpriority"],
    )
    t.overwrite(orders.repartition(4))
    t.delete_eq(
        ["o_orderkey"], orders.filter("o_orderkey % 13 = 0")
    )
    t.append(
        orders.filter("o_orderkey % 26 = 0").select(
            "o_orderkey",
            F.lit("R").alias("o_orderstatus"),
            F.lit(1.0).alias("o_totalprice"),
            "o_orderpriority",
        )
    )
    return (
        t.read()
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            F.min("o_orderkey").alias("min_key"),
            F.sum(F.col("o_totalprice").cast("decimal(18,4)")).alias("ps"),
        )
        .select(
            F.col("o_orderstatus").alias("status"),
            "n_orders",
            "min_key",
            F.col("ps").cast("double").alias("price_sum"),
        )
        .orderBy("status")
    )


@query(
    "metadata_only_stats",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
       CAST(MAX(o_orderkey) AS BIGINT) AS max_key,
       CAST(MIN(o_totalprice) AS DOUBLE) AS min_price,
       CAST(MAX(o_totalprice) AS DOUBLE) AS max_price
FROM orders
""",
    tags=("lakehouse", "metadata-only", "data-skipping"),
    bench=False,  # write-path demo; storage-layer queries stay out of bench
)
def metadata_only_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only aggregation (round 13): orders land in a
    partitioned VersionedTable across many files, and
    `summarize_metadata` answers COUNT(*) / MIN / MAX from the
    manifest's footer stats and row counts alone — zero data bytes
    read, zero Spark jobs, the Delta/Iceberg log-answered-query
    optimization. The oracle computes the same aggregates by actually
    scanning: any divergence between harvested footer stats and the
    true extremes (or any count drift across the multi-file
    partitioned write) breaks the hash. The exactness contract
    (refusal under outstanding DVs / equality deletes / added-column
    defaults) is pinned in tests/test_versioned_eq_delete.py."""
    from crypto_lakehouse_spark.io import load_table
    from crypto_lakehouse_spark.pipeline.versioned import VersionedTable

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority"
    )
    t = VersionedTable(
        spark,
        scratch_dir("metastats_q_") + "/t",
        partition_by=["o_orderpriority"],
    )
    t.overwrite(orders.repartition(4))
    return t.summarize_metadata(["o_orderkey", "o_totalprice"]).select(
        F.col("n_rows").cast("bigint").alias("n_rows"),
        F.col("min_o_orderkey").cast("bigint").alias("min_key"),
        F.col("max_o_orderkey").cast("bigint").alias("max_key"),
        F.col("min_o_totalprice").cast("double").alias("min_price"),
        F.col("max_o_totalprice").cast("double").alias("max_price"),
    )


@query(
    "incremental_cluster_scan",
    oracle="""
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(MIN(event_id) AS BIGINT) AS min_id,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS value_sum
FROM events
WHERE value BETWEEN 10.0 AND 50.0 AND user_id BETWEEN 100 AND 500
GROUP BY event_type
ORDER BY event_type
""",
    tags=("lakehouse", "clustering", "data-skipping", "incremental"),
    bench=False,  # write-path demo; storage-layer queries stay out of bench
)
def incremental_cluster_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental clustering end-to-end (round 13): half of events
    lands and is z-clustered on (value, user_id) — recording bounds
    and the clustered set — then the other half appends and
    `optimize_incremental()` z-sorts ONLY the new files over the SAME
    recorded bounds, leaving the first generation byte-identical. A
    2-D box read (`between` on both cluster dimensions) then runs
    through manifest-stats file skipping across BOTH generations plus
    the residual filter. The oracle is the direct box filter over the
    source: a file wrongly pruned (skipping unsound), a row lost or
    duplicated by the incremental rewrite, or stale-generation
    resurrection all diverge the hash. Layout invariants (clustered
    files carried byte-identical, one z-space across increments) are
    pinned in tests/test_versioned_incremental_cluster.py."""
    from crypto_lakehouse_spark.io import load_table
    from crypto_lakehouse_spark.pipeline.versioned import VersionedTable

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    t = VersionedTable(spark, scratch_dir("inccl_q_") + "/t")
    t.overwrite(ev.filter("event_id % 2 = 0").repartition(4))
    t.optimize_incremental(cluster_by=["value", "user_id"], target_file_mb=0.2)
    t.append(ev.filter("event_id % 2 = 1").repartition(4))
    t.optimize_incremental(target_file_mb=0.2)
    return (
        t.read(between={"value": (10.0, 50.0), "user_id": (100, 500)})
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.min("event_id").alias("min_id"),
            F.sum(F.col("value").cast("decimal(18,4)")).alias("vs"),
        )
        .select(
            "event_type",
            "n_events",
            "min_id",
            F.col("vs").cast("double").alias("value_sum"),
        )
        .orderBy("event_type")
    )


@query(
    "generated_partition_pruning",
    oracle="""
SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS event_date,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS value_sum
FROM events
WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-03' AND DATE '2024-01-05'
GROUP BY CAST(ts AS DATE), event_type
ORDER BY event_date, event_type
""",
    tags=("lakehouse", "generated-columns", "partition-pruning"),
    bench=False,  # write-path demo; storage-layer queries stay out of bench
)
def generated_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generated columns end-to-end (round 13, Delta GENERATED ALWAYS
    AS analog): events land in a VersionedTable PARTITIONED BY a
    generated `event_date = CAST(ts AS DATE)` the writer never
    supplies — the flagship Delta pattern. The engine computes the
    column at write (so `col=value` partition dirs materialize), and
    the `between` read prunes partitions at the manifest level before
    the residual filter. The oracle recomputes the same aggregate from
    raw events with the explicit date cast: a wrong generated value, a
    dropped/extra partition, or unsound pruning all diverge the hash.
    Validation/recompute/backfill semantics are pinned in
    tests/test_versioned_generated.py."""
    from crypto_lakehouse_spark.io import load_table
    from crypto_lakehouse_spark.pipeline.versioned import VersionedTable

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    t = VersionedTable(
        spark,
        scratch_dir("genpart_q_") + "/t",
        partition_by=["event_date"],
        generated_columns={
            "event_date": {"expr": "CAST(ts AS DATE)", "type": "date"}
        },
    )
    t.overwrite(ev)
    return (
        t.read(between={"event_date": ("2024-01-03", "2024-01-05")})
        .groupBy("event_date", "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).alias("vs"),
        )
        .select(
            F.col("event_date").cast("string").alias("event_date"),
            "event_type",
            "n_events",
            F.col("vs").cast("double").alias("value_sum"),
        )
        .orderBy("event_date", "event_type")
    )
