"""End-to-end medallion pipeline on the sf0.001 feed: ingest (with
DLQ), silver invariants (the reference's Great Expectations suite as
assertions, SURVEY §5.4), gold builds, incremental re-runs."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from crypto_lakehouse_spark.pipeline.lakehouse import Lakehouse
from crypto_lakehouse_spark.sources.trade_feed import trade_feed

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def lakehouse(spark, tmp_path_factory):
    lh = Lakehouse(spark, str(tmp_path_factory.mktemp("warehouse")))
    lh.run_all(trade_feed(spark, SF))
    return lh


def test_dlq_captured_malformed(lakehouse):
    dlq = lakehouse.dlq.read()
    assert dlq.count() > 0
    assert dlq.filter(F.col("error") == "json_parse_error").count() == dlq.count()


def test_bronze_keeps_duplicates_and_drops_heartbeats(lakehouse, spark):
    b = lakehouse.bronze.read()
    # dups kept in bronze (dedup deferred to silver, T6)
    assert b.count() > b.select("trade_id").distinct().count()
    assert b.filter(F.col("trade_id").isNull()).count() == 0


def test_silver_invariants(lakehouse):
    s = lakehouse.silver.read()
    n = s.count()
    assert n > 0
    assert s.select("trade_id").distinct().count() == n  # unique
    assert s.filter(~F.col("side").isin("buy", "sell")).count() == 0
    assert s.filter(F.col("price") <= 0).count() == 0
    assert s.filter(F.col("size") <= 0).count() == 0
    assert s.filter(F.col("trade_time").isNull()).count() == 0
    assert s.filter(F.col("_source_latency_ms") < 0).count() == 0
    # keep-first dedup: the kept copy is the earliest ingestion
    assert s.filter(F.col("_kafka_offset") >= 10_000_000).count() == 0 if "_kafka_offset" in s.columns else True


def test_late_arrival_flags(lakehouse):
    s = lakehouse.silver.read()
    late = s.filter(F.col("_is_late_arrival"))
    assert late.count() > 0
    assert late.filter(F.col("_source_latency_ms") <= 300_000).count() == 0


def test_ohlcv_consistency(lakehouse):
    m = lakehouse.gold["ohlcv_1m"].read()
    h = lakehouse.gold["ohlcv_1h"].read()
    assert m.filter(F.col("high") < F.col("low")).count() == 0
    assert m.filter((F.col("open") > F.col("high")) | (F.col("open") < F.col("low"))).count() == 0
    # volume conservation: sum of minute volumes == sum of hour volumes
    vm = m.agg(F.sum("volume")).first()[0]
    vh = h.agg(F.sum("volume")).first()[0]
    assert vm == vh
    # trade_count conservation vs silver row count
    assert m.agg(F.sum("trade_count")).first()[0] == lakehouse.silver.read().count()


def test_price_latest_one_row_per_product(lakehouse):
    p = lakehouse.gold["price_latest"].read()
    assert p.count() == p.select("product_id").distinct().count()
    assert p.filter(F.col("price").isNull()).count() == 0


def test_price_latest_values(spark, tmp_path):
    """Each price_latest row on a hand-built silver: a trade_time tie
    goes to the higher trade_id (not to the higher trade_id at an
    earlier time), a product whose trades are all older than 24 h keeps
    its latest price with NULL 24 h stats, and the 24 h stats count only
    trades at or after `now` - 24 h."""
    from datetime import datetime, timedelta
    from decimal import Decimal as D

    lh = Lakehouse(spark, str(tmp_path / "warehouse"))
    now = datetime(2024, 3, 2, 12, 0, 0)
    t_tie = now - timedelta(minutes=5)

    def trade(trade_id, product, price, size, t):
        return (trade_id, product, D(price), D(size), "buy", t, t, 0, False, t.date())

    rows = [
        trade(10, "TIE", "5", "1", t_tie),
        trade(11, "TIE", "7", "2", t_tie),
        trade(12, "TIE", "9", "3", t_tie - timedelta(hours=1)),
        trade(20, "OLD", "3", "1", now - timedelta(hours=30)),
        trade(21, "OLD", "4", "1", now - timedelta(hours=48)),
        trade(30, "PLAIN", "8", "1.5", now - timedelta(hours=2)),
        trade(31, "PLAIN", "6", "2.5", now - timedelta(hours=1)),
        trade(32, "PLAIN", "100", "9", now - timedelta(hours=25)),
    ]
    lh.silver.overwrite(
        spark.createDataFrame(
            rows,
            "trade_id BIGINT, product_id STRING, price DECIMAL(18,8), size DECIMAL(18,8), "
            "side STRING, trade_time TIMESTAMP, ingested_at TIMESTAMP, "
            "_source_latency_ms BIGINT, _is_late_arrival BOOLEAN, _trade_date DATE",
        )
    )
    assert lh.build_price_latest(now=now) == 3
    got = {
        r.product_id: r.asDict()
        for r in lh.gold["price_latest"].read().collect()
    }
    assert got == {
        "TIE": {
            "product_id": "TIE", "price": D("7"), "updated_at": t_tie,
            "high_24h": D("9"), "low_24h": D("5"), "volume_24h": D("6"),
            "snapshot_time": now,
        },
        "OLD": {
            "product_id": "OLD", "price": D("3"), "updated_at": now - timedelta(hours=30),
            "high_24h": None, "low_24h": None, "volume_24h": None,
            "snapshot_time": now,
        },
        "PLAIN": {
            "product_id": "PLAIN", "price": D("6"), "updated_at": now - timedelta(hours=1),
            "high_24h": D("8"), "low_24h": D("6"), "volume_24h": D("4"),
            "snapshot_time": now,
        },
    }


def test_incremental_rerun_is_idempotent(lakehouse):
    before = lakehouse.silver.read().count()
    lakehouse.bronze_to_silver(lookback_hours=2)
    assert lakehouse.silver.read().count() == before
    m_before = lakehouse.gold["ohlcv_1m"].read().count()
    lakehouse.build_ohlcv("minute", lookback="2 HOURS")
    assert lakehouse.gold["ohlcv_1m"].read().count() == m_before


def test_incremental_merge_picks_up_new_data(lakehouse, spark):
    """Simulate a late batch: new trades after the watermark flow
    through silver and gold via the incremental path."""
    # A DataFrame held across the merge keeps reading the snapshot it
    # was read from: the merge commits new files, the old ones stay.
    s = lakehouse.silver.read()
    n_before = s.count()
    top = s.orderBy(F.col("trade_time").desc()).first()
    new = spark.createDataFrame(
        [
            (
                99_999_999,
                top.product_id,
                top.price,
                top.size,
                "buy",
                top.trade_time,
                top.ingested_at,
                0,
                False,
                top._trade_date,
            )
        ],
        lakehouse.silver.read().schema,
    )
    lakehouse.silver.merge(new, keys=["trade_id"])
    assert lakehouse.silver.read().count() == n_before + 1
    assert s.count() == n_before
    lakehouse.build_ohlcv("minute", lookback="2 HOURS")
    m = lakehouse.gold["ohlcv_1m"].read()
    assert m.agg(F.sum("trade_count")).first()[0] == lakehouse.silver.read().count()


def test_recorded_schema_matches_files(lakehouse, spark):
    """read() takes the schema the manifest recorded at write time
    instead of inferring it; for every pipeline table it must equal what
    the snapshot's files infer to: the same names, types, nullability
    and column order."""
    import os

    tables = [lakehouse.bronze, lakehouse.dlq, lakehouse.silver, *lakehouse.gold.values()]
    assert len(tables) == 7
    for t in tables:
        files, _ = t.files_for_scan()
        inferred = spark.read.option("basePath", t.path).parquet(
            *(os.path.join(t.path, f) for f in files)
        )
        assert t.read().schema == inferred.schema, t.path


def test_failed_silver_publish_keeps_previous_snapshot(spark, tmp_path, monkeypatch):
    """A silver MERGE whose manifest publish fails after its files are
    written leaves silver at its previous snapshot: the new files are
    orphans no read lists."""
    lh = Lakehouse(spark, str(tmp_path / "warehouse"))
    lh.ingest_feed(trade_feed(spark, SF))
    lh.bronze_to_silver(lookback_hours=None)
    version = lh.silver.current_version()
    before = sorted(lh.silver.read().collect())
    written = []
    write_files = lh.silver._write_files

    def record(df):
        files = write_files(df)
        written.extend(files)
        return files

    def fail(*args, **kwargs):
        raise RuntimeError("injected publish failure")

    monkeypatch.setattr(lh.silver, "_write_files", record)
    monkeypatch.setattr(lh.silver, "_publish", fail)
    with pytest.raises(RuntimeError, match="injected publish failure"):
        lh.bronze_to_silver(lookback_hours=None)
    assert written
    assert lh.silver.current_version() == version
    files, _ = lh.silver.files_for_scan()
    assert not set(written) & set(files)
    assert sorted(lh.silver.read().collect()) == before
