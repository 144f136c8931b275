"""`medallion_hourly`: feed -> bronze -> silver MERGE -> gold, as a
backfill and then as hourly ticks, the way PAPER.md runs it.

Set-up stages the `trade_feed` Kafka envelope (duplicates, heartbeats,
malformed rows) as parquet files: one history file holding every hour
before the tick window, and one file per tick hour held back until its
tick. A tick lands its file in the stream's stage directory, re-runs
the streaming ingest with the same stage and checkpoint directories,
then the incremental silver and gold builds. Set-up ends with a
pre-warm: the same backfill into a throwaway warehouse. The seed picks the tick window's start hour and
the row order within each file.

The output check rebuilds silver and the four gold tables in DuckDB
from the staged files, replaying the same lookback MERGEs tick by tick.
"""

from __future__ import annotations

import os
import shutil
import time

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from meter import (
    dir_bytes,
    median,
    op_count,
    overhead_pct,
    per_table,
    settle,
    slope,
    walk_files,
    written_since,
)

# The tick window starts 3 to 4 days into the 30-day feed, so the
# backfill always covers a similar history.
START_HOURS = (72, 96)
MAX_TICKS = 12
# Set-up pre-warms the JVM: it runs the backfill on a copy of the
# history into a throwaway warehouse, so that the timed backfill does
# not pay for loading and compiling its code. The run's seconds set the
# number of ticks, at WARM_TICK_S each (a tick's time on four cores),
# and at least MIN_TICKS.
WARM_TICK_S = 10.0
MIN_TICKS = 2
LOOKBACK_HOURS = 2

TABLES = ["events"]
STAGES = ["silver", "ohlcv_1m", "ohlcv_1h", "daily_metrics", "price_latest"]


def _backfill_calls(lh):
    return [
        ("silver", lambda: lh.bronze_to_silver(None)),
        ("ohlcv_1m", lambda: lh.build_ohlcv("minute", lookback=None)),
        ("ohlcv_1h", lambda: lh.build_ohlcv("hour", lookback=None)),
        ("daily_metrics", lh.build_daily_metrics),
        ("price_latest", lh.build_price_latest),
    ]


def _tick_calls(lh):
    return [
        ("silver", lambda: lh.bronze_to_silver(LOOKBACK_HOURS)),
        ("ohlcv_1m", lambda: lh.build_ohlcv("minute", f"{LOOKBACK_HOURS} HOURS")),
        ("ohlcv_1h", lambda: lh.build_ohlcv("hour", f"{LOOKBACK_HOURS} HOURS")),
        ("daily_metrics", lh.build_daily_metrics),
        ("price_latest", lh.build_price_latest),
    ]


def stage_feed(spark, data_dir: str, work: str, seed: int) -> dict:
    """Build the program's `trade_feed` and stage it as files."""
    from crypto_lakehouse_spark.sources.trade_feed import trade_feed

    return write_feed_files(trade_feed(spark, data_dir).toArrow(), work, seed)


def write_feed_files(feed: pa.Table, work: str, seed: int) -> dict:
    """Split the feed by arrival hour: the hours before the seeded start
    hour go into one history file in the stage directory, each of the
    next MAX_TICKS hours into its own file in a holding directory. Rows
    are shuffled within each file by the seed. The pre-warm gets a copy
    of the history file in a stage directory of its own. Returns the
    file plan."""
    rng = np.random.default_rng([seed, 100])
    hour = pc.floor_temporal(feed["ingested_at"], unit="hour")
    hours = sorted(set(hour.to_pylist()))
    start = int(rng.integers(*START_HOURS))
    stage, hold = os.path.join(work, "stage"), os.path.join(work, "hold")
    os.makedirs(stage)
    os.makedirs(hold)

    def write(mask, path: str) -> None:
        part = feed.filter(mask)
        part = part.take(pa.array(rng.permutation(part.num_rows)))
        pq.write_table(part, path)

    ts = hour.type
    history = os.path.join(stage, "h0000.parquet")
    write(pc.less(hour, pa.scalar(hours[start], ts)), history)
    ticks = []
    for i, h in enumerate(hours[start : start + MAX_TICKS], start=1):
        path = os.path.join(hold, f"h{i:04d}.parquet")
        write(pc.equal(hour, pa.scalar(h, ts)), path)
        ticks.append(path)
    pw = os.path.join(work, "prewarm")
    os.makedirs(os.path.join(pw, "stage"))
    shutil.copyfile(history, os.path.join(pw, "stage", os.path.basename(history)))
    return {
        "stage": stage,
        "history": history,
        "ticks": ticks,
        "start_hour": start,
        "prewarm": {"root": pw, "stage": os.path.join(pw, "stage")},
    }


def prewarm(spark, data_dir: str, pw: dict) -> None:
    """The backfill on the pre-warm copy of the history, into a
    warehouse that is deleted afterwards."""
    from crypto_lakehouse_spark.streaming.file_stream import run_stream_ingest

    wh, ckpt = os.path.join(pw["root"], "warehouse"), os.path.join(pw["root"], "checkpoint")
    lh = run_stream_ingest(spark, data_dir, wh, stage_dir=pw["stage"], ckpt_dir=ckpt)[0]
    for _, call in _backfill_calls(lh):
        call()
    shutil.rmtree(pw["root"])


def run(ctx) -> dict:
    """Set-up and pre-warm, then the backfill and the ticks."""
    from crypto_lakehouse_spark.io import load_table
    from crypto_lakehouse_spark.streaming.file_stream import run_stream_ingest

    spark, tr, work = ctx.spark, ctx.tracer, ctx.work
    with tr.span("io.load_table") as sp:
        load_table(spark, ctx.data_dir, "events")
    ctx.setup_layers["io.load_table_s"] = sp.duration
    with tr.span("sources.feed_stage") as sp:
        plan = stage_feed(spark, ctx.data_dir, work, ctx.seed)
    ctx.setup_layers["sources.feed_stage_s"] = sp.duration
    with tr.span("pipeline.prewarm", count_jobs=False) as sp:
        prewarm(spark, ctx.data_dir, plan["prewarm"])
    ctx.setup_layers["pipeline.prewarm_s"] = sp.duration
    feed_bytes = os.path.getsize(plan["history"]) + sum(os.path.getsize(p) for p in plan["ticks"])
    wh, ckpt = os.path.join(work, "warehouse"), os.path.join(work, "checkpoint")
    settle(spark)
    ctx.setup_done()

    def ingest():
        return run_stream_ingest(
            spark, ctx.data_dir, wh, stage_dir=plan["stage"], ckpt_dir=ckpt
        )[0]

    out = {"ticks": [], "backfill": {}}
    with tr.span("backfill", count_jobs=False) as bf:
        with tr.span("streaming.ingest") as sp:
            lh = ingest()
        layers = {"streaming.ingest": sp}
        for name, call in _backfill_calls(lh):
            with tr.span(f"pipeline.{name}") as sp:
                call()
            layers[f"pipeline.{name}"] = sp
    out["backfill"] = {"span": bf, "layers": layers}
    files = walk_files(wh)
    landed: list[str] = [plan["history"]]
    # A traced run needs traced and untraced ticks after the first one
    # to state its overhead (see `metrics`).
    n_ticks = op_count(ctx.seconds, WARM_TICK_S, MIN_TICKS + int(ctx.trace))
    for i, path in enumerate(plan["ticks"][:n_ticks]):
        settle(spark)
        traced = ctx.traced_op(i)
        with tr.span("tick", count_jobs=False) as tk:
            dest = os.path.join(plan["stage"], os.path.basename(path))
            os.rename(path, dest)
            with tr.span("streaming.ingest") as sp:
                lh = ingest()
            layers = {"streaming.ingest": sp}
            for name, call in _tick_calls(lh):
                with tr.span(f"pipeline.{name}") as sp:
                    call()
                layers[f"pipeline.{name}"] = sp
        landed.append(dest)
        after = walk_files(wh)
        n_files, n_bytes = written_since(files, after)
        files = after
        out["ticks"].append(
            {"span": tk, "layers": layers, "traced": traced, "files": n_files, "bytes": n_bytes,
             "tables": per_table(wh, files)}
        )
    ctx.measure_done()
    out["files_total"] = len(files)
    out["amplification"] = dir_bytes(wh) / feed_bytes
    t_check = time.perf_counter()
    out["mismatches"] = check(lh, landed)
    ctx.summary["check_s"] = time.perf_counter() - t_check
    out["plan"] = plan
    return out


def metrics(ctx, out: dict) -> tuple[dict, dict, int, int]:
    """(end-to-end, per-layer, attempted, failed)."""
    ticks = out["ticks"]
    tick_s = [t["span"].duration for t in ticks]
    e2e = {"first_pass_s": out["backfill"]["span"].duration, "warm_op_s": median(tick_s)}
    traced = [t for t in ticks if t["traced"]] or ticks
    per: dict[str, float] = {}

    def per_tick(key, fn):
        per[key] = median([fn(t) for t in traced])

    per_tick("streaming.ingest_s", lambda t: t["layers"]["streaming.ingest"].duration)
    per_tick("streaming.ingest_jobs", lambda t: len(t["layers"]["streaming.ingest"].jobs))
    per_tick("spark.jobs_per_tick", lambda t: sum(len(s.jobs) for s in t["layers"].values()))
    per_tick("spark.tasks_per_tick", lambda t: sum(s.tasks for s in t["layers"].values()))
    for name in STAGES:
        key = f"pipeline.{name}"
        per_tick(f"{key}_s", lambda t, k=key: t["layers"][k].duration)
        per_tick(f"{key}_jobs", lambda t, k=key: len(t["layers"][k].jobs))
        per_tick(f"{key}_tasks", lambda t, k=key: t["layers"][k].tasks)
        sp = out["backfill"]["layers"][key]
        per[f"{key}.backfill_s"] = sp.duration
        per[f"{key}.backfill_jobs"] = len(sp.jobs)
        per[f"{key}.backfill_tasks"] = sp.tasks
    per["pipeline.tick_slope_ms"] = slope(tick_s) * 1000.0
    per["tables.files_written_per_tick"] = median([t["files"] for t in ticks])
    per["tables.bytes_written_per_tick"] = median([t["bytes"] for t in ticks])
    per["tables.files_total"] = out["files_total"]
    per["tables.storage_amplification"] = out["amplification"]
    # The first tick runs the lookback plans for the first time, so it is
    # left out of the comparison; the ticks after it alternate.
    per["trace.overhead_pct"] = overhead_pct([(t["span"].duration, t["traced"]) for t in ticks[1:]])
    per["trace.remainder_s"] = median(
        [ctx.tracer.breakdown(t["span"])["(remainder)"] for t in ticks if t["traced"]]
    )
    ctx.summary["ticks"] = len(ticks)
    ctx.summary["tick_s"] = [t["span"].duration for t in ticks]
    ctx.summary["tick_written"] = [[t["files"], t["bytes"]] for t in ticks]
    ctx.summary["tick_tables"] = [t["tables"] for t in ticks]
    ctx.summary["backfill_s"] = out["backfill"]["span"].duration
    ctx.summary["start_hour"] = out["plan"]["start_hour"]
    ctx.summary["storage_amplification"] = out["amplification"]
    ctx.summary["output_mismatches"] = out["mismatches"]
    attempted = 1 + len(ticks) + len(out["mismatches"])
    failed = sum(1 for v in out["mismatches"].values() if v)
    return e2e, per, attempted, failed


# -- output check -------------------------------------------------------------------

_PARSED = """
CREATE TABLE bronze AS
SELECT ingested_at AS _ingested_at,
       "offset" AS _kafka_offset,
       CAST(ingested_at AS DATE) AS _ingestion_date,
       json_extract_string(value, '$.trade_id') AS trade_id,
       json_extract_string(value, '$.product_id') AS product_id,
       json_extract_string(value, '$.price') AS price,
       json_extract_string(value, '$.size') AS size,
       json_extract_string(value, '$.side') AS side,
       json_extract_string(value, '$.time') AS time,
       tick
FROM feed
WHERE json_valid(value)
  AND json_extract_string(value, '$.type') IS NOT NULL
  AND json_extract_string(value, '$.trade_id') IS NOT NULL
"""

# One lookback slice -> deduplicated, typed, validated silver rows
# (Lakehouse.bronze_to_silver).
_SLICE = """
WITH ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY trade_id ORDER BY _ingested_at, _kafka_offset) AS rn
    FROM bronze WHERE tick <= {tick} {cutoff}
), typed AS (
    SELECT CAST(trade_id AS BIGINT) AS trade_id,
           product_id,
           CAST(price AS DECIMAL(18,8)) AS price,
           CAST(size AS DECIMAL(18,8)) AS size,
           side,
           CAST(time AS TIMESTAMPTZ) AS trade_time,
           _ingested_at AS ingested_at
    FROM ranked WHERE rn = 1
)
SELECT *,
       CAST((epoch_us(ingested_at) // 1000000 - epoch_us(trade_time) // 1000000) * 1000
            AS BIGINT) AS _source_latency_ms,
       (epoch_us(ingested_at) // 1000000 - epoch_us(trade_time) // 1000000) * 1000
            > 300000 AS _is_late_arrival,
       CAST(trade_time AS DATE) AS _trade_date
FROM typed
WHERE trade_time IS NOT NULL AND price > 0 AND size > 0 AND side IN ('buy', 'sell')
"""

_CANDLES = """
SELECT product_id,
       date_trunc('{b}', trade_time) AS window_start,
       date_trunc('{b}', trade_time) + INTERVAL 1 {b} AS window_end,
       first(price ORDER BY trade_time, trade_id) AS open,
       max(price) AS high,
       min(price) AS low,
       first(price ORDER BY trade_time DESC, trade_id DESC) AS close,
       sum(size) AS volume,
       count(*) AS trade_count,
       sum(CAST(price AS DOUBLE) * CAST(size AS DOUBLE)) / NULLIF(CAST(sum(size) AS DOUBLE), 0) AS vwap
FROM silver GROUP BY 1, 2
"""

_EXPECTED = {
    "ohlcv_1m": "SELECT *, CAST(window_start AS DATE) AS _partition_date FROM ("
    + _CANDLES.format(b="minute") + ")",
    "ohlcv_1h": "SELECT *, CAST(window_start AS DATE) AS _partition_date FROM ("
    + _CANDLES.format(b="hour") + ")",
    "daily_metrics": """
SELECT product_id, CAST(window_start AS DATE) AS date, open, high, low, close,
       volume AS total_volume, trade_count AS total_trades,
       (CAST(close AS DOUBLE) - CAST(open AS DOUBLE)) / NULLIF(CAST(open AS DOUBLE), 0)
           AS daily_return,
       (CAST(high AS DOUBLE) - CAST(low AS DOUBLE)) / NULLIF(CAST(open AS DOUBLE), 0)
           AS volatility,
       (CAST(high AS DOUBLE) - CAST(low AS DOUBLE)) / NULLIF(CAST(high AS DOUBLE), 0)
           AS max_drawdown,
       CAST(date_trunc('month', window_start) AS DATE) AS _partition_month
FROM (""" + _CANDLES.format(b="day") + ")",
    "price_latest": """
WITH now AS (SELECT max(trade_time) AS now FROM silver),
latest AS (
    SELECT product_id, first(price ORDER BY trade_time DESC, trade_id DESC) AS price,
           max(trade_time) AS updated_at
    FROM silver GROUP BY 1
), stats AS (
    SELECT product_id, max(price) AS high_24h, min(price) AS low_24h,
           CAST(sum(size) AS DECIMAL(18,8)) AS volume_24h
    FROM silver, now WHERE trade_time >= now.now - INTERVAL 24 HOUR GROUP BY 1
)
SELECT latest.*, high_24h, low_24h, volume_24h, now.now AS snapshot_time
FROM latest LEFT JOIN stats USING (product_id), now
""",
}

# Keys per table, and the ratio columns Spark derives through DECIMAL
# division or DOUBLE->DECIMAL rounding, which are compared to 1e-7.
_KEYS = {
    "silver": ["trade_id"],
    "ohlcv_1m": ["product_id", "window_start"],
    "ohlcv_1h": ["product_id", "window_start"],
    "daily_metrics": ["product_id", "date"],
    "price_latest": ["product_id"],
}
_APPROX = {
    "ohlcv_1m": ["vwap"],
    "ohlcv_1h": ["vwap"],
    "daily_metrics": ["daily_return", "volatility", "max_drawdown"],
}


def _replay_silver(con, n_ticks: int) -> None:
    """Backfill dedup over all history, then one lookback MERGE per
    tick, exactly as the pipeline's calls ran."""
    con.execute(f"CREATE TABLE silver AS {_SLICE.format(tick=0, cutoff='')}")
    for tick in range(1, n_ticks + 1):
        (wm,) = con.execute(
            f"SELECT max(_ingested_at) FROM bronze WHERE tick <= {tick}"
        ).fetchone()
        cutoff = (
            f"AND _ingestion_date >= CAST(TIMESTAMPTZ '{wm.isoformat()}' "
            f"- INTERVAL {LOOKBACK_HOURS} HOUR AS DATE) "
            f"AND _ingested_at >= TIMESTAMPTZ '{wm.isoformat()}' - INTERVAL {LOOKBACK_HOURS} HOUR"
        )
        con.execute(f"CREATE OR REPLACE TEMP TABLE src AS {_SLICE.format(tick=tick, cutoff=cutoff)}")
        con.execute("DELETE FROM silver WHERE trade_id IN (SELECT trade_id FROM src)")
        con.execute("INSERT INTO silver SELECT * FROM src")


def _diff(con, name: str, expected_sql: str) -> int:
    """Rows of `actual_<name>` and the expected relation that do not
    match one for one: keys present on one side only, or differing
    values."""
    cols = [d[0] for d in con.execute(f"SELECT * FROM actual_{name} LIMIT 0").description]
    keys, approx = _KEYS[name], _APPROX.get(name, [])
    on = " AND ".join(f"a.{k} IS NOT DISTINCT FROM e.{k}" for k in keys)
    diffs = []
    for c in cols:
        if c in keys:
            continue
        if c in approx:
            diffs.append(
                f"coalesce(abs(CAST(a.{c} AS DOUBLE) - CAST(e.{c} AS DOUBLE)) > 1e-7, "
                f"(a.{c} IS NULL) <> (e.{c} IS NULL))"
            )
        else:
            diffs.append(f"a.{c} IS DISTINCT FROM e.{c}")
    missing = " OR ".join(f"a.{k} IS NULL" for k in keys)
    extra = " OR ".join(f"e.{k} IS NULL" for k in keys)
    (n,) = con.execute(
        f"""WITH e AS ({expected_sql})
        SELECT count(*) FROM actual_{name} a FULL OUTER JOIN e ON {on}
        WHERE ({missing}) OR ({extra}) OR {' OR '.join(diffs)}"""
    ).fetchone()
    return int(n)


def check(lh, landed: list[str]) -> dict[str, int]:
    """Mismatching rows per table (0 everywhere when outputs are right)."""
    con = duckdb.connect()
    try:
        con.execute("SET TimeZone = 'UTC'")
        parts = [
            pq.read_table(p).append_column(
                "tick", pa.array(np.full(pq.read_metadata(p).num_rows, i), pa.int64())
            )
            for i, p in enumerate(landed)
        ]
        feed = pa.concat_tables(parts)  # noqa: F841 - read by DuckDB by name
        con.execute("CREATE TABLE feed AS SELECT * FROM feed")
        con.execute(_PARSED)
        _replay_silver(con, len(landed) - 1)
        tables = {"silver": lh.silver, **lh.gold}
        out = {}
        for name, table in tables.items():
            actual = table.read().toArrow()  # noqa: F841 - read by DuckDB by name
            con.execute(f"CREATE TABLE actual_{name} AS SELECT * FROM actual")
            expected = "SELECT * FROM silver" if name == "silver" else _EXPECTED[name]
            out[name] = _diff(con, name, expected)
        return out
    finally:
        con.close()
