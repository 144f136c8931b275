"""Scale-technique operators, each oracle-proven equivalent to its
declarative counterpart:

- `doc_quality_score_pandas`: the Arrow-batched `mapInPandas` version
  of `doc_quality_score`, registered against the IDENTICAL DuckDB
  oracle — demonstrating the engine's vectorized-UDF escape hatch
  (SURVEY §2.8: pandas UDFs are reserved for the extended pipeline
  surface; built-ins stay the default). Score arithmetic follows the
  same IEEE-754 operation order as the SQL expression, so equivalence
  is bit-exact, not approximate.
- `salted_event_counts`: two-phase (salted) aggregation — the standard
  hot-key mitigation when one group key dominates. Phase 1 aggregates
  (key, salt) across 16 salts, phase 2 combines per key; sums are
  exact decimals so re-association cannot change the result. AQE's
  skew handling covers joins; salting covers skewed *aggregations*.
- `range_join_click_purchase`: interval join — clicks within the 5
  minutes preceding a same-user purchase. Equi-join on user_id with
  the range as a join filter: shuffles on user_id only, never a
  time-cross-product. (Spark's range-join optimizations for the
  pure-inequality case need the DBR-only RANGE_JOIN hint; keying by
  user makes the open-source plan efficient.)
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import crypto_lakehouse_spark.queries.reference_ops  # noqa: F401  (registers oracle we reuse)
import crypto_lakehouse_spark.queries.text_ops  # noqa: F401  (registers oracle we reuse)
from crypto_lakehouse_spark.io import load_table, register_views
from crypto_lakehouse_spark.queries.fixture_meter import fixture
from crypto_lakehouse_spark.queries.registry import REGISTRY, query
from crypto_lakehouse_spark.queries.text_ops import _STOP

_QUALITY_SCHEMA = (
    "doc_id BIGINT, lang STRING, n_tokens BIGINT, diversity DOUBLE, "
    "stopword_ratio DOUBLE, quality_score DOUBLE"
)


@query(
    "doc_quality_score_pandas",
    oracle=REGISTRY["doc_quality_score"].oracle,
    tags=("text", "quality", "pandas-udf"),
)
def doc_quality_score_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-vectorized quality scoring via mapInPandas, proven
    equal to the SQL version by sharing its oracle. Per-batch pandas
    ops; only the per-token set/stopword membership is Python-looped
    (string ops), the arithmetic is numpy float64 in the SQL
    expression's association order."""
    stop = frozenset(_STOP["en"])

    def score(batches):
        for pdf in batches:
            toks = pdf["text"].str.split(" ")
            n_tok = toks.str.len().to_numpy(dtype=np.float64)
            n_distinct = toks.apply(lambda ts: float(len(set(ts)))).to_numpy(
                dtype=np.float64
            )
            n_stop = toks.apply(
                lambda ts: float(sum(t in stop for t in ts))
            ).to_numpy(dtype=np.float64)
            out = pdf[["doc_id", "lang"]].copy()
            out["n_tokens"] = n_tok.astype(np.int64)
            out["diversity"] = n_distinct / n_tok
            out["stopword_ratio"] = n_stop / n_tok
            out["quality_score"] = (
                np.minimum(n_tok, 200.0) / 200 * 0.3
                + n_distinct / n_tok * 0.4
                + n_stop / n_tok * 0.3
            )
            yield out

    # NULL text is unscoreable; excluded identically in the SQL twin
    # and the shared oracle (WHERE text IS NOT NULL).
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter("text IS NOT NULL")
        .select("doc_id", "lang", "text")
    )
    return docs.mapInPandas(score, _QUALITY_SCHEMA).orderBy("doc_id")


_CANDLE_PD_SCHEMA = (
    "product_id string, bucket timestamp, open decimal(18,4), "
    "close decimal(18,4), high decimal(18,4), low decimal(18,4), "
    "volume decimal(18,4), trade_count long, pv decimal(38,8)"
)


def _candle_group(pdf):
    import pandas as pd

    pdf = pdf.sort_values(["trade_time", "trade_id"])
    prices = list(pdf["price"])  # python Decimals via Arrow decimal128
    sizes = list(pdf["size"])
    return pd.DataFrame(
        {
            "product_id": [pdf["product_id"].iloc[0]],
            "bucket": [pdf["bucket"].iloc[0]],
            "open": [prices[0]],
            "close": [prices[-1]],
            "high": [max(prices)],
            "low": [min(prices)],
            "volume": [sum(sizes)],
            "trade_count": [len(prices)],
            "pv": [sum(p * s for p, s in zip(prices, sizes))],
        }
    )


@query(
    "ohlcv_1h_pandas",
    oracle=None,  # set below — reuses ohlcv_1h's oracle
    tags=("reference", "ohlcv", "pandas-udf"),
    bench=False,  # grouped-map pays ~5ms/group; this is the equivalence
    # demo, not the perf path (the fused agg is)
)
def ohlcv_1h_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map applyInPandas OHLCV — the FOURTH independent plan
    proven against the hourly candle oracle (with the reference-shaped
    W4+J1 `ohlcv_1h`, the fused-from-trades variant, and the
    rollup-from-1m `ohlcv_1h_from_1m`): each (product_id, bucket)
    group becomes one pandas frame; decimals arrive as exact python
    Decimal via Arrow, so sums are order-free and vwap is the same
    single double division as the SQL paths. The demo of where
    grouped-map belongs — per-group logic Spark aggregates can't
    express — while proving it agrees when they can."""
    from crypto_lakehouse_spark.queries.reference_ops import (
        _finish_candles,
        cached_silver,
    )

    s = cached_silver(spark, sf_dir)
    stg = s.select(
        "product_id",
        "trade_id",
        "trade_time",
        "price",
        "size",
        F.date_trunc("hour", "trade_time").alias("bucket"),
    )
    candles = stg.groupBy("product_id", "bucket").applyInPandas(
        _candle_group, _CANDLE_PD_SCHEMA
    )
    return _finish_candles(candles, "HOUR")


def _wire_pandas_oracle() -> None:
    REGISTRY["ohlcv_1h_pandas"].oracle = REGISTRY["ohlcv_1h"].oracle


_wire_pandas_oracle()


_SALTED_ORACLE = """
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS value_sum
FROM events
GROUP BY event_type
ORDER BY event_type
"""


@query(
    "salted_event_counts",
    oracle=_SALTED_ORACLE,
    tags=("events", "aggregation", "skew"),
)
def salted_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key-safe aggregation: salt the group key across 16 shards,
    pre-aggregate, then combine. Exact-decimal partial sums make the
    two-phase result identical to the direct groupBy (the oracle is
    the direct query)."""
    ev = load_table(spark, sf_dir, "events")
    phase1 = (
        ev.withColumn("salt", (F.col("event_id") % 16).cast("int"))
        .groupBy("event_type", "salt")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,4)")).alias("vs"),
        )
    )
    return (
        phase1.groupBy("event_type")
        .agg(
            F.sum("n").alias("n_events"),
            F.sum("vs").cast("double").alias("value_sum"),
        )
        .orderBy("event_type")
    )


_RANGE_JOIN = """
SELECT p.event_id AS purchase_id,
       c.event_id AS click_id,
       p.user_id,
       CAST(p.value AS DOUBLE) AS purchase_value
FROM events p
JOIN events c
  ON c.user_id = p.user_id
 AND p.event_type = 'purchase'
 AND c.event_type = 'click'
 AND c.ts >= p.ts - INTERVAL 5 MINUTE
 AND c.ts < p.ts
ORDER BY purchase_id, click_id
"""


@query(
    "range_join_click_purchase",
    oracle=_RANGE_JOIN,
    tags=("events", "range-join"),
)
def range_join_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join: clicks in the 5 minutes before a same-user
    purchase. Dialect-common SQL; the user_id equi-key carries the
    shuffle, the time range is a join filter."""
    register_views(spark, sf_dir, ["events"])
    return spark.sql(_RANGE_JOIN)


# --- Z-order (Morton) layout keys ------------------------------------------
# The data-layout half of scan performance: interleaving the bits of
# two normalized dimensions gives a 1-D sort key under which
# multi-dimensional range predicates touch few contiguous key ranges
# — the clustering scheme behind Delta/Iceberg OPTIMIZE ZORDER.
# Here: 8-bit buckets of (event time, value), Morton-interleaved with
# pure integer arithmetic (no engine-specific bit operators, so the
# oracle runs the very same expression), then per-cell extents that
# exhibit the locality a file-skipping index would exploit: each
# Morton cell covers a tight box in (time, value) space, so min/max
# column stats per file actually prune. Writing data sorted by
# `morton` is a repartitionByRange on this key at scale — one range
# shuffle at write time buys every later 2-D-predicate scan.
def _morton_expr(x: str, y: str) -> str:
    terms = []
    for b in range(8):
        terms.append(f"(({x}) %%DIV%% {1 << b} % 2) * {1 << (2 * b)}")
        terms.append(f"(({y}) %%DIV%% {1 << b} % 2) * {1 << (2 * b + 1)}")
    return " + ".join(terms)


_ZORDER = f"""
WITH bounds AS (
    SELECT MIN(epoch_us(ts) // 60000000) AS t0,
           MAX(epoch_us(ts) // 60000000) AS t1,
           MIN(value) AS v0, MAX(value) AS v1
    FROM events
),
bucketed AS (
    SELECT e.event_id,
           CAST(FLOOR(((epoch_us(e.ts) // 60000000) - b.t0) * 256.0
                / (b.t1 - b.t0 + 1)) AS BIGINT) AS tb,
           -- degenerate-range guard (shared with the Hilbert pair):
           -- all-equal values otherwise divide by zero, where Spark's
           -- non-ANSI NaN->BIGINT cast (0) diverges from DuckDB's
           -- conversion error
           CAST(FLOOR((e.value - b.v0) * 255.999
                / (b.v1 - b.v0
                   + CASE WHEN b.v1 = b.v0 THEN 1 ELSE 0 END))
                AS BIGINT) AS vb
    FROM events e CROSS JOIN bounds b
)
SELECT morton_cell,
       COUNT(*) AS n_events,
       MIN(tb) AS t_min, MAX(tb) AS t_max,
       MIN(vb) AS v_min, MAX(vb) AS v_max
FROM (
    SELECT event_id, ({_morton_expr('tb', 'vb')}) %%DIV%% 1024 AS morton_cell
    FROM bucketed
) m
JOIN bucketed USING (event_id)
GROUP BY morton_cell
ORDER BY morton_cell
"""


def _zorder_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ["events"])
    return spark.sql(
        _ZORDER.replace("epoch_us(", "unix_micros(")
        .replace("//", "DIV")
        .replace("%%DIV%%", "DIV")
    )


_zorder_fn.__name__ = "zorder_morton_cells"
_zorder_fn.__doc__ = (
    "Morton/Z-order clustering keys with per-cell extents (see block "
    "comment)."
)
query(
    "zorder_morton_cells",
    oracle=_ZORDER.replace("%%DIV%%", "//"),
    tags=("scale", "data-layout", "zorder"),
)(_zorder_fn)


# --- mergeable HLL rollup (sketch algebra proof) ---------------------------
# The property that makes sketches the 100 TB pre-aggregation story is
# MERGEABILITY: per-shard sketches unioned later must estimate like a
# single global pass. This query proves it value-gated: both the
# sharded-then-unioned and the single-pass datasketches HLL estimates
# of distinct users must sit within 2% of the exact count (booleans in
# the output — a drifting sketch breaks the hash loudly). Exact
# equality of the two estimates is NOT asserted: hll_union_agg
# promotes the sketch's target type, which can shift the estimator by
# ulps (observed: 500 vs 499 on a 500-distinct probe) — the honest
# contract is the error bound, not sketch-state identity.


@query(
    "hll_mergeable_rollup",
    oracle="""
SELECT COUNT(DISTINCT user_id) AS exact_distinct,
       TRUE AS sharded_within_2pct,
       TRUE AS global_within_2pct
FROM events
""",
    tags=("scale", "sketch", "hll", "mergeable", "gated-exact"),
)
def hll_mergeable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sharded hll_sketch_agg -> hll_union_agg vs single-pass sketch
    vs exact distinct, 2%-gated (block comment above)."""
    from crypto_lakehouse_spark.io import register_views

    register_views(spark, sf_dir, ["events"])
    return spark.sql(
        """
WITH shards AS (
    SELECT pmod(event_id, 8) AS shard,
           hll_sketch_agg(user_id, 12) AS sk
    FROM events GROUP BY pmod(event_id, 8)
),
m AS (SELECT hll_sketch_estimate(hll_union_agg(sk, false)) AS est_sharded
      FROM shards),
g AS (SELECT hll_sketch_estimate(hll_sketch_agg(user_id, 12)) AS est_global
      FROM events),
e AS (SELECT COUNT(DISTINCT user_id) AS exact_distinct FROM events)
SELECT e.exact_distinct,
       ABS(m.est_sharded - e.exact_distinct)
           <= 0.02 * e.exact_distinct AS sharded_within_2pct,
       ABS(g.est_global - e.exact_distinct)
           <= 0.02 * e.exact_distinct AS global_within_2pct
FROM e CROSS JOIN m CROSS JOIN g
"""
    )


# --- bucketed co-located join (round 10) -------------------------------------
# The pre-shuffle strategy for REPEATED big-big joins: write both
# sides bucketed by the join key with the same bucket count, and every
# subsequent orders x lineitem join plans with NO exchange on either
# side — at 100 TB the difference between a full-network shuffle per
# query and none (tests/test_bucketing.py pins the no-Exchange plan
# property; this query adds the value proof over the same layout).
# The bucketed tables are materialized once per (session, sf_dir) in
# scratch-dir catalogs (the engine's stand-in for the curated
# bucketed layer a warehouse maintains).
@fixture("bucketed_tables")
def _bucketed_tables(spark: SparkSession, sf_dir: str) -> str:
    """Materialize bucketed orders/lineitem once per session; returns
    the database name."""
    import atexit
    import shutil
    import tempfile
    import uuid

    db = f"buck_{uuid.uuid4().hex[:8]}"
    loc = tempfile.mkdtemp(prefix="bucketed_")
    atexit.register(shutil.rmtree, loc, ignore_errors=True)
    spark.sql(f"CREATE DATABASE {db} LOCATION '{loc}'")
    # repartition(8, key) BEFORE the bucketed write (r14, guide
    # §6 "aim for few large output files"): without it every scan
    # task writes its own copy of each bucket file (measured 256
    # files for lineitem at sf0.1); co-partitioned input yields
    # exactly 8 files, a faster write (2.1 -> 1.3 s) and faster
    # bucketed reads. Bucket-file assignment stays the writer's
    # per-row hash either way — correctness does not depend on the
    # repartition matching it.
    (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .repartition(8, "o_orderkey")
        .write.mode("overwrite")
        .bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey")
        .saveAsTable(f"{db}.orders_b")
    )
    (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_quantity", "l_extendedprice")
        .repartition(8, "l_orderkey")
        .write.mode("overwrite")
        .bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey")
        .saveAsTable(f"{db}.lineitem_b")
    )
    return db


@query(
    "bucketed_join_agg",
    oracle="""
SELECT o.o_orderstatus,
       COUNT(*) AS n_lines,
       CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,4))) AS DOUBLE)
           AS total_qty,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
           AS total_price
FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderstatus
ORDER BY o.o_orderstatus
""",
    tags=("scale", "bucketing", "join", "layout"),
)
def bucketed_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exchange-free orders x lineitem join over the bucketed layout
    (block comment above); value-identical to the plain-join oracle."""
    db = _bucketed_tables(spark, sf_dir)
    o = spark.table(f"{db}.orders_b")
    li = spark.table(f"{db}.lineitem_b")
    return (
        o.join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.col("l_quantity").cast("decimal(18,4)"))
            .cast("double")
            .alias("total_qty"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,4)"))
            .cast("double")
            .alias("total_price"),
        )
        .orderBy("o_orderstatus")
    )

# --- Hilbert-curve layout keys ------------------------------------------------
# The locality-optimal companion to zorder_morton_cells above: the
# Hilbert curve visits every cell of the 2^k x 2^k grid with NO long
# jumps (adjacent d are always adjacent cells), so per-file min/max
# extents under a Hilbert sort are tighter boxes than Morton's — the
# layout Delta chose for OPTIMIZE's hilbert mode. Same 8-bit bucket
# normalization as the Morton query (directly comparable output
# shape). The xy2d walk (Wikipedia's canonical formulation: reflect
# with n-1, then swap, per level) is unrolled over the 8 levels as
# chained projections — pure integer CASE arithmetic, no
# engine-specific bit operators, zero shuffles beyond the final
# per-cell aggregate; both engines run the very same expressions.
_HILBERT_N = 256


def _hilbert_levels() -> str:
    # Each level CTE carries the ORIGINAL bucket coordinates (x0, y0)
    # through the walk so the final projection needs no join back onto
    # h_in — under Spark CTE inlining that join re-executed the whole
    # chain + events scan a second time (review finding).
    ctes = []
    prev = "h_in"
    lvl = 0
    s = _HILBERT_N // 2
    while s > 0:
        ctes.append(f"""
h{lvl} AS (
    SELECT event_id, x0, y0,
           CASE WHEN (y %%DIV%% {s}) % 2 = 0
                THEN CASE WHEN (x %%DIV%% {s}) % 2 = 1
                          THEN {_HILBERT_N - 1} - y ELSE y END
                ELSE x END AS x,
           CASE WHEN (y %%DIV%% {s}) % 2 = 0
                THEN CASE WHEN (x %%DIV%% {s}) % 2 = 1
                          THEN {_HILBERT_N - 1} - x ELSE x END
                ELSE y END AS y,
           d + {s * s} * (CASE WHEN (x %%DIV%% {s}) % 2 = 0
                               THEN (y %%DIV%% {s}) % 2
                               ELSE 3 - ((y %%DIV%% {s}) % 2) END) AS d
    FROM {prev}
)""")
        prev = f"h{lvl}"
        lvl += 1
        s //= 2
    return ",".join(ctes), prev


_HILBERT_CTES, _HILBERT_LAST = _hilbert_levels()

# The shared chain statement: events -> normalized buckets -> 8 walk
# levels -> (event_id, x0, y0, d). The value-axis normalization guards
# the degenerate all-equal range the same way the time axis does (the
# Morton query above shares the fix): without it a constant-valued
# input divides by zero, and Spark's non-ANSI NaN->BIGINT cast (0)
# diverges from DuckDB's conversion error.
_HILBERT_KEYS = f"""
WITH bounds AS (
    SELECT MIN(epoch_us(ts) // 60000000) AS t0,
           MAX(epoch_us(ts) // 60000000) AS t1,
           MIN(value) AS v0, MAX(value) AS v1
    FROM events
),
h_in AS (
    SELECT e.event_id,
           CAST(FLOOR(((epoch_us(e.ts) // 60000000) - b.t0) * 256.0
                / (b.t1 - b.t0 + 1)) AS BIGINT) AS x,
           CAST(FLOOR((e.value - b.v0) * 255.999
                / (b.v1 - b.v0
                   + CASE WHEN b.v1 = b.v0 THEN 1 ELSE 0 END))
                AS BIGINT) AS y,
           CAST(FLOOR(((epoch_us(e.ts) // 60000000) - b.t0) * 256.0
                / (b.t1 - b.t0 + 1)) AS BIGINT) AS x0,
           CAST(FLOOR((e.value - b.v0) * 255.999
                / (b.v1 - b.v0
                   + CASE WHEN b.v1 = b.v0 THEN 1 ELSE 0 END))
                AS BIGINT) AS y0,
           CAST(0 AS BIGINT) AS d
    FROM events e CROSS JOIN bounds b
),{_HILBERT_CTES}
SELECT event_id, x0 AS x, y0 AS y, d FROM {_HILBERT_LAST}
"""

# Hilbert-key fixture memo: BOTH consumers (the cell-extent query and
# the locality eval) run the identical chain; under Spark CTE inlining
# each downstream reference would re-execute it (the locality eval's
# first cut re-ran the events scan 4-5x). A session fixture, like the
# other shared relations in this repo.
_HK_VIEW = "hilbert_keys_mat"


@fixture("hilbert_keys", view=_HK_VIEW)
def _cached_hilbert_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crypto_lakehouse_spark.operators.checkpointing import truncate_lineage

    register_views(spark, sf_dir, ["events"])
    return truncate_lineage(
        spark.sql(
            _HILBERT_KEYS.replace("epoch_us(", "unix_micros(")
            .replace("//", "DIV")
            .replace("%%DIV%%", "DIV")
        ),
        spark,
    )


_HILBERT_CELLS_TAIL = """
SELECT hilbert_cell,
       COUNT(*) AS n_events,
       MIN(x) AS x_min, MAX(x) AS x_max,
       MIN(y) AS y_min, MAX(y) AS y_max
FROM (SELECT x, y, d %%DIV%% 1024 AS hilbert_cell FROM {src}) m
GROUP BY hilbert_cell
ORDER BY hilbert_cell
"""


def _hilbert_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    view = _cached_hilbert_keys(spark, sf_dir)
    return spark.sql(
        _HILBERT_CELLS_TAIL.format(src=view).replace("%%DIV%%", "DIV")
    )


_hilbert_fn.__name__ = "hilbert_curve_cells"
_hilbert_fn.__doc__ = (
    "Hilbert-curve clustering keys with per-cell extents (see block "
    "comment; companion to zorder_morton_cells). Reads the memoized "
    "key fixture shared with curve_locality_eval."
)
query(
    "hilbert_curve_cells",
    oracle=(
        "WITH hk AS MATERIALIZED ("
        + _HILBERT_KEYS.replace("%%DIV%%", "//")
        + ")\n"
        + _HILBERT_CELLS_TAIL.format(src="hk").replace("%%DIV%%", "//")
    ),
    tags=("scale", "data-layout", "hilbert", "zorder"),
)(_hilbert_fn)


# --- Morton vs Hilbert locality, measured --------------------------------------
# The quantified version of the Hilbert query's locality claim, on the
# shared key fixture. On dense data every cell of EITHER curve tiles
# its footprint, so box areas converge (measured: identical at sf0.1)
# — the metric that separates the curves is the SPATIAL STEP PER KEY
# STEP: scan the occupied buckets in key order and measure how far
# the (time, value) position moves between consecutive keys.
# Hilbert's defining property is that key-adjacent cells are
# grid-adjacent (step = 1 on a full grid; only occupancy gaps raise
# it), while Morton's key order teleports across the plane at every
# power-of-two boundary — which is exactly what fattens per-file
# min/max stats when data is written in key order. Pure integer cell
# arithmetic; one double division per scheme at emission.
_LOCALITY_TAIL = f"""
WITH grid AS (
    SELECT x, y,
           MIN(d) AS hd,
           MIN({_morton_expr('x', 'y')}) AS md
    FROM {{src}}
    GROUP BY x, y
),
cells AS (
    SELECT 'hilbert' AS scheme, d3 %%DIV%% 1024 AS cell, x, y FROM (
        SELECT hd AS d3, x, y FROM grid) a
    UNION ALL
    SELECT 'morton' AS scheme, md %%DIV%% 1024 AS cell, x, y FROM grid
),
cstats AS (
    SELECT scheme, cell, COUNT(*) AS n,
           (MAX(x) - MIN(x) + 1) * (MAX(y) - MIN(y) + 1) AS box_area
    FROM cells GROUP BY scheme, cell
),
steps AS (
    SELECT 'hilbert' AS scheme,
           ABS(x - LAG(x) OVER wh) + ABS(y - LAG(y) OVER wh) AS j
    FROM grid WINDOW wh AS (ORDER BY hd)
    UNION ALL
    SELECT 'morton' AS scheme,
           ABS(x - LAG(x) OVER wm) + ABS(y - LAG(y) OVER wm) AS j
    FROM grid WINDOW wm AS (ORDER BY md)
),
jstats AS (
    SELECT scheme, COUNT(j) AS n_adj,
           CAST(SUM(j) AS BIGINT) AS sj,
           CAST(MAX(j) AS BIGINT) AS mj
    FROM steps GROUP BY scheme
)
SELECT c.scheme,
       COUNT(*) AS n_cells,
       CAST(SUM(c.n) AS BIGINT) AS n_occupied_buckets,
       ROUND(CAST(SUM(c.box_area) AS DOUBLE) / COUNT(*), 9)
           AS mean_cell_box_area,
       ROUND(CAST(MAX(js.sj) AS DOUBLE) / MAX(js.n_adj), 9)
           AS mean_spatial_step_per_key,
       CAST(MAX(js.mj) AS BIGINT) AS max_spatial_step_per_key
FROM cstats c
JOIN jstats js ON js.scheme = c.scheme
GROUP BY c.scheme
ORDER BY c.scheme
"""


def _locality_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    view = _cached_hilbert_keys(spark, sf_dir)
    return spark.sql(
        _LOCALITY_TAIL.format(src=view)
        .replace("//", "DIV")
        .replace("%%DIV%%", "DIV")
    )


_locality_fn.__name__ = "curve_locality_eval"
_locality_fn.__doc__ = (
    "Morton vs Hilbert per-cell extents and spatial step per key "
    "step, measured on the same bucket grid (see block comment)."
)
query(
    "curve_locality_eval",
    oracle=(
        "WITH hk AS MATERIALIZED ("
        + _HILBERT_KEYS.replace("%%DIV%%", "//")
        + "), dummy AS (SELECT 1)\n"
        + _LOCALITY_TAIL.format(src="hk")
        .replace("WITH grid AS", ", grid AS")
        .replace("%%DIV%%", "//")
    ),
    tags=("scale", "data-layout", "hilbert", "zorder", "quality-eval"),
)(_locality_fn)
