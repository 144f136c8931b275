"""Technical-analysis indicators over the daily candle pipeline —
the analytics a user of the reference's gold OHLCV tables computes
next (reference dbt models stop at daily_metrics.sql; these extend
the same candle relation). Everything here is window/aggregate-native:
one shuffle on (product_id) that the candle build already did, no
UDFs — per-product ordered windows scale as long as one product's
history fits a partition (true for per-asset daily series at any
corpus size). The only joins are day-keyed pair/market joins whose
short axis is the asset universe (correlation matrix, Spearman,
market-model beta).

Cross-engine determinism follows the house discipline: all rolling
sums run over exact DECIMAL casts (order-free), double math happens
once per output row in a fixed expression order, and every emitted
double is ROUND(...,9)-stabilized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from crypto_lakehouse_spark.functions import fmt_date
from crypto_lakehouse_spark.operators.checkpointing import truncate_lineage
from crypto_lakehouse_spark.queries.fixture_meter import fixture
from crypto_lakehouse_spark.queries.reference_ops import (
    _ORACLE_CANDLES,
    _candles,
    cached_silver,
)
from crypto_lakehouse_spark.operators.trades import ORACLE_TRADES_CTE
from crypto_lakehouse_spark.queries.registry import query

_DAILY_ORACLE = ORACLE_TRADES_CTE + "," + _ORACLE_CANDLES.format(bucket="day")

# Daily-candle session fixture. Nine TA queries consume the same gold
# daily-candle relation; without this each re-derives silver trades
# (dedup window) + the candle windows/agg/join from raw parquet — at
# 100 TB that is nine full bronze passes where the medallion design
# materializes gold ONCE (the reference's dbt daily tables are exactly
# this materialization). truncate_lineage, not bare persist: see the
# fixture_meter module docstring (Spark 4.1 CTE-over-cached-view
# CacheManager miss). The reference-core OHLCV queries (ohlcv_1m/1h,
# daily_metrics) keep the raw plan: there the candle build IS the
# operator under test.
@fixture("daily_candles")
def _daily_candles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized gold daily-candle fixture for `sf_dir` (block
    comment above); rows identical to `_candles(spark, sf_dir,
    "day")`, which the DuckDB oracles recompute inline.

    r14 optimization round: the fixture BUILD uses the fused
    single-aggregation candle plan (`min_by`/`max_by` on the
    (trade_time, trade_id) struct — the exact rewrite ohlcv_1m_fused
    proves against the reference-shaped oracle at minute granularity):
    one shuffle instead of window + DISTINCT + self-join. Same column
    order and types as `_candles`; every consumer's DuckDB oracle
    still derives daily candles from the reference W4+J1 shape, so the
    hashes prove the fused build row-identical. The reference-shaped
    plan remains the declared operator in ohlcv_1m/ohlcv_1h/
    daily_metrics — this is only the shared fixture's build."""
    s = cached_silver(spark, sf_dir)
    ordk = F.struct("trade_time", "trade_id")
    fused = (
        s.select(
            "product_id",
            "trade_id",
            "trade_time",
            "price",
            "size",
            (F.col("price") * F.col("size")).alias("trade_value"),
            F.date_trunc("day", "trade_time").alias("bucket"),
        )
        .groupBy("product_id", "bucket")
        .agg(
            F.max("price").alias("high"),
            F.min("price").alias("low"),
            F.sum("size").alias("volume"),
            F.count("*").alias("trade_count"),
            F.sum("trade_value").alias("pv"),
            F.min_by("price", ordk).alias("open"),
            F.max_by("price", ordk).alias("close"),
        )
    )
    return truncate_lineage(fused, spark)


# --- Garman-Klass realized volatility ---------------------------------------
# Per-day range-based variance proxy from OHLC (Garman & Klass 1980):
#   gk = 0.5 * ln(high/low)^2 - (2 ln 2 - 1) * ln(close/open)^2
# then the per-product annualized estimate sqrt(365 * mean(gk)).
# Scale shape: one projection over the candle relation + one
# per-product aggregate — no window, no join beyond the candle build.
# Per-day gk is rounded to 9 BEFORE the decimal mean so the two
# engines' libm ln() agree at the hashed precision.

@query(
    "garman_klass_vol",
    oracle=_DAILY_ORACLE
    + """
SELECT product_id,
       COUNT(*) AS n_days,
       ROUND(CAST(SUM(CAST(gk AS DECIMAL(28, 9))) AS DOUBLE)
             / COUNT(*), 9) AS mean_gk,
       ROUND(SQRT(365 * CAST(SUM(CAST(gk AS DECIMAL(28, 9))) AS DOUBLE)
                  / COUNT(*)), 9) AS annualized_vol
FROM (
    SELECT product_id,
           ROUND(0.5 * POW(LN(CAST(high AS DOUBLE) / CAST(low AS DOUBLE)), 2)
                 - (2 * LN(2) - 1)
                   * POW(LN(CAST(close AS DOUBLE) / CAST(open AS DOUBLE)), 2),
                 9) AS gk
    FROM candles
    WHERE low > 0 AND open > 0
)
GROUP BY product_id
ORDER BY product_id
""",
    tags=("ta", "volatility", "ohlcv", "aggregation"),
)
def garman_klass_vol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Garman-Klass range-based daily variance, annualized per product
    (block comment above). Positive-price guard is the defined
    contract: non-positive lows/opens are unestimable and excluded in
    both engines."""
    c = _daily_candles(spark, sf_dir)
    h = F.col("high").cast("double")
    lo = F.col("low").cast("double")
    cl = F.col("close").cast("double")
    op = F.col("open").cast("double")
    gk = F.round(
        0.5 * F.pow(F.log(h / lo), 2)
        - (2 * F.log(F.lit(2.0)) - 1) * F.pow(F.log(cl / op), 2),
        9,
    ).alias("gk")
    daily = c.where((F.col("low") > 0) & (F.col("open") > 0)).select("product_id", gk)
    mean_gk = F.sum(F.col("gk").cast("decimal(28,9)")).cast("double") / F.count(
        F.lit(1)
    )
    return (
        daily.groupBy("product_id")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.round(mean_gk, 9).alias("mean_gk"),
            F.round(F.sqrt(365 * mean_gk), 9).alias("annualized_vol"),
        )
        .orderBy("product_id")
    )


# --- Cutler's RSI (14-day, simple moving averages) ---------------------------
# RSI = 100 - 100 / (1 + avg_gain / avg_loss) over the trailing 14
# close-to-close deltas. Cutler's SMA variant (not Wilder's recursive
# smoothing) is chosen deliberately: it is a pure ROWS-frame window —
# declarative, engine-parallel, and exactly reproducible — where the
# recursive form would need a sequential fold per product. Deltas,
# gains, and rolling sums stay in exact DECIMAL; the single division
# happens in DOUBLE at emission. avg_loss = 0 => RSI 100 (the standard
# convention, made explicit so both engines agree instead of dividing
# by zero). Rows before the 14th delta are warm-up and excluded.

@query(
    "rsi_cutler_14",
    oracle=_DAILY_ORACLE
    + """,
deltas AS (
    SELECT product_id, bucket, close,
           CAST(close - LAG(close) OVER (PARTITION BY product_id
                                         ORDER BY bucket)
                AS DECIMAL(28, 8)) AS delta
    FROM candles
),
rolled AS (
    SELECT product_id, bucket, close,
           SUM(GREATEST(delta, 0)) OVER w AS gain14,
           SUM(GREATEST(-delta, 0)) OVER w AS loss14,
           COUNT(delta) OVER w AS n_delta
    FROM deltas
    WINDOW w AS (PARTITION BY product_id ORDER BY bucket
                 ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
)
SELECT product_id,
       strftime(bucket, '%Y-%m-%d') AS date,
       CAST(close AS DOUBLE) AS close,
       ROUND(CASE WHEN loss14 = 0 THEN 100
                  ELSE 100 - 100 / (1 + CAST(gain14 AS DOUBLE)
                                        / CAST(loss14 AS DOUBLE))
             END, 9) AS rsi_14
FROM rolled
WHERE n_delta >= 14
ORDER BY product_id, date
""",
    tags=("ta", "rsi", "window", "ohlcv"),
)
def rsi_cutler_14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cutler's RSI over trailing 14 daily deltas (block comment
    above): exact-decimal rolling gain/loss sums, one double division
    per emitted row, loss==0 => 100 by convention."""
    c = _daily_candles(spark, sf_dir)
    ow = Window.partitionBy("product_id").orderBy("bucket")
    w = ow.rowsBetween(-13, 0)
    deltas = c.select(
        "product_id",
        "bucket",
        "close",
        (F.col("close") - F.lag("close").over(ow)).cast("decimal(28,8)").alias("delta"),
    )
    rolled = deltas.select(
        "product_id",
        "bucket",
        "close",
        F.sum(F.greatest("delta", F.lit(0))).over(w).alias("gain14"),
        F.sum(F.greatest(-F.col("delta"), F.lit(0))).over(w).alias("loss14"),
        F.count("delta").over(w).alias("n_delta"),
    )
    rsi = F.when(F.col("loss14") == 0, F.lit(100.0)).otherwise(
        100 - 100 / (1 + F.col("gain14").cast("double") / F.col("loss14").cast("double"))
    )
    return (
        rolled.where(F.col("n_delta") >= 14)
        .select(
            "product_id",
            fmt_date("bucket").alias("date"),
            F.col("close").cast("double").alias("close"),
            F.round(rsi, 9).alias("rsi_14"),
        )
        .orderBy("product_id", "date")
    )


# --- Bollinger %B (20-day, 2 sigma) ------------------------------------------
# %B = (close - lower) / (upper - lower) with bands mean +/- 2*stddev
# over the trailing 20 closes. The rolling stddev is NOT the engines'
# native STDDEV (whose internal summation order differs); it is
# reconstructed from two exact-decimal rolling sums — sum(x) and
# sum(x^2) — so both engines feed IDENTICAL doubles into one fixed
# variance expression: var = (sumsq - sum^2/n) / (n-1). Warm-up rows
# (fewer than 20 closes) are excluded.

@query(
    "bollinger_pctb_20",
    oracle=_DAILY_ORACLE
    + """,
rolled AS (
    SELECT product_id, bucket, close,
           SUM(CAST(close AS DECIMAL(18, 6))) OVER w AS s1,
           SUM(CAST(close AS DECIMAL(18, 6))
               * CAST(close AS DECIMAL(18, 6))) OVER w AS s2,
           COUNT(*) OVER w AS n
    FROM candles
    WINDOW w AS (PARTITION BY product_id ORDER BY bucket
                 ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
)
SELECT product_id, date, close, mean_20, std_20,
       ROUND(mean_20 + 2 * std_20, 9) AS upper_band,
       ROUND(mean_20 - 2 * std_20, 9) AS lower_band,
       ROUND((close - (mean_20 - 2 * std_20))
             / NULLIF(4 * std_20, 0), 9) AS pct_b
FROM (
    SELECT product_id,
           strftime(bucket, '%Y-%m-%d') AS date,
           CAST(close AS DOUBLE) AS close,
           ROUND(CAST(s1 AS DOUBLE) / n, 9) AS mean_20,
           ROUND(SQRT(GREATEST(
               (CAST(s2 AS DOUBLE)
                - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n)
               / (n - 1), 0)), 9) AS std_20
    FROM rolled WHERE n >= 20
)
ORDER BY product_id, date
""",
    tags=("ta", "bollinger", "window", "ohlcv"),
)
def bollinger_pctb_20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger %B over trailing 20 closes (block comment above):
    stddev reconstructed from exact-decimal rolling sums so the hash
    survives engine-internal summation differences; zero-width bands
    emit NULL %B via NULLIF."""
    c = _daily_candles(spark, sf_dir)
    w = (
        Window.partitionBy("product_id")
        .orderBy("bucket")
        .rowsBetween(-19, 0)
    )
    cd = F.col("close").cast("decimal(18,6)")
    rolled = c.select(
        "product_id",
        "bucket",
        "close",
        F.sum(cd).over(w).alias("s1"),
        F.sum(cd * cd).over(w).alias("s2"),
        F.count(F.lit(1)).over(w).alias("n"),
    ).where(F.col("n") >= 20)
    s1 = F.col("s1").cast("double")
    s2 = F.col("s2").cast("double")
    n = F.col("n")
    mean = F.round(s1 / n, 9)
    std = F.round(F.sqrt(F.greatest((s2 - s1 * s1 / n) / (n - 1), F.lit(0.0))), 9)
    stage = rolled.select(
        "product_id",
        fmt_date("bucket").alias("date"),
        F.col("close").cast("double").alias("close"),
        mean.alias("mean_20"),
        std.alias("std_20"),
    )
    return stage.select(
        "product_id",
        "date",
        "close",
        "mean_20",
        "std_20",
        F.round(F.col("mean_20") + 2 * F.col("std_20"), 9).alias("upper_band"),
        F.round(F.col("mean_20") - 2 * F.col("std_20"), 9).alias("lower_band"),
        F.round(
            (F.col("close") - (F.col("mean_20") - 2 * F.col("std_20")))
            / F.nullif(4 * F.col("std_20"), F.lit(0.0)),
            9,
        ).alias("pct_b"),
    ).orderBy("product_id", "date")


# --- running-max drawdown series ---------------------------------------------
# True cumulative-peak drawdown: dd_t = (max(close[0..t]) - close_t)
# / max(close[0..t]). Complements daily_metrics, whose "max_drawdown"
# deliberately preserves the reference CODE's per-day (high-low)/high
# formula (SURVEY §2.8.2) — this is the textbook definition the
# reference never implemented. One cumulative-max window per product;
# the peak stays exact DECIMAL until the one double division per row.

@query(
    "drawdown_running_max",
    oracle=_DAILY_ORACLE
    + """
SELECT product_id,
       strftime(bucket, '%Y-%m-%d') AS date,
       CAST(close AS DOUBLE) AS close,
       CAST(peak AS DOUBLE) AS peak,
       ROUND((CAST(peak AS DOUBLE) - CAST(close AS DOUBLE))
             / NULLIF(CAST(peak AS DOUBLE), 0), 9) AS drawdown
FROM (
    SELECT product_id, bucket, close,
           MAX(close) OVER (PARTITION BY product_id ORDER BY bucket
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS peak
    FROM candles
)
ORDER BY product_id, date
""",
    tags=("ta", "drawdown", "window", "ohlcv"),
)
def drawdown_running_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative-peak drawdown series per product (block comment
    above)."""
    c = _daily_candles(spark, sf_dir)
    w = (
        Window.partitionBy("product_id")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    peak = F.max("close").over(w)
    pd_ = peak.cast("double")
    return (
        c.select(
            "product_id",
            fmt_date("bucket").alias("date"),
            F.col("close").cast("double").alias("close"),
            pd_.alias("peak"),
            F.round(
                (pd_ - F.col("close").cast("double")) / F.nullif(pd_, F.lit(0.0)), 9
            ).alias("drawdown"),
        )
        .orderBy("product_id", "date")
    )


# --- cross-asset daily-return correlation matrix -----------------------------
# Pearson correlation of daily returns for every product pair — the
# standard portfolio/risk matrix. Returns are ROUND(...,9)-stabilized
# doubles FIRST (so both engines correlate identical inputs), then all
# five sums (x, y, xy, x2, y2) run in exact DECIMAL and one fixed
# double expression emits r. The pair join is keyed on the DAY with a
# product_id < product_id predicate: at scale the time dimension is
# the long axis and the asset dimension the short one, so the join
# output is days x assets^2/2 — linear in history for a fixed asset
# universe (the standard shape; a pivoted vectorized variant only pays
# off past thousands of assets). NOT the engines' native CORR, whose
# internal accumulation order is engine-specific.

@query(
    "returns_correlation_matrix",
    oracle=_DAILY_ORACLE
    + """,
rets AS (
    SELECT product_id, bucket,
           ROUND((CAST(close AS DOUBLE)
                  - CAST(LAG(close) OVER w AS DOUBLE))
                 / CAST(LAG(close) OVER w AS DOUBLE), 9) AS r
    FROM candles
    WINDOW w AS (PARTITION BY product_id ORDER BY bucket)
),
pairs AS (
    SELECT a.product_id AS product_a, b.product_id AS product_b,
           CAST(a.r AS DECIMAL(15, 9)) AS x,
           CAST(b.r AS DECIMAL(15, 9)) AS y
    FROM rets a
    JOIN rets b ON a.bucket = b.bucket AND a.product_id < b.product_id
    WHERE a.r IS NOT NULL AND b.r IS NOT NULL
),
s AS (
    SELECT product_a, product_b, COUNT(*) AS n,
           SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy,
           SUM(x * x) AS sxx, SUM(y * y) AS syy
    FROM pairs GROUP BY product_a, product_b
)
SELECT product_a, product_b, n AS n_days,
       ROUND((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / NULLIF(SQRT((n * CAST(sxx AS DOUBLE)
                            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                           * (n * CAST(syy AS DOUBLE)
                              - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 0),
             9) AS corr
FROM s
ORDER BY product_a, product_b
""",
    tags=("ta", "correlation", "join", "ohlcv"),
)
def returns_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation of per-product daily returns
    (block comment above: day-keyed pair join, exact-decimal sums,
    one fixed double expression)."""
    c = _daily_candles(spark, sf_dir)
    ow = Window.partitionBy("product_id").orderBy("bucket")
    prev = F.lag("close").over(ow).cast("double")
    rets = c.select(
        "product_id",
        "bucket",
        F.round((F.col("close").cast("double") - prev) / prev, 9).alias("r"),
    ).where(F.col("r").isNotNull())
    a, b = rets.alias("a"), rets.alias("b")
    pairs = a.join(
        b,
        (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.product_id") < F.col("b.product_id")),
    ).select(
        F.col("a.product_id").alias("product_a"),
        F.col("b.product_id").alias("product_b"),
        F.col("a.r").cast("decimal(15,9)").alias("x"),
        F.col("b.r").cast("decimal(15,9)").alias("y"),
    )
    s = pairs.groupBy("product_a", "product_b").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n = F.col("n")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy, sxx, syy = (
        F.col("sxy").cast("double"),
        F.col("sxx").cast("double"),
        F.col("syy").cast("double"),
    )
    corr = F.round(
        (n * sxy - sx * sy)
        / F.nullif(F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), F.lit(0.0)),
        9,
    )
    return s.select(
        "product_a",
        "product_b",
        F.col("n").alias("n_days"),
        corr.alias("corr"),
    ).orderBy("product_a", "product_b")


# --- longest up-streak (gaps and islands) -------------------------------------
# Longest run of consecutive up-days per product — the canonical
# gaps-and-islands shape: up-days grouped into islands by the
# row_number difference trick (rn over all days minus rn over up-days
# is constant within a run of ups), then one island-size aggregate.
# Two per-product ordered windows + two aggregates, no self-joins;
# deltas are exact decimal comparisons, output is pure integers plus
# the streak's end date (earliest on ties, made deterministic by the
# MIN over islands of (size, -last_day) encoded as a struct compare in
# Spark and an ORDER BY LIMIT-free argmin in SQL).

@query(
    "updays_longest_streak",
    oracle=_DAILY_ORACLE
    + """,
flagged AS (
    SELECT product_id, bucket,
           CASE WHEN close > LAG(close) OVER w THEN 1 ELSE 0 END AS up,
           ROW_NUMBER() OVER w AS rn
    FROM candles
    WINDOW w AS (PARTITION BY product_id ORDER BY bucket)
),
grouped AS (
    SELECT product_id, bucket,
           rn - ROW_NUMBER() OVER (PARTITION BY product_id
                                   ORDER BY bucket) AS grp
    FROM flagged WHERE up = 1
),
islands AS (
    SELECT product_id, grp,
           COUNT(*) AS streak_len,
           MAX(bucket) AS streak_end
    FROM grouped
    GROUP BY product_id, grp
)
SELECT product_id,
       CAST(MAX(streak_len) AS BIGINT) AS longest_up_streak,
       strftime(MIN(CASE WHEN streak_len = best THEN streak_end END),
                '%Y-%m-%d') AS streak_end
FROM (
    SELECT product_id, streak_len, streak_end,
           MAX(streak_len) OVER (PARTITION BY product_id) AS best
    FROM islands
)
GROUP BY product_id
ORDER BY product_id
""",
    tags=("ta", "streak", "window", "gaps-islands"),
)
def updays_longest_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-up-day run per product via the
    row_number-difference islands trick (block comment above)."""
    c = _daily_candles(spark, sf_dir)
    ow = Window.partitionBy("product_id").orderBy("bucket")
    flagged = c.select(
        "product_id",
        "bucket",
        F.when(F.col("close") > F.lag("close").over(ow), 1)
        .otherwise(0)
        .alias("up"),
        F.row_number().over(ow).alias("rn"),
    )
    ups = flagged.where(F.col("up") == 1)
    ow2 = Window.partitionBy("product_id").orderBy("bucket")
    grouped = ups.select(
        "product_id",
        "bucket",
        (F.col("rn") - F.row_number().over(ow2)).alias("grp"),
    )
    islands = grouped.groupBy("product_id", "grp").agg(
        F.count(F.lit(1)).alias("streak_len"),
        F.max("bucket").alias("streak_end"),
    )
    best = islands.withColumn(
        "best", F.max("streak_len").over(Window.partitionBy("product_id"))
    )
    return (
        best.groupBy("product_id")
        .agg(
            F.max("streak_len").cast("bigint").alias("longest_up_streak"),
            fmt_date(
                F.min(
                    F.when(
                        F.col("streak_len") == F.col("best"), F.col("streak_end")
                    )
                )
            ).alias("streak_end"),
        )
        .orderBy("product_id")
    )


# --- market microstructure: order-flow imbalance ------------------------------
# Per (product, hour): (buy volume - sell volume) / total volume — the
# standard buy-sell pressure signal. One projection + one group
# aggregate on exact DECIMAL volumes; the single double division per
# output row is the only float op.

@query(
    "order_flow_imbalance",
    oracle=ORACLE_TRADES_CTE
    + """
SELECT product_id,
       strftime(hour, '%Y-%m-%d %H:%M:%S') AS hour,
       CAST(buy_vol AS DOUBLE) AS buy_volume,
       CAST(sell_vol AS DOUBLE) AS sell_volume,
       ROUND((CAST(buy_vol AS DOUBLE) - CAST(sell_vol AS DOUBLE))
             / NULLIF(CAST(buy_vol AS DOUBLE)
                      + CAST(sell_vol AS DOUBLE), 0), 9) AS ofi
FROM (
    SELECT product_id, date_trunc('hour', trade_time) AS hour,
           SUM(CASE WHEN side = 'buy' THEN "size" ELSE 0 END) AS buy_vol,
           SUM(CASE WHEN side = 'sell' THEN "size" ELSE 0 END) AS sell_vol
    FROM silver
    GROUP BY product_id, date_trunc('hour', trade_time)
)
ORDER BY product_id, hour
""",
    tags=("ta", "microstructure", "aggregation"),
)
def order_flow_imbalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly buy-sell volume imbalance per product (block comment
    above)."""
    from crypto_lakehouse_spark.functions import fmt_ts
    from crypto_lakehouse_spark.queries.reference_ops import cached_silver

    s = cached_silver(spark, sf_dir)
    g = s.groupBy(
        "product_id", F.date_trunc("hour", "trade_time").alias("hour")
    ).agg(
        F.sum(F.when(F.col("side") == "buy", F.col("size")).otherwise(F.lit(0)))
        .alias("buy_vol"),
        F.sum(F.when(F.col("side") == "sell", F.col("size")).otherwise(F.lit(0)))
        .alias("sell_vol"),
    )
    b = F.col("buy_vol").cast("double")
    v = F.col("sell_vol").cast("double")
    return g.select(
        "product_id",
        fmt_ts("hour").alias("hour"),
        b.alias("buy_volume"),
        v.alias("sell_volume"),
        F.round((b - v) / F.nullif(b + v, F.lit(0.0)), 9).alias("ofi"),
    ).orderBy("product_id", "hour")


# --- market microstructure: price impact (Kyle's lambda) ----------------------
# Per product: the OLS slope of minute close-to-close price changes on
# minute signed volume (buy size - sell size) — the classic price
# impact regression, lambda = (n*Sxy - Sx*Sy) / (n*Sxx - Sx^2). All
# five sufficient statistics are exact decimal sums of bounded-scale
# per-minute values (x rounded to 4, y is an exact decimal delta), one
# fixed double expression per product at the end — same discipline as
# returns_correlation_matrix. Scale shape: one (product, minute)
# aggregate (shares the candle build's shuffle key family) + one
# per-product window for the lag + one 5-sum aggregate.

@query(
    "price_impact_ols",
    oracle=ORACLE_TRADES_CTE
    + """,
per_trade AS (
    -- minute close via the candle build's full-frame LAST_VALUE
    -- (deterministic (trade_time, trade_id) order); DuckDB's max_by
    -- cannot take a composite ordering key.
    SELECT product_id, date_trunc('minute', trade_time) AS m,
           CASE WHEN side = 'buy' THEN "size" ELSE -"size" END AS sv,
           LAST_VALUE(price) OVER (
               PARTITION BY product_id, date_trunc('minute', trade_time)
               ORDER BY trade_time, trade_id
               ROWS BETWEEN UNBOUNDED PRECEDING
                        AND UNBOUNDED FOLLOWING) AS close
    FROM silver
),
minutes AS (
    SELECT product_id, m,
           CAST(SUM(sv) AS DECIMAL(18, 4)) AS x,
           MAX(close) AS close
    FROM per_trade
    GROUP BY product_id, m
),
deltas AS (
    SELECT product_id,
           x,
           CAST(close - LAG(close) OVER (PARTITION BY product_id
                                         ORDER BY m)
                AS DECIMAL(18, 4)) AS y
    FROM minutes
),
s AS (
    SELECT product_id, COUNT(*) AS n,
           SUM(x) AS sx, SUM(y) AS sy,
           SUM(CAST(ROUND(CAST(x AS DOUBLE) * CAST(y AS DOUBLE), 6)
                    AS DECIMAL(18, 6))) AS sxy,
           SUM(CAST(ROUND(CAST(x AS DOUBLE) * CAST(x AS DOUBLE), 6)
                    AS DECIMAL(18, 6))) AS sxx
    FROM deltas WHERE y IS NOT NULL
    GROUP BY product_id
)
SELECT product_id,
       CAST(n AS BIGINT) AS n_minutes,
       ROUND((n * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / NULLIF(n * CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0),
             9) AS kyle_lambda
FROM s
ORDER BY product_id
""",
    tags=("ta", "microstructure", "regression", "window"),
)
def price_impact_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kyle's-lambda price impact: per-product OLS slope of minute
    price changes on signed volume (block comment above)."""
    from crypto_lakehouse_spark.queries.reference_ops import cached_silver

    s = cached_silver(spark, sf_dir)
    fw = (
        Window.partitionBy("product_id", F.date_trunc("minute", "trade_time"))
        .orderBy("trade_time", "trade_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    per_trade = s.select(
        "product_id",
        F.date_trunc("minute", "trade_time").alias("m"),
        F.when(F.col("side") == "buy", F.col("size"))
        .otherwise(-F.col("size"))
        .alias("sv"),
        F.last("price").over(fw).alias("close"),
    )
    minutes = per_trade.groupBy("product_id", "m").agg(
        F.sum("sv").cast("decimal(18,4)").alias("x"),
        F.max("close").alias("close"),
    )
    ow = Window.partitionBy("product_id").orderBy("m")
    deltas = minutes.select(
        "product_id",
        "x",
        (F.col("close") - F.lag("close").over(ow)).cast("decimal(18,4)").alias("y"),
    ).where(F.col("y").isNotNull())
    xd = F.col("x").cast("double")
    yd = F.col("y").cast("double")
    st = deltas.groupBy("product_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.round(xd * yd, 6).cast("decimal(18,6)")).alias("sxy"),
        F.sum(F.round(xd * xd, 6).cast("decimal(18,6)")).alias("sxx"),
    )
    n = F.col("n")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy, sxx = F.col("sxy").cast("double"), F.col("sxx").cast("double")
    return st.select(
        "product_id",
        n.cast("bigint").alias("n_minutes"),
        F.round(
            (n * sxy - sx * sy) / F.nullif(n * sxx - sx * sx, F.lit(0.0)), 9
        ).alias("kyle_lambda"),
    ).orderBy("product_id")


# --- market microstructure: Amihud illiquidity --------------------------------
# Per product: mean over days of |daily return| / daily volume
# (Amihud 2002) — the standard price-impact-per-dollar illiquidity
# proxy, here from the daily candle relation. Per-day terms are
# rounded then decimal-summed; one double division per day plus one
# per product.

@query(
    "amihud_illiquidity",
    oracle=_DAILY_ORACLE
    + """
SELECT product_id,
       COUNT(*) AS n_days,
       ROUND(CAST(SUM(CAST(ROUND(illiq, 12) AS DECIMAL(24, 12)))
                  AS DOUBLE) / COUNT(*), 9) AS amihud_illiq
FROM (
    SELECT product_id,
           ABS((CAST(close AS DOUBLE) - CAST(open AS DOUBLE))
               / NULLIF(CAST(open AS DOUBLE), 0))
             / NULLIF(CAST(volume AS DOUBLE), 0) AS illiq
    FROM candles
)
WHERE illiq IS NOT NULL
GROUP BY product_id
ORDER BY product_id
""",
    tags=("ta", "microstructure", "liquidity", "aggregation"),
)
def amihud_illiquidity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Amihud illiquidity proxy per product (block comment above)."""
    c = _daily_candles(spark, sf_dir)
    op = F.col("open").cast("double")
    cl = F.col("close").cast("double")
    vol = F.col("volume").cast("double")
    illiq = (
        F.abs((cl - op) / F.nullif(op, F.lit(0.0)))
        / F.nullif(vol, F.lit(0.0))
    ).alias("illiq")
    daily = c.select("product_id", illiq).where(F.col("illiq").isNotNull())
    return (
        daily.groupBy("product_id")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.round(
                F.sum(F.round(F.col("illiq"), 12).cast("decimal(24,12)")).cast(
                    "double"
                )
                / F.count(F.lit(1)),
                9,
            ).alias("amihud_illiq"),
        )
        .orderBy("product_id")
    )


# --- Lo-MacKinlay variance ratio (q = 5) --------------------------------------
# Random-walk diagnostic per product: VR(q) = Var(q-day log return) /
# (q * Var(1-day log return)) over overlapping q-sums (Lo & MacKinlay
# 1988). VR ~ 1 under a random walk, > 1 momentum, < 1 mean reversion
# — the statistic a market-microstructure pipeline computes right
# after Amihud/Kyle. This is the plain homoskedastic VR without the
# small-sample bias correction (documented choice: the correction is
# a deterministic scalar, trivially layered on).
# Determinism discipline: log returns ROUND(...,12) into exact
# DECIMAL; the rolling 5-sum and both deviation sums are decimal
# (order-free); mu and each variance are single double expressions;
# squared deviations are ROUND(...,12) before the decimal sum.

@query(
    "variance_ratio_daily",
    oracle=_DAILY_ORACLE
    + """,
rets AS (
    SELECT product_id, bucket,
           CAST(ROUND(LN(CAST(close AS DOUBLE)
                         / CAST(LAG(close) OVER (PARTITION BY product_id
                                                 ORDER BY bucket)
                                AS DOUBLE)), 12)
                AS DECIMAL(28, 12)) AS r
    FROM candles
),
rets2 AS (SELECT product_id, bucket, r FROM rets WHERE r IS NOT NULL),
m AS (
    SELECT product_id, COUNT(*) AS n,
           CAST(SUM(r) AS DOUBLE) / COUNT(*) AS mu
    FROM rets2 GROUP BY product_id
),
rolls AS (
    SELECT product_id, bucket, r,
           SUM(r) OVER w AS r5, COUNT(r) OVER w AS cnt
    FROM rets2
    WINDOW w AS (PARTITION BY product_id ORDER BY bucket
                 ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
),
d1 AS (
    SELECT s.product_id,
           CAST(ROUND(POW(CAST(s.r AS DOUBLE) - m.mu, 2), 12)
                AS DECIMAL(28, 12)) AS dev
    FROM rets2 s JOIN m ON m.product_id = s.product_id
),
dq AS (
    SELECT s.product_id,
           CAST(ROUND(POW(CAST(s.r5 AS DOUBLE) - 5 * m.mu, 2), 12)
                AS DECIMAL(28, 12)) AS dev
    FROM rolls s JOIN m ON m.product_id = s.product_id
    WHERE s.cnt = 5
),
v1 AS (
    SELECT product_id, COUNT(*) AS n1,
           CAST(SUM(dev) AS DOUBLE) / (COUNT(*) - 1) AS var1
    FROM d1 GROUP BY product_id HAVING COUNT(*) > 1
),
vq AS (
    SELECT product_id, COUNT(*) AS nq,
           CAST(SUM(dev) AS DOUBLE) / (COUNT(*) - 1) AS varq
    FROM dq GROUP BY product_id HAVING COUNT(*) > 1
)
SELECT v1.product_id,
       CAST(v1.n1 AS BIGINT) AS n_returns,
       ROUND(v1.var1, 9) AS var_1d,
       ROUND(vq.varq, 9) AS var_5d,
       ROUND(vq.varq / (5 * v1.var1), 9) AS variance_ratio
FROM v1 JOIN vq ON vq.product_id = v1.product_id
ORDER BY v1.product_id
""",
    tags=("ta", "variance-ratio", "microstructure", "window"),
)
def variance_ratio_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lo-MacKinlay VR(5) per product over daily closes (block comment
    above: exact-decimal sums, single-double-expression statistics)."""
    c = _daily_candles(spark, sf_dir)
    w = Window.partitionBy("product_id").orderBy("bucket")
    cl = F.col("close").cast("double")
    r_dbl = F.log(cl / F.lag(cl).over(w))
    rets = (
        c.select(
            "product_id",
            "bucket",
            F.round(r_dbl, 12).cast("decimal(28,12)").alias("r"),
        )
        .where(F.col("r").isNotNull())
    )
    m = rets.groupBy("product_id").agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum("r").cast("double") / F.count(F.lit(1))).alias("mu"),
    )
    w5 = w.rowsBetween(-4, 0)
    rolls = rets.select(
        "product_id",
        "r",
        F.sum("r").over(w5).alias("r5"),
        F.count("r").over(w5).alias("cnt"),
    )
    d1 = rets.join(m, "product_id").select(
        "product_id",
        F.round(F.pow(F.col("r").cast("double") - F.col("mu"), 2), 12)
        .cast("decimal(28,12)")
        .alias("dev"),
    )
    dq = (
        rolls.where(F.col("cnt") == 5)
        .join(m, "product_id")
        .select(
            "product_id",
            F.round(
                F.pow(F.col("r5").cast("double") - 5 * F.col("mu"), 2), 12
            )
            .cast("decimal(28,12)")
            .alias("dev"),
        )
    )

    def _var(df: DataFrame, n_name: str, v_name: str) -> DataFrame:
        return (
            df.groupBy("product_id")
            .agg(
                F.count(F.lit(1)).alias(n_name),
                (
                    F.sum("dev").cast("double")
                    / (F.count(F.lit(1)) - 1)
                ).alias(v_name),
            )
            .where(F.col(n_name) > 1)
        )

    v1 = _var(d1, "n1", "var1")
    vq = _var(dq, "nq", "varq")
    return (
        v1.join(vq, "product_id")
        .select(
            "product_id",
            F.col("n1").cast("bigint").alias("n_returns"),
            # ROUND(...,9) on emission (house discipline): a 1e-12
            # grid put the double division result ON a boundary where
            # Spark and DuckDB ROUND(double) disagree by one step.
            F.round("var1", 9).alias("var_1d"),
            F.round("varq", 9).alias("var_5d"),
            F.round(F.col("varq") / (5 * F.col("var1")), 9).alias(
                "variance_ratio"
            ),
        )
        .orderBy("product_id")
    )


# --- return autocorrelation function (lags 1..5) -----------------------------
# ACF(k) = sum (r_t - mu)(r_{t-k} - mu) / sum (r_t - mu)^2 per product
# over daily log returns — the serial-dependence diagnostic next to
# the Lo-MacKinlay VR above (VR aggregates ACF mass; the ACF shows
# WHERE it sits). Same exactness discipline: returns and cross
# products are ROUND(...,12)-then-DECIMAL summed, mu and the final
# ratio are single double expressions, ROUND(...,9) on emission.
# Plan: one LAG window for returns, one 5-lag LAG fan-out (constant
# 5x row multiplier, not data-dependent), two grouped aggregates —
# all partitioned by product, no global shuffle.
@query(
    "return_acf_daily",
    oracle=_DAILY_ORACLE
    + """,
rets AS (
    SELECT product_id, bucket,
           CAST(ROUND(LN(CAST(close AS DOUBLE)
                         / CAST(LAG(close) OVER (PARTITION BY product_id
                                                 ORDER BY bucket)
                                AS DOUBLE)), 12)
                AS DECIMAL(28, 12)) AS r
    FROM candles
),
rets2 AS (SELECT product_id, bucket, r FROM rets WHERE r IS NOT NULL),
m AS (
    SELECT product_id, COUNT(*) AS n,
           CAST(SUM(r) AS DOUBLE) / COUNT(*) AS mu
    FROM rets2 GROUP BY product_id
),
denom AS (
    SELECT s.product_id,
           SUM(CAST(ROUND(POW(CAST(s.r AS DOUBLE) - m.mu, 2), 12)
                    AS DECIMAL(28, 12))) AS d
    FROM rets2 s JOIN m ON m.product_id = s.product_id
    GROUP BY s.product_id
),
lagged AS (
    SELECT product_id, bucket, r,
           LAG(r, 1) OVER w AS r1, LAG(r, 2) OVER w AS r2,
           LAG(r, 3) OVER w AS r3, LAG(r, 4) OVER w AS r4,
           LAG(r, 5) OVER w AS r5
    FROM rets2
    WINDOW w AS (PARTITION BY product_id ORDER BY bucket)
),
longf AS (
    SELECT l.product_id, k.k,
           CASE k.k WHEN 1 THEN l.r1 WHEN 2 THEN l.r2 WHEN 3 THEN l.r3
                    WHEN 4 THEN l.r4 ELSE l.r5 END AS rk,
           l.r
    FROM lagged l
    CROSS JOIN (SELECT 1 AS k UNION ALL SELECT 2 UNION ALL SELECT 3
                UNION ALL SELECT 4 UNION ALL SELECT 5) k
),
num AS (
    SELECT f.product_id, f.k,
           COUNT(*) AS n_pairs,
           SUM(CAST(ROUND((CAST(f.r AS DOUBLE) - m.mu)
                          * (CAST(f.rk AS DOUBLE) - m.mu), 12)
                    AS DECIMAL(28, 12))) AS s
    FROM longf f JOIN m ON m.product_id = f.product_id
    WHERE f.rk IS NOT NULL
    GROUP BY f.product_id, f.k
)
SELECT n.product_id,
       CAST(n.k AS INT) AS lag,
       CAST(n.n_pairs AS BIGINT) AS n_pairs,
       ROUND(CAST(n.s AS DOUBLE) / CAST(d.d AS DOUBLE), 9) AS acf
FROM num n JOIN denom d ON d.product_id = n.product_id
ORDER BY n.product_id, lag
""",
    tags=("ta", "acf", "autocorrelation", "window"),
)
def return_acf_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-return ACF at lags 1..5 per product (block comment
    above)."""
    c = _daily_candles(spark, sf_dir)
    w = Window.partitionBy("product_id").orderBy("bucket")
    cl = F.col("close").cast("double")
    rets = (
        c.select(
            "product_id",
            "bucket",
            F.round(F.log(cl / F.lag(cl).over(w)), 12)
            .cast("decimal(28,12)")
            .alias("r"),
        )
        .where(F.col("r").isNotNull())
    )
    m = rets.groupBy("product_id").agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum("r").cast("double") / F.count(F.lit(1))).alias("mu"),
    )
    denom = (
        rets.join(m, "product_id")
        .select(
            "product_id",
            F.round(F.pow(F.col("r").cast("double") - F.col("mu"), 2), 12)
            .cast("decimal(28,12)")
            .alias("dev"),
        )
        .groupBy("product_id")
        .agg(F.sum("dev").alias("d"))
    )
    lagged = rets.select(
        "product_id",
        "bucket",
        "r",
        *[F.lag("r", k).over(w).alias(f"r{k}") for k in range(1, 6)],
    )
    longf = lagged.selectExpr(
        "product_id",
        "r",
        "stack(5, 1, r1, 2, r2, 3, r3, 4, r4, 5, r5) AS (k, rk)",
    ).where(F.col("rk").isNotNull())
    num = (
        longf.join(m, "product_id")
        .select(
            "product_id",
            "k",
            F.round(
                (F.col("r").cast("double") - F.col("mu"))
                * (F.col("rk").cast("double") - F.col("mu")),
                12,
            )
            .cast("decimal(28,12)")
            .alias("t"),
        )
        .groupBy("product_id", "k")
        .agg(F.count(F.lit(1)).alias("n_pairs"), F.sum("t").alias("s"))
    )
    return (
        num.join(denom, "product_id")
        .select(
            "product_id",
            F.col("k").cast("int").alias("lag"),
            F.col("n_pairs").cast("bigint").alias("n_pairs"),
            F.round(
                F.col("s").cast("double") / F.col("d").cast("double"), 9
            ).alias("acf"),
        )
        .orderBy("product_id", "lag")
    )

# --- stochastic oscillator (14, 3) -------------------------------------------
# %K = 100 * (close - min(low,14)) / (max(high,14) - min(low,14)),
# %D = 3-day SMA of %K — the classic range-position momentum pair.
# Pure ROWS-frame windows on the candle relation (two frames, one
# per-product shuffle). min/max run on exact DECIMAL candles; %K is
# one double division ROUND(...,9)-stabilized; %D sums the rounded %K
# as DECIMAL(15,9) (exact, order-free) with one division at emission.
# Flat 14-day ranges (max == min) yield NULL %K by the NULLIF guard —
# identical in both engines; %D requires 3 non-null %K in frame.


@query(
    "stochastic_oscillator_14",
    oracle=_DAILY_ORACLE
    + """,
rolled AS (
    SELECT product_id, bucket, close,
           MIN(low) OVER w14 AS min_low,
           MAX(high) OVER w14 AS max_high,
           COUNT(*) OVER w14 AS n
    FROM candles
    WINDOW w14 AS (PARTITION BY product_id ORDER BY bucket
                   ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
),
k AS (
    SELECT product_id, bucket, CAST(close AS DOUBLE) AS close,
           ROUND(100 * (CAST(close AS DOUBLE) - CAST(min_low AS DOUBLE))
                 / NULLIF(CAST(max_high AS DOUBLE)
                          - CAST(min_low AS DOUBLE), 0), 9) AS pct_k
    FROM rolled WHERE n >= 14
),
d AS (
    SELECT product_id, bucket, close, pct_k,
           SUM(CAST(pct_k AS DECIMAL(15, 9))) OVER w3 AS sk,
           COUNT(pct_k) OVER w3 AS nk
    FROM k
    WINDOW w3 AS (PARTITION BY product_id ORDER BY bucket
                  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
)
SELECT product_id, strftime(bucket, '%Y-%m-%d') AS date, close, pct_k,
       ROUND(CAST(sk AS DOUBLE) / nk, 9) AS pct_d
FROM d WHERE nk >= 3
ORDER BY product_id, date
""",
    tags=("ta", "stochastic", "momentum", "window"),
)
def stochastic_oscillator_14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stochastic %K/%D over daily candles (block comment above)."""
    c = _daily_candles(spark, sf_dir)
    ow = Window.partitionBy("product_id").orderBy("bucket")
    w14 = ow.rowsBetween(-13, 0)
    w3 = ow.rowsBetween(-2, 0)
    rolled = c.select(
        "product_id",
        "bucket",
        "close",
        F.min("low").over(w14).alias("min_low"),
        F.max("high").over(w14).alias("max_high"),
        F.count(F.lit(1)).over(w14).alias("n"),
    ).where(F.col("n") >= 14)
    cl = F.col("close").cast("double")
    lo = F.col("min_low").cast("double")
    hi = F.col("max_high").cast("double")
    k = rolled.select(
        "product_id",
        "bucket",
        cl.alias("close"),
        F.round(100 * (cl - lo) / F.nullif(hi - lo, F.lit(0.0)), 9).alias(
            "pct_k"
        ),
    )
    d = k.select(
        "product_id",
        "bucket",
        "close",
        "pct_k",
        F.sum(F.col("pct_k").cast("decimal(15,9)")).over(w3).alias("sk"),
        F.count("pct_k").over(w3).alias("nk"),
    ).where(F.col("nk") >= 3)
    return d.select(
        "product_id",
        fmt_date("bucket").alias("date"),
        "close",
        "pct_k",
        F.round(F.col("sk").cast("double") / F.col("nk"), 9).alias("pct_d"),
    ).orderBy("product_id", "date")


# --- market-model beta (OLS vs equal-weight market return) -------------------
# beta_p = cov(r_p, r_m) / var(r_m), alpha_p = mean(r_p) - beta_p *
# mean(r_m), with r_m the equal-weight cross-sectional mean of the
# per-product daily returns (the product itself included — standard
# index convention). Returns are ROUND(...,9)-stabilized doubles
# first, then every sufficient statistic (sx, sm, sxm, smm) runs in
# exact DECIMAL (the (15,9)x(15,9) product is exact at scale 18);
# beta/alpha are single double expressions at emission. Scale shape:
# the market relation is one row per DAY — broadcast-sized against
# the day-keyed return join for any asset universe.


@query(
    "beta_vs_market",
    oracle=_DAILY_ORACLE
    + """,
rets AS (
    SELECT product_id, bucket,
           ROUND((CAST(close AS DOUBLE)
                  - CAST(LAG(close) OVER w AS DOUBLE))
                 / CAST(LAG(close) OVER w AS DOUBLE), 9) AS r
    FROM candles
    WINDOW w AS (PARTITION BY product_id ORDER BY bucket)
),
rets2 AS (SELECT product_id, bucket, CAST(r AS DECIMAL(15, 9)) AS r
          FROM rets WHERE r IS NOT NULL),
mkt AS (
    SELECT bucket,
           CAST(ROUND(CAST(SUM(r) AS DOUBLE) / COUNT(*), 9)
                AS DECIMAL(15, 9)) AS rm
    FROM rets2 GROUP BY bucket
),
s AS (
    SELECT p.product_id, COUNT(*) AS n,
           SUM(p.r) AS sx, SUM(m.rm) AS sm,
           SUM(p.r * m.rm) AS sxm, SUM(m.rm * m.rm) AS smm
    FROM rets2 p JOIN mkt m ON m.bucket = p.bucket
    GROUP BY p.product_id
)
SELECT product_id, CAST(n AS BIGINT) AS n_days,
       ROUND((n * CAST(sxm AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sm AS DOUBLE))
             / NULLIF(n * CAST(smm AS DOUBLE)
                      - CAST(sm AS DOUBLE) * CAST(sm AS DOUBLE), 0),
             9) AS beta,
       ROUND((CAST(sx AS DOUBLE)
              - ((n * CAST(sxm AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sm AS DOUBLE))
                 / NULLIF(n * CAST(smm AS DOUBLE)
                          - CAST(sm AS DOUBLE) * CAST(sm AS DOUBLE), 0))
                * CAST(sm AS DOUBLE)) / n,
             9) AS alpha
FROM s
ORDER BY product_id
""",
    tags=("ta", "beta", "ols", "market-model"),
)
def beta_vs_market(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-product market-model beta/alpha vs the equal-weight market
    return (block comment above)."""
    c = _daily_candles(spark, sf_dir)
    ow = Window.partitionBy("product_id").orderBy("bucket")
    prev = F.lag("close").over(ow).cast("double")
    rets = (
        c.select(
            "product_id",
            "bucket",
            F.round((F.col("close").cast("double") - prev) / prev, 9)
            .cast("decimal(15,9)")
            .alias("r"),
        )
        .where(F.col("r").isNotNull())
    )
    mkt = rets.groupBy("bucket").agg(
        F.round(F.sum("r").cast("double") / F.count(F.lit(1)), 9)
        .cast("decimal(15,9)")
        .alias("rm")
    )
    s = (
        rets.join(mkt, "bucket")
        .groupBy("product_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("r").alias("sx"),
            F.sum("rm").alias("sm"),
            F.sum(F.col("r") * F.col("rm")).alias("sxm"),
            F.sum(F.col("rm") * F.col("rm")).alias("smm"),
        )
    )
    n = F.col("n")
    sx = F.col("sx").cast("double")
    sm = F.col("sm").cast("double")
    sxm = F.col("sxm").cast("double")
    smm = F.col("smm").cast("double")
    beta = (n * sxm - sx * sm) / F.nullif(n * smm - sm * sm, F.lit(0.0))
    return s.select(
        "product_id",
        n.cast("bigint").alias("n_days"),
        F.round(beta, 9).alias("beta"),
        F.round((sx - beta * sm) / n, 9).alias("alpha"),
    ).orderBy("product_id")


# --- Spearman rank correlation of daily returns ------------------------------
# rho = 1 - 6 * sum(d^2) / (n * (n^2 - 1)) over per-pair rank
# differences — the robust (monotone, outlier-insensitive) twin of
# returns_correlation_matrix above. Ranks are ROW_NUMBER over
# (return, bucket) WITHIN each pair's joined day set, so ranks are a
# permutation of 1..n and the no-ties closed form is EXACT for this
# rank definition (the bucket tie-break replaces average-rank ties
# with a deterministic order, identical in both engines). Every
# sufficient statistic is an integer; one double expression emits rho.
# Scale: day-keyed pair join (same shape note as the Pearson matrix),
# then two rank windows per pair partition — fan-out is pairs x days,
# linear in history for a fixed asset universe.


@query(
    "spearman_returns_corr",
    oracle=_DAILY_ORACLE
    + """,
rets AS (
    SELECT product_id, bucket,
           ROUND((CAST(close AS DOUBLE)
                  - CAST(LAG(close) OVER w AS DOUBLE))
                 / CAST(LAG(close) OVER w AS DOUBLE), 9) AS r
    FROM candles
    WINDOW w AS (PARTITION BY product_id ORDER BY bucket)
),
rets2 AS (SELECT product_id, bucket, r FROM rets WHERE r IS NOT NULL),
pairs AS (
    SELECT a.product_id AS product_a, b.product_id AS product_b,
           a.bucket AS bucket, a.r AS x, b.r AS y
    FROM rets2 a
    JOIN rets2 b ON a.bucket = b.bucket AND a.product_id < b.product_id
),
ranked AS (
    SELECT product_a, product_b,
           ROW_NUMBER() OVER (PARTITION BY product_a, product_b
                              ORDER BY x, bucket) AS rx,
           ROW_NUMBER() OVER (PARTITION BY product_a, product_b
                              ORDER BY y, bucket) AS ry
    FROM pairs
),
s AS (
    SELECT product_a, product_b, COUNT(*) AS n,
           SUM((rx - ry) * (rx - ry)) AS sd2
    FROM ranked GROUP BY product_a, product_b
)
SELECT product_a, product_b, CAST(n AS BIGINT) AS n_days,
       ROUND(1 - 6.0 * sd2
             / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) * n - 1)),
             9) AS spearman_rho
FROM s
WHERE n >= 2
ORDER BY product_a, product_b
""",
    tags=("ta", "correlation", "spearman", "rank"),
)
def spearman_returns_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Spearman rank correlation of per-product daily
    returns (block comment above: deterministic bucket tie-break,
    integer sufficient statistics, closed form)."""
    c = _daily_candles(spark, sf_dir)
    ow = Window.partitionBy("product_id").orderBy("bucket")
    prev = F.lag("close").over(ow).cast("double")
    rets = (
        c.select(
            "product_id",
            "bucket",
            F.round((F.col("close").cast("double") - prev) / prev, 9).alias(
                "r"
            ),
        )
        .where(F.col("r").isNotNull())
    )
    a = rets.select(
        F.col("product_id").alias("product_a"),
        "bucket",
        F.col("r").alias("x"),
    )
    b = rets.select(
        F.col("product_id").alias("product_b"),
        F.col("bucket").alias("bucket_b"),
        F.col("r").alias("y"),
    )
    pairs = a.join(
        b,
        (F.col("bucket") == F.col("bucket_b"))
        & (F.col("product_a") < F.col("product_b")),
    )
    wp = Window.partitionBy("product_a", "product_b")
    ranked = pairs.select(
        "product_a",
        "product_b",
        F.row_number().over(wp.orderBy("x", "bucket")).alias("rx"),
        F.row_number().over(wp.orderBy("y", "bucket")).alias("ry"),
    )
    d = F.col("rx") - F.col("ry")
    s = ranked.groupBy("product_a", "product_b").agg(
        F.count(F.lit(1)).alias("n"), F.sum(d * d).alias("sd2")
    )
    n = F.col("n")
    nd = n.cast("double")
    return (
        s.where(n >= 2)
        .select(
            "product_a",
            "product_b",
            n.cast("bigint").alias("n_days"),
            F.round(
                1 - 6.0 * F.col("sd2") / (nd * (nd * n - 1)), 9
            ).alias("spearman_rho"),
        )
        .orderBy("product_a", "product_b")
    )


# --- Theil-Sen robust trend (daily close) ------------------------------------
# slope = median over all day pairs (i < j) of
# (close_j - close_i) / (day_j - day_i) — the robust trend estimator
# (Theil 1950 / Sen 1968): up to ~29% contamination moves it nowhere,
# where OLS chases every outlier. The time axis is the REAL epoch-day
# (integer, gap-aware), not the row index. "Median" is the LOWER
# median at position floor((n+1)/2) of the (slope, day_i, day_j)
# ordering — a deterministic convention both engines share (no
# even-count interpolation). Slopes are ROUND(...,12) doubles computed
# from exact decimal differences over an integer denominator, so both
# engines rank identical values. Scale shape: the pair self-join is
# QUADRATIC IN DAYS PER PRODUCT by design — bounded (~n_days^2/2 per
# product, 11k pairs at 150 days) because the daily axis grows by 365
# rows/year regardless of corpus bytes; the join is product-keyed so
# pairs never cross products. For intraday axes use a windowed
# subsample first.


@query(
    "theil_sen_trend_daily",
    oracle=_DAILY_ORACLE
    + """,
px AS (
    SELECT product_id,
           CAST(floor(epoch(bucket) / 86400.0) AS BIGINT) AS d,
           close
    FROM candles
),
slopes AS (
    SELECT a.product_id,
           ROUND(CAST(b.close - a.close AS DOUBLE) / (b.d - a.d), 12)
               AS slope,
           a.d AS di, b.d AS dj
    FROM px a
    JOIN px b ON b.product_id = a.product_id AND b.d > a.d
),
ranked AS (
    SELECT product_id, slope,
           ROW_NUMBER() OVER (PARTITION BY product_id
                              ORDER BY slope, di, dj) AS rn,
           COUNT(*) OVER (PARTITION BY product_id) AS n
    FROM slopes
)
SELECT product_id,
       CAST(n AS BIGINT) AS n_pairs,
       ROUND(slope, 9) AS theil_sen_slope
FROM ranked
WHERE rn = (n + 1) // 2
ORDER BY product_id
""",
    tags=("ta", "theil-sen", "robust", "trend"),
)
def theil_sen_trend_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust daily trend per product (block comment
    above: lower-median convention, epoch-day axis, bounded
    product-keyed pair join)."""
    c = _daily_candles(spark, sf_dir)
    px = c.select(
        "product_id",
        F.floor(F.unix_timestamp("bucket") / 86400.0)
        .cast("bigint")
        .alias("d"),
        "close",
    )
    a = px.select(
        "product_id", F.col("d").alias("di"), F.col("close").alias("ca")
    )
    b = px.select(
        F.col("product_id").alias("pb"),
        F.col("d").alias("dj"),
        F.col("close").alias("cb"),
    )
    slopes = a.join(
        b, (F.col("product_id") == F.col("pb")) & (F.col("dj") > F.col("di"))
    ).select(
        "product_id",
        F.round(
            (F.col("cb") - F.col("ca")).cast("double")
            / (F.col("dj") - F.col("di")),
            12,
        ).alias("slope"),
        "di",
        "dj",
    )
    wp = Window.partitionBy("product_id")
    ranked = slopes.select(
        "product_id",
        "slope",
        F.row_number().over(wp.orderBy("slope", "di", "dj")).alias("rn"),
        F.count(F.lit(1)).over(wp).alias("n"),
    )
    return (
        ranked.where(F.col("rn") == F.expr("(n + 1) DIV 2"))
        .select(
            "product_id",
            F.col("n").cast("bigint").alias("n_pairs"),
            F.round("slope", 9).alias("theil_sen_slope"),
        )
        .orderBy("product_id")
    )


# --- Kendall tau-b of daily returns ------------------------------------------
# tau_b = (C - D) / sqrt((n0 - tx) * (n0 - ty)) over all day pairs
# (i < j) of each product pair's joined daily returns, where C/D are
# concordant/discordant counts, n0 = n(n-1)/2 and tx/ty the tied-pair
# counts per axis — the tie-corrected Kendall correlation. EVERY
# sufficient statistic is an integer (sign comparisons of ROUND(9)
# returns both engines computed identically), so the only float is
# the final expression. Scale shape: quadratic in DAYS per product
# pair by design (like theil_sen_trend_daily — the daily axis grows
# 365 rows/year regardless of corpus bytes); the day-pair join is
# keyed on the product pair so nothing crosses pairs.


@query(
    "kendall_tau_daily",
    oracle=_DAILY_ORACLE
    + """,
rets AS (
    SELECT product_id, bucket,
           ROUND((CAST(close AS DOUBLE)
                  - CAST(LAG(close) OVER w AS DOUBLE))
                 / CAST(LAG(close) OVER w AS DOUBLE), 9) AS r
    FROM candles
    WINDOW w AS (PARTITION BY product_id ORDER BY bucket)
),
rets2 AS (SELECT product_id, bucket, r FROM rets WHERE r IS NOT NULL),
obs AS (
    SELECT a.product_id AS pa, b.product_id AS pb,
           a.bucket AS bucket, a.r AS x, b.r AS y
    FROM rets2 a
    JOIN rets2 b ON a.bucket = b.bucket AND a.product_id < b.product_id
),
daypairs AS (
    SELECT o1.pa, o1.pb,
           o1.x AS x1, o1.y AS y1, o2.x AS x2, o2.y AS y2
    FROM obs o1
    JOIN obs o2 ON o2.pa = o1.pa AND o2.pb = o1.pb
              AND o2.bucket > o1.bucket
),
s AS (
    SELECT pa, pb, COUNT(*) AS n0,
           SUM(CASE WHEN (x2 > x1 AND y2 > y1) OR (x2 < x1 AND y2 < y1)
                    THEN 1 ELSE 0 END) AS c,
           SUM(CASE WHEN (x2 > x1 AND y2 < y1) OR (x2 < x1 AND y2 > y1)
                    THEN 1 ELSE 0 END) AS d,
           SUM(CASE WHEN x2 = x1 THEN 1 ELSE 0 END) AS tx,
           SUM(CASE WHEN y2 = y1 THEN 1 ELSE 0 END) AS ty
    FROM daypairs GROUP BY pa, pb
)
SELECT pa AS product_a, pb AS product_b,
       CAST(n0 AS BIGINT) AS n_day_pairs,
       CAST(c AS BIGINT) AS concordant,
       CAST(d AS BIGINT) AS discordant,
       ROUND((c - d) / NULLIF(SQRT(CAST(n0 - tx AS DOUBLE)
                                   * CAST(n0 - ty AS DOUBLE)), 0),
             9) AS kendall_tau_b
FROM s
ORDER BY product_a, product_b
""",
    tags=("ta", "correlation", "kendall", "rank"),
)
def kendall_tau_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tie-corrected Kendall tau-b per product pair over daily
    returns (block comment above: integer sufficient statistics,
    bounded day-pair join)."""
    c = _daily_candles(spark, sf_dir)
    ow = Window.partitionBy("product_id").orderBy("bucket")
    prev = F.lag("close").over(ow).cast("double")
    rets = (
        c.select(
            "product_id",
            "bucket",
            F.round((F.col("close").cast("double") - prev) / prev, 9).alias(
                "r"
            ),
        )
        .where(F.col("r").isNotNull())
    )
    a = rets.select(
        F.col("product_id").alias("pa"), "bucket", F.col("r").alias("x")
    )
    b = rets.select(
        F.col("product_id").alias("pb"),
        F.col("bucket").alias("bucket_b"),
        F.col("r").alias("y"),
    )
    obs = a.join(
        b,
        (F.col("bucket") == F.col("bucket_b"))
        & (F.col("pa") < F.col("pb")),
    ).select("pa", "pb", "bucket", "x", "y")
    o2 = obs.select(
        F.col("pa").alias("pa2"),
        F.col("pb").alias("pb2"),
        F.col("bucket").alias("bucket2"),
        F.col("x").alias("x2"),
        F.col("y").alias("y2"),
    )
    daypairs = obs.join(
        o2,
        (F.col("pa") == F.col("pa2"))
        & (F.col("pb") == F.col("pb2"))
        & (F.col("bucket2") > F.col("bucket")),
    )
    x1, y1, x2, y2 = (F.col(c_) for c_ in ("x", "y", "x2", "y2"))
    conc = ((x2 > x1) & (y2 > y1)) | ((x2 < x1) & (y2 < y1))
    disc = ((x2 > x1) & (y2 < y1)) | ((x2 < x1) & (y2 > y1))
    s = daypairs.groupBy("pa", "pb").agg(
        F.count(F.lit(1)).alias("n0"),
        F.sum(F.when(conc, 1).otherwise(0)).alias("c"),
        F.sum(F.when(disc, 1).otherwise(0)).alias("d"),
        F.sum(F.when(x2 == x1, 1).otherwise(0)).alias("tx"),
        F.sum(F.when(y2 == y1, 1).otherwise(0)).alias("ty"),
    )
    denom = F.sqrt(
        (F.col("n0") - F.col("tx")).cast("double")
        * (F.col("n0") - F.col("ty")).cast("double")
    )
    return s.select(
        F.col("pa").alias("product_a"),
        F.col("pb").alias("product_b"),
        F.col("n0").cast("bigint").alias("n_day_pairs"),
        F.col("c").cast("bigint").alias("concordant"),
        F.col("d").cast("bigint").alias("discordant"),
        F.round(
            (F.col("c") - F.col("d")) / F.nullif(denom, F.lit(0.0)), 9
        ).alias("kendall_tau_b"),
    ).orderBy("product_a", "product_b")


# --- CUSUM mean-shift detection over daily returns ----------------------------
# Page's one-sided CUSUM pair via the prefix identity (no recursion):
#   S+_t = C_t - min_{s<=t} C_s,   S-_t = max_{s<=t} C_s - C_t
# with C the running sum of (r_t - k) [resp. (r_t + k)], slack
# k = 0.5 * sigma and alarm threshold h = 4 * sigma (the conventional
# chart tuning), sigma the per-product return stddev. The recursion
# max(0, S_{t-1} + x_t) is EXACTLY the prefix-min identity, so the
# whole chart is two cumulative windows — declarative and parallel
# where the textbook form is a sequential fold. Returns and k are
# ROUND(9)-stabilized then DECIMAL-summed (exact prefix sums); sigma
# comes from exact decimal moment sums with one double sqrt. Alarms
# count the days where the statistic exceeds h.
# Scale: one per-product aggregate (sigma), one broadcast join back,
# two ordered windows per product — the candle shuffle structure.


@query(
    "cusum_mean_shift_daily",
    oracle=_DAILY_ORACLE
    + """,
rets AS (
    SELECT product_id, bucket,
           CAST(ROUND((CAST(close AS DOUBLE)
                       - CAST(LAG(close) OVER w AS DOUBLE))
                      / CAST(LAG(close) OVER w AS DOUBLE), 9)
                AS DECIMAL(15, 9)) AS r
    FROM candles
    WINDOW w AS (PARTITION BY product_id ORDER BY bucket)
),
rets2 AS (SELECT product_id, bucket, r FROM rets WHERE r IS NOT NULL),
sig AS (
    -- k = ROUND(sigma/2, 9) is materialized as its own DECIMAL column:
    -- a raw sigma/2 inside the window sum would hit the engines'
    -- DIFFERENT decimal-division scale rules (the PSI lesson).
    SELECT product_id, COUNT(*) AS n,
           CAST(ROUND(SQRT(GREATEST(
               (CAST(SUM(r * r) AS DOUBLE)
                - CAST(SUM(r) AS DOUBLE) * CAST(SUM(r) AS DOUBLE) / COUNT(*))
               / (COUNT(*) - 1), 0)), 9) AS DECIMAL(15, 9)) AS sigma,
           CAST(ROUND(SQRT(GREATEST(
               (CAST(SUM(r * r) AS DOUBLE)
                - CAST(SUM(r) AS DOUBLE) * CAST(SUM(r) AS DOUBLE) / COUNT(*))
               / (COUNT(*) - 1), 0)) / 2, 9) AS DECIMAL(15, 9)) AS k
    FROM rets2 GROUP BY product_id HAVING COUNT(*) > 1
),
cum AS (
    SELECT r.product_id, r.bucket, s.sigma,
           SUM(r.r - s.k) OVER wc AS cp,
           SUM(r.r + s.k) OVER wc AS cm
    FROM rets2 r JOIN sig s ON s.product_id = r.product_id
    WINDOW wc AS (PARTITION BY r.product_id ORDER BY r.bucket
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
stat AS (
    SELECT product_id, bucket, sigma,
           cp - LEAST(MIN(cp) OVER wc, 0) AS s_plus,
           GREATEST(MAX(cm) OVER wc, 0) - cm AS s_minus
    FROM cum
    WINDOW wc AS (PARTITION BY product_id ORDER BY bucket
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT product_id,
       COUNT(*) AS n_days,
       CAST(SUM(CASE WHEN s_plus > 4 * sigma THEN 1 ELSE 0 END)
            AS BIGINT) AS n_alarms_up,
       CAST(SUM(CASE WHEN s_minus > 4 * sigma THEN 1 ELSE 0 END)
            AS BIGINT) AS n_alarms_down,
       ROUND(CAST(MAX(s_plus) AS DOUBLE), 9) AS max_s_plus,
       ROUND(CAST(MAX(s_minus) AS DOUBLE), 9) AS max_s_minus
FROM stat
GROUP BY product_id
ORDER BY product_id
""",
    tags=("ta", "cusum", "drift", "window"),
)
def cusum_mean_shift_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page CUSUM mean-shift chart per product via the prefix-min
    identity (block comment above)."""
    c = _daily_candles(spark, sf_dir)
    ow = Window.partitionBy("product_id").orderBy("bucket")
    prev = F.lag("close").over(ow).cast("double")
    rets = (
        c.select(
            "product_id",
            "bucket",
            F.round((F.col("close").cast("double") - prev) / prev, 9)
            .cast("decimal(15,9)")
            .alias("r"),
        )
        .where(F.col("r").isNotNull())
    )
    sr = F.sum("r").cast("double")
    srr = F.sum(F.col("r") * F.col("r")).cast("double")
    n = F.count(F.lit(1))
    sig = (
        rets.groupBy("product_id")
        .agg(
            n.alias("n"),
            F.round(
                F.sqrt(
                    F.greatest(
                        (srr - sr * sr / n) / (n - 1), F.lit(0.0)
                    )
                ),
                9,
            )
            .cast("decimal(15,9)")
            .alias("sigma"),
            F.round(
                F.sqrt(
                    F.greatest(
                        (srr - sr * sr / n) / (n - 1), F.lit(0.0)
                    )
                )
                / 2,
                9,
            )
            .cast("decimal(15,9)")
            .alias("k"),
        )
        .where(F.col("n") > 1)
        .select("product_id", "sigma", "k")
    )
    wc = ow.rowsBetween(Window.unboundedPreceding, 0)
    cum = rets.join(sig, "product_id").select(
        "product_id",
        "bucket",
        "sigma",
        F.sum(F.col("r") - F.col("k")).over(wc).alias("cp"),
        F.sum(F.col("r") + F.col("k")).over(wc).alias("cm"),
    )
    stat = cum.select(
        "product_id",
        "bucket",
        "sigma",
        (
            F.col("cp")
            - F.least(F.min("cp").over(wc), F.lit(0).cast("decimal(15,9)"))
        ).alias("s_plus"),
        (
            F.greatest(
                F.max("cm").over(wc), F.lit(0).cast("decimal(15,9)")
            )
            - F.col("cm")
        ).alias("s_minus"),
    )
    return (
        stat.groupBy("product_id")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.sum(
                F.when(F.col("s_plus") > 4 * F.col("sigma"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_alarms_up"),
            F.sum(
                F.when(F.col("s_minus") > 4 * F.col("sigma"), 1).otherwise(
                    0
                )
            )
            .cast("bigint")
            .alias("n_alarms_down"),
            F.round(F.max("s_plus").cast("double"), 9).alias("max_s_plus"),
            F.round(F.max("s_minus").cast("double"), 9).alias("max_s_minus"),
        )
        .orderBy("product_id")
    )


# --- Wald-Wolfowitz runs test on daily return signs ---------------------------
# Tests return-sign randomness per product: R = number of sign runs,
# z = (R - mu) / sigma with mu = 2*n1*n2/n + 1 and
# sigma^2 = (mu-1)(mu-2)/(n-1) — too few runs means momentum
# (signs cluster), too many means mean-reversion (signs alternate).
# Zero returns are excluded by the standard convention. The run count
# is a gaps-and-islands integer (sign != lag(sign)); n1/n2/n are
# integers; mu/sigma/z are one fixed double expression each at
# emission. One ordered window per product + one aggregate.


@query(
    "runs_test_daily_returns",
    oracle=_DAILY_ORACLE
    + """,
rets AS (
    SELECT product_id, bucket,
           CAST(ROUND((CAST(close AS DOUBLE)
                       - CAST(LAG(close) OVER w AS DOUBLE))
                      / CAST(LAG(close) OVER w AS DOUBLE), 9)
                AS DECIMAL(15, 9)) AS r
    FROM candles
    WINDOW w AS (PARTITION BY product_id ORDER BY bucket)
),
signs AS (
    SELECT product_id, bucket,
           CASE WHEN r > 0 THEN 1 ELSE 0 END AS s
    FROM rets WHERE r IS NOT NULL AND r <> 0
),
marked AS (
    SELECT product_id, s,
           CASE WHEN LAG(s) OVER (PARTITION BY product_id
                                  ORDER BY bucket) IS NULL THEN 1
                WHEN s <> LAG(s) OVER (PARTITION BY product_id
                                       ORDER BY bucket) THEN 1
                ELSE 0 END AS new_run
    FROM signs
),
rt_agg AS (
    SELECT product_id,
           COUNT(*) AS n,
           SUM(s) AS n_up,
           COUNT(*) - SUM(s) AS n_down,
           SUM(new_run) AS runs
    FROM marked GROUP BY product_id
    HAVING SUM(s) > 0 AND COUNT(*) - SUM(s) > 0 AND COUNT(*) > 1
)
SELECT product_id,
       CAST(n AS BIGINT) AS n_days,
       CAST(n_up AS BIGINT) AS n_up,
       CAST(n_down AS BIGINT) AS n_down,
       CAST(runs AS BIGINT) AS n_runs,
       ROUND((runs - (2.0 * n_up * n_down / n + 1))
             / NULLIF(SQRT((2.0 * n_up * n_down / n + 1 - 1)
                           * (2.0 * n_up * n_down / n + 1 - 2)
                           / (n - 1)), 0),
             9) AS z_score
FROM rt_agg
ORDER BY product_id
""",
    tags=("ta", "runs-test", "randomness", "statistics"),
)
def runs_test_daily_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test on daily return signs per product
    (block comment above)."""
    c = _daily_candles(spark, sf_dir)
    ow = Window.partitionBy("product_id").orderBy("bucket")
    prev = F.lag("close").over(ow).cast("double")
    rets = (
        c.select(
            "product_id",
            "bucket",
            F.round((F.col("close").cast("double") - prev) / prev, 9)
            .cast("decimal(15,9)")
            .alias("r"),
        )
        .where(F.col("r").isNotNull() & (F.col("r") != 0))
    )
    signs = rets.select(
        "product_id",
        "bucket",
        F.when(F.col("r") > 0, 1).otherwise(0).alias("s"),
    )
    lag_s = F.lag("s").over(ow)
    marked = signs.select(
        "product_id",
        "s",
        F.when(lag_s.isNull(), 1)
        .when(F.col("s") != lag_s, 1)
        .otherwise(0)
        .alias("new_run"),
    )
    agg = (
        marked.groupBy("product_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("s").alias("n_up"),
            (F.count(F.lit(1)) - F.sum("s")).alias("n_down"),
            F.sum("new_run").alias("runs"),
        )
        .where((F.col("n_up") > 0) & (F.col("n_down") > 0) & (F.col("n") > 1))
    )
    n, n1, n2, runs = (
        F.col("n"),
        F.col("n_up"),
        F.col("n_down"),
        F.col("runs"),
    )
    mu = 2.0 * n1 * n2 / n + 1
    return agg.select(
        "product_id",
        n.cast("bigint").alias("n_days"),
        n1.cast("bigint").alias("n_up"),
        n2.cast("bigint").alias("n_down"),
        runs.cast("bigint").alias("n_runs"),
        F.round(
            (runs - mu)
            / F.nullif(F.sqrt((mu - 1) * (mu - 2) / (n - 1)), F.lit(0.0)),
            9,
        ).alias("z_score"),
    ).orderBy("product_id")
