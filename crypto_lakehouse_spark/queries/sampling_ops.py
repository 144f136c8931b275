"""Dataset-preparation operators a training-data pipeline needs:
deterministic splits, stratified sampling, exact percentiles, exact
correlation, pivot, and ROLLUP summaries.

Scale notes:
- `deterministic_split`: train/val/test assignment is a pure
  function of the row key (md5 bucket), so it is stable across runs,
  engines, and cluster sizes — no sampling state, no shuffle beyond
  the final aggregation, and a row's split never changes when the
  dataset grows (critical for incremental training corpora).
  The bucket is derived from md5 hex chars via ascii() arithmetic
  because Spark and DuckDB share md5()+ascii() but NOT the same
  native hash functions (xxhash64 vs duckdb hash).
- `stratified_sample_docs`: top-k per stratum ordered by a
  cryptographic hash = deterministic pseudo-random sampling without a
  seed-dependent RNG. One window sort per stratum, fully parallel
  across strata; at 100 TB the per-stratum sort is the partial
  top-k pattern Spark already optimizes (rank filter pushes the limit
  into the sort).
- `percentile_profile_orders`: exact nearest-rank percentiles via
  ROW_NUMBER + COUNT over one shared window spec — one sort per
  group serves all three percentiles. Exact (not approx) because the
  oracle must hash-match; the sketch-based scale path for distincts
  is exercised separately in `approx_distinct_users`.
- `corr_exact_lineitem`: Pearson correlation / stddev / covariance
  computed from DECIMAL power sums (order-independent, one
  aggregation pass) with the scalar formula applied in DOUBLE at the
  very end — the textbook one-pass-corr, safe here because operands
  are exact decimals; never SUM raw doubles (see registry docstring).
- `pivot_status_by_priority`: Spark-side uses the DataFrame
  `groupBy().pivot(values).agg()` operator (values list supplied, so
  no extra distinct-scan job); oracle expresses the same contract as
  conditional aggregation — pivot IS conditional aggregation, which
  is why it stays a single shuffle.
- `rollup_region_nation`: ROLLUP grouping-set hierarchy with
  GROUPING() flags; Spark expands grouping sets in one Expand +
  single shuffle rather than one job per level.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crypto_lakehouse_spark.io import load_table
from crypto_lakehouse_spark.queries.registry import query, sql_query


# --- deterministic train/val/test split ------------------------------------
# Bucket in [0, 100) from three md5 hex chars of the key: identical
# md5() and ascii() in both engines; native hashes (xxhash64 / duckdb
# hash) are NOT portable. 80/10/10 split.
_BUCKET = (
    "(ASCII(SUBSTR(MD5(CAST(doc_id AS VARCHAR(20))), 1, 1)) * 65536"
    " + ASCII(SUBSTR(MD5(CAST(doc_id AS VARCHAR(20))), 2, 1)) * 256"
    " + ASCII(SUBSTR(MD5(CAST(doc_id AS VARCHAR(20))), 3, 1))) % 100"
)

_SPLIT = f"""
SELECT split, lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       MIN(doc_id) AS min_doc_id
FROM (
    SELECT doc_id, lang, n_chars,
           CASE WHEN {_BUCKET} < 80 THEN 'train'
                WHEN {_BUCKET} < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM documents
)
GROUP BY split, lang
ORDER BY split, lang
"""

sql_query(
    "deterministic_split",
    _SPLIT,
    _SPLIT,
    tables=["documents"],
    tags=("sampling", "pipeline"),
)

# --- stratified sample: k docs per language stratum ------------------------
_STRAT = """
SELECT lang, doc_id, source, n_chars
FROM (
    SELECT lang, doc_id, source, n_chars,
           ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY MD5(CAST(doc_id AS VARCHAR(20))), doc_id
           ) AS rn
    FROM documents
)
WHERE rn <= 5
ORDER BY lang, doc_id
"""

sql_query(
    "stratified_sample_docs",
    _STRAT,
    _STRAT,
    tables=["documents"],
    tags=("sampling", "pipeline"),
)

# --- exact nearest-rank percentiles per group ------------------------------
# rank(p) = CEIL(n * p); n*p is IEEE-double arithmetic, identical in
# both engines. One window spec serves rn and n (single sort).
_PCT = """
WITH ranked AS (
    SELECT o_orderpriority,
           CAST(o_totalprice AS DECIMAL(12,2)) AS price,
           ROW_NUMBER() OVER (
               PARTITION BY o_orderpriority
               ORDER BY CAST(o_totalprice AS DECIMAL(12,2)), o_orderkey
           ) AS rn,
           COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
    FROM orders
)
SELECT o_orderpriority,
       MAX(n) AS n_orders,
       CAST(MAX(CASE WHEN rn = CEIL(n * 0.5) THEN price END) AS DOUBLE) AS p50,
       CAST(MAX(CASE WHEN rn = CEIL(n * 0.9) THEN price END) AS DOUBLE) AS p90,
       CAST(MAX(CASE WHEN rn = CEIL(n * 0.99) THEN price END) AS DOUBLE) AS p99
FROM ranked
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""

sql_query(
    "percentile_profile_orders",
    _PCT,
    _PCT,
    tables=["orders"],
    tags=("statistics", "window"),
)

# --- exact one-pass correlation / stddev / covariance ----------------------
# Power sums in DECIMAL (order-free); scalar formula in DOUBLE at the
# end. Operand scales sized so SUM stays within DECIMAL(38,_):
# qty<=50 (12,2), price<1e6 (12,2), products scale 4.
_CORR = """
WITH sums AS (
    SELECT l_returnflag,
           COUNT(*) AS n,
           SUM(CAST(l_quantity AS DECIMAL(12,2))) AS sq,
           SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS sp,
           SUM(CAST(l_quantity AS DECIMAL(12,2))
               * CAST(l_extendedprice AS DECIMAL(12,2))) AS sqp,
           SUM(CAST(l_quantity AS DECIMAL(12,2))
               * CAST(l_quantity AS DECIMAL(12,2))) AS sq2,
           SUM(CAST(l_extendedprice AS DECIMAL(12,2))
               * CAST(l_extendedprice AS DECIMAL(12,2))) AS sp2
    FROM lineitem
    GROUP BY l_returnflag
)
SELECT l_returnflag,
       n,
       ROUND((CAST(n AS DOUBLE) * CAST(sqp AS DOUBLE)
              - CAST(sq AS DOUBLE) * CAST(sp AS DOUBLE))
             / (SQRT(CAST(n AS DOUBLE) * CAST(sq2 AS DOUBLE)
                     - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE))
                * SQRT(CAST(n AS DOUBLE) * CAST(sp2 AS DOUBLE)
                       - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE))), 9)
           AS corr_qty_price,
       ROUND(SQRT((CAST(n AS DOUBLE) * CAST(sq2 AS DOUBLE)
                   - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE))
                  / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))), 9)
           AS stddev_qty,
       ROUND((CAST(n AS DOUBLE) * CAST(sqp AS DOUBLE)
              - CAST(sq AS DOUBLE) * CAST(sp AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)), 9)
           AS covar_qty_price
FROM sums
ORDER BY l_returnflag
"""

sql_query(
    "corr_exact_lineitem",
    _CORR,
    _CORR,
    tables=["lineitem"],
    tags=("statistics", "aggregation"),
)

# --- pivot (DataFrame operator) vs conditional-aggregation oracle ----------
_PIVOT_ORACLE = """
SELECT o_orderpriority,
       COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS f_cnt,
       COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS o_cnt,
       COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS p_cnt,
       CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'F'
            THEN CAST(o_totalprice AS DECIMAL(12,2)) END), 0) AS DOUBLE) AS f_rev,
       CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'O'
            THEN CAST(o_totalprice AS DECIMAL(12,2)) END), 0) AS DOUBLE) AS o_rev,
       CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'P'
            THEN CAST(o_totalprice AS DECIMAL(12,2)) END), 0) AS DOUBLE) AS p_rev
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@query("pivot_status_by_priority", oracle=_PIVOT_ORACLE, tags=("relational", "pivot"))
def pivot_status_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders count + revenue pivoted by status (F/O/P columns).

    Uses the DataFrame pivot operator with an explicit values list —
    without it Spark runs an extra job to collect distinct statuses.
    Pivot compiles to conditional aggregation (one shuffle), which is
    exactly what the oracle spells out.
    """
    orders = load_table(spark, sf_dir, "orders")
    piv = (
        orders.withColumn("price", F.col("o_totalprice").cast("decimal(12,2)"))
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("price").alias("rev"))
    )
    return piv.select(
        "o_orderpriority",
        F.col("F_cnt").alias("f_cnt"),
        F.col("O_cnt").alias("o_cnt"),
        F.col("P_cnt").alias("p_cnt"),
        F.coalesce(F.col("F_rev"), F.lit(0)).cast("double").alias("f_rev"),
        F.coalesce(F.col("O_rev"), F.lit(0)).cast("double").alias("o_rev"),
        F.coalesce(F.col("P_rev"), F.lit(0)).cast("double").alias("p_rev"),
    ).orderBy("o_orderpriority")


# --- ROLLUP hierarchy with GROUPING flags ----------------------------------
_ROLLUP = """
SELECT CAST(GROUPING(r_name) AS INTEGER) AS region_total,
       CAST(GROUPING(n_name) AS INTEGER) AS nation_total,
       r_name, n_name,
       COUNT(*) AS n_customers,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS balance
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP(r_name, n_name)
ORDER BY region_total, nation_total, r_name, n_name
"""

sql_query(
    "rollup_region_nation",
    _ROLLUP,
    _ROLLUP,
    tables=["customer", "nation", "region"],
    tags=("relational", "grouping-sets"),
)


# --- interpolated percentiles (percentile_cont / percentile_disc) ----------
# The ordered-set aggregate surface: exact interpolated (CONT) and
# discrete (DISC) percentiles per event type — identical WITHIN GROUP
# syntax in both engines. These are order STATISTICS (sort + pick +
# one interpolation), not order-dependent summations, so they are
# deterministic; ROUND(6) guards the one degree of freedom, the
# engines' interpolation formula (lo + (hi-lo)*f vs lerp). The
# nearest-rank window formulation in percentile_profile_orders stays
# the no-builtin proof of the same contract; this is the native
# aggregate the engine exposes. At scale: one partial sort per
# group feeding the ordered-set aggregate, no global sort.
_PCTL_CONT = """
SELECT event_type,
       ROUND(percentile_cont(0.5) WITHIN GROUP (ORDER BY value), 6) AS p50,
       ROUND(percentile_cont(0.9) WITHIN GROUP (ORDER BY value), 6) AS p90,
       ROUND(percentile_cont(0.99) WITHIN GROUP (ORDER BY value), 6) AS p99,
       ROUND(percentile_disc(0.5) WITHIN GROUP (ORDER BY value), 6) AS p50_disc,
       COUNT(*) AS n
FROM events
GROUP BY event_type
ORDER BY event_type
"""

sql_query(
    "percentile_cont_events",
    _PCTL_CONT,
    _PCTL_CONT,
    tables=["events"],
    tags=("sampling", "aggregation", "ordered-set"),
)


# --- Benford first-digit audit ----------------------------------------------
# The forensic data-quality screen: the leading-digit distribution of
# order totals against Benford's law (expected p(d) = log10(1 + 1/d)),
# with each digit's chi-square contribution so the full statistic is
# one more SUM away. Digit extraction is STRING-based (first [1-9] in
# the decimal rendering) — a log10/pow round-trip can misclassify
# exact powers of ten if one engine's libm lands epsilon below the
# integer. One scan, one 9-row aggregate; all shares divide exact
# integer counts.

_BENFORD = """
WITH digits AS (
    SELECT regexp_extract(CAST(o_totalprice AS STRING), '[1-9]', 0) AS d
    FROM orders
    WHERE o_totalprice > 0
),
counts AS (
    SELECT d, COUNT(*) AS n FROM digits GROUP BY d
),
tot AS (SELECT SUM(n) AS total FROM counts)
SELECT CAST(c.d AS INT) AS digit,
       CAST(c.n AS BIGINT) AS n_orders,
       ROUND(CAST(c.n AS DOUBLE) / t.total, 9) AS observed_frac,
       ROUND(LOG10(1 + CAST(1 AS DOUBLE) / CAST(c.d AS INT)), 9)
           AS benford_frac,
       ROUND(POW(CAST(c.n AS DOUBLE) / t.total
                 - LOG10(1 + CAST(1 AS DOUBLE) / CAST(c.d AS INT)), 2)
             / LOG10(1 + CAST(1 AS DOUBLE) / CAST(c.d AS INT)), 9)
           AS chi2_contrib
FROM counts c CROSS JOIN tot t
ORDER BY digit
"""

sql_query(
    "benford_first_digit_audit",
    _BENFORD,
    _BENFORD.replace("CAST(o_totalprice AS STRING)",
                     "CAST(o_totalprice AS VARCHAR)"),
    tables=["orders"],
    tags=("sampling", "data-quality", "benford", "audit"),
)


# --- winsorized mean --------------------------------------------------------
# Outlier-robust mean of event values: clip at the exact p5/p95 per
# event type (percentile_cont, the ordered-set aggregate both engines
# share), then average the clipped values. The clip bounds join back
# broadcast-sized (one row per event type); clipped values are rounded
# then decimal-summed because `value` is a raw DOUBLE column.

_WINSOR = """
WITH bounds AS (
    SELECT event_type,
           percentile_cont(0.05) WITHIN GROUP (ORDER BY value) AS lo,
           percentile_cont(0.95) WITHIN GROUP (ORDER BY value) AS hi
    FROM events GROUP BY event_type
),
clipped AS (
    SELECT e.event_type,
           CAST(ROUND(LEAST(GREATEST(e.value, b.lo), b.hi), 9)
                AS DECIMAL(24, 9)) AS v,
           CAST(ROUND(e.value, 9) AS DECIMAL(24, 9)) AS raw
    FROM events e JOIN bounds b ON b.event_type = e.event_type
)
SELECT event_type,
       COUNT(*) AS n_events,
       ROUND(CAST(SUM(raw) AS DOUBLE) / COUNT(*), 9) AS raw_mean,
       ROUND(CAST(SUM(v) AS DOUBLE) / COUNT(*), 9) AS winsorized_mean
FROM clipped
GROUP BY event_type
ORDER BY event_type
"""

sql_query(
    "winsorized_mean_value",
    _WINSOR,
    _WINSOR,
    tables=["events"],
    tags=("sampling", "robust-statistics", "aggregation"),
)


# --- weighted sampling without replacement (Efraimidis-Spirakis A-ES) --------
# The weighted analog of deterministic_split: pick k documents with
# inclusion probability proportional to weight (here n_chars — the
# "sample long docs more" curriculum primitive) WITHOUT replacement,
# in one distributed pass. A-ES reduces weighted sampling to a plain
# top-k: key_i = -ln(u_i) / w_i with u_i uniform — the k SMALLEST
# keys are exactly a weight-proportional sample (Efraimidis &
# Spirakis 2006), and top-k is embarrassingly parallel (per-partition
# top-k then merge — Spark's TakeOrderedAndProject does precisely
# this, no full sort at 100 TB).
# Determinism: u_i comes from 6 md5 hex chars of doc_id ((v + 0.5) /
# 16^6, never 0 or 1), the same portable-hash discipline as _BUCKET;
# ln/division on identically-constructed doubles is bit-equal across
# engines, and (key, doc_id) ordering breaks any residual tie.
_AES_U = (
    "(CAST(%%HEX2INT%% AS DOUBLE) + 0.5) / 16777216.0"
)

_AES_SQL = """
SELECT doc_id, source, CAST(n_chars AS BIGINT) AS weight,
       ROUND(aes_key, 9) AS aes_key
FROM (
    SELECT doc_id, source, n_chars,
           -LN({u}) / n_chars AS aes_key
    FROM documents
    WHERE n_chars IS NOT NULL AND n_chars > 0
)
ORDER BY aes_key, doc_id
LIMIT 25
"""

sql_query(
    "weighted_sample_aexpj",
    _AES_SQL.format(
        u=_AES_U.replace(
            "%%HEX2INT%%",
            "CONV(SUBSTR(MD5(CAST(doc_id AS STRING)), 1, 6), 16, 10)",
        )
    ),
    _AES_SQL.format(
        u=_AES_U.replace(
            "%%HEX2INT%%",
            "('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR(20))), 1, 6))"
            "::BIGINT",
        )
    ),
    tables=["documents"],
    tags=("sampling", "weighted", "aes", "pipeline"),
)


# --- stratified k-fold assignment -------------------------------------------
# The cross-validation prep `deterministic_split` does not cover:
# hash-threshold splits give only EXPECTED proportions, while k-fold
# CV needs folds of exactly-equal size within every stratum. Rank
# docs within each lang stratum by a cryptographic hash (deterministic
# pseudo-random order, no RNG state — same device as
# stratified_sample_docs) and assign fold = (rank - 1) % k: every
# stratum's folds differ in size by at most one BY CONSTRUCTION, a
# property hash-bucketing cannot give. Census output is per
# (stratum, fold) with doc_id bounds pinned. One window sort per
# stratum (parallel across strata) + one aggregation; at 100 TB the
# per-stratum sort is the same shape the engine already ramps for
# stratified_sample_docs. Note the trade vs deterministic_split: a
# row's fold CAN change when the stratum grows (rank shifts), so this
# is the frozen-snapshot CV op, not the incremental-corpus split —
# both belong in the toolbox and the docstrings say which to reach
# for.
_KFOLD = """
WITH ranked AS (
    SELECT lang, doc_id,
           ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS STRING)), doc_id) AS rk
    FROM documents
    WHERE lang IS NOT NULL AND doc_id IS NOT NULL
)
SELECT lang,
       CAST((rk - 1) % 5 AS BIGINT) AS fold,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       MIN(doc_id) AS min_doc_id,
       MAX(doc_id) AS max_doc_id
FROM ranked
GROUP BY lang, (rk - 1) % 5
ORDER BY lang, fold
"""

sql_query(
    "stratified_kfold_assignment",
    _KFOLD,
    _KFOLD,
    tables=["documents"],
    tags=("sampling", "cross-validation", "trainprep"),
)


# --- Neyman allocation (variance-optimal stratified budget) ------------------
# The survey-sampling classic the proportional stratified split
# (`stratified_sample_fractions`) upgrades to when strata differ in
# variance: an evaluation budget of B=1000 docs is allocated
# n_h ∝ N_h * S_h (stratum size x stratum std dev of doc length),
# which minimizes the variance of the corpus-level estimate. Exact
# discipline: per-stratum Σx / Σx² / n are INTEGER sums (n_chars is
# int — order-free), S_h is one double sqrt from those integers, the
# allocation weights quantize to DECIMAL(28,6) before the cross-
# stratum total (exact, order-free), and the integer allocation uses
# LARGEST-REMAINDER rounding with a deterministic (remainder DESC,
# source) tie-break — allocations sum to exactly B in both engines.
# One scan, |sources|-sized windows.

_NEYMAN_SQL = """
WITH stats AS (
    SELECT source, COUNT(*) AS n,
           SUM(CAST(n_chars AS BIGINT)) AS sx,
           SUM(CAST(n_chars AS BIGINT) * CAST(n_chars AS BIGINT)) AS sxx
    FROM documents GROUP BY source
),
w AS (
    SELECT source, n, sx,
           SQRT(CAST(n * sxx - sx * sx AS DOUBLE)
                / (CAST(n AS DOUBLE) * (n - 1))) AS sd
    FROM stats WHERE n > 1
),
q AS (
    SELECT source, n, sx, sd,
           CAST(ROUND(n * sd, 6) AS DECIMAL(28, 6)) AS wq
    FROM w
),
raw AS (
    SELECT source, n, sx, sd, wq,
           1000 * CAST(wq AS DOUBLE) / CAST(SUM(wq) OVER () AS DOUBLE)
               AS alloc_raw
    FROM q
),
ranked AS (
    SELECT source, n, sx, sd, alloc_raw,
           CAST(FLOOR(alloc_raw) AS BIGINT) AS base,
           ROW_NUMBER() OVER (
               ORDER BY alloc_raw - FLOOR(alloc_raw) DESC, source
           ) AS rr,
           1000 - SUM(CAST(FLOOR(alloc_raw) AS BIGINT)) OVER () AS leftover
    FROM raw
)
SELECT source,
       CAST(n AS BIGINT) AS n_docs,
       ROUND(CAST(sx AS DOUBLE) / n, 9) AS mean_chars,
       ROUND(sd, 6) AS stddev_chars,
       ROUND(alloc_raw / 1000, 9) AS neyman_weight,
       CAST(base + CASE WHEN rr <= leftover THEN 1 ELSE 0 END AS BIGINT)
           AS n_allocated
FROM ranked
ORDER BY source
"""

sql_query(
    "neyman_allocation_split",
    _NEYMAN_SQL,
    _NEYMAN_SQL,
    tables=["documents"],
    tags=("sampling", "stratified", "neyman", "statistics"),
)
