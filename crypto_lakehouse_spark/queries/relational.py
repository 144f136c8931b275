"""Extended relational surface (SURVEY §7 step 8): TPC-H-shaped
coverage over the driver star schema — joins (incl. semi/anti),
grouping sets/rollup, top-k, set ops, window functions, string/date
functions, correlated subqueries.

Most queries here are *dialect-common SQL*: the identical string runs
through Spark's Catalyst and through DuckDB, which pins the semantics
exactly. Determinism rules (registry.py docstring) still apply:
decimal-cast before aggregation, doubles only at the end, unique
ORDER BY tie-breaks.

Scale notes are in each docstring — these are the queries the bench
harness times at sf0.1, and the plan shapes are chosen for 100 TB
(broadcast dims, partial aggs, single-shuffle windows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from crypto_lakehouse_spark.io import register_views
from crypto_lakehouse_spark.queries.registry import query, sql_query

# Exact decimal shorthands: every money/qty column is 2dp in the data,
# so DECIMAL(12,2) casts are lossless and products stay exact (<38 prec).
_EXT = "CAST(l_extendedprice AS DECIMAL(12,2))"
_QTY = "CAST(l_quantity AS DECIMAL(12,2))"
_DISC = "CAST(l_discount AS DECIMAL(4,2))"
_TAX = "CAST(l_tax AS DECIMAL(4,2))"
_TOT = "CAST(o_totalprice AS DECIMAL(12,2))"


# --- aggregation spine: TPC-H Q1 shape ------------------------------------
sql_query(
    "q1_pricing_summary",
    f"""
SELECT l_returnflag,
       l_linestatus,
       CAST(SUM({_QTY}) AS DOUBLE) AS sum_qty,
       CAST(SUM({_EXT}) AS DOUBLE) AS sum_base_price,
       CAST(SUM({_EXT} * (1 - {_DISC})) AS DOUBLE) AS sum_disc_price,
       CAST(SUM({_EXT} * (1 - {_DISC}) * (1 + {_TAX})) AS DOUBLE)
           AS sum_charge,
       CAST(SUM({_QTY}) AS DOUBLE) / COUNT(*) AS avg_qty,
       CAST(SUM({_EXT}) AS DOUBLE) / COUNT(*) AS avg_price,
       CAST(SUM({_DISC}) AS DOUBLE) / COUNT(*) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2001-09-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""",
    tags=("relational", "aggregation"),
)

# --- join + agg + top-k: TPC-H Q3 shape -----------------------------------
sql_query(
    "q3_shipping_priority",
    f"""
SELECT o_orderkey,
       CAST(SUM({_EXT} * (1 - {_DISC})) AS DOUBLE) AS revenue,
       CAST(CAST(o_orderdate AS DATE) AS STRING) AS orderdate,
       o_orderpriority
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '2000-03-15 00:00:00'
  AND l_shipdate > TIMESTAMP '1996-03-15 00:00:00'
GROUP BY o_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderkey
LIMIT 10
""",
    tags=("relational", "join", "topk"),
)

# --- 5-way join: TPC-H Q5 shape -------------------------------------------
sql_query(
    "q5_local_supplier_volume",
    f"""
SELECT n_name,
       CAST(SUM({_EXT} * (1 - {_DISC})) AS DOUBLE) AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n_name
ORDER BY revenue DESC, n_name
""",
    tags=("relational", "join"),
)

# --- semi / anti joins ----------------------------------------------------
sql_query(
    "semi_join_customers_with_open_orders",
    """
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
ORDER BY c_custkey
""",
    tags=("relational", "semi-join"),
)

sql_query(
    "anti_join_customers_without_big_orders",
    """
SELECT c_custkey, c_name
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 250000)
ORDER BY c_custkey
""",
    tags=("relational", "anti-join"),
)

# --- rollup / grouping sets ----------------------------------------------
sql_query(
    "rollup_revenue",
    f"""
SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
       COALESCE(l_linestatus, 'ALL') AS linestatus,
       CAST(SUM({_EXT}) AS DOUBLE) AS revenue,
       COUNT(*) AS n
FROM lineitem
GROUP BY ROLLUP(l_returnflag, l_linestatus)
ORDER BY returnflag, linestatus
""",
    tags=("relational", "rollup"),
)

sql_query(
    "grouping_sets_order_stats",
    f"""
SELECT COALESCE(o_orderstatus, 'ALL') AS status,
       COALESCE(o_orderpriority, 'ALL') AS priority,
       COUNT(*) AS n_orders,
       CAST(SUM({_TOT}) AS DOUBLE) AS total
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
ORDER BY status, priority
""",
    tags=("relational", "rollup"),
)

sql_query(
    "cube_order_stats",
    f"""
SELECT COALESCE(o_orderstatus, 'ALL') AS status,
       COALESCE(o_orderpriority, 'ALL') AS priority,
       COUNT(*) AS n_orders,
       CAST(SUM({_TOT}) AS DOUBLE) AS total
FROM orders
GROUP BY CUBE(o_orderstatus, o_orderpriority)
ORDER BY status, priority
""",
    tags=("relational", "rollup", "cube"),
)

# --- set operations -------------------------------------------------------
sql_query(
    "set_ops_customer_segments",
    """
SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
INTERSECT
SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
UNION
SELECT c_custkey FROM customer WHERE c_acctbal < 0
EXCEPT
SELECT o_custkey FROM orders WHERE o_totalprice > 300000
ORDER BY c_custkey
""",
    tags=("relational", "setops"),
)

# --- window functions -----------------------------------------------------
sql_query(
    "running_order_total",
    f"""
SELECT o_custkey,
       o_orderkey,
       CAST(CAST(o_orderdate AS DATE) AS STRING) AS orderdate,
       CAST(SUM({_TOT}) OVER (
           PARTITION BY o_custkey
           ORDER BY o_orderdate, o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS DOUBLE) AS running_total
FROM orders
ORDER BY o_custkey, o_orderkey
""",
    tags=("relational", "window"),
)

sql_query(
    "order_gap_lag_lead",
    """
SELECT o_custkey,
       o_orderkey,
       LAG(o_orderkey) OVER w AS prev_orderkey,
       LEAD(o_orderkey) OVER w AS next_orderkey,
       CAST(datediff(o_orderdate, LAG(o_orderdate) OVER w) AS BIGINT)
           AS days_since_prev
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
ORDER BY o_custkey, o_orderkey
""",
    tags=("relational", "window"),
    oracle="""
SELECT o_custkey,
       o_orderkey,
       LAG(o_orderkey) OVER w AS prev_orderkey,
       LEAD(o_orderkey) OVER w AS next_orderkey,
       CAST(CAST(o_orderdate AS DATE)
            - CAST(LAG(o_orderdate) OVER w AS DATE) AS BIGINT)
           AS days_since_prev
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
ORDER BY o_custkey, o_orderkey
""",
)

sql_query(
    "rank_parts_by_quantity",
    f"""
SELECT p_partkey,
       p_name,
       qty,
       CAST(rnk AS BIGINT) AS rnk
FROM (
    SELECT p_partkey, p_name,
           CAST(SUM({_QTY}) AS DOUBLE) AS qty,
           DENSE_RANK() OVER (ORDER BY SUM({_QTY}) DESC, p_partkey)
               AS rnk
    FROM part JOIN lineitem ON p_partkey = l_partkey
    GROUP BY p_partkey, p_name
)
WHERE rnk <= 25
ORDER BY rnk, p_partkey
""",
    tags=("relational", "window", "topk"),
)

sql_query(
    "top3_orders_per_customer",
    """
SELECT o_custkey, o_orderkey, CAST(o_totalprice AS DOUBLE) AS totalprice
FROM (
    SELECT o_custkey, o_orderkey, o_totalprice,
           ROW_NUMBER() OVER (PARTITION BY o_custkey
                              ORDER BY o_totalprice DESC, o_orderkey)
               AS rn
    FROM orders
)
WHERE rn <= 3
ORDER BY o_custkey, o_orderkey
""",
    tags=("relational", "window", "topk"),
)

sql_query(
    "ntile_customer_quartiles",
    """
SELECT CAST(quartile AS BIGINT) AS quartile,
       COUNT(*) AS n,
       CAST(MIN(c_acctbal) AS DOUBLE) AS min_bal,
       CAST(MAX(c_acctbal) AS DOUBLE) AS max_bal
FROM (
    SELECT c_acctbal,
           NTILE(4) OVER (ORDER BY c_acctbal, c_custkey) AS quartile
    FROM customer
)
GROUP BY quartile
ORDER BY quartile
""",
    tags=("relational", "window"),
)

# --- correlated subquery --------------------------------------------------
sql_query(
    "orders_above_customer_avg",
    f"""
SELECT o.o_custkey, o.o_orderkey, CAST(o.o_totalprice AS DOUBLE) AS totalprice
FROM orders o
WHERE o.o_totalprice > (
    SELECT 1.2 * (CAST(SUM({_TOT}) AS DOUBLE) / COUNT(*))
    FROM orders o2
    WHERE o2.o_custkey = o.o_custkey
)
ORDER BY o.o_custkey, o.o_orderkey
""",
    tags=("relational", "subquery"),
)

# --- conditional / CASE ---------------------------------------------------
sql_query(
    "case_bucket_order_sizes",
    f"""
SELECT CASE WHEN o_totalprice < 50000 THEN 'small'
            WHEN o_totalprice < 150000 THEN 'medium'
            ELSE 'large' END AS bucket,
       o_orderstatus,
       COUNT(*) AS n,
       CAST(SUM({_TOT}) AS DOUBLE) AS total
FROM orders
GROUP BY 1, 2
ORDER BY bucket, o_orderstatus
""",
    tags=("relational", "conditional"),
)

# --- string functions -----------------------------------------------------
sql_query(
    "string_funcs_parts",
    """
SELECT p_partkey,
       UPPER(p_name) AS name_upper,
       CAST(LENGTH(p_name) AS BIGINT) AS name_len,
       SUBSTR(p_name, 1, 5) AS name_prefix,
       p_brand || '/' || p_type AS brand_type,
       REPLACE(p_name, ' ', '_') AS name_snake,
       REGEXP_EXTRACT(p_name, '([a-z]+)$', 1) AS last_word,
       CAST(CASE WHEN p_name LIKE '%red%' THEN 1 ELSE 0 END AS BIGINT) AS is_red
FROM part
ORDER BY p_partkey
""",
    tags=("relational", "string"),
)

# --- date functions -------------------------------------------------------
sql_query(
    "date_funcs_orders",
    """
SELECT CAST(CAST(date_trunc('month', o_orderdate) AS DATE) AS STRING)
           AS order_month,
       CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS order_year,
       CAST(EXTRACT(MONTH FROM o_orderdate) AS BIGINT) AS order_month_num,
       COUNT(*) AS n_orders
FROM orders
WHERE o_orderdate + INTERVAL 30 DAY < TIMESTAMP '2001-01-01 00:00:00'
GROUP BY 1, 2, 3
ORDER BY order_month
""",
    tags=("relational", "date"),
)

# --- distinct aggregation -------------------------------------------------
sql_query(
    "distinct_counts",
    """
SELECT l_returnflag,
       COUNT(DISTINCT l_partkey) AS distinct_parts,
       COUNT(DISTINCT l_suppkey) AS distinct_suppliers,
       COUNT(*) AS n
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
    tags=("relational", "aggregation"),
)

# --- having ---------------------------------------------------------------
sql_query(
    "having_frequent_customers",
    f"""
SELECT o_custkey, COUNT(*) AS n_orders,
       CAST(SUM({_TOT}) AS DOUBLE) AS lifetime_value
FROM orders
GROUP BY o_custkey
HAVING COUNT(*) >= 12
ORDER BY o_custkey
""",
    tags=("relational", "aggregation"),
)

# --- collect_list (A5) with deterministic ordering ------------------------
sql_query(
    "collect_order_statuses",
    """
SELECT o_custkey,
       array_join(array_sort(collect_set(o_orderstatus)), ',')
           AS statuses
FROM orders
GROUP BY o_custkey
ORDER BY o_custkey
""",
    tags=("relational", "aggregation"),
    oracle="""
SELECT o_custkey,
       array_to_string(list_sort(list(DISTINCT o_orderstatus)), ',')
           AS statuses
FROM orders
GROUP BY o_custkey
ORDER BY o_custkey
""",
)

# --- pivot (CASE-based, engine-portable) ----------------------------------
sql_query(
    "pivot_revenue_by_status",
    f"""
SELECT l_returnflag,
       CAST(SUM(CASE WHEN l_linestatus = 'O' THEN {_EXT} ELSE CAST(0 AS DECIMAL(12,2)) END)
            AS DOUBLE) AS rev_open,
       CAST(SUM(CASE WHEN l_linestatus = 'F' THEN {_EXT} ELSE CAST(0 AS DECIMAL(12,2)) END)
            AS DOUBLE) AS rev_filled,
       COUNT(*) AS n
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
    tags=("relational", "pivot"),
)

# --- RANGE frame over time (interval-bounded window) ----------------------
sql_query(
    "range_frame_trailing_30d",
    f"""
SELECT o_custkey,
       o_orderkey,
       CAST(CAST(o_orderdate AS DATE) AS STRING) AS orderdate,
       CAST(SUM({_TOT}) OVER (
           PARTITION BY o_custkey
           ORDER BY o_orderdate
           RANGE BETWEEN INTERVAL 30 DAY PRECEDING AND CURRENT ROW
       ) AS DOUBLE) AS trailing_30d_total
FROM orders
ORDER BY o_custkey, o_orderkey
""",
    tags=("relational", "window", "range-frame"),
)

# --- percentiles (exact, interpolated) ------------------------------------
sql_query(
    "price_percentiles_by_status",
    """
SELECT o_orderstatus,
       ROUND(percentile(o_totalprice, 0.25), 4) AS p25,
       ROUND(percentile(o_totalprice, 0.5), 4) AS p50,
       ROUND(percentile(o_totalprice, 0.75), 4) AS p75,
       COUNT(*) AS n
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
""",
    tags=("relational", "percentile"),
    oracle="""
SELECT o_orderstatus,
       ROUND(quantile_cont(o_totalprice, 0.25), 4) AS p25,
       ROUND(quantile_cont(o_totalprice, 0.5), 4) AS p50,
       ROUND(quantile_cont(o_totalprice, 0.75), 4) AS p75,
       COUNT(*) AS n
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
""",
)

# --- percentiles (sketch path) --------------------------------------------
# Exact percentile() materializes every group's values in an
# ObjectHashAggregate — fine when groups fit an executor, wrong at
# 100 TB. approx_percentile (Greenwald-Khanna) carries a fixed-size
# summary through partial aggregation instead. Two registrations, per
# the approx_distinct_users pattern:
#  - *_approx: value-GATED against the exact interpolated percentiles
#    (sketch values themselves are engine-specific so can never
#    hash-match; the boolean bound is the checkable contract). Runs the
#    exact path inside the plan, so it is excluded from the bench set —
#    benching it would mostly time the exact aggregation it exists to
#    replace.
#  - *_sketch: the sketch ONLY — the plan a 100 TB deployment runs and
#    the one the bench times. Rows-only driver check by construction.
sql_query(
    "price_percentiles_by_status_approx",
    """
SELECT o_orderstatus,
       ROUND(percentile(o_totalprice, 0.25), 4) AS p25,
       ROUND(percentile(o_totalprice, 0.5), 4) AS p50,
       ROUND(percentile(o_totalprice, 0.75), 4) AS p75,
       COUNT(*) AS n,
       (ABS(approx_percentile(o_totalprice, 0.25, 10000)
            - percentile(o_totalprice, 0.25)) <= 0.01 * percentile(o_totalprice, 0.25)
        AND ABS(approx_percentile(o_totalprice, 0.5, 10000)
            - percentile(o_totalprice, 0.5)) <= 0.01 * percentile(o_totalprice, 0.5)
        AND ABS(approx_percentile(o_totalprice, 0.75, 10000)
            - percentile(o_totalprice, 0.75)) <= 0.01 * percentile(o_totalprice, 0.75))
           AS within_bound
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
""",
    tags=("relational", "percentile", "approx", "sketch"),
    bench=False,
    oracle="""
SELECT o_orderstatus,
       ROUND(quantile_cont(o_totalprice, 0.25), 4) AS p25,
       ROUND(quantile_cont(o_totalprice, 0.5), 4) AS p50,
       ROUND(quantile_cont(o_totalprice, 0.75), 4) AS p75,
       COUNT(*) AS n,
       TRUE AS within_bound
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
""",
)

_SKETCH_PCTL_SQL = """
SELECT o_orderstatus,
       approx_percentile(o_totalprice, 0.25, 10000) AS p25,
       approx_percentile(o_totalprice, 0.5, 10000) AS p50,
       approx_percentile(o_totalprice, 0.75, 10000) AS p75,
       COUNT(*) AS n
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


def _price_percentiles_sketch_plan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The deployed sketch-only percentile plan (registry bench_fn):
    fixed-size quantile summaries through partial aggregation, no
    exact sort anywhere."""
    register_views(spark, sf_dir)
    return spark.sql(_SKETCH_PCTL_SQL)


@query(
    "price_percentiles_by_status_sketch",
    # VERDICT r6 item 7: the engine-specific sketch estimates are
    # transformed into hash-checkable BOOLEANS — each approx quantile
    # must land within 1% relative error of the exact percentile
    # (accuracy 10000 => rank error 1e-4, far tighter than 1% value
    # error on this distribution) — so the driver value-hashes TRUE
    # rows instead of recording `no_oracle`. The sketch expressions
    # are identical to the benched plan's; only the gate's exact
    # percentile is extra, which is why bench_fn times the pure plan.
    oracle="""
SELECT o_orderstatus,
       COUNT(*) AS n,
       TRUE AS p25_in_bound,
       TRUE AS p50_in_bound,
       TRUE AS p75_in_bound
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
""",
    tags=("relational", "percentile", "approx", "sketch", "gated-bounds"),
    bench_fn=_price_percentiles_sketch_plan,
)
def price_percentiles_by_status_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-path percentiles with a bounds gate: the approx_percentile
    estimates from the SAME sketch expressions the deployed plan uses
    (`_price_percentiles_sketch_plan`, the benched twin) are checked
    against exact percentiles and emitted as booleans."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
SELECT o_orderstatus,
       COUNT(*) AS n,
       ABS(approx_percentile(o_totalprice, 0.25, 10000)
           - percentile(o_totalprice, 0.25))
         <= 0.01 * percentile(o_totalprice, 0.25) AS p25_in_bound,
       ABS(approx_percentile(o_totalprice, 0.5, 10000)
           - percentile(o_totalprice, 0.5))
         <= 0.01 * percentile(o_totalprice, 0.5) AS p50_in_bound,
       ABS(approx_percentile(o_totalprice, 0.75, 10000)
           - percentile(o_totalprice, 0.75))
         <= 0.01 * percentile(o_totalprice, 0.75) AS p75_in_bound
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""
    )
