"""TPC-H analogs q2–q22 adapted to the driver star schema (SURVEY §7
step 8 — extended relational surface).

The driver schema has no partsupp / l_shipmode / l_commitdate /
c_phone, so the affected queries keep their *plan shape* (the thing
that matters at 100 TB — correlated scalar subqueries, EXISTS /
NOT EXISTS, IN over grouped HAVING, disjunctive pushdown, left-join
count distributions) with predicates rewritten onto columns that
exist. The part↔supplier relation is derived as
`SELECT DISTINCT l_partkey, l_suppkey FROM lineitem`.

Every query is dialect-common SQL run unchanged through Spark and
DuckDB. Determinism rules (registry.py): decimal-cast before every
SUM, doubles only at the very end, unique ORDER BY tie-breaks,
timestamps emitted as DATE/STRING.

Scale notes: all dimension tables here (region, nation, supplier,
part, customer) are broadcast-sized relative to lineitem/orders at
any SF, so Catalyst picks broadcast hash joins for the star probes;
the EXISTS/NOT EXISTS subqueries rewrite to semi/anti hash joins on
l_orderkey (one shuffle each, AQE-coalesced); correlated scalar
subqueries (q2/q17) rewrite to an aggregate + rejoin on the
correlation key, so nothing is per-row.
"""

from __future__ import annotations

from functools import partial

from crypto_lakehouse_spark.queries import relational
from crypto_lakehouse_spark.queries.registry import sql_query
from crypto_lakehouse_spark.queries.relational import _DISC, _EXT, _QTY, _TOT

# Dialect-common SQL, as in `relational`, whose TPC-H family these
# queries extend: they report its module (perfbench/querymix.py selects
# its market slice by module).
_common_sql = partial(sql_query, module=relational.__name__)

# Part↔supplier relation derived from facts (no partsupp table).
_PS = "(SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)"

# --- q2 shape: correlated scalar MAX subquery over a derived dim ----------
_common_sql(
    "q2_best_supplier_per_part",
    f"""
SELECT p_partkey, p_brand, s_name, s_acctbal
FROM part
JOIN {_PS} ps ON p_partkey = ps.l_partkey
JOIN supplier ON s_suppkey = ps.l_suppkey
WHERE p_size IN (5, 10, 15)
  AND p_type = 'LARGE'
  AND s_acctbal = (SELECT MAX(s2.s_acctbal)
                   FROM {_PS} ps2
                   JOIN supplier s2 ON s2.s_suppkey = ps2.l_suppkey
                   WHERE ps2.l_partkey = p_partkey)
ORDER BY p_partkey, s_name
""",
    tags=("relational", "tpch", "correlated-subquery"),
)

# --- q4 shape: EXISTS semi join, priority histogram ------------------------
_common_sql(
    "q4_order_priority",
    """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
    tags=("relational", "tpch", "semi-join"),
)

# --- q6: pure scan + pushed-down conjunctive predicates --------------------
_common_sql(
    "q6_revenue_forecast",
    f"""
SELECT CAST(SUM({_EXT} * {_DISC}) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND {_DISC} BETWEEN CAST(0.05 AS DECIMAL(4,2)) AND CAST(0.07 AS DECIMAL(4,2))
  AND l_quantity < 24
""",
    tags=("relational", "tpch", "scan"),
)

# --- q7: bidirectional nation-pair volume by year ---------------------------
_common_sql(
    "q7_volume_shipping",
    f"""
SELECT supp_nation, cust_nation, l_year,
       CAST(SUM(volume) AS DOUBLE) AS revenue
FROM (
    SELECT n1.n_name AS supp_nation,
           n2.n_name AS cust_nation,
           EXTRACT(YEAR FROM l_shipdate) AS l_year,
           {_EXT} * (1 - {_DISC}) AS volume
    FROM lineitem
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE (n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
       OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3')
) shipping
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
""",
    tags=("relational", "tpch", "multi-join"),
)

# --- q8: market share (conditional SUM ratio) -------------------------------
_common_sql(
    "q8_market_share",
    f"""
SELECT o_year,
       CAST(SUM(CASE WHEN nation = 'NATION_5' THEN volume END) AS DOUBLE)
           / CAST(SUM(volume) AS DOUBLE) AS mkt_share
FROM (
    SELECT EXTRACT(YEAR FROM o_orderdate) AS o_year,
           {_EXT} * (1 - {_DISC}) AS volume,
           n2.n_name AS nation
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN orders ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation n1 ON c_nationkey = n1.n_nationkey
    JOIN region ON n1.n_regionkey = r_regionkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation n2 ON s_nationkey = n2.n_nationkey
    WHERE r_name = 'ASIA'
      AND p_type = 'ECONOMY'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
) all_nations
GROUP BY o_year
ORDER BY o_year
""",
    tags=("relational", "tpch", "multi-join"),
)

# --- q9: product profit by nation/year (derived cost column) ---------------
_common_sql(
    "q9_product_profit",
    f"""
SELECT nation, o_year, CAST(SUM(amount) AS DOUBLE) AS sum_profit
FROM (
    SELECT n_name AS nation,
           EXTRACT(YEAR FROM o_orderdate) AS o_year,
           {_EXT} * (1 - {_DISC})
               - CAST(p_retailprice AS DECIMAL(12,2)) * {_QTY}
                 * CAST(0.5 AS DECIMAL(3,2)) AS amount
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN orders ON o_orderkey = l_orderkey
    WHERE p_name LIKE '%gear%'
) profit
GROUP BY nation, o_year
ORDER BY nation, o_year DESC
""",
    tags=("relational", "tpch", "multi-join"),
)

# --- q10: returned-item revenue, top 20 customers ---------------------------
_common_sql(
    "q10_returned_items",
    f"""
SELECT c_custkey, c_name,
       CAST(SUM({_EXT} * (1 - {_DISC})) AS DOUBLE) AS revenue,
       c_acctbal, n_name
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
""",
    tags=("relational", "tpch", "topk"),
)

# --- q11: value concentration vs a global scalar threshold ------------------
# partsupp value is derived as shipped value per (part, supplier);
# parts whose total exceeds 0.05% of the global total qualify — the
# HAVING side references a scalar subquery over the same derived
# relation, exactly q11's shape.
_common_sql(
    "q11_value_concentration",
    f"""
WITH psv AS (
    SELECT l_partkey, l_suppkey,
           SUM({_EXT} * (1 - {_DISC})) AS val
    FROM lineitem
    GROUP BY l_partkey, l_suppkey
)
SELECT l_partkey AS p_partkey, CAST(SUM(val) AS DOUBLE) AS total_value
FROM psv
GROUP BY l_partkey
HAVING SUM(val) > (SELECT SUM(val) * CAST(0.0005 AS DECIMAL(6,4)) FROM psv)
ORDER BY total_value DESC, p_partkey
""",
    tags=("relational", "tpch", "scalar-subquery"),
)

# --- q12: two-way conditional counts by group -------------------------------
# l_shipmode does not exist; classify lines by quantity band instead
# and count high- vs low-priority orders per band — q12's
# CASE-inside-SUM shape intact.
_common_sql(
    "q12_priority_by_band",
    """
SELECT band,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM (
    SELECT o_orderpriority,
           CASE WHEN l_quantity < 10 THEN 'small'
                WHEN l_quantity < 30 THEN 'medium'
                ELSE 'large' END AS band
    FROM lineitem
    JOIN orders ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
)
GROUP BY band
ORDER BY band
""",
    tags=("relational", "tpch", "conditional-agg"),
)

# --- q13: customer order-count distribution (left join preserved nulls) ----
_common_sql(
    "q13_customer_distribution",
    """
SELECT c_count, COUNT(*) AS custdist
FROM (
    SELECT c_custkey, COUNT(o_orderkey) AS c_count
    FROM customer
    LEFT JOIN orders ON c_custkey = o_custkey
                    AND o_orderpriority <> '5-LOW'
    GROUP BY c_custkey
) c_orders
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
""",
    tags=("relational", "tpch", "outer-join"),
)

# --- q14: promo revenue share ------------------------------------------------
_common_sql(
    "q14_promo_revenue",
    f"""
SELECT 100.00 * CAST(SUM(CASE WHEN p_type = 'PROMO'
                              THEN {_EXT} * (1 - {_DISC}) END) AS DOUBLE)
       / CAST(SUM({_EXT} * (1 - {_DISC})) AS DOUBLE) AS promo_revenue
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-03-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
""",
    tags=("relational", "tpch", "conditional-agg"),
)

# --- q15: top supplier via scalar MAX over a CTE -----------------------------
_common_sql(
    "q15_top_supplier",
    f"""
WITH revenue AS (
    SELECT l_suppkey AS supplier_no,
           SUM({_EXT} * (1 - {_DISC})) AS total_rev
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
    GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_revenue
FROM supplier
JOIN revenue ON s_suppkey = supplier_no
WHERE total_rev = (SELECT MAX(total_rev) FROM revenue)
ORDER BY s_suppkey
""",
    tags=("relational", "tpch", "scalar-subquery"),
)

# --- q16: supplier counts with NOT IN exclusion ------------------------------
_common_sql(
    "q16_supplier_part_counts",
    f"""
SELECT p_brand, p_type, p_size,
       COUNT(DISTINCT ps.l_suppkey) AS supplier_cnt
FROM {_PS} ps
JOIN part ON p_partkey = ps.l_partkey
WHERE p_brand <> 'Brand#1'
  AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
  AND ps.l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                           WHERE s_name LIKE '%77%')
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
""",
    tags=("relational", "tpch", "anti-join"),
)

# --- q17: correlated AVG threshold (small-quantity revenue) ------------------
_common_sql(
    "q17_small_quantity_revenue",
    f"""
SELECT CAST(SUM({_EXT}) AS DOUBLE) / 7.0 AS avg_yearly
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#5'
  AND p_type = 'SMALL'
  AND l_quantity < (SELECT 0.2 * AVG(l2.l_quantity)
                    FROM lineitem l2
                    WHERE l2.l_partkey = p_partkey)
""",
    tags=("relational", "tpch", "correlated-subquery"),
)

# --- q18: large-volume orders via IN over grouped HAVING ---------------------
_common_sql(
    "q18_large_volume_customers",
    f"""
SELECT c_name, c_custkey, o_orderkey,
       CAST(o_orderdate AS DATE) AS o_orderdate,
       CAST({_TOT} AS DOUBLE) AS o_totalprice,
       CAST(SUM({_QTY}) AS DOUBLE) AS sum_qty
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                     GROUP BY l_orderkey
                     HAVING SUM({_QTY}) > CAST(150 AS DECIMAL(12,2)))
GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
""",
    tags=("relational", "tpch", "semi-join"),
)

# --- q19: disjunctive multi-predicate pushdown -------------------------------
_common_sql(
    "q19_disjunctive_revenue",
    f"""
SELECT CAST(SUM({_EXT} * (1 - {_DISC})) AS DOUBLE) AS revenue
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 20 AND 30)
""",
    tags=("relational", "tpch", "scan"),
)

# --- q20: nested semi-join chain (excess-volume suppliers) -------------------
_common_sql(
    "q20_excess_volume_suppliers",
    f"""
SELECT s_suppkey, s_name
FROM supplier
WHERE s_suppkey IN (
    SELECT l_suppkey
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_type = 'SMALL'
      AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l_suppkey
    HAVING SUM({_QTY}) > CAST(50 AS DECIMAL(12,2))
)
ORDER BY s_suppkey
""",
    tags=("relational", "tpch", "semi-join"),
)

# --- q21: EXISTS + NOT EXISTS (sole returning supplier on shared orders) ----
_common_sql(
    "q21_sole_returning_supplier",
    """
SELECT s_name, COUNT(*) AS numwait
FROM supplier
JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
JOIN orders ON o_orderkey = l1.l_orderkey
WHERE o_orderstatus = 'F'
  AND l1.l_returnflag = 'R'
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_returnflag = 'R')
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 100
""",
    tags=("relational", "tpch", "anti-join"),
)

# --- q22: idle rich customers (exact integer-cents avg threshold) ------------
# The global-average comparison is done in integer cents with
# cross-multiplication (cents * n > total) so both engines compare
# exact integers — no decimal-division rounding at the boundary.
_common_sql(
    "q22_idle_rich_customers",
    """
WITH cents AS (
    SELECT c_custkey, substr(c_name, 17, 2) AS cntrycode,
           CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_cents
    FROM customer
),
avg_pos AS (
    SELECT SUM(bal_cents) AS total, COUNT(*) AS n
    FROM cents WHERE bal_cents > 0
)
SELECT cntrycode, COUNT(*) AS numcust,
       CAST(SUM(bal_cents) AS DOUBLE) / 100 AS totacctbal
FROM cents
WHERE bal_cents * (SELECT n FROM avg_pos) > (SELECT total FROM avg_pos)
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderpriority = '1-URGENT')
GROUP BY cntrycode
ORDER BY cntrycode
""",
    tags=("relational", "tpch", "anti-join", "scalar-subquery"),
)
