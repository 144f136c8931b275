"""Coverage-completing operators: full outer join, distribution
window functions, vocabulary building, skew-capped near-dedup, and
regex redaction.

Scale notes:
- `full_outer_nation_accounts`: both sides are pre-aggregated to
  |nations| rows before the full outer join — join after reduction,
  never reduction after join.
- `distribution_window_funcs`: percent_rank / cume_dist / nth_value
  share ONE window spec, so Catalyst evaluates them in a single
  Window operator over one sort — adding functions to the same frame
  is free; adding frames is not.
- `vocab_top_tokens`: vocabulary building (the BPE/tokenizer-prep
  pass): explode once, aggregate (token) with map-side partial
  aggregation, global top-k via one final ordered limit. Token count
  and doc frequency come from the same shuffle (COUNT + COUNT
  DISTINCT doc_id rewritten by Spark into a two-phase expand).
- `ngram_jaccard_capped`: the documented skew mitigation for
  inverted-index joins made first-class — shingles occurring in more
  than CAP documents are dropped before pairing (stop-shingle
  removal). The hot key that would melt a 100 TB self-join is excluded
  *by the same deterministic rule in both engines*, so the oracle
  checks the capped semantics exactly.
- `redact_numeric_props`: regexp_replace sweep (PII-redaction shape)
  over the events payloads with a redaction count per row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from crypto_lakehouse_spark.io import register_views
from crypto_lakehouse_spark.queries.registry import query, sql_query


# --- full outer join -------------------------------------------------------
_FULL_OUTER = """
WITH cust AS (
    SELECT c_nationkey AS nationkey, COUNT(*) AS n_customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS cust_balance
    FROM customer GROUP BY c_nationkey
),
supp AS (
    SELECT s_nationkey AS nationkey, COUNT(*) AS n_suppliers,
           CAST(SUM(CAST(s_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS supp_balance
    FROM supplier GROUP BY s_nationkey
)
SELECT COALESCE(c.nationkey, s.nationkey) AS nationkey,
       COALESCE(n_customers, 0) AS n_customers,
       COALESCE(n_suppliers, 0) AS n_suppliers,
       cust_balance,
       supp_balance
FROM cust c
FULL OUTER JOIN supp s ON c.nationkey = s.nationkey
ORDER BY nationkey
"""

sql_query(
    "full_outer_nation_accounts",
    _FULL_OUTER,
    _FULL_OUTER,
    tables=["customer", "supplier"],
    tags=("relational", "outer-join"),
)

# --- distribution window functions ----------------------------------------
_DIST_WIN = """
SELECT o_orderkey,
       o_orderstatus,
       ROUND(PERCENT_RANK() OVER w, 9) AS pct_rank,
       ROUND(CUME_DIST() OVER w, 9) AS cume_dist,
       CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
       CAST(NTH_VALUE(o_orderkey, 2) OVER (PARTITION BY o_orderstatus
            ORDER BY CAST(o_totalprice AS DECIMAL(12,2)), o_orderkey
            ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
           AS BIGINT) AS second_cheapest_order
FROM orders
WINDOW w AS (PARTITION BY o_orderstatus
             ORDER BY CAST(o_totalprice AS DECIMAL(12,2)), o_orderkey)
ORDER BY o_orderkey
"""

sql_query(
    "distribution_window_funcs",
    _DIST_WIN,
    _DIST_WIN,
    tables=["orders"],
    tags=("relational", "window"),
)

# --- vocabulary building ---------------------------------------------------
_VOCAB_SPARK = """
SELECT token,
       COUNT(*) AS tf,
       COUNT(DISTINCT doc_id) AS df
FROM (SELECT doc_id, explode(split(text, ' ')) AS token FROM documents)
GROUP BY token
ORDER BY tf DESC, token
LIMIT 50
"""
_VOCAB_DUCK = """
SELECT token,
       COUNT(*) AS tf,
       COUNT(DISTINCT doc_id) AS df
FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
GROUP BY token
ORDER BY tf DESC, token
LIMIT 50
"""

sql_query(
    "vocab_top_tokens",
    _VOCAB_SPARK,
    _VOCAB_DUCK,
    tables=["documents"],
    tags=("text", "vocab"),
)

# --- skew-capped n-gram Jaccard -------------------------------------------
# Same shingle construction as dedup_ops; shingles present in > CAP
# docs are stop-shingles and excluded before the self-join.
_CAP = 20

_SH_DUCK = """
shingles0 AS (
    SELECT DISTINCT doc_id, unnest(list_transform(
               range(1, len(ws) - 1),
               i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2])) AS s
    FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
    WHERE len(ws) >= 3
)
"""

_CAPPED_TAIL = f"""
hot AS (
    SELECT s FROM shingles0 GROUP BY s HAVING COUNT(*) > {_CAP}
),
shingles AS (
    -- NOT EXISTS, not NOT IN: s is provably non-null but the planner
    -- can't see that, and NOT IN forces a null-aware anti join; NOT
    -- EXISTS plans as a plain anti hash join in both engines.
    SELECT doc_id, s FROM shingles0 sh
    WHERE NOT EXISTS (SELECT 1 FROM hot WHERE hot.s = sh.s)
),
pairs AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
    FROM shingles a
    JOIN shingles b ON a.s = b.s AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id)
SELECT p.doc_a, p.doc_b,
       CAST(p.inter AS DOUBLE) / (za.n + zb.n - p.inter) AS jaccard
FROM pairs p
JOIN sizes za ON za.doc_id = p.doc_a
JOIN sizes zb ON zb.doc_id = p.doc_b
WHERE CAST(p.inter AS DOUBLE) / (za.n + zb.n - p.inter) >= 0.5
ORDER BY p.doc_a, p.doc_b
"""

def _ngram_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stop-shingle-capped Jaccard over the persisted shingle relation
    (dedup_ops.cached_shingles) — one corpus explode shared with the
    uncapped/LSH variants instead of four inline recomputes."""
    from crypto_lakehouse_spark.queries.dedup_ops import SHINGLE_VIEW, cached_shingles

    cached_shingles(spark, sf_dir)
    return spark.sql(
        f"WITH shingles0 AS (SELECT doc_id, s FROM {SHINGLE_VIEW})," + _CAPPED_TAIL
    )


query(
    "ngram_jaccard_capped",
    oracle="WITH " + _SH_DUCK + "," + _CAPPED_TAIL,
    tags=("dedup", "jaccard", "skew"),
)(_ngram_jaccard_capped)

# --- MAP-typed JSON parse + entry explode ---------------------------------
# from_json into MAP<STRING,BIGINT> (schema-free key space — the MAP
# column type the reference never needed but an engine must expose),
# exploded to entries and re-aggregated.
_MAP_SPARK = """
SELECT event_type, key,
       COUNT(*) AS n,
       SUM(value) AS value_sum
FROM (
    SELECT event_type, explode(from_json(props, 'map<string,bigint>'))
           AS (key, value)
    FROM events
)
GROUP BY event_type, key
ORDER BY event_type, key
"""
_MAP_DUCK = """
SELECT event_type, key,
       COUNT(*) AS n,
       CAST(SUM(CAST(json_extract(props, '$.' || key) AS BIGINT))
            AS BIGINT) AS value_sum
FROM (
    SELECT event_type, props, unnest(json_keys(props)) AS key
    FROM events
)
GROUP BY event_type, key
ORDER BY event_type, key
"""

sql_query(
    "props_map_entries",
    _MAP_SPARK,
    _MAP_DUCK,
    tables=["events"],
    tags=("json", "map"),
)

# --- EXCEPT ALL / INTERSECT ALL -------------------------------------------
# Multiset semantics: nations appearing among high-value orders' buyer
# nations minus (bag-difference) low-value buyers', and the bag
# intersection — duplicates preserved, unlike the DISTINCT set ops in
# set_ops_customer_segments.
_SETALL = """
WITH hi AS (
    SELECT c_nationkey AS nk FROM orders JOIN customer ON c_custkey = o_custkey
    WHERE CAST(o_totalprice AS DECIMAL(12,2)) > 40000
),
lo AS (
    SELECT c_nationkey AS nk FROM orders JOIN customer ON c_custkey = o_custkey
    WHERE CAST(o_totalprice AS DECIMAL(12,2)) < 1000
)
SELECT 'except_all' AS op, nk, COUNT(*) AS n FROM (
    SELECT nk FROM hi EXCEPT ALL SELECT nk FROM lo
) GROUP BY nk
UNION ALL
SELECT 'intersect_all', nk, COUNT(*) FROM (
    SELECT nk FROM hi INTERSECT ALL SELECT nk FROM lo
) GROUP BY nk
ORDER BY op, nk
"""

sql_query(
    "set_ops_all_variants",
    _SETALL,
    _SETALL,
    tables=["orders", "customer"],
    tags=("relational", "set-ops"),
)

# --- regex redaction sweep -------------------------------------------------
_REDACT_SPARK = """
SELECT event_id,
       regexp_replace(props, '[0-9]+', '<NUM>') AS redacted_props,
       CAST(size(regexp_extract_all(props, '[0-9]+', 0)) AS BIGINT)
           AS n_redactions
FROM events
ORDER BY event_id
"""
_REDACT_DUCK = """
SELECT event_id,
       regexp_replace(props, '[0-9]+', '<NUM>', 'g') AS redacted_props,
       CAST(len(regexp_extract_all(props, '[0-9]+')) AS BIGINT)
           AS n_redactions
FROM events
ORDER BY event_id
"""

sql_query(
    "redact_numeric_props",
    _REDACT_SPARK,
    _REDACT_DUCK,
    tables=["events"],
    tags=("text", "redaction"),
)

# --- explicit GROUPING SETS ------------------------------------------------
# Three independent summaries (by segment, by nation, grand total) in
# ONE aggregation pass: Spark expands the sets in a single Expand
# operator over one shuffle — the same plan shape as CUBE/ROLLUP but
# with a hand-picked set list, which at 100 TB is the difference
# between one scan and three.
_GSETS = """
SELECT CAST(GROUPING(c_mktsegment) AS INTEGER) AS seg_total,
       CAST(GROUPING(c_nationkey) AS INTEGER) AS nation_total,
       c_mktsegment, c_nationkey,
       COUNT(*) AS n_customers,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS balance
FROM customer
GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())
ORDER BY seg_total, nation_total, c_mktsegment, c_nationkey
"""

sql_query(
    "grouping_sets_customers",
    _GSETS,
    _GSETS,
    tables=["customer"],
    tags=("relational", "grouping-sets"),
)

# --- recursive CTE (Spark 4) ----------------------------------------------
# Iterative computation in PURE SQL: a halving amortization schedule
# with data-dependent depth (each order recurses until its balance
# hits zero, ~27 levels from a 10^7-cent start). Spark 4's recursive
# CTE executes this as an iterative union of micro-plans — the
# declarative twin of the driver-looped label propagation in
# dup_clusters_cc (where UNION-dedup semantics, which Spark's
# recursion doesn't support yet, forces the loop to stay in Python).
# All arithmetic is integer cents: no decimal-rounding divergence
# across engines (integer division spelled per dialect: DIV vs //).
_RECURSIVE_AMORT = """
WITH RECURSIVE sched(o_orderkey, month, remaining_cents) AS (
    SELECT o_orderkey, 0,
           CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
    FROM orders WHERE o_orderkey % 997 = 0
    UNION ALL
    SELECT o_orderkey, month + 1, remaining_cents %%DIV%% 2
    FROM sched
    WHERE remaining_cents > 0 AND month < 64
)
SELECT o_orderkey,
       MAX(month) AS months_to_zero,
       COUNT(*) AS n_statements,
       CAST(SUM(remaining_cents) AS BIGINT) AS cents_carried
FROM sched
GROUP BY o_orderkey
ORDER BY o_orderkey
"""

# r14 optimization round (guide §1.1 first-principles: the cheapest
# execution computes the schedule analytically). The halving recursion
# has an exact closed form over non-negative integer cents c:
#   - the schedule emits months 0..K with K = floor(log2 c) + 1
#     (= length(bin(c)), the bit length — no float log), since
#     floor(c / 2^m) first hits 0 at m = bitlen(c);
#   - sum of all halvings is the classic identity
#     sum_{m>=0} floor(c / 2^m) = 2c - popcount(c);
#   - c <= 0 degenerates to the single month-0 row (the recursion
#     guard `remaining > 0` fails immediately).
# The `month < 64` bound can never bind: a positive BIGINT has bit
# length <= 63. Spark therefore computes the whole result in ONE
# narrow projection over the filtered orders scan — the ~27
# UnionLoop driver iterations (one micro-plan job each) disappear.
# The DuckDB oracle KEEPS the recursive CTE, so the green hash is the
# machine proof of the closed form; the recursive-CTE execution path
# itself remains exercised by the wordpiece/unigram walk operators.
sql_query(
    "recursive_amortization",
    """
SELECT o_orderkey,
       CAST(CASE WHEN c <= 0 THEN 0 ELSE length(bin(c)) END AS INT)
           AS months_to_zero,
       CAST(CASE WHEN c <= 0 THEN 1 ELSE length(bin(c)) + 1 END AS BIGINT)
           AS n_statements,
       CAST(CASE WHEN c <= 0 THEN c ELSE 2 * c - bit_count(c) END AS BIGINT)
           AS cents_carried
FROM (
    SELECT o_orderkey,
           CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS c
    FROM orders WHERE o_orderkey % 997 = 0
)
ORDER BY o_orderkey
""",
    _RECURSIVE_AMORT.replace("%%DIV%%", "//"),
    tables=["orders"],
    tags=("relational", "recursive-cte", "iterative"),
)

# --- VARIANT semi-structured type (Spark 4) -------------------------------
# parse_json -> VARIANT is Spark 4's schema-flexible column type for
# semi-structured pipelines (the open-format answer to schema drift:
# extraction is typed per access instead of per table). Same contract
# as the MAP/UDTF variants of the props explode family; the oracle
# extracts through DuckDB's JSON path functions.
_VARIANT_SPARK = """
SELECT event_type,
       COUNT(*) AS n,
       SUM(variant_get(parse_json(props), '$.k', 'bigint')) AS k_sum,
       MAX(variant_get(parse_json(props), '$.k', 'bigint')) AS k_max,
       SUM(CASE WHEN try_variant_get(parse_json(props), '$.missing', 'bigint')
                IS NULL THEN 1 ELSE 0 END) AS n_missing
FROM events
GROUP BY event_type
ORDER BY event_type
"""
_VARIANT_DUCK = """
SELECT event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT))
            AS BIGINT) AS k_sum,
       MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS k_max,
       CAST(SUM(CASE WHEN json_extract(props, '$.missing')
                IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_missing
FROM events
GROUP BY event_type
ORDER BY event_type
"""

sql_query(
    "props_variant_stats",
    _VARIANT_SPARK,
    _VARIANT_DUCK,
    tables=["events"],
    tags=("json", "variant", "semi-structured"),
)


# --- SQL pipe syntax (Spark 4.1) -------------------------------------------
# The TPC-H Q1 contract re-expressed in Spark 4.1's pipe syntax
# (`|> WHERE / AGGREGATE / ORDER BY / SELECT`), proven against the
# same classic-SQL oracle as q1_pricing_summary. Same logical plan,
# same single-shuffle hash aggregate — pipe syntax is pure sugar, and
# the differential check proves it (DuckDB has no pipe parser, which
# is exactly why the oracle side stays classic ANSI).
_EXT = "CAST(l_extendedprice AS DECIMAL(12,2))"
_QTY = "CAST(l_quantity AS DECIMAL(12,2))"
_DISC = "CAST(l_discount AS DECIMAL(4,2))"
_TAX = "CAST(l_tax AS DECIMAL(4,2))"

_PIPE_Q1_SPARK = f"""
FROM lineitem
|> WHERE l_shipdate <= TIMESTAMP '2001-09-01 00:00:00'
|> AGGREGATE
       CAST(SUM({_QTY}) AS DOUBLE) AS sum_qty,
       CAST(SUM({_EXT}) AS DOUBLE) AS sum_base_price,
       CAST(SUM({_EXT} * (1 - {_DISC})) AS DOUBLE) AS sum_disc_price,
       CAST(SUM({_EXT} * (1 - {_DISC}) * (1 + {_TAX})) AS DOUBLE)
           AS sum_charge,
       CAST(SUM({_QTY}) AS DOUBLE) / COUNT(*) AS avg_qty,
       CAST(SUM({_EXT}) AS DOUBLE) / COUNT(*) AS avg_price,
       CAST(SUM({_DISC}) AS DOUBLE) / COUNT(*) AS avg_disc,
       COUNT(*) AS count_order
   GROUP BY l_returnflag, l_linestatus
|> ORDER BY l_returnflag, l_linestatus
|> SELECT l_returnflag, l_linestatus, sum_qty, sum_base_price,
          sum_disc_price, sum_charge, avg_qty, avg_price, avg_disc,
          count_order
"""

_PIPE_Q1_DUCK = f"""
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
"""

sql_query(
    "pipe_syntax_pricing_summary",
    _PIPE_Q1_SPARK,
    _PIPE_Q1_DUCK,
    tables=["lineitem"],
    tags=("relational", "pipe-syntax", "spark4"),
)


# --- correlated LATERAL join ------------------------------------------------
# Top-3 largest docs per source via a correlated LATERAL subquery
# with ORDER BY ... LIMIT — the remaining join surface (Spark plans a
# LateralJoin; DuckDB runs the same ANSI text). Same contract as a
# window top-k, but expressed as the dependent-join operator; Spark
# de-correlates it into a ranked window under the hood, so the plan
# is still one shuffle — the differential check pins the semantics.
_LATERAL_SQL = """
SELECT s.source, t.doc_id, t.n_chars
FROM (SELECT DISTINCT source FROM documents) s,
LATERAL (SELECT doc_id, n_chars FROM documents d
         WHERE d.source = s.source
         ORDER BY n_chars DESC, doc_id LIMIT 3) t
ORDER BY s.source, t.n_chars DESC, t.doc_id
"""

sql_query(
    "lateral_topk_per_source",
    _LATERAL_SQL,
    _LATERAL_SQL,
    tables=["documents"],
    tags=("relational", "join", "lateral"),
)


# --- UNPIVOT long-form metrics (+ GROUP BY ALL) -----------------------------
# Wide->long reshaping of a per-priority metrics table: Spark's
# UNPIVOT clause vs DuckDB's UNPIVOT ... INTO NAME/VALUE (same
# operator, different surface syntax — the differential pins equal
# semantics). The aggregation uses GROUP BY ALL in both dialects.
# Unpivot is a Generate/Expand (map-side row replication), so the
# only shuffle is the source aggregation.
_UNPIVOT_SPARK = """
SELECT o_orderpriority, metric, val FROM (
    SELECT o_orderpriority,
           CAST(COUNT(*) AS DOUBLE) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
               AS total_price
    FROM orders GROUP BY ALL
) UNPIVOT (val FOR metric IN (n_orders, total_price))
ORDER BY o_orderpriority, metric
"""

_UNPIVOT_DUCK = """
SELECT o_orderpriority, metric, val FROM (
    UNPIVOT (
        SELECT o_orderpriority,
               CAST(COUNT(*) AS DOUBLE) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
                   AS total_price
        FROM orders GROUP BY ALL
    ) ON n_orders, total_price INTO NAME metric VALUE val
)
ORDER BY o_orderpriority, metric
"""

sql_query(
    "unpivot_order_metrics",
    _UNPIVOT_SPARK,
    _UNPIVOT_DUCK,
    tables=["orders"],
    tags=("relational", "reshape", "unpivot"),
)


# --- aggregate FILTER clause ------------------------------------------------
# Conditional aggregation via the ANSI FILTER clause (identical text
# both engines) — the declarative twin of the SUM(CASE WHEN ...) used
# by silver_stats (SURVEY A4). All in one hash aggregate: FILTER
# compiles to the same conditional accumulator, no extra pass.
_FILTER_AGG = """
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished,
       COUNT(*) FILTER (WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00')
           AS n_recent,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
            FILTER (WHERE o_orderstatus = 'F') AS DOUBLE) AS finished_total
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""

sql_query(
    "filter_clause_order_stats",
    _FILTER_AGG,
    _FILTER_AGG,
    tables=["orders"],
    tags=("relational", "aggregation", "filter-clause"),
)


# --- regexp_extract_all sweep -----------------------------------------------
# The extraction twin of redact_numeric_props: pull every integer out
# of the JSON props payload, fold them in array order (defined by
# match position — identical in both engines), and aggregate per
# event type. Regex evaluation is map-side; the only shuffle is the
# final groupBy. Dialect: Spark regexp_extract_all(s, r, 0) ==
# DuckDB regexp_extract_all(s, r); size() == len(); the sequential
# array fold keeps the BIGINT sums order-defined (not that integer
# addition needs it — it keeps the shape identical to the double
# folds used elsewhere).
_EXTRACT_SPARK = """
SELECT event_type,
       SUM(size(nums)) AS n_numbers,
       SUM(aggregate(nums, CAST(0 AS BIGINT),
                     (a, x) -> a + CAST(x AS BIGINT))) AS number_total,
       MAX(size(nums)) AS max_per_event
FROM (
    SELECT event_type, regexp_extract_all(props, '[0-9]+', 0) AS nums
    FROM events
)
GROUP BY event_type
ORDER BY event_type
"""

_EXTRACT_DUCK = """
SELECT event_type,
       CAST(SUM(len(nums)) AS BIGINT) AS n_numbers,
       CAST(SUM(list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(nums, x -> CAST(x AS BIGINT))),
               (a, x) -> a + x)) AS BIGINT) AS number_total,
       MAX(len(nums)) AS max_per_event
FROM (
    SELECT event_type, regexp_extract_all(props, '[0-9]+') AS nums
    FROM events
)
GROUP BY event_type
ORDER BY event_type
"""

sql_query(
    "regexp_extract_numbers",
    _EXTRACT_SPARK,
    _EXTRACT_DUCK,
    tables=["events"],
    tags=("text", "regex", "extraction"),
)


# --- higher-order array function sweep --------------------------------------
# transform / filter / exists / forall / fold / slice in ONE pass over
# per-order quantity arrays — the lambda-expression surface an engine
# must expose (Spark HOFs are codegen'd JVM lambdas, not UDFs; DuckDB
# list_* are the same shapes). Quantities cast to INT so every result
# is integer-exact; the collected array is SORTED so folds and slices
# are order-defined in both engines.
_HOF_SPARK = """
WITH per AS (
    SELECT l_orderkey,
           array_sort(collect_list(CAST(l_quantity AS INT))) AS qs
    FROM lineitem GROUP BY l_orderkey
)
SELECT l_orderkey,
       size(qs) AS n_items,
       aggregate(transform(qs, x -> CAST(x * 2 AS BIGINT)),
                 CAST(0 AS BIGINT), (a, x) -> a + x) AS doubled_sum,
       size(filter(qs, x -> x > 25)) AS n_big,
       exists(qs, x -> x = 50) AS has_50,
       forall(qs, x -> x > 0) AS all_positive,
       array_join(transform(slice(qs, 1, 3), x -> CAST(x AS STRING)), ',')
           AS first3
FROM per
ORDER BY l_orderkey
"""

_HOF_DUCK = """
WITH per AS (
    SELECT l_orderkey,
           list_sort(list(CAST(l_quantity AS INTEGER))) AS qs
    FROM lineitem GROUP BY l_orderkey
)
SELECT l_orderkey,
       len(qs) AS n_items,
       list_reduce(list_prepend(CAST(0 AS BIGINT),
                       list_transform(qs, x -> CAST(x * 2 AS BIGINT))),
                   (a, x) -> a + x) AS doubled_sum,
       len(list_filter(qs, x -> x > 25)) AS n_big,
       list_contains(qs, 50) AS has_50,
       len(list_filter(qs, x -> x <= 0)) = 0 AS all_positive,
       array_to_string(list_transform(qs[1:3], x -> CAST(x AS VARCHAR)), ',')
           AS first3
FROM per
ORDER BY l_orderkey
"""

sql_query(
    "array_hof_sweep",
    _HOF_SPARK,
    _HOF_DUCK,
    tables=["lineitem"],
    tags=("relational", "higher-order", "array"),
)

# --- null-safe equality join ------------------------------------------------
# Spark `<=>` vs ANSI IS NOT DISTINCT FROM: NULL keys MATCH each other
# instead of vanishing (the semantics MERGE key comparisons and SCD
# attribute-change checks rely on — see eqNullSafe in pipeline/scd.py).
# Demonstrated on a small dimension join where region 0 is nulled on
# both sides: an ordinary equi-join would drop those nations; the
# null-safe join keeps them paired with the nulled region.
_NULLSAFE_SPARK = """
SELECT n.n_name AS nation,
       COALESCE(r.r_name, 'NO-REGION') AS region
FROM (SELECT n_name, NULLIF(n_regionkey, 0) AS rk FROM nation) n
JOIN (SELECT r_name, NULLIF(r_regionkey, 0) AS rk FROM region) r
  ON n.rk <=> r.rk
ORDER BY nation, region
"""

_NULLSAFE_DUCK = """
SELECT n.n_name AS nation,
       COALESCE(r.r_name, 'NO-REGION') AS region
FROM (SELECT n_name, NULLIF(n_regionkey, 0) AS rk FROM nation) n
JOIN (SELECT r_name, NULLIF(r_regionkey, 0) AS rk FROM region) r
  ON n.rk IS NOT DISTINCT FROM r.rk
ORDER BY nation, region
"""

sql_query(
    "null_safe_region_join",
    _NULLSAFE_SPARK,
    _NULLSAFE_DUCK,
    tables=["nation", "region"],
    tags=("relational", "null-safe-join"),
)


# --- LISTAGG WITHIN GROUP (Spark 4 / ANSI ordered string agg) --------------
# The ANSI ordered string aggregation, new in Spark 4 — the
# deterministic form of string concatenation (an explicit WITHIN GROUP
# order, vs collect_list whose order is partition-dependent; compare
# `collect_order_statuses`, which had to sort explicitly). DuckDB's
# string_agg(x, sep ORDER BY ...) is the same operator.
_LISTAGG_SPARK = """
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       listagg(DISTINCT o_orderstatus, ',')
           WITHIN GROUP (ORDER BY o_orderstatus) AS statuses
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""

_LISTAGG_DUCK = """
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus)
           AS statuses
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""

sql_query(
    "listagg_order_statuses",
    _LISTAGG_SPARK,
    _LISTAGG_DUCK,
    tables=["orders"],
    tags=("relational", "listagg", "spark4"),
)


# --- approx_top_k (Spark 4 frequent-items sketch) --------------------------
# The engine-side sketch twin of `heavy_hitters_twophase`: Spark 4's
# approx_top_k tracks maxItemsTracked counters (a space-saving-style
# summary). Gating pattern (same honesty rule as the HLL/percentile
# sketch twins): the tracked-capacity here (8192) exceeds this
# corpus's whole vocabulary, making the sketch EXACT, so the exact
# top-k SQL is a true oracle; at 100 TB capacity < vocabulary makes it
# approximate, and `heavy_hitters_twophase` (checked-exact) or
# `vocab_top_tokens` (exact) are the verification anchors. Ties are
# re-ranked deterministically (count DESC, token) after exploding the
# sketch result — the sketch's own tie order is unspecified, so k is
# requested well past the reported top-10 (k=100 > this corpus's
# whole vocabulary) and the boundary is re-cut after the re-rank.
_ATK_SPARK = """
WITH toks AS (
    SELECT explode(split(text, ' ')) AS tok FROM documents
),
sketch AS (
    SELECT approx_top_k(tok, 100, 8192) AS tk FROM toks
),
flat AS (
    SELECT x.item AS token, x.count AS tf
    FROM sketch LATERAL VIEW explode(tk) t AS x
)
SELECT token, tf, rank FROM (
    SELECT token, CAST(tf AS BIGINT) AS tf,
           CAST(ROW_NUMBER() OVER (ORDER BY tf DESC, token) AS BIGINT) AS rank
    FROM flat
)
WHERE rank <= 10
ORDER BY rank
"""

_ATK_DUCK = """
WITH toks AS (
    SELECT unnest(string_split(text, ' ')) AS tok FROM documents
),
counts AS (SELECT tok AS token, COUNT(*) AS tf FROM toks GROUP BY tok)
SELECT token, CAST(tf AS BIGINT) AS tf,
       CAST(rank AS BIGINT) AS rank
FROM (
    SELECT token, tf, ROW_NUMBER() OVER (ORDER BY tf DESC, token) AS rank
    FROM counts
)
WHERE rank <= 10
ORDER BY rank
"""

sql_query(
    "approx_top_k_tokens",
    _ATK_SPARK,
    _ATK_DUCK,
    tables=["documents"],
    tags=("lmdata", "sketch", "heavy-hitters", "spark4", "gated-exact"),
)


# --- SQL-defined scalar UDF (Spark 4 CREATE FUNCTION ... RETURN) -----------
# The declarative UDF tier: a function DEFINED IN SQL is inlined by
# the analyzer into the calling plan — zero Python, zero JVM class,
# full whole-stage codegen — which is why it's the first escape hatch
# to reach for before pandas/Python UDFs (queries/udf_ops.py ranks
# the rest of the ladder). The oracle simply inlines the body.
_SQL_UDF_BODY = """
CASE WHEN {p} < 100000 THEN 'low'
     WHEN {p} < 300000 THEN 'mid'
     ELSE 'high' END
"""


def _sql_udf_price_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL scalar UDF (CREATE TEMPORARY FUNCTION ... RETURNS
    ... RETURN <expr>), analyzer-inlined; census per band must
    hash-match the oracle that expands the body textually."""
    from crypto_lakehouse_spark.io import register_views

    register_views(spark, sf_dir, ["orders"])
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION price_band(p DOUBLE) "
        "RETURNS STRING RETURN " + _SQL_UDF_BODY.format(p="p")
    )
    return spark.sql(
        """
        SELECT price_band(o_totalprice) AS band,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
                   AS price_sum
        FROM orders
        GROUP BY price_band(o_totalprice)
        ORDER BY band
        """
    )


query(
    "sql_udf_price_bands",
    oracle=f"""
SELECT {_SQL_UDF_BODY.format(p="o_totalprice")} AS band,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS price_sum
FROM orders
GROUP BY 1
ORDER BY band
""",
    tags=("relational", "sql-udf", "spark4"),
)(_sql_udf_price_bands)


# --- Count-Min sketch with measured overestimate ----------------------------
# The mergeable frequency sketch (Cormode & Muthukrishnan 2005) that
# backs heavy-hitter counting when the vocabulary no longer fits an
# exact census: d=4 hash rows x w=64 buckets (w deliberately << vocabulary so the one-sided error is actually exercised), cell[r][b] = total
# count of tokens hashing to b under row r's hash, estimate(t) =
# MIN_r cell[r][hash_r(t)] — ALWAYS >= the true count (one-sided
# error), which the output pins per token as `overestimate`. Unlike
# the HLL/percentile sketch twins, CMS needs no exactness gate: given
# fixed hash functions (md5(r || ':' || token) -> first 8 hex digits
# mod w, identical text in both engines) every cell and every MIN is
# an exact integer, so the whole report value-hashes. Here the sketch
# is built FROM the exact token census (the census is needed for the
# error column anyway, and aggregating counts into cells is
# associative — identical cells to streaming the raw tokens); a
# production ingest skips the census and groupBy's the raw stream
# straight into d x w cells with map-side combine: constant state,
# corpus-linear, mergeable across shards/days by cell-wise addition.
_CMS_D = 4
_CMS_W = 64


def _cms_bucket(hexint: str, tok: str, row: str) -> str:
    """Row-r hash bucket for token expr `tok` — built from explicit
    column expressions rather than textual .replace surgery, so a
    dialect whose hexint template happens to contain the substring
    'token' or 'CAST(r AS' can never silently corrupt the join key."""
    return hexint.format(
        h=f"substr(md5(CAST({row} AS STRING) || ':' || {tok}), 1, 8)"
    )


def _cms_sql(unnest_toks: str, hexint: str) -> str:
    bucket = _cms_bucket(hexint, "token", "r")
    est_bucket = _cms_bucket(hexint, "t.token", "rws.r")
    return f"""
WITH toks AS ({unnest_toks}),
counts AS (SELECT token, COUNT(*) AS c FROM toks GROUP BY token),
rws AS ({{rows}}),
cells AS (
    SELECT r, {bucket} % {_CMS_W} AS b, SUM(c) AS cell
    FROM counts CROSS JOIN rws
    GROUP BY r, {bucket} % {_CMS_W}
),
top20 AS (
    SELECT token, c, rank FROM (
        SELECT token, c,
               ROW_NUMBER() OVER (ORDER BY c DESC, token) AS rank
        FROM counts
    ) x WHERE rank <= 20
),
est AS (
    SELECT t.token, t.c, t.rank, MIN(cl.cell) AS estimate
    FROM top20 t
    CROSS JOIN rws
    JOIN cells cl ON cl.r = rws.r
     AND cl.b = {est_bucket} % {_CMS_W}
    GROUP BY t.token, t.c, t.rank
)
SELECT token,
       CAST(c AS BIGINT) AS exact_count,
       CAST(estimate AS BIGINT) AS cms_estimate,
       CAST(estimate - c AS BIGINT) AS overestimate,
       CAST(rank AS BIGINT) AS rank
FROM est
ORDER BY rank
"""


_CMS_SPARK = _cms_sql(
    "SELECT explode(split(text, ' ')) AS token FROM documents",
    "CAST(conv({h}, 16, 10) AS BIGINT)",
).format(rows=f"SELECT explode(sequence(0, {_CMS_D - 1})) AS r")

_CMS_DUCK = _cms_sql(
    "SELECT unnest(string_split(text, ' ')) AS token FROM documents",
    "CAST(('0x' || {h}) AS BIGINT)",
).format(rows=f"SELECT unnest(range(0, {_CMS_D})) AS r")

sql_query(
    "countmin_sketch_error",
    _CMS_SPARK,
    _CMS_DUCK,
    tables=["documents"],
    tags=("lmdata", "sketch", "countmin", "heavy-hitters"),
)
