"""Graph analytics over the order graph (supplier -> customer edges
derived from lineitem x orders) — the family the engine already
exercises for dedup clustering (connected components, label
propagation in queries/dedup_ops.py), here exposed as first-class
queries on a real directed graph.

- `pagerank_one_iter`: one damped PageRank step from the uniform
  distribution — the iterated unit of the full algorithm, same
  pattern as `kmeans_one_step` (the driver loop re-applies the step;
  `dup_clusters_cc` shows a checkpointed convergence loop in this
  repo). Exactness discipline: each incoming contribution is
  1/outdeg scaled to an integer (10^18 DIV od) and summed as
  DECIMAL(38,0) — integer floor-division is bit-identical across
  engines and decimal addition is order-free, so no float-summation
  ordering can diverge; floats appear only in the final single
  expression, ROUND(9).
- `graph_degree_stats`: in/out-degree distribution moments per side —
  the profiling query that decides skew strategy (a hot supplier =
  hot join key) before any iterative algorithm runs.

Scale shape: edge list is one equi-join (lineitem x orders on
orderkey — co-partitionable), dedup via DISTINCT (one shuffle on the
edge pair), degree aggregations are groupBys with map-side combine;
the contribution join fans out each edge exactly once (outdeg is
unique per src). At 100 TB the iterated PageRank adds per-iteration
checkpointing exactly as dup_clusters_cc does.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, SparkSession

from crypto_lakehouse_spark.io import register_views
from crypto_lakehouse_spark.queries.fixture_meter import fixture
from crypto_lakehouse_spark.operators.checkpointing import (
    release_lineage,
    truncate_lineage,
)
from crypto_lakehouse_spark.queries.registry import query, sql_query

_SCALE = 10**18
_D = "0.85"


# Shared EDGE-LIST fixture. Six graph queries derive the identical
# supplier->customer edge relation (lineitem x orders + DISTINCT —
# the expensive part of every plan in this module); a real graph
# pipeline materializes the edge list once and runs every algorithm
# over it, as a session fixture (queries/fixture_meter.py). DuckDB
# oracles recompute the edges CTE inline (identical rows).
_EDGES_VIEW = "graph_edges_mat"


@fixture("graph_edges", view=_EDGES_VIEW)
def _cached_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The supplier->customer edge list for `sf_dir`."""
    register_views(spark, sf_dir, ["lineitem", "orders"])
    return truncate_lineage(
        spark.sql(
            """
            SELECT DISTINCT concat('S', l.l_suppkey) AS src,
                            concat('C', o.o_custkey) AS dst
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
            """
        ),
        spark,
    )


# The Spark side reads the edge fixture (graph_edges_mat); the DuckDB
# oracle recomputes the edges CTE inline.
_pair_edges = partial(sql_query, prepare=_cached_edges)


def _pagerank_sql(edges_body: str, div: str) -> str:
    return f"""
WITH edges AS (
    {edges_body}
),
nodes AS (SELECT src AS v FROM edges UNION SELECT dst FROM edges),
nn AS (SELECT COUNT(*) AS n FROM nodes),
outdeg AS (SELECT src, COUNT(*) AS od FROM edges GROUP BY src),
contrib AS (
    SELECT e.dst AS v,
           CAST({_SCALE} {div} d.od AS DECIMAL(38,0)) AS w
    FROM edges e JOIN outdeg d ON e.src = d.src
),
summed AS (SELECT v, SUM(w) AS sw FROM contrib GROUP BY v)
SELECT n.v AS node,
       ROUND((1 - {_D}) / t.n
             + {_D} / t.n * (CAST(COALESCE(s.sw, 0) AS DOUBLE) / {_SCALE}.0),
             9) AS pagerank
FROM nodes n CROSS JOIN nn t LEFT JOIN summed s ON n.v = s.v
ORDER BY node
"""


_pair_edges(
    "pagerank_one_iter",
    _pagerank_sql("SELECT src, dst FROM graph_edges_mat", "DIV"),
    _pagerank_sql(
        """SELECT DISTINCT 'S' || CAST(l.l_suppkey AS VARCHAR) AS src,
                    'C' || CAST(o.o_custkey AS VARCHAR) AS dst
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey""",
        "//",
    ),
    tags=("graph", "pagerank", "iterative-unit"),
)


def _degree_sql(edges_body: str) -> str:
    return f"""
WITH edges AS (
    {edges_body}
),
outd AS (SELECT src AS v, COUNT(*) AS deg FROM edges GROUP BY src),
ind AS (SELECT dst AS v, COUNT(*) AS deg FROM edges GROUP BY dst),
both_sides AS (
    SELECT 'out' AS side, deg FROM outd
    UNION ALL
    SELECT 'in' AS side, deg FROM ind
)
SELECT side,
       COUNT(*) AS n_nodes,
       CAST(SUM(deg) AS BIGINT) AS n_edges,
       CAST(MIN(deg) AS BIGINT) AS min_deg,
       CAST(MAX(deg) AS BIGINT) AS max_deg,
       ROUND(CAST(SUM(deg) AS DOUBLE) / COUNT(*), 9) AS mean_deg
FROM both_sides
GROUP BY side
ORDER BY side
"""


_pair_edges(
    "graph_degree_stats",
    _degree_sql("SELECT src, dst FROM graph_edges_mat"),
    _degree_sql("""SELECT DISTINCT 'S' || CAST(l.l_suppkey AS VARCHAR) AS src,
                    'C' || CAST(o.o_custkey AS VARCHAR) AS dst
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey"""),
    tags=("graph", "degree", "profiling"),
)


# --- iterated PageRank (3 exact integer iterations) ------------------------
# The driver-loop form of the full algorithm (same pattern as
# dup_clusters_cc's checkpointed label propagation): ranks are kept as
# integers scaled by 10^18 and every update is
#   R_{i+1}(v) = 15*(SCALE/100)/N  +  85 * (S_i(v) / 100)
#   S_i(v)     = sum over incoming u of (R_i(u) / outdeg(u))
# with every division an integer floor-div — bit-identical across
# engines and across any execution order (integer sums are
# order-free), so three unrolled CTE iterations in DuckDB reproduce
# the loop exactly. Dangling nodes (customers) leak rank, as in the
# simplified formulation — both sides implement the identical recurrence.
# Scale: each iteration is one join (edges x ranks on src — the AQE
# skew-join handles hubs) + one groupBy(dst) with map-side combine;
# the loop persists each frontier like the CC iterations do.

_PR_SCALE = 10**18


def _pagerank_iterated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-iteration integer PageRank over the supplier->customer graph,
    computed in CLOSED FORM (r13 optimization round, guide §1.1
    "first-principles: how many passes are fundamentally required").

    The edge construction makes every src a supplier ('S...') and
    every dst a customer ('C...') for ANY input data, so the graph is
    a 2-layer DAG: suppliers have no incoming edges and customers no
    outgoing ones.  Under the recurrence
        R_{{i+1}}(v) = base + 85 * (S_i(v) DIV 100),
        S_i(v) = sum over incoming u of (R_i(u) DIV od(u))
    suppliers therefore reach their fixpoint after round 1
    (S_i(supplier) = 0 always, so R_k(s) = base for every k >= 1) and
    customers after round 2 (R_2(c) and R_3(c) both evaluate
    base + 85 * ((sum of base DIV od_u) DIV 100)).  Three unrolled
    rounds — the contract the DuckDB oracle still computes with three
    recursive CTE iterations — thus collapse to ONE join + aggregate
    over constant supplier rank `base`.  The green oracle hash is the
    machine proof of the collapse; the previous 3-round checkpointed
    loop (8 jobs: 3 rank checkpoints + 3 broadcast builds + 2 persists)
    becomes a single-job plan.  The driver-loop demonstration of the
    general (cyclic-graph) algorithm remains `pagerank_converged`."""
    from pyspark.sql import functions as F

    # The edge list comes from the shared materialized fixture (no
    # per-call lineitem x orders + DISTINCT rebuild); it is already
    # checkpointed, so no extra persist is needed on it.
    edges = spark.table(_cached_edges(spark, sf_dir))
    outdeg = edges.groupBy("src").agg(F.count("*").alias("od"))
    weighted = edges.join(outdeg, "src")
    nodes = (
        edges.select(F.col("src").alias("v"))
        .union(edges.select(F.col("dst").alias("v")))
        .distinct()
    )
    n = nodes.count()
    if n == 0:
        # Empty graph: every per-node term divides by N — degrade to
        # the oracle's empty result (no nodes) instead of a driver
        # ZeroDivisionError.
        return spark.createDataFrame(
            [], "node string, pagerank_scaled bigint, pagerank double"
        )
    base = 15 * (_PR_SCALE // 100) // n

    # Fixpoint supplier rank is the constant `base`; one edge pass
    # computes the customers' (and, via the COALESCE(0) miss, the
    # suppliers') final rank — identical integer ops in identical
    # order to the last loop round of the previous implementation.
    s = (
        weighted.select("dst", F.expr(f"{base}L DIV od").alias("c"))
        .groupBy("dst")
        .agg(F.sum("c").alias("s"))
    )
    rank = nodes.join(s, nodes["v"] == s["dst"], "left").select(
        nodes["v"],
        (F.lit(base) + 85 * F.expr("COALESCE(s, 0L) DIV 100")).alias("r"),
    )
    return rank.select(
        F.col("v").alias("node"),
        F.col("r").cast("bigint").alias("pagerank_scaled"),
        F.round(F.col("r") / F.lit(float(_PR_SCALE)), 9).alias("pagerank"),
    ).orderBy("node")


def _pr_oracle() -> str:
    head = """
WITH edges AS (
    SELECT DISTINCT 'S' || CAST(l.l_suppkey AS VARCHAR) AS src,
                    'C' || CAST(o.o_custkey AS VARCHAR) AS dst
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
nodes AS (SELECT src AS v FROM edges UNION SELECT dst FROM edges),
nn AS (SELECT COUNT(*) AS n FROM nodes),
outdeg AS (SELECT src, COUNT(*) AS od FROM edges GROUP BY src),
r0 AS (
    SELECT v, {scale} // t.n AS r FROM nodes CROSS JOIN nn t
)"""
    iters = []
    for i in range(1, 4):
        iters.append(f"""
s{i} AS (
    SELECT e.dst AS v, SUM(r.r // d.od) AS s
    FROM edges e
    JOIN outdeg d ON e.src = d.src
    JOIN r{i - 1} r ON r.v = e.src
    GROUP BY e.dst
),
r{i} AS (
    SELECT n0.v,
           (15 * {10**16} // t.n) + 85 * (COALESCE(s{i}.s, 0) // 100) AS r
    FROM nodes n0 CROSS JOIN nn t LEFT JOIN s{i} ON s{i}.v = n0.v
)""")
    tail = f"""
SELECT v AS node,
       CAST(r AS BIGINT) AS pagerank_scaled,
       ROUND(r / {_PR_SCALE}.0, 9) AS pagerank
FROM r3 ORDER BY node
"""
    return head.format(scale=_PR_SCALE) + "," + ",".join(iters) + tail


query(
    "pagerank_iterated",
    oracle=_pr_oracle(),
    tags=("graph", "pagerank", "iterative", "checkpointed"),
)(_pagerank_iterated)


# --- convergence-gated PageRank (VERDICT r5 item 6) ------------------------
# Epsilon-terminated variant of the loop above, on a CYCLIC graph
# (supplier->customer edges plus customer->supplier back-edges for
# finished orders) so convergence depth is genuinely data-dependent —
# the bipartite S->C DAG converges in a fixed 3 rounds, which would
# make a convergence gate vacuous. Same integer-exact recurrence; the
# loop stops when max_v |R_{i+1}(v) - R_i(v)| <= eps with
# eps = 34 * (SCALE DIV n) DIV 5 (~6.8x the uniform initial rank —
# deliberately relative to n so the gate engages at every scale) or at
# 25 rounds, whichever first. The oracle replays the identical
# recurrence as a DuckDB recursive CTE whose recursive term carries the
# per-node delta and whose continuation predicate is the same global
# max-delta gate — a data-dependent-depth oracle, like
# recursive_amortization. n_rounds is emitted on every row so the
# driver's value hash pins the DEPTH as well as the ranks.
# (DuckDB quirk: sibling CTEs inside WITH RECURSIVE must avoid
# top-level UNION — it mis-binds; DISTINCT over UNION ALL instead.)

_PR_MAX_ROUNDS = 25


def _pagerank_converged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epsilon-terminated integer PageRank (see block comment)."""
    from pyspark.sql import functions as F

    register_views(spark, sf_dir, ["lineitem", "orders"])
    edges = spark.sql(
        """
        SELECT DISTINCT src, dst FROM (
            SELECT concat('S', l.l_suppkey) AS src,
                   concat('C', o.o_custkey) AS dst
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
            UNION ALL
            SELECT concat('C', o.o_custkey), concat('S', l.l_suppkey)
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
            WHERE o.o_orderstatus = 'F'
        ) u
        """
    ).persist()
    outdeg = edges.groupBy("src").agg(F.count("*").alias("od"))
    # Loop-invariant: the (src, dst, od) relation never changes, so
    # join it ONCE and persist — each round then only broadcast-joins
    # the (small) rank relation onto it, no per-round edge shuffle.
    weighted = edges.join(outdeg, "src").persist()
    nodes = (
        edges.select(F.col("src").alias("v"))
        .union(edges.select(F.col("dst").alias("v")))
        .distinct()
        .persist()
    )
    n = nodes.count()
    if n == 0:
        # Same empty-graph degradation contract as _pagerank_iterated.
        for df in (weighted, nodes):
            df.unpersist()
        return spark.createDataFrame(
            [],
            "node string, pagerank_scaled bigint, pagerank double, "
            "n_rounds bigint",
        )
    base = 15 * (_PR_SCALE // 100) // n
    eps = 34 * (_PR_SCALE // n) // 5

    rank = nodes.select("v", F.lit(_PR_SCALE // n).alias("r"))
    rounds = 0
    while rounds < _PR_MAX_ROUNDS:
        contrib = (
            weighted.join(
                F.broadcast(rank.withColumnRenamed("v", "src")), "src"
            )
            .select("dst", F.expr("r DIV od").alias("c"))
        )
        s = contrib.groupBy("dst").agg(F.sum("c").alias("s"))
        new_rank = (
            nodes.join(s, nodes["v"] == s["dst"], "left")
            .select(
                nodes["v"],
                (F.lit(base) + 85 * F.expr("COALESCE(s, 0L) DIV 100")).alias(
                    "r"
                ),
            )
        )
        new_rank = truncate_lineage(new_rank, spark)
        rounds += 1
        # Global convergence gate: one bounded scalar per round (the
        # same driver-side check dup_clusters_cc uses for its label
        # fixpoint).
        delta = (
            new_rank.withColumnRenamed("r", "nr")
            .join(F.broadcast(rank), "v")
            .agg(F.max(F.abs(F.col("nr") - F.col("r"))).alias("d"))
            .collect()[0]["d"]
        )
        rank = new_rank
        if delta is not None and delta <= eps:
            break
    out = rank.select(
        F.col("v").alias("node"),
        F.col("r").cast("bigint").alias("pagerank_scaled"),
        F.round(F.col("r") / F.lit(float(_PR_SCALE)), 9).alias("pagerank"),
        F.lit(rounds).cast("bigint").alias("n_rounds"),
    ).orderBy("node")
    weighted.unpersist()
    nodes.unpersist()
    return out


def _pr_converged_oracle() -> str:
    return f"""
WITH RECURSIVE
edges AS (
    SELECT DISTINCT src, dst FROM (
        SELECT 'S' || CAST(l.l_suppkey AS VARCHAR) AS src,
               'C' || CAST(o.o_custkey AS VARCHAR) AS dst
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        UNION ALL
        SELECT 'C' || CAST(o.o_custkey AS VARCHAR),
               'S' || CAST(l.l_suppkey AS VARCHAR)
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderstatus = 'F'
    ) u
),
nodes AS (SELECT DISTINCT v FROM (
    SELECT src AS v FROM edges UNION ALL SELECT dst FROM edges) u),
nn AS (SELECT COUNT(*) AS n FROM nodes),
outdeg AS (SELECT src, COUNT(*) AS od FROM edges GROUP BY src),
epsv AS (SELECT 34 * ({_PR_SCALE} // n) // 5 AS e FROM nn),
it(iter, v, r, delta) AS (
    SELECT 0, v, {_PR_SCALE} // t.n, CAST(NULL AS BIGINT)
    FROM nodes CROSS JOIN nn t
    UNION ALL
    SELECT iter + 1, v, nr, ABS(nr - r)
    FROM (
        SELECT prev.iter, prev.v, prev.r,
               (15 * {10**16} // t.n)
                 + 85 * (COALESCE(s.s, 0) // 100) AS nr
        FROM it prev
        JOIN (SELECT MAX(delta) AS md FROM it) g
          ON (g.md IS NULL AND prev.iter = 0)
             OR g.md > (SELECT e FROM epsv)
        LEFT JOIN (
            SELECT i.iter, e.dst AS v, SUM(i.r // d.od) AS s
            FROM it i
            JOIN edges e ON e.src = i.v
            JOIN outdeg d ON d.src = i.v
            GROUP BY i.iter, e.dst
        ) s ON s.v = prev.v AND s.iter = prev.iter
        CROSS JOIN nn t
        WHERE prev.iter < {_PR_MAX_ROUNDS}
    ) x
)
SELECT v AS node,
       CAST(r AS BIGINT) AS pagerank_scaled,
       ROUND(r / {_PR_SCALE}.0, 9) AS pagerank,
       CAST(iter AS BIGINT) AS n_rounds
FROM it
WHERE iter = (SELECT MAX(iter) FROM it)
ORDER BY node
"""


query(
    "pagerank_converged",
    oracle=_pr_converged_oracle(),
    tags=("graph", "pagerank", "iterative", "convergence-gated"),
    # ~6 data-dependent rounds (~18 s at sf0.1): correctness-gated but
    # kept out of the bench suite — pagerank_iterated is the benched
    # fixed-depth representative of the same per-round plan.
    bench=False,
)(_pagerank_converged)


# --- bipartite projection: co-purchase recommendations ----------------------
# The item-item collaborative-filtering shape: project the
# customer-supplier bipartite graph onto suppliers, weight each
# supplier pair by shared customers, emit top-5 co-suppliers per
# supplier. THE scale hazard of any bipartite projection is the hot
# hub: one customer linked to S suppliers emits S^2/2 pairs, so a 1%
# mega-customer dominates the whole job. The guard is the standard
# candidate cap — each customer contributes at most its 20
# lowest-keyed suppliers (deterministic, documented truncation; real
# deployments cap by recency or weight with the identical plan). With
# the cap, pair fan-out is <= 190 per customer — linear in customers.
# The per-customer ROW_NUMBER window is itself bounded by that
# customer's distinct-supplier count (the quadratic blowup is what
# the cap removes, not the linear pass). Everything below is
# engine-portable ANSI SQL: the same string runs on Spark and DuckDB.

_COPURCHASE_BASE = """
links AS (
    SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
capped AS (
    SELECT c, s FROM (
        SELECT c, s, ROW_NUMBER() OVER (PARTITION BY c ORDER BY s) AS rn
        FROM links
    ) t WHERE rn <= 20
),
pairs AS (
    SELECT a.s AS supp_a, b.s AS supp_b, COUNT(*) AS shared_customers
    FROM capped a JOIN capped b ON a.c = b.c AND a.s < b.s
    GROUP BY a.s, b.s
)"""

_COPURCHASE_SQL = (
    "WITH "
    + _COPURCHASE_BASE
    + """,
sym AS (
    SELECT supp_a AS supp, supp_b AS rec, shared_customers FROM pairs
    UNION ALL
    SELECT supp_b AS supp, supp_a AS rec, shared_customers FROM pairs
)
SELECT supp AS l_suppkey,
       CAST(rn AS INT) AS rank,
       rec AS co_suppkey,
       shared_customers
FROM (
    SELECT supp, rec, shared_customers,
           ROW_NUMBER() OVER (PARTITION BY supp
                              ORDER BY shared_customers DESC, rec) AS rn
    FROM sym
) r WHERE rn <= 5
ORDER BY l_suppkey, rank
"""
)

# Spark inlines WITH-CTEs (no materialization), so every reference to
# `pairs` re-expands the full projection subtree — harmless for the
# two-reference top-k query, catastrophic for the triangle census
# below (the oe relation is referenced 3x and the naive inlined plan
# exploded to 94 nested joins). Both Spark paths therefore materialize
# the projection ONCE (lineage-truncated local checkpoint, the same
# device the PageRank loop uses) and run the downstream SQL over the
# materialized view; DuckDB materializes CTEs natively, so the oracles
# keep the single-statement form.
_PAIRS_VIEW = "copurchase_pairs_mat"
_OE_VIEW = "copurchase_oriented_edges_mat"

# Session fixtures (VERDICT r9 item 5): _materialize_pairs originally
# re-checkpointed the full lineitem-join + cap + self-join fixture on
# EVERY call (~2.2 s/call at sf0.1) — the whole triangle_census
# "slowdown" the round-9 bench recorded was this recompute drifting
# with unrelated IO load, not a plan change.
@fixture("copurchase_pairs", view=_PAIRS_VIEW)
def _materialize_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ["lineitem", "orders"])
    return truncate_lineage(
        spark.sql(
            "WITH "
            + _COPURCHASE_BASE
            + "\nSELECT supp_a, supp_b, shared_customers FROM pairs"
        ),
        spark,
    )


def _copurchase_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 co-suppliers per supplier from the capped bipartite
    projection (block comment above)."""
    _materialize_pairs(spark, sf_dir)
    return spark.sql(f"""
WITH sym AS (
    SELECT supp_a AS supp, supp_b AS rec, shared_customers
    FROM {_PAIRS_VIEW}
    UNION ALL
    SELECT supp_b AS supp, supp_a AS rec, shared_customers
    FROM {_PAIRS_VIEW}
)
SELECT supp AS l_suppkey,
       CAST(rn AS INT) AS rank,
       rec AS co_suppkey,
       shared_customers
FROM (
    SELECT supp, rec, shared_customers,
           ROW_NUMBER() OVER (PARTITION BY supp
                              ORDER BY shared_customers DESC, rec) AS rn
    FROM sym
) r WHERE rn <= 5
ORDER BY l_suppkey, rank
""")


query(
    "copurchase_supplier_topk",
    oracle=_COPURCHASE_SQL,
    tags=("graph", "recommendation", "projection", "topk"),
)(_copurchase_fn)


# --- triangle census (degree-ordered) on the co-purchase graph --------------
# Triangle counting on the thresholded projection (edges = supplier
# pairs with shared customers >= 2x the mean support — a data-derived
# "significant co-occurrence" gate that ports across scale factors).
# The algorithm is the degree-ordered orientation (Chiba-Nishizeki /
# the standard MapReduce formulation): rank nodes by (degree, id),
# direct every edge low -> high, enumerate wedges only from each
# node's OUT-edges, close with one equi-join. Why this is the 100 TB
# shape: out-degree under this orientation is O(sqrt(m)) even on
# power-law graphs, so wedge fan-out is sum(outdeg^2) = O(m^1.5)
# instead of the O(sum deg^2) a naive wedge enumeration pays on hubs;
# every join below is an equi-join (rank comparisons ride along as
# filters). Each triangle is counted exactly once, at its
# minimum-rank vertex. Output: per-node degree, triangle count, and
# local clustering coefficient 2T/(d(d-1)) — integer counts
# throughout, one fixed double expression at the end.

_TRIANGLE_SQL = (
    "WITH "
    + _COPURCHASE_BASE
    + """,
stats AS (
    SELECT CAST(SUM(shared_customers) AS DOUBLE) / COUNT(*) AS mean_shared
    FROM pairs
),
edges AS (
    SELECT supp_a AS ea, supp_b AS eb
    FROM pairs CROSS JOIN stats
    WHERE shared_customers >= 2 * mean_shared
),
und AS (SELECT ea AS u FROM edges UNION ALL SELECT eb AS u FROM edges),
deg AS (SELECT u, COUNT(*) AS d FROM und GROUP BY u),
oe AS (
    SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND e.ea < e.eb)
                THEN e.ea ELSE e.eb END AS s,
           CASE WHEN da.d < db.d OR (da.d = db.d AND e.ea < e.eb)
                THEN e.eb ELSE e.ea END AS t,
           CASE WHEN da.d < db.d OR (da.d = db.d AND e.ea < e.eb)
                THEN db.d ELSE da.d END AS dt
    FROM edges e
    JOIN deg da ON da.u = e.ea
    JOIN deg db ON db.u = e.eb
),
wedge AS (
    SELECT o1.s AS a, o1.t AS b, o2.t AS c
    FROM oe o1
    JOIN oe o2 ON o2.s = o1.s
              AND (o1.dt < o2.dt OR (o1.dt = o2.dt AND o1.t < o2.t))
),
tri AS (
    SELECT w.a, w.b, w.c
    FROM wedge w JOIN oe o3 ON o3.s = w.b AND o3.t = w.c
),
parts AS (
    SELECT a AS v FROM tri
    UNION ALL SELECT b AS v FROM tri
    UNION ALL SELECT c AS v FROM tri
),
tcnt AS (SELECT v, COUNT(*) AS n_tri FROM parts GROUP BY v)
SELECT d.u AS l_suppkey,
       CAST(d.d AS BIGINT) AS degree,
       CAST(COALESCE(t.n_tri, 0) AS BIGINT) AS n_triangles,
       ROUND(CAST(2 * COALESCE(t.n_tri, 0) AS DOUBLE)
             / NULLIF(d.d * (d.d - 1), 0), 9) AS clustering_coeff
FROM deg d LEFT JOIN tcnt t ON t.v = d.u
ORDER BY l_suppkey
"""
)

@fixture("oriented_edges", view=_OE_VIEW)
def _oriented_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The degree-oriented edges of the thresholded co-purchase
    graph, materialized before the triangle census's wedge/close
    joins — see the CTE-inlining note at _PAIRS_VIEW."""
    _materialize_pairs(spark, sf_dir)
    return truncate_lineage(
        spark.sql(f"""
WITH stats AS (
    SELECT CAST(SUM(shared_customers) AS DOUBLE) / COUNT(*) AS mean_shared
    FROM {_PAIRS_VIEW}
),
edges AS (
    SELECT supp_a AS ea, supp_b AS eb
    FROM {_PAIRS_VIEW} CROSS JOIN stats
    WHERE shared_customers >= 2 * mean_shared
),
und AS (SELECT ea AS u FROM edges UNION ALL SELECT eb AS u FROM edges),
deg AS (SELECT u, COUNT(*) AS d FROM und GROUP BY u)
SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND e.ea < e.eb)
            THEN e.ea ELSE e.eb END AS s,
       CASE WHEN da.d < db.d OR (da.d = db.d AND e.ea < e.eb)
            THEN e.eb ELSE e.ea END AS t,
       CASE WHEN da.d < db.d OR (da.d = db.d AND e.ea < e.eb)
            THEN db.d ELSE da.d END AS dt
FROM edges e
JOIN deg da ON da.u = e.ea
JOIN deg db ON db.u = e.eb
"""),
        spark,
    )


def _triangle_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-ordered triangle census over the thresholded co-purchase
    graph (block comment above): wedge + close joins over the
    oriented-edge fixture."""
    _oriented_edges(spark, sf_dir)
    return spark.sql(f"""
WITH und AS (
    SELECT s AS u FROM {_OE_VIEW} UNION ALL SELECT t AS u FROM {_OE_VIEW}
),
deg AS (SELECT u, COUNT(*) AS d FROM und GROUP BY u),
wedge AS (
    SELECT o1.s AS a, o1.t AS b, o2.t AS c
    FROM {_OE_VIEW} o1
    JOIN {_OE_VIEW} o2 ON o2.s = o1.s
              AND (o1.dt < o2.dt OR (o1.dt = o2.dt AND o1.t < o2.t))
),
tri AS (
    SELECT w.a, w.b, w.c
    FROM wedge w JOIN {_OE_VIEW} o3 ON o3.s = w.b AND o3.t = w.c
),
-- explode, NOT a 3-way UNION ALL over tri: Spark INLINES CTEs, so
-- three union branches re-run the wedge+close join three times
-- (measured 3x the census cost on this dense graph — 6.2M triangles
-- from 6.5M wedges). One explode evaluates tri once and the
-- map-side partial count collapses the 3x rows to |V| per task.
parts AS (SELECT explode(array(a, b, c)) AS v FROM tri),
tcnt AS (SELECT v, COUNT(*) AS n_tri FROM parts GROUP BY v)
SELECT d.u AS l_suppkey,
       CAST(d.d AS BIGINT) AS degree,
       CAST(COALESCE(t.n_tri, 0) AS BIGINT) AS n_triangles,
       ROUND(CAST(2 * COALESCE(t.n_tri, 0) AS DOUBLE)
             / NULLIF(d.d * (d.d - 1), 0), 9) AS clustering_coeff
FROM deg d LEFT JOIN tcnt t ON t.v = d.u
ORDER BY l_suppkey
""")


query(
    "triangle_census_copurchase",
    oracle=_TRIANGLE_SQL,
    tags=("graph", "triangles", "clustering"),
)(_triangle_fn)


# --- degree assortativity (out->in, over directed edges) --------------------
# Pearson correlation of (outdeg(src), indeg(dst)) across the directed
# supplier->customer edges — Newman's assortativity specialized to the
# out-in form: positive r means prolific suppliers ship to popular
# customers (hub-hub coupling, the skew-join danger signature);
# negative r means hubs fan out to the periphery. Every sufficient
# statistic (n, sx, sy, sxy, sxx, syy) is an INTEGER summed as
# DECIMAL(38,0) (degree^2 x |E| would brush int64 at petabyte edge
# counts); r is one fixed double expression at emission. Scale shape:
# the two degree relations are groupBys with map-side combine, joined
# back onto edges by their own keys — two equi-joins, no fan-out.


def _assort_sql(edges_body: str) -> str:
    return f"""
WITH edges AS (
    {edges_body}
),
outd AS (SELECT src, COUNT(*) AS dx FROM edges GROUP BY src),
ind AS (SELECT dst, COUNT(*) AS dy FROM edges GROUP BY dst),
-- Edge-sum decomposition: each src appears in dx edges, so
-- sum_edges(dx^p) = sum_src(dx^(p+1)) — four of the six sufficient
-- statistics need NO join back onto the edge list. Only the cross
-- moment pairs endpoints, and it needs ONE join: fold sum(dx) into
-- each dst (the per-dst edge count IS dy), then one vocabulary-sized
-- reduce. The first cut joined the full edge list twice.
xm AS (
    SELECT SUM(CAST(dx AS DECIMAL(38, 0))) AS n,
           SUM(CAST(dx AS DECIMAL(38, 0)) * dx) AS sx,
           SUM(CAST(dx AS DECIMAL(38, 0)) * dx * dx) AS sxx
    FROM outd
),
ym AS (
    SELECT SUM(CAST(dy AS DECIMAL(38, 0)) * dy) AS sy,
           SUM(CAST(dy AS DECIMAL(38, 0)) * dy * dy) AS syy
    FROM ind
),
perdst AS (
    SELECT e.dst, COUNT(*) AS dy, SUM(CAST(d.dx AS DECIMAL(38, 0))) AS sdx
    FROM edges e JOIN outd d ON d.src = e.src
    GROUP BY e.dst
),
xym AS (SELECT SUM(sdx * dy) AS sxy FROM perdst)
SELECT CAST(x.n AS BIGINT) AS n_edges,
       ROUND((CAST(x.n AS DOUBLE) * CAST(c.sxy AS DOUBLE)
              - CAST(x.sx AS DOUBLE) * CAST(y.sy AS DOUBLE))
             / NULLIF(SQRT((CAST(x.n AS DOUBLE) * CAST(x.sxx AS DOUBLE)
                            - CAST(x.sx AS DOUBLE) * CAST(x.sx AS DOUBLE))
                           * (CAST(x.n AS DOUBLE) * CAST(y.syy AS DOUBLE)
                              - CAST(y.sy AS DOUBLE) * CAST(y.sy AS DOUBLE))),
                      0),
             9) AS assortativity
FROM xm x CROSS JOIN ym y CROSS JOIN xym c
"""


_pair_edges(
    "degree_assortativity",
    _assort_sql("SELECT src, dst FROM graph_edges_mat"),
    _assort_sql("""SELECT DISTINCT 'S' || CAST(l.l_suppkey AS VARCHAR) AS src,
                    'C' || CAST(o.o_custkey AS VARCHAR) AS dst
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey"""),
    tags=("graph", "assortativity", "degree", "statistics"),
)


# --- bounded k-core peeling (data-derived k, 6 rounds) ------------------------
# Iterative k-core peeling over the undirected supplier-customer
# graph: each round drops every node with degree < k and all incident
# edges; emitted is the (round, n_nodes, n_edges) shrink curve — the
# density diagnostic run before committing to an expensive community/
# motif pass. k is DATA-DERIVED: ceil(0.8 * mean degree) from the
# round-0 degree relation — a fixed constant cannot port across scale
# factors (mean degree grows with corpus), and on this bipartite
# graph any k below the dense side's degrees fixpoints in one round;
# 0.8x the mean sits in the cascade regime where removing weak
# customers starves suppliers and vice versa (verified: a 6-round
# live cascade at sf0.1). Rounds are BOUNDED at 6 as part of the
# operator contract: the Spark side runs the real checkpointed driver
# loop (the production fixpoint form, cf. pagerank_converged) with a
# fixpoint early-exit (an unchanged round makes all later rounds
# bit-identical, so their stats rows are emitted as literals), and
# the DuckDB oracle unrolls the same 6 rounds as MATERIALIZED chained
# CTEs, so the driver value-hashes every round of the loop. k itself
# is one double expression over two integers (identical in both
# engines, one ceil). Scale shape per round: one symmetrized groupBy
# (degree, materialized once and reused by stats + peel), one
# semi-join of edges against the survivors on each endpoint — the
# standard distributed peeling round; lineage is cut per round
# exactly like the CC loop.

_KCORE_ROUNDS = 6


def _kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded 3-core peeling shrink curve (block comment above).

    Per round the degree relation is materialized ONCE and feeds both
    the round's stats row and the peel decision (the first cut
    recomputed it per consumer — measured 6.7 s at sf0.1, halved by
    the reuse). The loop also early-exits at the FIXPOINT: when a
    round removes nothing, every later round is bit-identical, so the
    remaining stats rows are emitted as literals — same values the
    loop would compute, without recomputing unchanged frames (the
    per-round stats row is a single-row driver read, the one collect
    shape the house allows)."""
    from pyspark.sql import functions as F

    edges = spark.table(_cached_edges(spark, sf_dir)).select(
        F.col("src").alias("a"), F.col("dst").alias("b")
    )

    def _deg(e: DataFrame) -> DataFrame:
        return (
            e.select(F.col("a").alias("v"))
            .unionAll(e.select(F.col("b").alias("v")))
            .groupBy("v")
            .agg(F.count(F.lit(1)).alias("d"))
        )

    def _stats_vals(deg: DataFrame) -> tuple[int, int]:
        # Same expressions as the previous DataFrame-building form
        # ((sum/2) cast bigint), collected directly: the per-round
        # stats are two scalars the loop must read for the fixpoint
        # check ANYWAY, so materializing each row as a checkpointed
        # 1-row frame and unioning them at the end only added one
        # lineage-truncation job per round plus a 7-way union plan
        # (r13 optimization round). The <= 7-row literal result frame
        # below is the bounded-summary shape the house allows.
        row = deg.agg(
            F.count(F.lit(1)).alias("n_nodes"),
            (F.coalesce(F.sum("d"), F.lit(0)) / 2).cast("bigint").alias(
                "n_edges"
            ),
        ).first()
        return (int(row["n_nodes"]), int(row["n_edges"]))

    rows: list[tuple[int, int, int]] = []
    prev, prev_deg = edges, truncate_lineage(_deg(edges), spark)
    last = _stats_vals(prev_deg)
    rows.append((0, *last))
    # Data-derived threshold (block comment above): one single-row
    # driver read of two integer aggregates.
    krow = prev_deg.agg(
        F.ceil(
            0.8 * (F.sum("d").cast("double") / F.count(F.lit(1)))
        ).alias("k")
    ).first()
    k_val = int(krow["k"]) if krow["k"] is not None else 0
    for rnd in range(1, _KCORE_ROUNDS + 1):
        keep = prev_deg.where(F.col("d") >= k_val).select("v")
        nxt = truncate_lineage(
            prev.join(keep.withColumnRenamed("v", "a"), "a", "leftsemi")
            .join(keep.withColumnRenamed("v", "b"), "b", "leftsemi")
            .select("a", "b"),
            spark,
        )
        nxt_deg = truncate_lineage(_deg(nxt), spark)
        cur = _stats_vals(nxt_deg)
        rows.append((rnd, *cur))
        if prev is not edges:  # never free the shared fixture
            release_lineage(prev)
        release_lineage(prev_deg)
        prev, prev_deg = nxt, nxt_deg
        if cur == last:
            # Fixpoint: rounds rnd+1..R are identical — emit literals.
            for r2 in range(rnd + 1, _KCORE_ROUNDS + 1):
                rows.append((r2, *cur))
            break
        last = cur
    if prev is not edges:
        release_lineage(prev)
    release_lineage(prev_deg)
    return spark.createDataFrame(
        rows, "peel_round int, n_nodes bigint, n_edges bigint"
    ).orderBy("peel_round")


def _kcore_oracle() -> str:
    head = """
WITH e0 AS MATERIALIZED (
    SELECT DISTINCT 'S' || CAST(l.l_suppkey AS VARCHAR) AS a,
                    'C' || CAST(o.o_custkey AS VARCHAR) AS b
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
)"""
    parts = []
    # d_i exists for every round 0..R; k_i / e_{i+1} only below R.
    # Per-round stats come from the degree relation (each CTE is
    # referenced a bounded number of times — a scalar-subquery form
    # re-expanded the whole chain per output row and exhausted file
    # handles in DuckDB).
    for i in range(_KCORE_ROUNDS + 1):
        parts.append(f"""
d{i} AS MATERIALIZED (
    SELECT v, COUNT(*) AS d FROM (
        SELECT a AS v FROM e{i} UNION ALL SELECT b AS v FROM e{i}
    ) u GROUP BY v
),
stats{i} AS (
    SELECT {i} AS peel_round,
           COUNT(*) AS n_nodes,
           COALESCE(SUM(d), 0) // 2 AS n_edges
    FROM d{i}
)""")
        if i == 0:
            parts.append("""
kd AS MATERIALIZED (
    SELECT CAST(CEIL(0.8 * (SUM(d) * 1.0 / COUNT(*))) AS BIGINT) AS k
    FROM d0
)""")
        if i < _KCORE_ROUNDS:
            parts.append(f"""
k{i} AS (SELECT v FROM d{i} CROSS JOIN kd WHERE d >= kd.k),
e{i + 1} AS MATERIALIZED (
    SELECT e.a, e.b FROM e{i} e
    JOIN k{i} ka ON ka.v = e.a
    JOIN k{i} kb ON kb.v = e.b
)""")
    rows = "\nUNION ALL ".join(
        f"SELECT peel_round, CAST(n_nodes AS BIGINT) AS n_nodes, "
        f"CAST(n_edges AS BIGINT) AS n_edges FROM stats{i}"
        for i in range(_KCORE_ROUNDS + 1)
    )
    return head + "," + ",".join(parts) + "\n" + rows + "\nORDER BY peel_round"


query(
    "kcore_peel_bounded",
    oracle=_kcore_oracle(),
    tags=("graph", "k-core", "iterative", "checkpointed"),
)(_kcore_peel)
