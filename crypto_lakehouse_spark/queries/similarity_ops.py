"""Similarity search over the `embeddings` table (array<float>, 64-d).

Two paths, per the scale contract:
- brute-force cosine top-k: the exact baseline. Cross join queries x
  corpus; at scale the query side is broadcast and the corpus scan is
  embarrassingly parallel (no shuffle until the per-query top-k, which
  is a windowed rank over |Q| x k rows).
- LSH-bucketed ANN (random hyperplanes): the scale path. Each vector
  maps to a signature of sign-bits of md5-derived +/-1 hyperplane
  projections; near neighbors collide in buckets, so candidate
  generation is a bucket equi-join instead of a cross join.

Determinism: dot products are computed as *sequential left folds*
over the array in both engines (Spark `aggregate`, DuckDB
`list_reduce` over the element-product list), on float32 values cast
to double — bit-identical results, no rounding needed. Cosines are
additionally rounded to 9 decimals as belt-and-braces for the final
rank comparison.
"""

from __future__ import annotations

import math
from functools import partial

from pyspark.sql import DataFrame, SparkSession

from crypto_lakehouse_spark.io import register_views
from crypto_lakehouse_spark.queries.fixture_meter import fixture, hold_view
from crypto_lakehouse_spark.queries.registry import query, sql_query

# Driver-memory contract for centroid/seed collect() sites. Every
# collect in this module is bounded — k = ceil(sqrt(N)) seeds for the
# flat SemDeDup, N^(1/4) coarse + sqrt(N) fine seeds for the
# hierarchical one, a fixed 64-row panel for the contamination probe —
# but "bounded" deserves a number: at d = 64 doubles a seed row is
# ~0.5 KB, so sqrt(N) rows cross this 256 MB budget only past
# N ~ 2.5e11 vectors. The assert turns that regime into a loud error
# instead of a silent driver OOM. The 10^9+-doc alternative, sketched
# for when a deployment hits this: keep seeds IN a DataFrame, assign
# via a broadcast JOIN of the seed relation against the corpus
# (seed side ~sqrt(N) rows still broadcasts at 1e9 docs: ~16 MB), and
# replace the numpy argmax with a groupBy(vec_id) max_by over the
# seed-cross products — same semantics, zero driver-side rows.
_CENTROID_DRIVER_BUDGET_BYTES = 256 * 1024 * 1024


def _assert_centroid_budget(n_rows: int, dim: int) -> None:
    """Loud guard on driver-side seed materialization (module comment
    above): n_rows seed vectors of `dim` doubles must fit the fixed
    driver budget."""
    need = n_rows * (dim + 1) * 8
    if need > _CENTROID_DRIVER_BUDGET_BYTES:
        raise MemoryError(
            f"centroid collect would materialize ~{need >> 20} MiB on "
            f"the driver (> {_CENTROID_DRIVER_BUDGET_BYTES >> 20} MiB "
            "budget); switch the assignment to the broadcast-join "
            "form documented in similarity_ops.py"
        )


_pair = partial(sql_query, tables=["embeddings"])


# Sequential-fold dot product of two double arrays.
_DOT_SPARK = "aggregate(zip_with({a}, {b}, (x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
_DOT_DUCK = "list_reduce(list_transform(range(1, 65), i -> {a}[i] * {b}[i]), (acc, v) -> acc + v)"

_D_SPARK = "transform({e}, x -> CAST(x AS DOUBLE))"
_D_DUCK = "list_transform({e}, x -> CAST(x AS DOUBLE))"


def _topk_sql(dot: str, dbl: str) -> str:
    qa = dbl.format(e="q.embedding")
    ca = dbl.format(e="c.embedding")
    dot_qc = dot.format(a="q.vec", b="c.vec")
    dot_qq = dot.format(a="q.vec", b="q.vec")
    dot_cc = dot.format(a="c.vec", b="c.vec")
    return f"""
WITH qs AS (
    SELECT vec_id, {dbl.format(e='embedding')} AS vec
    FROM embeddings q WHERE vec_id < 5
),
corpus AS (
    SELECT vec_id, label, {dbl.format(e='embedding')} AS vec
    FROM embeddings c
),
scored AS (
    SELECT q.vec_id AS query_id,
           c.vec_id AS neighbor_id,
           c.label AS neighbor_label,
           ROUND({dot.format(a='q.vec', b='c.vec')}
                 / (SQRT({dot.format(a='q.vec', b='q.vec')})
                    * SQRT({dot.format(a='c.vec', b='c.vec')})), 9)
               AS cosine
    FROM qs q
    CROSS JOIN corpus c
    WHERE q.vec_id <> c.vec_id
)
SELECT query_id, neighbor_id, neighbor_label, cosine,
       CAST(rn AS BIGINT) AS rank
FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, neighbor_id) AS rn
    FROM scored
)
WHERE rn <= 5
ORDER BY query_id, rank
"""


_pair(
    "embedding_cosine_topk",
    _topk_sql(_DOT_SPARK, _D_SPARK),
    _topk_sql(_DOT_DUCK, _D_DUCK),
    tags=("similarity", "ann"),
)

# --- label centroids (element-wise mean per label) -------------------------
_pair(
    "embedding_label_centroids",
    """
SELECT label,
       CAST(pos AS BIGINT) AS dim,
       ROUND(SUM(v) / COUNT(*), 6) AS centroid
FROM (
    SELECT label, pos, CAST(v AS DOUBLE) AS v
    FROM embeddings
    LATERAL VIEW posexplode(embedding) t AS pos, v
)
GROUP BY label, pos
ORDER BY label, dim
""",
    """
SELECT label,
       CAST(i - 1 AS BIGINT) AS dim,
       ROUND(SUM(CAST(embedding[i] AS DOUBLE)) / COUNT(*), 6) AS centroid
FROM embeddings, range(1, 65) t(i)
GROUP BY label, i
ORDER BY label, dim
""",
    tags=("similarity", "aggregation"),
)

# --- random-hyperplane LSH buckets -----------------------------------------
# Plane p (0..7), dim d (0..63): weight +1 iff the first hex digit of
# md5(p:d) has its high bit set; signature bit = sign of the projection.
_PLANES = 8


def _lsh_sql(dot_like: str, dbl: str, mkarr: str, agg: str) -> str:
    return f"""
WITH planes AS ({mkarr}),
sigs AS (
    SELECT e.vec_id, p.p,
           CASE WHEN {dot_like} >= 0 THEN '1' ELSE '0' END AS bit
    FROM embeddings e CROSS JOIN planes p
),
buckets AS (
    SELECT vec_id, {agg} AS bucket
    FROM sigs
    GROUP BY vec_id
)
SELECT bucket,
       COUNT(*) AS n_vectors,
       MIN(vec_id) AS min_vec_id,
       MAX(vec_id) AS max_vec_id
FROM buckets
GROUP BY bucket
ORDER BY bucket
"""


_LSH_DOT_SPARK = (
    "aggregate(zip_with(transform(e.embedding, x -> CAST(x AS DOUBLE)), "
    "transform(sequence(0, 63), d -> CASE WHEN substr(md5(CAST(p.p AS STRING) || ':' || CAST(d AS STRING)), 1, 1) "
    "IN ('8','9','a','b','c','d','e','f') THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END), "
    "(x, w) -> x * w), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
)
_LSH_DOT_DUCK = (
    "list_reduce(list_transform(range(1, 65), i -> CAST(e.embedding[i] AS DOUBLE) * "
    "(CASE WHEN substr(md5(CAST(p.p AS STRING) || ':' || CAST(i - 1 AS STRING)), 1, 1) "
    "IN ('8','9','a','b','c','d','e','f') THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END)), "
    "(acc, v) -> acc + v)"
)

_pair(
    "embedding_lsh_buckets",
    _lsh_sql(
        _LSH_DOT_SPARK,
        _D_SPARK,
        "SELECT explode(sequence(0, 7)) AS p",
        "array_join(array_sort(collect_list(lpad(CAST(p AS STRING), 2, '0') || ':' || bit)), '')",
    ),
    _lsh_sql(
        _LSH_DOT_DUCK,
        _D_DUCK,
        "SELECT unnest(range(0, 8)) AS p",
        "string_agg(lpad(CAST(p AS STRING), 2, '0') || ':' || bit, '' "
        "ORDER BY lpad(CAST(p AS STRING), 2, '0') || ':' || bit)",
    ),
    tags=("similarity", "lsh"),
)


# --- one k-means step (Lloyd iteration), differentially checked -------------
# Embedding-clustering building block: centroids = vec_id 0..3,
# assign every vector to its nearest centroid (squared-L2 via the
# same sequential fold as the cosines), then recompute centroids and
# report per-cluster size + centroid L2 norm. The full algorithm is
# this step iterated (driver loop like dup_clusters_cc); one step is
# the differentially-checkable unit, and the expensive parts — the
# |corpus| x k assignment (broadcast the k centroids, no shuffle) and
# the per-(cluster, dim) mean (one shuffle) — are exactly what scale.
# Determinism: every double summation is a sequential fold in a
# DEFINED order (members by vec_id, dims by dim index) — Spark
# `aggregate(transform(array_sort(collect_list(struct(k, v))), ...))`
# = DuckDB `list_reduce(list(v ORDER BY k), ...)`; means divide
# identical doubles by identical ints. MIN/MAX need no ordering.
_KM_SPARK = """
WITH vecs AS (
    SELECT vec_id, transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings
),
cents AS (SELECT vec_id AS cid, v AS c FROM vecs WHERE vec_id < 4),
assigned AS (
    SELECT vec_id, cid, v FROM (
        SELECT vecs.vec_id, cents.cid, vecs.v,
               ROW_NUMBER() OVER (
                   PARTITION BY vecs.vec_id
                   ORDER BY aggregate(zip_with(vecs.v, cents.c,
                                (x, y) -> (x - y) * (x - y)),
                            CAST(0 AS DOUBLE), (a, b) -> a + b),
                            cents.cid) AS rn
        FROM vecs CROSS JOIN cents
    ) WHERE rn = 1
),
dimvals AS (
    SELECT cid, dim, vec_id, element_at(v, dim) AS val
    FROM assigned
    CROSS JOIN (SELECT explode(sequence(1, 64)) AS dim)
),
dimmeans AS (
    SELECT cid, dim,
           aggregate(transform(array_sort(collect_list(struct(vec_id, val))),
                     s -> s.val), CAST(0 AS DOUBLE), (a, b) -> a + b)
               / COUNT(*) AS mean_d
    FROM dimvals GROUP BY cid, dim
)
SELECT d.cid AS cluster_id,
       m.n_members, m.min_vec_id, m.max_vec_id,
       ROUND(SQRT(aggregate(
           transform(array_sort(collect_list(struct(d.dim, d.mean_d))),
                     s -> s.mean_d * s.mean_d),
           CAST(0 AS DOUBLE), (a, b) -> a + b)), 9) AS centroid_l2
FROM dimmeans d
JOIN (SELECT cid, COUNT(*) AS n_members, MIN(vec_id) AS min_vec_id,
             MAX(vec_id) AS max_vec_id
      FROM assigned GROUP BY cid) m ON d.cid = m.cid
GROUP BY d.cid, m.n_members, m.min_vec_id, m.max_vec_id
ORDER BY cluster_id
"""

_KM_DUCK = """
WITH vecs AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings WHERE embedding IS NOT NULL
),
cents AS (SELECT vec_id AS cid, v AS c FROM vecs WHERE vec_id < 4),
assigned AS (
    SELECT vec_id, cid, v FROM (
        SELECT vecs.vec_id, cents.cid, vecs.v,
               ROW_NUMBER() OVER (
                   PARTITION BY vecs.vec_id
                   ORDER BY list_reduce(list_transform(range(1, 65),
                                i -> (vecs.v[i] - cents.c[i])
                                     * (vecs.v[i] - cents.c[i])),
                            (a, b) -> a + b),
                            cents.cid) AS rn
        FROM vecs CROSS JOIN cents
    ) WHERE rn = 1
),
dimvals AS (
    SELECT cid, dim, vec_id, v[dim] AS val
    FROM assigned
    CROSS JOIN (SELECT unnest(range(1, 65)) AS dim)
),
dimmeans AS (
    SELECT cid, dim,
           list_reduce(list(val ORDER BY vec_id), (a, b) -> a + b)
               / COUNT(*) AS mean_d
    FROM dimvals GROUP BY cid, dim
)
SELECT d.cid AS cluster_id,
       m.n_members, m.min_vec_id, m.max_vec_id,
       ROUND(SQRT(list_reduce(
           list(d.mean_d * d.mean_d ORDER BY d.dim),
           (a, b) -> a + b)), 9) AS centroid_l2
FROM dimmeans d
JOIN (SELECT cid, COUNT(*) AS n_members, MIN(vec_id) AS min_vec_id,
             MAX(vec_id) AS max_vec_id
      FROM assigned GROUP BY cid) m ON d.cid = m.cid
GROUP BY d.cid, m.n_members, m.min_vec_id, m.max_vec_id
ORDER BY cluster_id
"""

_pair(
    "kmeans_one_step",
    _KM_SPARK,
    _KM_DUCK,
    tags=("similarity", "clustering", "embedding"),
)


# --- k-means iterated to convergence (Lloyd fixpoint) ------------------------
# The production shape of `kmeans_one_step` (VERDICT r10 item 2): the
# same Lloyd step in a convergence-gated driver loop, the pattern
# `pagerank_converged` established — per-round lineage truncation, one
# bounded integer scalar per round as the gate. The gate is the
# ASSIGNMENT fixpoint (count of vectors that changed cluster), an
# integer compare, not an epsilon on doubles: assignments are
# bit-reproducible across engines because every double on the path is
# — seeds are raw casts, per-(cluster, dim) means are sequential folds
# over members ordered by vec_id divided by exact counts, distances
# are sequential folds over dims in index order, and ties break on
# cid. The DuckDB oracle unrolls the identical recurrence as a
# recursive CTE with data-dependent depth (17 rounds at sf0.01),
# emitting a new iteration only while >=1 assignment changed, capped
# at the same _KM_MAX_ROUNDS on both sides; n_rounds is value-pinned
# in the output. Scale shape per round: the |corpus| x k assignment
# broadcast-joins k centroid rows onto an embarrassingly-parallel
# corpus scan (no shuffle), the centroid recompute is ONE shuffle of
# 64 x |corpus| exploded dims into k x 64 groups, and the change gate
# is a co-partitioned count — the same per-round cost Lloyd has on any
# engine, times a data-dependent round count.
_KM_MAX_ROUNDS = 25

_KM_ASSIGN_SQL = """
SELECT vec_id, cid FROM (
    SELECT v.vec_id, c.cid,
           ROW_NUMBER() OVER (
               PARTITION BY v.vec_id
               ORDER BY aggregate(zip_with(v.v, c.c,
                            (x, y) -> (x - y) * (x - y)),
                        CAST(0 AS DOUBLE), (a, b) -> a + b),
                        c.cid) AS rn
    FROM km_vecs v CROSS JOIN km_cents c
) r WHERE rn = 1
"""

_KM_CENTROIDS_SQL = """
SELECT cid,
       transform(array_sort(collect_list(struct(dim, mean_d))),
                 s -> s.mean_d) AS c
FROM (
    SELECT cid, dim,
           aggregate(transform(array_sort(collect_list(struct(vec_id, val))),
                     s -> s.val), CAST(0 AS DOUBLE), (a, b) -> a + b)
               / COUNT(*) AS mean_d
    FROM (
        SELECT a.cid, d.dim, a.vec_id, element_at(v.v, d.dim) AS val
        FROM km_assigned a
        JOIN km_vecs v ON v.vec_id = a.vec_id
        CROSS JOIN (SELECT explode(sequence(1, 64)) AS dim) d
    ) dv GROUP BY cid, dim
) m GROUP BY cid
"""


def _kmeans_converged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's algorithm to the assignment fixpoint (block comment)."""
    from pyspark.sql import functions as F

    from crypto_lakehouse_spark.operators.checkpointing import (
        release_lineage,
        truncate_lineage,
    )

    register_views(spark, sf_dir, ["embeddings"])
    vecs = spark.sql(
        "SELECT vec_id, transform(embedding, x -> CAST(x AS DOUBLE)) AS v "
        "FROM embeddings WHERE embedding IS NOT NULL"
    ).persist()
    vecs.createOrReplaceTempView("km_vecs")

    # Seed centroids = vec_id < 4, identically to kmeans_one_step.
    spark.sql(
        "SELECT vec_id AS cid, v AS c FROM km_vecs WHERE vec_id < 4"
    ).createOrReplaceTempView("km_cents")
    assigned = truncate_lineage(spark.sql(_KM_ASSIGN_SQL), spark)
    rounds = 0
    while rounds < _KM_MAX_ROUNDS:
        assigned.createOrReplaceTempView("km_assigned")
        spark.sql(_KM_CENTROIDS_SQL).createOrReplaceTempView("km_cents")
        new_assigned = truncate_lineage(spark.sql(_KM_ASSIGN_SQL), spark)
        changed = (
            new_assigned.withColumnRenamed("cid", "nc")
            .join(assigned, "vec_id")
            .filter(F.col("nc") != F.col("cid"))
            .count()
        )
        if changed == 0:
            release_lineage(new_assigned)
            break
        release_lineage(assigned)
        assigned = new_assigned
        rounds += 1
    assigned.createOrReplaceTempView("km_assigned")
    out = spark.sql(
        f"""
WITH dimmeans AS (
    SELECT cid, dim,
           aggregate(transform(array_sort(collect_list(struct(vec_id, val))),
                     s -> s.val), CAST(0 AS DOUBLE), (a, b) -> a + b)
               / COUNT(*) AS mean_d
    FROM (
        SELECT a.cid, d.dim, a.vec_id, element_at(v.v, d.dim) AS val
        FROM km_assigned a
        JOIN km_vecs v ON v.vec_id = a.vec_id
        CROSS JOIN (SELECT explode(sequence(1, 64)) AS dim) d
    ) dv GROUP BY cid, dim
)
SELECT d.cid AS cluster_id,
       m.n_members, m.min_vec_id, m.max_vec_id,
       ROUND(SQRT(aggregate(
           transform(array_sort(collect_list(struct(d.dim, d.mean_d))),
                     s -> s.mean_d * s.mean_d),
           CAST(0 AS DOUBLE), (a, b) -> a + b)), 9) AS centroid_l2,
       CAST({rounds} AS BIGINT) AS n_rounds
FROM dimmeans d
JOIN (SELECT cid, COUNT(*) AS n_members, MIN(vec_id) AS min_vec_id,
             MAX(vec_id) AS max_vec_id
      FROM km_assigned GROUP BY cid) m ON d.cid = m.cid
GROUP BY d.cid, m.n_members, m.min_vec_id, m.max_vec_id
ORDER BY cluster_id
"""
    )
    # The summary is <= k rows: materialize it eagerly so the final
    # checkpointed assignment frame can be released NOW — otherwise
    # repeated invocations in a long-lived session accumulate
    # localCheckpoint blocks (the returned plan would still reference
    # `assigned` through the km_assigned view).
    result = spark.createDataFrame(out.collect(), out.schema)
    release_lineage(assigned)
    vecs.unpersist()
    return result


_KM_CONV_DIST_DUCK = (
    "list_reduce(list_transform(range(1, 65), "
    "i -> (vecs.v[i] - cm.c[i]) * (vecs.v[i] - cm.c[i])), "
    "(a, b) -> a + b)"
)

_KM_CONV_DUCK = f"""
WITH RECURSIVE
vecs AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings WHERE embedding IS NOT NULL
),
it(iter, vec_id, cid) AS (
    SELECT 0, vec_id, cid FROM (
        SELECT vecs.vec_id, cm.cid,
               ROW_NUMBER() OVER (PARTITION BY vecs.vec_id
                                  ORDER BY {_KM_CONV_DIST_DUCK}, cm.cid) AS rn
        FROM vecs CROSS JOIN
             (SELECT vec_id AS cid, v AS c FROM vecs WHERE vec_id < 4) cm
    ) x WHERE rn = 1
    UNION ALL
    SELECT prev_iter + 1, vec_id, cid FROM (
        WITH cents AS (
            SELECT cid, list(mean_d ORDER BY dim) AS c FROM (
                SELECT t.cid, d.dim,
                       list_reduce(list(vecs.v[d.dim] ORDER BY t.vec_id),
                                   (a, b) -> a + b) / COUNT(*) AS mean_d
                FROM it t JOIN vecs ON vecs.vec_id = t.vec_id
                CROSS JOIN (SELECT unnest(range(1, 65)) AS dim) d
                GROUP BY t.cid, d.dim
            ) m GROUP BY cid
        ),
        reassigned AS (
            SELECT vec_id, cid FROM (
                SELECT vecs.vec_id, cm.cid,
                       ROW_NUMBER() OVER (PARTITION BY vecs.vec_id
                                          ORDER BY {_KM_CONV_DIST_DUCK},
                                                   cm.cid) AS rn
                FROM vecs CROSS JOIN cents cm
            ) r WHERE rn = 1
        )
        SELECT n.vec_id, n.cid,
               (SELECT MAX(iter) FROM it) AS prev_iter
        FROM reassigned n
        CROSS JOIN (SELECT COUNT(*) AS nch
                    FROM reassigned r JOIN it p ON p.vec_id = r.vec_id
                    WHERE r.cid <> p.cid) g
        WHERE g.nch > 0 AND (SELECT MAX(iter) FROM it) < {_KM_MAX_ROUNDS}
    ) z
),
final AS (
    SELECT vec_id, cid FROM it WHERE iter = (SELECT MAX(iter) FROM it)
),
nr AS (SELECT MAX(iter) AS n_rounds FROM it),
dimmeans AS (
    SELECT f.cid, d.dim,
           list_reduce(list(vecs.v[d.dim] ORDER BY f.vec_id),
                       (a, b) -> a + b) / COUNT(*) AS mean_d
    FROM final f JOIN vecs ON vecs.vec_id = f.vec_id
    CROSS JOIN (SELECT unnest(range(1, 65)) AS dim) d
    GROUP BY f.cid, d.dim
)
SELECT d.cid AS cluster_id, m.n_members, m.min_vec_id, m.max_vec_id,
       ROUND(SQRT(list_reduce(list(d.mean_d * d.mean_d ORDER BY d.dim),
                              (a, b) -> a + b)), 9) AS centroid_l2,
       CAST(nr.n_rounds AS BIGINT) AS n_rounds
FROM dimmeans d
JOIN (SELECT cid, COUNT(*) AS n_members, MIN(vec_id) AS min_vec_id,
             MAX(vec_id) AS max_vec_id
      FROM final GROUP BY cid) m ON d.cid = m.cid
CROSS JOIN nr
GROUP BY d.cid, m.n_members, m.min_vec_id, m.max_vec_id, nr.n_rounds
ORDER BY cluster_id
"""

query(
    "kmeans_converged",
    oracle=_KM_CONV_DUCK,
    tags=("similarity", "clustering", "embedding", "iterative",
          "convergence-gated"),
    # Data-dependent depth (~17 rounds at sf0.01): correctness-gated
    # but kept out of the bench suite — kmeans_one_step is the benched
    # fixed-depth representative of the identical per-round plan.
    bench=False,
)(_kmeans_converged)


# --- int8 scalar quantization + reconstruction error ------------------------
# The vector-compression pass an embedding store runs before ANN:
# per-dimension min/max over the corpus (order-free aggregates),
# affine quantize to [0, 255] (FLOOR(x + 0.5) — floor of identical
# doubles, no engine rounding-mode dependence), dequantize, and
# per-dimension RMSE from a vec_id-ordered sequential fold. Per-dim
# stats are one shuffle over 64 x |corpus| exploded rows; at scale
# the min/max pass and the error pass fuse into the same scan shape.
_QUANT_SPARK = """
WITH dimvals AS (
    SELECT vec_id, dim, CAST(element_at(embedding, dim) AS DOUBLE) AS val
    FROM embeddings
    CROSS JOIN (SELECT explode(sequence(1, 64)) AS dim)
),
stats AS (
    SELECT dim, MIN(val) AS lo, MAX(val) AS hi FROM dimvals GROUP BY dim
),
quant AS (
    SELECT d.vec_id, d.dim, d.val, s.lo, s.hi,
           LEAST(255, GREATEST(0,
               FLOOR((d.val - s.lo) * 255 / (s.hi - s.lo) + 0.5))) AS q
    FROM dimvals d JOIN stats s ON d.dim = s.dim
)
SELECT dim,
       CAST(MIN(q) AS BIGINT) AS q_min,
       CAST(MAX(q) AS BIGINT) AS q_max,
       ROUND(SQRT(aggregate(
           transform(array_sort(collect_list(struct(vec_id,
               (val - (lo + q * (hi - lo) / 255))
               * (val - (lo + q * (hi - lo) / 255)) AS err))),
           s -> s.err), CAST(0 AS DOUBLE), (a, b) -> a + b)
           / COUNT(*)), 9) AS rmse
FROM quant
GROUP BY dim
ORDER BY dim
"""

_QUANT_DUCK = """
WITH dimvals AS (
    SELECT vec_id, dim, CAST(embedding[dim] AS DOUBLE) AS val
    FROM embeddings
    CROSS JOIN (SELECT unnest(range(1, 65)) AS dim)
),
stats AS (
    SELECT dim, MIN(val) AS lo, MAX(val) AS hi FROM dimvals GROUP BY dim
),
quant AS (
    SELECT d.vec_id, d.dim, d.val, s.lo, s.hi,
           LEAST(255, GREATEST(0,
               FLOOR((d.val - s.lo) * 255 / (s.hi - s.lo) + 0.5))) AS q
    FROM dimvals d JOIN stats s ON d.dim = s.dim
)
SELECT dim,
       CAST(MIN(q) AS BIGINT) AS q_min,
       CAST(MAX(q) AS BIGINT) AS q_max,
       ROUND(SQRT(list_reduce(
           list((val - (lo + q * (hi - lo) / 255))
                * (val - (lo + q * (hi - lo) / 255)) ORDER BY vec_id),
           (a, b) -> a + b) / COUNT(*)), 9) AS rmse
FROM quant
GROUP BY dim
ORDER BY dim
"""

# The paired-SQL form of the Spark side (kept above for documentation)
# re-inlines the 64x explode CTE at every reference — the executed
# plan carried 8 scans and 6 nested-loop joins and benched ~2.4x the
# round-2 number. The registered implementation splits the two passes
# explicitly: per-dim min/max is a 64-row aggregate COLLECTED to the
# driver (the A6 watermark-scalar pattern — 64 rows at any corpus
# scale) and embedded as literal arrays, so the quantize+error pass is
# ONE scan, one map-side explode, one 64-group aggregation. The fold
# expression is identical to the SQL form, so the DuckDB oracle is
# unchanged.


@query(
    "int8_quantization_error",
    oracle=_QUANT_DUCK,
    tags=("similarity", "embedding", "compression"),
)
def int8_quantization_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization + per-dim reconstruction RMSE (module
    block comment above): stats pass collected (64 rows), error pass
    single-scan with literal-embedded lo/hi."""
    from pyspark.sql import functions as F

    from crypto_lakehouse_spark.io import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    dimvals = emb.select(
        "vec_id",
        F.posexplode(F.expr("transform(embedding, x -> CAST(x AS DOUBLE))")).alias(
            "pos", "val"
        ),
    ).select("vec_id", (F.col("pos") + 1).alias("dim"), "val")
    stats = (
        dimvals.groupBy("dim")
        .agg(F.min("val").alias("lo"), F.max("val").alias("hi"))
        .collect()
    )
    lo_by_dim = {r["dim"]: r["lo"] for r in stats}
    hi_by_dim = {r["dim"]: r["hi"] for r in stats}
    if not lo_by_dim:
        # Empty relation: no per-dim ranges to quantize against —
        # degrade to the oracle's empty grouped result.
        return spark.createDataFrame(
            [], "dim int, q_min bigint, q_max bigint, rmse double"
        )
    los = F.array(*[F.lit(lo_by_dim[d]) for d in range(1, 65)])
    his = F.array(*[F.lit(hi_by_dim[d]) for d in range(1, 65)])

    q = dimvals.select(
        "vec_id",
        "dim",
        "val",
        F.element_at(los, F.col("dim").cast("int")).alias("lo"),
        F.element_at(his, F.col("dim").cast("int")).alias("hi"),
    ).withColumn(
        "q",
        F.expr(
            "LEAST(255, GREATEST(0, FLOOR((val - lo) * 255 / (hi - lo) + 0.5)))"
        ),
    )
    return (
        q.groupBy("dim")
        .agg(
            F.expr("CAST(MIN(q) AS BIGINT)").alias("q_min"),
            F.expr("CAST(MAX(q) AS BIGINT)").alias("q_max"),
            F.expr(
                "ROUND(SQRT(aggregate("
                "transform(array_sort(collect_list(struct(vec_id,"
                " (val - (lo + q * (hi - lo) / 255))"
                " * (val - (lo + q * (hi - lo) / 255)) AS err))),"
                " s -> s.err), CAST(0 AS DOUBLE), (a, b) -> a + b)"
                " / COUNT(*)), 9)"
            ).alias("rmse"),
        )
        .orderBy("dim")
    )


# --- product quantization (PQ) + asymmetric-distance top-k -----------------
# The missing tier between int8 scalar quantization (above) and
# IVF/LSH candidate generation: PQ compresses each 64-d vector to 8
# one-byte codes (8 subspaces x 8 dims, 16-entry codebook each) and
# ranks neighbors by ASYMMETRIC distance — exact query subvector vs
# the neighbor's reconstructed codeword — the Jegou et al. 2011
# ("Product Quantization for Nearest Neighbor Search", TPAMI) ADC
# scheme that powers FAISS's IVF-PQ indexes.
#
# Codebook here = the subvectors of the first 16 vectors (a
# deterministic training sample — production would run a few Lloyd
# iterations per subspace; `kmeans_one_step` above demonstrates
# exactly that step, so the composition is proven piecewise while the
# oracle stays closed-form).
#
# Scale shape: the codebook is 16 x 8 rows — broadcast; encoding is a
# broadcast join + per-(vec, subspace) argmin (ROW_NUMBER with a code
# tie-break), i.e. map-side against a 128-row build side; the ADC
# fold is one groupBy(vec_id) over 8 rows each. At 100 TB the
# lookup-table trick applies unchanged: the query's 8x16 distance
# table is a broadcast literal and scoring is 8 array lookups per
# vector — zero shuffle until the global top-k.
#
# Determinism: every L2^2 is a sequential fold over dims in index
# order; the per-vector sum folds subspace terms in subspace order;
# argmin ties break on code id, top-k ties on vec_id. ROUND(9) only
# on output.

_PQ_L2_SPARK = (
    "aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), "
    "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
)
_PQ_L2_DUCK = (
    "list_reduce(list_prepend(CAST(0 AS DOUBLE), "
    "list_transform(range(1, 9), i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))), "
    "(acc, v) -> acc + v)"
)


def _pq_core(dbl: str, l2: str, msrc: str, slice_: str, fold_adc: str) -> str:
    """Shared CTE chain: subvectors -> codebook -> encode -> ADC."""
    return f"""
corpus AS (
    SELECT vec_id, {dbl.format(e='embedding')} AS vec FROM embeddings
),
subs AS (
    SELECT vec_id, m, {slice_} AS sv
    FROM corpus CROSS JOIN {msrc}
),
cb AS (SELECT vec_id AS code, m, sv AS cw FROM subs WHERE vec_id < 16),
encd AS (
    SELECT vec_id, m, code FROM (
        SELECT s.vec_id, s.m, c.code,
               ROW_NUMBER() OVER (
                   PARTITION BY s.vec_id, s.m
                   ORDER BY {l2.format(a='s.sv', b='c.cw')}, c.code) AS rn
        FROM subs s JOIN cb c ON s.m = c.m
    ) WHERE rn = 1
),
qsub AS (SELECT m, sv FROM subs WHERE vec_id = 0),
terms AS (
    SELECT e.vec_id, e.m, {l2.format(a='q.sv', b='c.cw')} AS term
    FROM encd e
    JOIN cb c ON e.m = c.m AND e.code = c.code
    JOIN qsub q ON e.m = q.m
),
adc AS (
    SELECT vec_id, {fold_adc} AS adc_dist
    FROM terms GROUP BY vec_id
)"""


_PQ_SPARK_CORE = _pq_core(
    _D_SPARK,
    _PQ_L2_SPARK,
    "(SELECT explode(sequence(0, 7)) AS m)",
    "slice(vec, m * 8 + 1, 8)",
    "aggregate(array_sort(collect_list(struct(m, term))), "
    "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.term)",
)

_PQ_DUCK_CORE = _pq_core(
    _D_DUCK,
    _PQ_L2_DUCK,
    "range(0, 8) t(m)",
    "vec[m * 8 + 1 : m * 8 + 8]",
    "list_reduce(list_prepend(CAST(0 AS DOUBLE), list(term ORDER BY m)), "
    "(acc, x) -> acc + x)",
)

_PQ_TOPK_TAIL = """
SELECT CAST(0 AS BIGINT) AS query_id,
       vec_id AS neighbor_id,
       ROUND(adc_dist, 9) AS adc_dist,
       CAST(rn AS BIGINT) AS rank
FROM (
    SELECT vec_id, adc_dist,
           ROW_NUMBER() OVER (ORDER BY adc_dist, vec_id) AS rn
    FROM adc WHERE vec_id <> 0
)
WHERE rn <= 10
ORDER BY rank
"""

# Shared PQ index fixture (r14 optimization round, VERDICT r13 item 8):
# THREE queries (pq_adc_topk, pq_recall_at_10, ivf_pq_topk) re-derived
# the identical subvectors -> codebook -> encode chain per call, and
# Spark's CTE inlining re-executed `subs` once per reference besides
# (the ivf_pq before-plan carries 12 embeddings scans). The codebook
# (16 x 8 rows), the encodings (vec_id, m, code — 8 small ints per
# vector), and the query's subvectors (8 rows) are exactly the
# artifacts a production IVF-PQ deployment builds OFFLINE and
# persists; they are materialized once per (session, sf_dir). Every
# expression is byte-identical to the inline `_pq_core` form — only
# materialization boundaries move — and all three consumers' DuckDB
# oracles keep the full inline chain, so each green hash proves the
# fixture path end to end.
PQ_CB_VIEW = "pq_cb_mat"
PQ_ENCD_VIEW = "pq_encd_mat"
PQ_QSUB_VIEW = "pq_qsub_mat"


@fixture("pq_index", view=(PQ_CB_VIEW, PQ_ENCD_VIEW, PQ_QSUB_VIEW))
def cached_pq_index(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The PQ codebook / encodings / query-subvector relations."""
    from crypto_lakehouse_spark.operators.checkpointing import (
        release_lineage,
        truncate_lineage,
    )

    register_views(spark, sf_dir, ["embeddings"])
    subs = truncate_lineage(
        spark.sql(
            f"""
WITH corpus AS (
    SELECT vec_id, {_D_SPARK.format(e='embedding')} AS vec FROM embeddings
),
subs AS (
    SELECT vec_id, m, slice(vec, m * 8 + 1, 8) AS sv
    FROM corpus CROSS JOIN (SELECT explode(sequence(0, 7)) AS m)
)
SELECT vec_id, m, sv FROM subs"""
        ),
        spark,
    )
    subs.createOrReplaceTempView("pq_subs_tmp")
    cb = truncate_lineage(
        spark.sql(
            "SELECT vec_id AS code, m, sv AS cw FROM pq_subs_tmp "
            "WHERE vec_id < 16"
        ),
        spark,
    )
    # The encode step reads the codebook view, so register it now.
    cb.createOrReplaceTempView(PQ_CB_VIEW)
    encd = truncate_lineage(
        spark.sql(
            f"""
SELECT vec_id, m, code FROM (
    SELECT s.vec_id, s.m, c.code,
           ROW_NUMBER() OVER (
               PARTITION BY s.vec_id, s.m
               ORDER BY {_PQ_L2_SPARK.format(a='s.sv', b='c.cw')}, c.code
           ) AS rn
    FROM pq_subs_tmp s JOIN {PQ_CB_VIEW} c ON s.m = c.m
) WHERE rn = 1"""
        ),
        spark,
    )
    qsub = truncate_lineage(
        spark.sql("SELECT m, sv FROM pq_subs_tmp WHERE vec_id = 0"),
        spark,
    )
    release_lineage(subs)
    return cb, encd, qsub


# terms -> adc over the materialized index views: byte-identical
# expressions to the inline `_pq_core` tail (only the sources differ).
_PQ_VIEWS_TERMS = f"""
terms AS (
    SELECT e.vec_id, e.m, {_PQ_L2_SPARK.format(a='q.sv', b='c.cw')} AS term
    FROM {PQ_ENCD_VIEW} e
    JOIN {PQ_CB_VIEW} c ON e.m = c.m AND e.code = c.code
    JOIN {PQ_QSUB_VIEW} q ON e.m = q.m
),
adc AS (
    SELECT vec_id, aggregate(array_sort(collect_list(struct(m, term))), \
CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.term) AS adc_dist
    FROM terms GROUP BY vec_id
)"""


def _pq_adc_topk_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC top-10 over the materialized PQ index (fixture block
    comment above); scoring + top-k only per call."""
    cached_pq_index(spark, sf_dir)
    return spark.sql("WITH " + _PQ_VIEWS_TERMS + "\n" + _PQ_TOPK_TAIL)


query(
    "pq_adc_topk",
    oracle=f"WITH {_PQ_DUCK_CORE}\n{_PQ_TOPK_TAIL}",
    tags=("similarity", "embedding", "pq", "ann"),
)(_pq_adc_topk_fn)


# PQ quality eval — recall@10 of the ADC ranking vs the exact L2
# ranking, same one-query quality-eval pattern as ann_recall_at_5.
def _pq_recall_sql(core: str, l2_64: str, dbl: str) -> str:
    return f"""
WITH {core},
exact AS (
    SELECT c.vec_id,
           ROW_NUMBER() OVER (
               ORDER BY {l2_64}, c.vec_id) AS rn
    FROM corpus c CROSS JOIN (SELECT vec FROM corpus WHERE vec_id = 0) q
    WHERE c.vec_id <> 0
),
exact10 AS (SELECT vec_id FROM exact WHERE rn <= 10),
adc10 AS (
    SELECT vec_id FROM (
        SELECT vec_id, ROW_NUMBER() OVER (ORDER BY adc_dist, vec_id) AS rn
        FROM adc WHERE vec_id <> 0
    ) WHERE rn <= 10
)
SELECT CAST(0 AS BIGINT) AS query_id,
       CAST((SELECT COUNT(*) FROM exact10 JOIN adc10
             ON exact10.vec_id = adc10.vec_id) AS BIGINT) AS hits,
       CAST(10 AS BIGINT) AS k,
       ROUND(CAST((SELECT COUNT(*) FROM exact10 JOIN adc10
                   ON exact10.vec_id = adc10.vec_id) AS DOUBLE) / 10, 9)
           AS recall_at_10
"""


_PQ_L2_64_SPARK = (
    "aggregate(zip_with(c.vec, q.vec, (x, y) -> (x - y) * (x - y)), "
    "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
)
_PQ_L2_64_DUCK = (
    "list_reduce(list_prepend(CAST(0 AS DOUBLE), "
    "list_transform(range(1, 65), i -> (c.vec[i] - q.vec[i]) * (c.vec[i] - q.vec[i]))), "
    "(acc, v) -> acc + v)"
)

# Spark side reads the materialized PQ index (fixture block comment
# above): `corpus` stays an inline projection (exact needs the full
# vectors), terms/adc come from the index views. The oracle keeps the
# full inline chain.
_PQ_RECALL_VIEWS_CORE = (
    f"""corpus AS (
    SELECT vec_id, {_D_SPARK.format(e='embedding')} AS vec FROM embeddings
),"""
    + _PQ_VIEWS_TERMS
)


def _pq_recall_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ recall@10 eval over the materialized PQ index."""
    cached_pq_index(spark, sf_dir)
    return spark.sql(
        _pq_recall_sql(_PQ_RECALL_VIEWS_CORE, _PQ_L2_64_SPARK, _D_SPARK)
    )


query(
    "pq_recall_at_10",
    oracle=_pq_recall_sql(_PQ_DUCK_CORE, _PQ_L2_64_DUCK, _D_DUCK),
    tags=("similarity", "embedding", "pq", "quality-eval"),
)(_pq_recall_fn)


# --- SemDeDup (Abbas et al. 2023, arXiv:2303.09540) ------------------------
# Semantic dedup the way production runs it: k-means clusters bound the
# pairwise search (within-cluster pairs only — sum n_c^2, never N^2),
# then exact cosine >= threshold inside each cluster marks semantic
# duplicates and the lowest vec_id per pair survives. The synthetic
# corpus has no natural near-dups (max off-diagonal cosine 0.44), so
# the corpus is augmented with SCALED copies of every 10th vector
# (vec_id + 100000, v * 1.5): scaling preserves cosine exactly, so
# each copy is a perfect semantic dup of its original and the expected
# drop set is fully determined. Assignment is by MAX COSINE to the 8
# seed centroids (vec_id < 8) — scale-invariant, so original and copy
# provably land in the same cluster. Cosine folds run dim 1..64 in
# index order on both engines (bit-identical IEEE sums, the
# embedding_cosine_topk discipline). At 100 TB: clusters are the knob
# (k grows with N to hold n_c constant), assignment is a broadcast of
# k centroids, and the within-cluster join shuffles on cid.

_COS = (
    "aggregate(zip_with({a}, {b}, (x, y) -> x * y), CAST(0 AS DOUBLE),"
    " (p, q) -> p + q)"
    " / (SQRT(aggregate(transform({a}, x -> x * x), CAST(0 AS DOUBLE),"
    " (p, q) -> p + q))"
    " * SQRT(aggregate(transform({b}, x -> x * x), CAST(0 AS DOUBLE),"
    " (p, q) -> p + q)))"
)
_COS_D = (
    "list_reduce(list_prepend(CAST(0 AS DOUBLE),"
    " list_transform(range(1, 65), i -> {a}[i] * {b}[i])), (p, q) -> p + q)"
    " / (SQRT(list_reduce(list_prepend(CAST(0 AS DOUBLE),"
    " list_transform(range(1, 65), i -> {a}[i] * {a}[i])), (p, q) -> p + q))"
    " * SQRT(list_reduce(list_prepend(CAST(0 AS DOUBLE),"
    " list_transform(range(1, 65), i -> {b}[i] * {b}[i])), (p, q) -> p + q)))"
)


def _semdedup(vecs_cte: str, dot_av: str, dot_ab: str, scale_expr: str,
              norm_expr: str, intdiv: str) -> str:
    # k SCALES SUBLINEARLY WITH THE CORPUS: k = max(16, ceil(sqrt(N))).
    # The round-7 policy k = N/256 held cluster SIZE constant, which
    # made the N x k assignment join O(N^2/256) — a quadratic hiding
    # one decade out (the sf1 bench measured the hierarchical ladder
    # at 11.9x for 10x data). sqrt-k is the standard balance point:
    # assignment costs N x k = O(N^1.5) and within-cluster pairwise
    # costs N^2/k = O(N^1.5) — both stages grow ~3.2x per decade
    # instead of 100x. CEIL(SQRT(..)) is bit-identical across engines
    # (IEEE sqrt is correctly rounded; CAST AS BIGINT pins DuckDB's
    # double-typed CEIL to Spark's BIGINT CEIL). `intdiv` remains the
    # engine's integer division for derived panel sizes (Spark DIV,
    # DuckDB //).
    return f"""
WITH base AS (
    {vecs_cte}
),
corpus AS (
    SELECT vec_id, v FROM base
    UNION ALL
    SELECT vec_id + 100000, {scale_expr} FROM base WHERE vec_id % 10 = 0
),
normed AS (
    SELECT vec_id, {norm_expr} AS u
    FROM corpus
),
k AS (SELECT GREATEST(16, CAST(CEIL(SQRT(COUNT(*))) AS BIGINT)) AS k
      FROM corpus),
cents AS (
    SELECT vec_id AS cid, u AS c FROM normed
    WHERE vec_id < (SELECT k FROM k)
),
assigned AS (
    SELECT vec_id, u, cid FROM (
        SELECT normed.vec_id, normed.u, cents.cid,
               ROW_NUMBER() OVER (
                   PARTITION BY normed.vec_id
                   ORDER BY {dot_av} DESC, cents.cid) AS rn
        FROM normed CROSS JOIN cents
    ) ranked WHERE rn = 1
),
pairs AS (
    SELECT a.cid, a.vec_id AS keep_id, b.vec_id AS drop_id
    FROM assigned a JOIN assigned b
      ON a.cid = b.cid AND a.vec_id < b.vec_id
    WHERE {dot_ab} >= 0.99
),
dropped AS (SELECT DISTINCT cid, drop_id FROM pairs)
SELECT s.cid AS cluster_id,
       COUNT(*) AS n_members,
       COALESCE(p.n_dup_pairs, 0) AS n_dup_pairs,
       COALESCE(d.n_dropped, 0) AS n_dropped,
       CAST(COALESCE(d.drop_checksum, 0) AS BIGINT) AS drop_id_checksum
FROM (SELECT cid, vec_id FROM assigned) s
LEFT JOIN (SELECT cid, COUNT(*) AS n_dup_pairs FROM pairs GROUP BY cid) p
  ON s.cid = p.cid
LEFT JOIN (SELECT cid, COUNT(*) AS n_dropped, SUM(drop_id) AS drop_checksum
           FROM dropped GROUP BY cid) d
  ON s.cid = d.cid
GROUP BY s.cid, p.n_dup_pairs, d.n_dropped, d.drop_checksum
ORDER BY cluster_id
"""


_DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> x * y), CAST(0 AS DOUBLE),"
    " (p, q) -> p + q)"
)
_DOT_D = (
    "list_reduce(list_prepend(CAST(0 AS DOUBLE),"
    " list_transform(range(1, 65), i -> {a}[i] * {b}[i])), (p, q) -> p + q)"
)
_NORM = (
    "transform(v, x -> x / SQRT(aggregate(transform(v, y -> y * y),"
    " CAST(0 AS DOUBLE), (p, q) -> p + q)))"
)
_NORM_D = (
    "list_transform(v, x -> x / SQRT(list_reduce(list_prepend("
    "CAST(0 AS DOUBLE), list_transform(v, y -> y * y)), (p, q) -> p + q)))"
)


# Spark side of semdedup_clustered: Arrow-vectorized numpy kernels.
# The round-7 sf1 profile showed the SQL higher-order-function dots
# (aggregate(zip_with(...))) cost ~10us EACH — the N x k assignment
# alone was ~20 s at sf1 and dominated the repo's most expensive
# query. Array math is the one place Spark's built-ins genuinely
# can't vectorize, so this is the sanctioned Pandas-UDF drop-down:
# assignment is a mapInPandas whose dot products run as numpy column
# sweeps, and within-cluster pairwise similarity is an applyInPandas
# per cluster accumulating outer products. BIT-EXACTNESS with the
# DuckDB oracle is engineered, not hoped for: every sum replicates
# the SQL fold's exact IEEE operation order (multiply dim i, add to
# the accumulator, dims ascending — `acc = acc + U[:, i] * c[i]`),
# so dots, norms, argmax tie-breaks, and the >= 0.99 threshold agree
# to the last bit and the unchanged SQL oracle still hash-matches.
# Scale shape: centroids are a driver-collected broadcast bounded by
# k = ceil(sqrt(N)) rows (the documented knob — past ~1M centroids,
# i.e. N ~ 1e12, switch to the hierarchical twin below); assignment
# is one corpus pass costing N x k = O(N^1.5) dots; pairwise touches
# only within-cluster pairs (sum n_c^2 ~ N^2/k = O(N^1.5)) — both
# stages grow ~3.2x per data decade.

_SEMDEDUP_DUCK_ORACLE = _semdedup(
    "SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v"
    " FROM embeddings WHERE embedding IS NOT NULL",
    _DOT_D.format(a="normed.u", b="cents.c"),
    _DOT_D.format(a="a.u", b="b.u"),
    "list_transform(v, x -> x * CAST(1.5 AS DOUBLE))",
    _NORM_D,
    "//",
)


def _seq_norm_rows(V):
    """Unit-normalize rows with the SQL fold's exact operation order:
    squared-norm accumulated product-then-add over dims ascending."""
    import numpy as np

    acc = np.zeros(V.shape[0])
    for i in range(V.shape[1]):
        acc = acc + V[:, i] * V[:, i]
    return V / np.sqrt(acc)[:, None]


def _sem_corpus(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """The SemDeDup inputs (emb, corpus): the non-NULL embeddings as
    double vectors, and the corpus with every tenth vector re-emitted
    scaled by 1.5 at vec_id + 100000. NULL embeddings cannot
    participate in vector kernels; excluded identically in the oracle
    (WHERE embedding IS NOT NULL) — the SQL-twin analog of NULL
    propagation."""
    from pyspark.sql import functions as F

    register_views(spark, sf_dir, ["embeddings"])
    emb = spark.table("embeddings").filter("embedding IS NOT NULL").select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v"),
    )
    corpus = emb.unionByName(
        emb.filter("vec_id % 10 = 0").select(
            (F.col("vec_id") + 100000).alias("vec_id"),
            F.expr("transform(v, x -> x * CAST(1.5 AS DOUBLE))").alias("v"),
        )
    )
    return emb, corpus


# SemDeDup corpus-count fixture (r14): both variants ran the identical
# `corpus.count()` driver job per CALL (the k = ceil(sqrt N) knob), 3
# bench runs x 2 queries = 6 jobs for one deterministic integer. Only
# the count is a fixture; everything else stays inline — a
# materialized normalized-corpus fixture was TRIED and REVERTED
# (measured net-negative: per-query kernels read the checkpointed
# array rows ~0.2 s slower than the parquet-float scan they replaced,
# on top of the build's fixture row; see OPTIMIZATION_r14.md).
@fixture("sem_corpus_n")
def _sem_corpus_count(spark: SparkSession, sf_dir: str) -> int:
    return _sem_corpus(spark, sf_dir)[1].count()


def _cluster_pairs(key, pdf):
    """Within-cluster pairwise cosine >= 0.99 via accumulated outer
    products (dims ascending — the SQL fold's IEEE operation order);
    ids sorted so keep_id < drop_id. Shared by the flat and
    hierarchical SemDeDup queries (`applyInPandas` per cluster)."""
    import numpy as np
    import pandas as pd

    ids = pdf["vec_id"].to_numpy()
    order = np.argsort(ids)
    ids = ids[order]
    U = np.stack(pdf["u"].to_numpy())[order]
    m = len(ids)
    if m < 2:
        return pd.DataFrame({"cid": [], "keep_id": [], "drop_id": []})
    acc = np.zeros((m, m))
    for i in range(U.shape[1]):
        acc = acc + np.outer(U[:, i], U[:, i])
    iu = np.triu_indices(m, k=1)
    mask = acc[iu] >= 0.99
    return pd.DataFrame(
        {
            "cid": np.full(mask.sum(), key[0], dtype=np.int64),
            "keep_id": ids[iu[0][mask]],
            "drop_id": ids[iu[1][mask]],
        }
    )


# Census tail over (assigned, pairs) temp views — identical SELECT in
# the flat and hierarchical twins and in both engines' oracles.
_SEM_CENSUS_SQL = """
WITH dropped AS (SELECT DISTINCT cid, drop_id FROM {pairs})
SELECT s.cid AS cluster_id,
       COUNT(*) AS n_members,
       COALESCE(p.n_dup_pairs, 0) AS n_dup_pairs,
       COALESCE(d.n_dropped, 0) AS n_dropped,
       CAST(COALESCE(d.drop_checksum, 0) AS BIGINT) AS drop_id_checksum
FROM {assigned} s
LEFT JOIN (SELECT cid, COUNT(*) AS n_dup_pairs FROM {pairs} GROUP BY cid) p
  ON s.cid = p.cid
LEFT JOIN (SELECT cid, COUNT(*) AS n_dropped, SUM(drop_id) AS drop_checksum
           FROM dropped GROUP BY cid) d
  ON s.cid = d.cid
GROUP BY s.cid, p.n_dup_pairs, d.n_dropped, d.drop_checksum
ORDER BY cluster_id
"""


@query(
    "semdedup_clustered",
    oracle=_SEMDEDUP_DUCK_ORACLE,
    tags=("similarity", "dedup", "semdedup", "clustering", "vectorized"),
)
def semdedup_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with Arrow-vectorized assignment + pairwise kernels
    (block comment above; semantics identical to the SQL oracle)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    emb, corpus = _sem_corpus(spark, sf_dir)
    n = _sem_corpus_count(spark, sf_dir)
    k = max(16, math.ceil(math.sqrt(n)))
    # Copies live at +100000, so centroid seeds (corpus vec_id < k)
    # come from the base relation — same rows the oracle's
    # `WHERE vec_id < (SELECT k FROM k)` selects. With k = ceil(sqrt N)
    # the seed window crosses 100000 only past N = 1e10 vectors; fail
    # loudly there (the hierarchical twin is the documented crossover)
    # instead of silently diverging from the oracle's seed set.
    if k >= 100_000:
        raise ValueError(
            "semdedup_clustered: k >= 100000 collides with the scaled-copy "
            "id offset; use semdedup_hierarchical at this corpus size"
        )
    _assert_centroid_budget(k, 64)  # driver contract, module comment
    cent_rows = sorted(
        emb.filter(F.col("vec_id") < k).collect(), key=lambda r: r.vec_id
    )
    if not cent_rows:
        # No seedable centroid (empty relation, or no vec_id < k): the
        # oracle's assignment join is empty, so the census is 0 rows —
        # degrade to the same empty result instead of crashing numpy.
        return spark.createDataFrame(
            [],
            "cluster_id long, n_members long, n_dup_pairs long, "
            "n_dropped long, drop_id_checksum long",
        )
    C = _seq_norm_rows(np.array([r.v for r in cent_rows], dtype=np.float64))
    cids = np.array([r.vec_id for r in cent_rows], dtype=np.int64)

    def _assign(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            U = _seq_norm_rows(np.stack(pdf["v"].to_numpy()))
            D = np.empty((len(U), len(cids)))
            for j in range(C.shape[0]):
                acc = np.zeros(len(U))
                for i in range(C.shape[1]):
                    acc = acc + U[:, i] * C[j, i]
                D[:, j] = acc
            # argmax keeps the FIRST max = smallest cid on exact ties,
            # matching ORDER BY dot DESC, cid.
            idx = np.argmax(D, axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "cid": cids[idx],
                    "u": list(U),
                }
            )

    from crypto_lakehouse_spark.operators.checkpointing import (
        truncate_lineage,
    )

    # Both relations are materialized BEFORE view registration: the
    # census SQL references {pairs} twice (dropped CTE + dup-pair
    # subquery) and {assigned} once more than the pairs derivation, so
    # unmaterialized plans would re-run the Arrow assignment and the
    # per-cluster pairwise kernel per reference (and CTE-wrapped
    # cached views miss the CacheManager in Spark 4.1 anyway — see
    # the fixture_meter module docstring).
    assigned = truncate_lineage(
        corpus.mapInPandas(
            _assign, "vec_id long, cid long, u array<double>"
        ),
        spark,
    )
    pairs = truncate_lineage(
        assigned.groupBy("cid").applyInPandas(
            _cluster_pairs, "cid long, keep_id long, drop_id long"
        ),
        spark,
    )
    assigned.select("vec_id", "cid").createOrReplaceTempView("sem_assigned")
    pairs.createOrReplaceTempView("sem_pairs")
    return spark.sql(
        _SEM_CENSUS_SQL.format(assigned="sem_assigned", pairs="sem_pairs")
    )


# --- SemDeDup, two-level (hierarchical) assignment --------------------------
# The flat query's assignment made cheaper by a coarse quantizer:
# with k = ceil(sqrt(N)) fine centroids, flat assignment costs
# N x k = O(N^1.5) dots. Production k-means at corpus scale assigns
# hierarchically: k1 = ceil(sqrt(k)) ~ N^(1/4) coarse centroids
# (broadcast), then each vector compares only against the k2 = k/k1
# fine centroids OF ITS COARSE CELL — N x (k1 + k2) ~ N x 2*N^(1/4)
# dots, O(N^1.25), while the pairwise stage stays within-fine-cluster
# only (sum n_c^2 ~ N^2/k = O(N^1.5), the binding stage). Seeding is
# the flat query's discipline made two-level:
# coarse seeds are the first k1 unit vectors; fine seeds are, per
# coarse cell, the k2 lowest vec_ids assigned to it (deterministic,
# both engines). Cluster semantics differ from the flat query by
# construction (an approximation ladder, like IVF vs brute force) —
# which is why this is a TWIN, not a replacement: the flat query
# remains the reference answer, and the oracle here re-derives the
# hierarchy itself value-exactly.

def _semdedup_hier(vecs_cte: str, dot_av: str, dot_fv: str, dot_ab: str,
                   scale_expr: str, norm_expr: str, intdiv: str) -> str:
    return f"""
WITH base AS (
    {vecs_cte}
),
corpus AS (
    SELECT vec_id, v FROM base
    UNION ALL
    SELECT vec_id + 100000, {scale_expr} FROM base WHERE vec_id % 10 = 0
),
normed AS (
    SELECT vec_id, {norm_expr} AS u
    FROM corpus
),
k AS (SELECT GREATEST(16, CAST(CEIL(SQRT(COUNT(*))) AS BIGINT)) AS k
      FROM corpus),
k1 AS (SELECT GREATEST(4, CAST(CEIL(SQRT(k)) AS BIGINT)) AS k1 FROM k),
k2 AS (
    SELECT GREATEST(4, (SELECT k FROM k) {intdiv} (SELECT k1 FROM k1)) AS k2
),
coarse AS (
    SELECT vec_id AS ccid, u AS c FROM normed
    WHERE vec_id < (SELECT k1 FROM k1)
),
assigned1 AS (
    SELECT vec_id, u, ccid FROM (
        SELECT normed.vec_id, normed.u, coarse.ccid,
               ROW_NUMBER() OVER (
                   PARTITION BY normed.vec_id
                   ORDER BY {dot_av} DESC, coarse.ccid) AS rn
        FROM normed CROSS JOIN coarse
    ) r WHERE rn = 1
),
fine AS (
    SELECT ccid, vec_id AS fcid, u AS f FROM (
        SELECT ccid, vec_id, u,
               ROW_NUMBER() OVER (PARTITION BY ccid ORDER BY vec_id) AS rn
        FROM assigned1
    ) s WHERE rn <= (SELECT k2 FROM k2)
),
assigned AS (
    SELECT vec_id, u, fcid AS cid FROM (
        SELECT a.vec_id, a.u, fine.fcid,
               ROW_NUMBER() OVER (
                   PARTITION BY a.vec_id
                   ORDER BY {dot_fv} DESC, fine.fcid) AS rn
        FROM assigned1 a JOIN fine ON fine.ccid = a.ccid
    ) r WHERE rn = 1
),
pairs AS (
    SELECT a.cid, a.vec_id AS keep_id, b.vec_id AS drop_id
    FROM assigned a JOIN assigned b
      ON a.cid = b.cid AND a.vec_id < b.vec_id
    WHERE {dot_ab} >= 0.99
),
dropped AS (SELECT DISTINCT cid, drop_id FROM pairs)
SELECT s.cid AS cluster_id,
       COUNT(*) AS n_members,
       COALESCE(p.n_dup_pairs, 0) AS n_dup_pairs,
       COALESCE(d.n_dropped, 0) AS n_dropped,
       CAST(COALESCE(d.drop_checksum, 0) AS BIGINT) AS drop_id_checksum
FROM (SELECT cid, vec_id FROM assigned) s
LEFT JOIN (SELECT cid, COUNT(*) AS n_dup_pairs FROM pairs GROUP BY cid) p
  ON s.cid = p.cid
LEFT JOIN (SELECT cid, COUNT(*) AS n_dropped, SUM(drop_id) AS drop_checksum
           FROM dropped GROUP BY cid) d
  ON s.cid = d.cid
GROUP BY s.cid, p.n_dup_pairs, d.n_dropped, d.drop_checksum
ORDER BY cluster_id
"""


_SEMDEDUP_HIER_DUCK = _semdedup_hier(
    "SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v"
    " FROM embeddings WHERE embedding IS NOT NULL",
    _DOT_D.format(a="normed.u", b="coarse.c"),
    _DOT_D.format(a="a.u", b="fine.f"),
    _DOT_D.format(a="a.u", b="b.u"),
    "list_transform(v, x -> x * CAST(1.5 AS DOUBLE))",
    _NORM_D,
    "//",
)


@query(
    "semdedup_hierarchical",
    oracle=_SEMDEDUP_HIER_DUCK,
    tags=("similarity", "dedup", "semdedup", "clustering", "hierarchical",
          "vectorized"),
)
def semdedup_hierarchical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level SemDeDup with Arrow-vectorized assignment kernels.

    The round-7 version ran the whole ladder in Spark SQL; the round-8
    sf1 bench showed the higher-order-function fold dots (~10-70us
    EACH through zip_with/aggregate) dominating at 53 s — the same
    constant `semdedup_clustered` escaped via numpy kernels, so this
    twin takes the identical sanctioned drop-down. The DuckDB oracle
    REMAINS the full pure-SQL hierarchy (`_semdedup_hier`) and every
    numpy sum replicates the SQL fold's IEEE operation order
    (multiply dim i, add to accumulator, dims ascending), so the
    coarse argmax, the per-cell fine argmax (tie: smallest centroid
    id), and the >= 0.99 pairwise threshold agree with the SQL ladder
    to the last bit. Scale shape: coarse panel (k1 = ceil(sqrt(k)) ~
    N^(1/4)) and the per-cell fine centroid dict (k = ceil(sqrt(N))
    rows total) are driver-collected broadcasts; assignment is two
    corpus passes costing N x (k1 + k2) = O(N^1.25) dots; pairwise
    touches within-fine-cluster pairs only (sum n_c^2 ~ N^1.5)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    emb, corpus = _sem_corpus(spark, sf_dir)
    n = _sem_corpus_count(spark, sf_dir)
    k = max(16, math.ceil(math.sqrt(n)))
    k1 = max(4, math.ceil(math.sqrt(k)))
    k2 = max(4, k // k1)
    if k1 >= 100_000:
        raise ValueError(
            "semdedup_hierarchical: k1 >= 100000 collides with the "
            "scaled-copy id offset"
        )
    # Coarse seeds: normed u of corpus vec_id < k1 — copies live at
    # +100000, so these are base-relation rows, as in the oracle.
    _assert_centroid_budget(k1 + k, 64)  # coarse + fine seeds both
    # land on the driver (f_rows below); module comment has the bound
    c_rows = sorted(
        emb.filter(F.col("vec_id") < k1).collect(), key=lambda r: r.vec_id
    )
    if not c_rows:
        # Same empty-seed degradation contract as semdedup_clustered.
        return spark.createDataFrame(
            [],
            "cluster_id long, n_members long, n_dup_pairs long, "
            "n_dropped long, drop_id_checksum long",
        )
    C1 = _seq_norm_rows(np.array([r.v for r in c_rows], dtype=np.float64))
    c1ids = np.array([r.vec_id for r in c_rows], dtype=np.int64)

    def _assign_coarse(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            U = _seq_norm_rows(np.stack(pdf["v"].to_numpy()))
            D = np.empty((len(U), len(c1ids)))
            for j in range(C1.shape[0]):
                acc = np.zeros(len(U))
                for i in range(C1.shape[1]):
                    acc = acc + U[:, i] * C1[j, i]
                D[:, j] = acc
            # first max = smallest ccid on ties (ccids ascending),
            # matching ORDER BY dot DESC, ccid.
            idx = np.argmax(D, axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "ccid": c1ids[idx],
                    "u": list(U),
                }
            )

    assigned1 = corpus.mapInPandas(
        _assign_coarse, "vec_id long, ccid long, u array<double>"
    ).persist()
    # Fine seeds: per coarse cell, the k2 lowest-vec_id members (the
    # oracle's ROW_NUMBER() OVER (PARTITION BY ccid ORDER BY vec_id)
    # <= k2) — k rows total, broadcast-sized by construction.
    w = Window.partitionBy("ccid").orderBy("vec_id")
    f_rows = (
        assigned1.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k2)
        .select("ccid", "vec_id", "u")
        .collect()
    )
    fine: dict[int, tuple] = {}
    for r in sorted(f_rows, key=lambda r: (r.ccid, r.vec_id)):
        ids, vecs = fine.setdefault(int(r.ccid), ([], []))
        ids.append(r.vec_id)
        vecs.append(r.u)
    fine_np = {
        c: (np.array(ids, dtype=np.int64), np.array(vecs, dtype=np.float64))
        for c, (ids, vecs) in fine.items()
    }

    def _assign_fine(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            for ccid, grp in pdf.groupby("ccid", sort=False):
                fids, Fm = fine_np[int(ccid)]
                U = np.stack(grp["u"].to_numpy())
                D = np.empty((len(U), len(fids)))
                for j in range(Fm.shape[0]):
                    acc = np.zeros(len(U))
                    for i in range(Fm.shape[1]):
                        acc = acc + U[:, i] * Fm[j, i]
                    D[:, j] = acc
                idx = np.argmax(D, axis=1)  # ties -> smallest fcid
                yield pd.DataFrame(
                    {
                        "vec_id": grp["vec_id"].to_numpy(),
                        "cid": fids[idx],
                        "u": list(U),
                    }
                )

    from crypto_lakehouse_spark.operators.checkpointing import (
        truncate_lineage,
    )

    # Materialized before registration for the same reasons as the
    # flat variant (census references pairs twice; CTE-wrapped cached
    # views miss the CacheManager).
    assigned = truncate_lineage(
        assigned1.mapInPandas(
            _assign_fine, "vec_id long, cid long, u array<double>"
        ),
        spark,
    )
    pairs = truncate_lineage(
        assigned.groupBy("cid").applyInPandas(
            _cluster_pairs, "cid long, keep_id long, drop_id long"
        ),
        spark,
    )
    assigned.select("vec_id", "cid").createOrReplaceTempView(
        "sem_assigned_hier"
    )
    pairs.createOrReplaceTempView("sem_pairs_hier")
    out = spark.sql(
        _SEM_CENSUS_SQL.format(assigned="sem_assigned_hier",
                               pairs="sem_pairs_hier")
    )
    return out


# --- semantic benchmark decontamination -------------------------------------
# Completes the decontamination ladder (exact 4-gram -> Bloom-prefiltered
# -> MinHash-fuzzy -> SEMANTIC): flag corpus embeddings whose cosine to
# any benchmark vector exceeds 0.999 — the paraphrase-level leak the
# lexical probes cannot see. The benchmark here is synthetic-but-proven:
# scaled copies (x1.5, cosine-preserving) of every 20th corpus vector,
# capped at the 64 lowest vec_ids, so the expected hit set is fully
# determined and the oracle re-derives it from the all-pairs
# definition. Scale shape: the benchmark is a FIXED-SIZE driver-side
# broadcast (64 x 64 doubles); the sweep is one corpus pass in an
# Arrow-vectorized mapInPandas whose dots replicate the SQL fold's
# IEEE operation order bit-exactly (the semdedup_clustered
# discipline), so max-cosine values hash-match DuckDB to the last
# rounded digit. Output is one census row per benchmark vector — hit
# count, hit checksum, and the max cosine over the corpus.

_SEMCONTAM_DUCK = """
WITH base AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings WHERE embedding IS NOT NULL
),
normed AS (
    SELECT vec_id,
           list_transform(v, x -> x / SQRT(list_reduce(list_prepend(
               CAST(0 AS DOUBLE), list_transform(v, y -> y * y)),
               (p, q) -> p + q))) AS u
    FROM base
),
bench AS (
    SELECT vec_id + 200000 AS bid,
           list_transform(v, x -> x * CAST(1.5 AS DOUBLE)) AS bv
    FROM base WHERE vec_id % 20 = 0
    ORDER BY vec_id LIMIT 64
),
bnormed AS (
    SELECT bid,
           list_transform(bv, x -> x / SQRT(list_reduce(list_prepend(
               CAST(0 AS DOUBLE), list_transform(bv, y -> y * y)),
               (p, q) -> p + q))) AS bu
    FROM bench
),
cos AS (
    SELECT b.bid, n.vec_id,
           list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list_transform(range(1, 65), i -> n.u[i] * b.bu[i])),
               (p, q) -> p + q) AS c
    FROM bnormed b CROSS JOIN normed n
)
SELECT CAST(bid AS BIGINT) AS benchmark_id,
       CAST(COUNT(*) FILTER (WHERE c >= 0.999) AS BIGINT) AS n_contaminated,
       CAST(COALESCE(SUM(vec_id) FILTER (WHERE c >= 0.999), 0) AS BIGINT)
           AS hit_id_checksum,
       ROUND(MAX(c), 9) AS max_cosine
FROM cos
GROUP BY bid
ORDER BY benchmark_id
"""


@query(
    "contamination_semantic",
    oracle=_SEMCONTAM_DUCK,
    tags=("similarity", "trainprep", "decontamination", "semantic",
          "vectorized"),
)
def contamination_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space benchmark decontamination: one Arrow-vectorized
    corpus sweep against a fixed-size benchmark broadcast (block
    comment above; fold-order-bit-exact with the DuckDB oracle)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    register_views(spark, sf_dir, ["embeddings"])
    # NULL embeddings cannot participate in vector kernels; excluded
    # identically in the oracle (WHERE embedding IS NOT NULL) — the
    # SQL-twin analog of NULL propagation.
    emb = spark.table("embeddings").filter("embedding IS NOT NULL").select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v"),
    )
    bench_rows = sorted(
        emb.filter("vec_id % 20 = 0").orderBy("vec_id").limit(64).collect(),
        key=lambda r: r.vec_id,
    )
    if not bench_rows:
        # Empty benchmark (empty relation): the oracle groups over an
        # empty bench set — 0 rows, not a numpy shape error.
        return spark.createDataFrame(
            [],
            "benchmark_id long, n_contaminated long, "
            "hit_id_checksum long, max_cosine double",
        )
    BV = np.array([r.v for r in bench_rows], dtype=np.float64) * 1.5
    B = _seq_norm_rows(BV)
    bids = np.array([r.vec_id + 200000 for r in bench_rows], dtype=np.int64)

    def _sweep(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            U = _seq_norm_rows(np.stack(pdf["v"].to_numpy()))
            ids = pdf["vec_id"].to_numpy()
            out = []
            for j in range(B.shape[0]):
                acc = np.zeros(len(U))
                for i in range(B.shape[1]):
                    acc = acc + U[:, i] * B[j, i]
                hit = acc >= 0.999
                out.append(
                    (
                        bids[j],
                        int(hit.sum()),
                        int(ids[hit].sum()),
                        float(np.max(acc)),
                    )
                )
            yield pd.DataFrame(
                out, columns=["benchmark_id", "n_hits", "hit_sum", "max_c"]
            )

    partial = emb.mapInPandas(
        _sweep,
        "benchmark_id long, n_hits long, hit_sum long, max_c double",
    )
    return (
        partial.groupBy("benchmark_id")
        .agg(
            F.sum("n_hits").alias("n_contaminated"),
            F.sum("hit_sum").alias("hit_id_checksum"),
            F.round(F.max("max_c"), 9).alias("max_cosine"),
        )
        .orderBy("benchmark_id")
    )


# --- embedding covariance (PCA prep) ----------------------------------------
# The upper-triangular sample covariance of the 64 embedding dims —
# the single-pass statistic every PCA / whitening / decorrelation step
# needs before touching eigensolvers. Scale shape: ONE pass over the
# corpus accumulating 64 + 64*65/2 sums (map-side combine absorbs
# everything; output is 2080 rows regardless of corpus size — the
# classic "accumulate small sufficient statistics" pattern). The
# dims are exploded pairwise per vector (i <= j), so the shuffle
# carries only (i, j, partial sums). NULL embeddings are excluded
# (the vector-kernel contract). Determinism: per-element products are
# rounded to 12 and summed as DECIMAL (order-free), the mean/cov
# arithmetic is one fixed double expression per output cell.

_COV_TAIL = """
sums AS (
    SELECT i, j, COUNT(*) AS n,
           SUM(xy) AS sxy, SUM(xi) AS sxi, SUM(xj) AS sxj
    FROM cells GROUP BY i, j
)
SELECT CAST(i AS INT) AS dim_i, CAST(j AS INT) AS dim_j,
       CAST(n AS BIGINT) AS n_vectors,
       ROUND((CAST(sxy AS DOUBLE)
              - CAST(sxi AS DOUBLE) * CAST(sxj AS DOUBLE) / n)
             / (n - 1), 9) AS cov
FROM sums
WHERE n > 1
ORDER BY dim_i, dim_j
"""

# The pairwise cells come from chained explodes of the SAME array per
# row — NOT a dims-with-dims self-join on vec_id, which would shuffle
# the exploded corpus twice; this form is a pure narrow map transform
# (64*65/2 cells per vector) feeding the one combiner-absorbed agg.
_pair(
    "embedding_covariance_upper",
    """
WITH cells AS (
    -- DECIMAL(8,6) cells, NOT (30,12): Spark's SUM accumulator is
    -- source precision + 10, and anything past 18 total digits drops
    -- off the Long-backed fast path onto boxed BigDecimal (measured
    -- 3-5x slower on the rrf dense leg). Components are |v| < 1, so
    -- 6-decimal cells lose nothing the ROUND(cov, 9) output keeps.
    SELECT a.i + 1 AS i, b.j + 1 AS j,
           CAST(ROUND(CAST(a.vi AS DOUBLE) * CAST(b.vj AS DOUBLE), 6)
                AS DECIMAL(8, 6)) AS xy,
           CAST(ROUND(CAST(a.vi AS DOUBLE), 6) AS DECIMAL(8, 6)) AS xi,
           CAST(ROUND(CAST(b.vj AS DOUBLE), 6) AS DECIMAL(8, 6)) AS xj
    FROM embeddings
    LATERAL VIEW posexplode(embedding) a AS i, vi
    LATERAL VIEW posexplode(embedding) b AS j, vj
    WHERE embedding IS NOT NULL AND b.j >= a.i
),"""
    + _COV_TAIL,
    """
WITH cells AS (
    SELECT ti.i AS i, tj.j AS j,
           CAST(ROUND(CAST(embedding[ti.i] AS DOUBLE)
                      * CAST(embedding[tj.j] AS DOUBLE), 6)
                AS DECIMAL(8, 6)) AS xy,
           CAST(ROUND(CAST(embedding[ti.i] AS DOUBLE), 6)
                AS DECIMAL(8, 6)) AS xi,
           CAST(ROUND(CAST(embedding[tj.j] AS DOUBLE), 6)
                AS DECIMAL(8, 6)) AS xj
    FROM embeddings, range(1, 65) ti(i), range(1, 65) tj(j)
    WHERE embedding IS NOT NULL AND tj.j >= ti.i
),"""
    + _COV_TAIL,
    tags=("similarity", "covariance", "pca", "statistics"),
)


# --- embedding-norm MAD outliers ----------------------------------------------
# Robust per-label embedding sanity check: median norm, MAD (median
# absolute deviation), and the count of vectors whose |norm - median|
# exceeds 3 * 1.4826 * MAD (the normal-consistent robust z-score) —
# the batch-ingest gate that catches unnormalized or corrupted vector
# shipments without being fooled by them (mean/stddev would move WITH
# the outliers). Norm^2 is an exact decimal sum of ROUND(v*v, 12)
# terms (order-free); percentile_cont interpolates identical doubles
# identically in both engines; the final comparisons are single
# double expressions.
_NORM_MAD_SQL = """
WITH comps AS (
    SELECT vec_id, label,
           CAST(ROUND(v * v, 12) AS DECIMAL(24, 12)) AS v2
    FROM ({explode})
),
norms AS (
    SELECT vec_id, label,
           SQRT(CAST(SUM(v2) AS DOUBLE)) AS nrm
    FROM comps GROUP BY vec_id, label
),
med AS (
    SELECT label,
           percentile_cont(0.5) WITHIN GROUP (ORDER BY nrm) AS med_norm
    FROM norms GROUP BY label
),
devs AS (
    SELECT n.label, n.nrm, m.med_norm,
           ABS(n.nrm - m.med_norm) AS dev
    FROM norms n JOIN med m ON m.label = n.label
),
mad AS (
    SELECT label,
           percentile_cont(0.5) WITHIN GROUP (ORDER BY dev) AS mad_raw
    FROM devs GROUP BY label
)
SELECT d.label,
       CAST(COUNT(*) AS BIGINT) AS n_vectors,
       ROUND(MAX(d.med_norm), 9) AS median_norm,
       ROUND(MAX(m.mad_raw), 9) AS mad,
       CAST(SUM(CASE WHEN d.dev > 3 * 1.4826 * m.mad_raw
                THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM devs d JOIN mad m ON m.label = d.label
GROUP BY d.label
ORDER BY d.label
"""

_pair(
    "embedding_norm_mad_outliers",
    _NORM_MAD_SQL.format(
        explode="SELECT vec_id, label, CAST(v AS DOUBLE) AS v "
        "FROM embeddings LATERAL VIEW explode(embedding) t AS v"
    ),
    _NORM_MAD_SQL.format(
        explode="SELECT vec_id, label, CAST(unnest(embedding) AS DOUBLE) AS v "
        "FROM embeddings"
    ),
    tags=("similarity", "embedding", "robust-statistics", "data-quality"),
)


# --- embedding-space drift per label (round 10) ------------------------------
# The semantic complement of psi_drift_by_source: instead of a scalar
# feature's bin mix, compare each label's CENTROID direction to the
# corpus centroid — cosine near 1 means the group sits where the
# corpus sits; a drop flags a cluster drifting away (new topic,
# corrupted embeddings, scraper change). All sums are ROUND-then-
# DECIMAL (order-free); the cosine is assembled from three decimal
# dot-products over the 64-dim centroid relation at emission.
# Scale: one posexplode pass + a (label x 64)-row reduce — the corpus
# side is a broadcast-sized relation by construction at any corpus
# size (64 rows).
def _drift_sql(explode_clause: str) -> str:
    return f"""
WITH comp AS (
    SELECT label, dim, CAST(ROUND(v, 9) AS DECIMAL(28, 9)) AS v
    FROM ({explode_clause})
),
lc AS (
    SELECT label, dim,
           CAST(SUM(v) AS DOUBLE) / COUNT(*) AS c,
           COUNT(*) AS n
    FROM comp GROUP BY label, dim
),
cc AS (
    SELECT dim, CAST(SUM(v) AS DOUBLE) / COUNT(*) AS c
    FROM comp GROUP BY dim
),
terms AS (
    SELECT l.label, l.n,
           CAST(ROUND(l.c * g.c, 12) AS DECIMAL(28, 12)) AS dot_t,
           CAST(ROUND(l.c * l.c, 12) AS DECIMAL(28, 12)) AS la_t,
           CAST(ROUND(g.c * g.c, 12) AS DECIMAL(28, 12)) AS ga_t
    FROM lc l JOIN cc g ON g.dim = l.dim
)
SELECT label,
       CAST(MAX(n) AS BIGINT) AS n_vecs,
       ROUND(CAST(SUM(dot_t) AS DOUBLE)
             / (SQRT(CAST(SUM(la_t) AS DOUBLE))
                * SQRT(CAST(SUM(ga_t) AS DOUBLE))), 9)
           AS cosine_to_corpus,
       ROUND(SQRT(CAST(SUM(la_t) AS DOUBLE))
             / SQRT(CAST(SUM(ga_t) AS DOUBLE)), 9) AS norm_ratio
FROM terms
GROUP BY label
ORDER BY label
"""


_pair(
    "embedding_drift_by_label",
    _drift_sql(
        "SELECT label, pos AS dim, CAST(v AS DOUBLE) AS v "
        "FROM embeddings LATERAL VIEW posexplode(embedding) t AS pos, v"
    ),
    _drift_sql(
        "SELECT label, i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS v "
        "FROM embeddings, range(1, 65) t(i)"
    ),
    tags=("similarity", "drift", "centroid", "data-quality"),
)


# --- one NN-descent round (graph-ANN build primitive) --------------------------
# The neighbor-of-neighbor expansion at the heart of NN-descent (Dong
# et al., WWW 2011) and of every graph-ANN builder (HNSW/NSW layer
# refinement): given a coarse kNN graph, a point's neighbors'
# neighbors are better neighbor CANDIDATES than random points, so one
# round of "rank my neighbors' neighbors exactly, keep top-k"
# measurably lifts recall. Quantified here end-to-end on a 32-query
# panel: the coarse graph is the same-LABEL top-5 (the IVF-style
# blocking the engine already uses), truth is the exact panel x
# corpus top-5, and the emitted numbers are recall@5 of the coarse
# graph vs recall@5 after ONE descent round, plus the mean candidate
# count (the round's cost knob). Cosines are ROUND(...,9) of the
# shared sequential-fold dot product (identical IEEE sequence in both
# engines); every ranking tie-breaks on vec_id. Scale shape: coarse
# lists are computed ONLY for the panel and its <=160 distinct
# neighbors (points x bucket joins, linear); the exact-truth leg is
# panel x corpus (the same benched shape as embedding_cosine_topk);
# nothing is all-pairs. At 100 TB the same round runs over the full
# point set as one bucketed self-join per iteration, checkpointed
# like the CC loop.
def _nn_descent_cos(dot: str) -> str:
    return (
        "ROUND("
        + dot.format(a="{x}.vec", b="{y}.vec")
        + " / (SQRT("
        + dot.format(a="{x}.vec", b="{x}.vec")
        + ") * SQRT("
        + dot.format(a="{y}.vec", b="{y}.vec")
        + ")), 9)"
    )


def _nn_descent_corpus(dbl: str) -> str:
    return (
        "SELECT vec_id, label, "
        + dbl.format(e="embedding")
        + " AS vec FROM embeddings"
    )


_NN_PANEL = "panel AS (SELECT * FROM corpus WHERE vec_id < 32)"


def _nn_descent_init_p(cos: str) -> str:
    # coarse top-5 for the panel (same-label blocking)
    return f"""init_p AS (
    SELECT vec_id, nbr FROM (
        SELECT p.vec_id, c.vec_id AS nbr,
               ROW_NUMBER() OVER (PARTITION BY p.vec_id
                                  ORDER BY {cos.format(x='p', y='c')} DESC,
                                           c.vec_id) AS rn
        FROM panel p
        JOIN corpus c ON c.label = p.label AND c.vec_id <> p.vec_id
    ) r WHERE rn <= 5
)"""


def _nn_descent_cand(cos: str) -> str:
    # coarse top-5 for the panel's neighbors, then the descent round's
    # candidate set (neighbors union neighbors-of-neighbors).
    return f"""nbr_pts AS (
    SELECT DISTINCT c.vec_id, c.label, c.vec
    FROM init_p i JOIN corpus c ON c.vec_id = i.nbr
),
init_n AS (
    SELECT vec_id, nbr FROM (
        SELECT p.vec_id, c.vec_id AS nbr,
               ROW_NUMBER() OVER (PARTITION BY p.vec_id
                                  ORDER BY {cos.format(x='p', y='c')} DESC,
                                           c.vec_id) AS rn
        FROM nbr_pts p
        JOIN corpus c ON c.label = p.label AND c.vec_id <> p.vec_id
    ) r WHERE rn <= 5
),
cand AS (
    SELECT DISTINCT vec_id, nbr FROM (
        SELECT vec_id, nbr FROM init_p
        UNION ALL
        SELECT i.vec_id, n.nbr
        FROM init_p i JOIN init_n n ON n.vec_id = i.nbr
    ) u WHERE vec_id <> nbr
)"""


def _nn_descent_sql(dot: str, dbl: str) -> str:
    """Single-statement composition — the DuckDB oracle's form (DuckDB
    materializes multiply-referenced CTEs natively; the Spark side
    materializes corpus/init_p/cand/truth explicitly instead, see
    _nn_descent_round_fn)."""
    cos = _nn_descent_cos(dot)
    return f"""
WITH corpus AS (
    {_nn_descent_corpus(dbl)}
),
{_NN_PANEL},
{_nn_descent_init_p(cos)},
{_nn_descent_cand(cos)},
{_nn_descent_truth(cos)},
{_nn_descent_tail(cos)}
"""


def _nn_descent_truth(cos: str) -> str:
    return f"""truth AS (
    SELECT vec_id, nbr FROM (
        SELECT p.vec_id, c.vec_id AS nbr,
               ROW_NUMBER() OVER (PARTITION BY p.vec_id
                                  ORDER BY {cos.format(x='p', y='c')} DESC,
                                           c.vec_id) AS rn
        FROM panel p
        JOIN corpus c ON c.vec_id <> p.vec_id
    ) r WHERE rn <= 5
)"""


def _nn_descent_tail(cos: str) -> str:
    return f"""after AS (
    SELECT vec_id, nbr FROM (
        SELECT cd.vec_id, cd.nbr,
               ROW_NUMBER() OVER (PARTITION BY cd.vec_id
                                  ORDER BY {cos.format(x='p', y='c')} DESC,
                                           cd.nbr) AS rn
        FROM cand cd
        JOIN panel p ON p.vec_id = cd.vec_id
        JOIN corpus c ON c.vec_id = cd.nbr
    ) r WHERE rn <= 5
),
hits_before AS (
    SELECT t.vec_id, COUNT(i.nbr) AS h
    FROM truth t LEFT JOIN init_p i
      ON i.vec_id = t.vec_id AND i.nbr = t.nbr
    GROUP BY t.vec_id
),
hits_after AS (
    SELECT t.vec_id, COUNT(a.nbr) AS h
    FROM truth t LEFT JOIN after a
      ON a.vec_id = t.vec_id AND a.nbr = t.nbr
    GROUP BY t.vec_id
),
cand_sz AS (SELECT vec_id, COUNT(*) AS nc FROM cand GROUP BY vec_id)
-- LEFT join to cand_sz with a zero fill: a panel point whose label is
-- unique has NO coarse neighbors and therefore no candidates — it must
-- still count in n_panel and both recall denominators (contributing 0
-- hits), otherwise the reported recall is biased upward (review
-- finding). hits_before/hits_after are truth-driven, so they always
-- carry every panel point.
SELECT CAST(COUNT(*) AS BIGINT) AS n_panel,
       ROUND(CAST(SUM(hb.h) AS DOUBLE) / (5 * COUNT(*)), 9)
           AS recall5_coarse,
       ROUND(CAST(SUM(ha.h) AS DOUBLE) / (5 * COUNT(*)), 9)
           AS recall5_after_round,
       ROUND(CAST(SUM(COALESCE(cs.nc, 0)) AS DOUBLE) / COUNT(*), 9)
           AS mean_candidates
FROM hits_before hb
JOIN hits_after ha ON ha.vec_id = hb.vec_id
LEFT JOIN cand_sz cs ON cs.vec_id = hb.vec_id
"""


def _nn_descent_round_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One NN-descent round with recall self-eval (block comment
    above). r13 optimization round: the single-statement form's CTE
    inlining re-executed `corpus` 24x and the coarse/truth rankings
    2-3x each (plans/r13/nn_descent_round_recall_before.txt: 24
    embeddings scans, 82 Exchanges). The Spark side now materializes
    the four multiply-referenced relations (corpus, init_p, cand,
    truth) once each — the checkpoints an iterated NN-descent keeps
    per round anyway (cf. _nn_descent_converged) — and runs the rest
    as one statement over the views. The DuckDB oracle keeps the
    single-statement form, so the green hash proves the staged
    execution computes the identical result."""
    register_views(spark, sf_dir, ["embeddings"])
    cos = _nn_descent_cos(_DOT_SPARK)

    hold_view(spark, "nnd_corpus_mat", spark.sql(_nn_descent_corpus(_D_SPARK)))
    corpus_cte = "corpus AS (SELECT vec_id, label, vec FROM nnd_corpus_mat)"
    hold_view(
        spark,
        "nnd_initp_mat",
        spark.sql(
            f"WITH {corpus_cte},\n{_NN_PANEL},\n{_nn_descent_init_p(cos)}\n"
            "SELECT vec_id, nbr FROM init_p"
        ),
    )
    initp_cte = "init_p AS (SELECT vec_id, nbr FROM nnd_initp_mat)"
    hold_view(
        spark,
        "nnd_cand_mat",
        spark.sql(
            f"WITH {corpus_cte},\n{initp_cte},\n{_nn_descent_cand(cos)}\n"
            "SELECT vec_id, nbr FROM cand"
        ),
    )
    hold_view(
        spark,
        "nnd_truth_mat",
        spark.sql(
            f"WITH {corpus_cte},\n{_NN_PANEL},\n{_nn_descent_truth(cos)}\n"
            "SELECT vec_id, nbr FROM truth"
        ),
    )
    return spark.sql(
        f"""WITH {corpus_cte},
{_NN_PANEL},
{initp_cte},
cand AS (SELECT vec_id, nbr FROM nnd_cand_mat),
truth AS (SELECT vec_id, nbr FROM nnd_truth_mat),
{_nn_descent_tail(cos)}"""
    )


query(
    "nn_descent_round_recall",
    oracle=_nn_descent_sql(_DOT_DUCK, _D_DUCK),
    tags=("similarity", "ann", "nn-descent", "graph", "quality-eval"),
)(_nn_descent_round_fn)


# --- NN-descent iterated to the graph fixpoint -------------------------------
# The production form of `nn_descent_round_recall` (VERDICT r10 item
# 2): iterate the neighbor-of-neighbor expansion over the FULL point
# set until the kNN graph stops changing, the convergence-gated
# driver-loop pattern of `pagerank_converged`/`kmeans_converged`.
# Init graph = per-point same-label top-5 (the IVF-style blocking the
# engine already uses); each round ranks candidates = current
# neighbors UNION neighbors-of-neighbors by exact cosine and keeps
# top-5. The gate is an INTEGER one-way set difference (new edges not
# in the old graph): per point the candidate pool contains its current
# neighbors, so the new per-point list can only stay or grow toward
# the within-blocking exact top-5 — new == old iff (new MINUS old) is
# empty. Cosines are ROUND(.., 9) of the shared sequential-fold dot
# product (bit-identical IEEE sequence in both engines), ties break on
# nbr vec_id, so the graph trajectory and the round count are
# deterministic; n_rounds is value-pinned in the single output row,
# alongside recall@5 of the CONVERGED graph against the exact global
# top-5 truth on the 32-point panel (labels block cross-label edges,
# so converged recall < 1 by construction — it measures what the
# blocking gives up). The DuckDB oracle unrolls the identical
# recurrence as a recursive CTE with data-dependent depth. Scale
# shape per round: candidate generation is a self-equi-join of the
# k-regular edge relation (|V| x k^2 rows, never all-pairs), scoring
# joins the corpus on both endpoints (two shuffles on vec_id), and
# the top-5 is a windowed rank — the canonical distributed NN-descent
# round, checkpointed like the CC loop.
_NND_MAX_ROUNDS = 10

_NND_COS_SPARK = (
    "ROUND(" + _DOT_SPARK.format(a="p.vec", b="c.vec") + " / (SQRT("
    + _DOT_SPARK.format(a="p.vec", b="p.vec") + ") * SQRT("
    + _DOT_SPARK.format(a="c.vec", b="c.vec") + ")), 9)"
)
_NND_COS_DUCK = (
    "ROUND(" + _DOT_DUCK.format(a="p.vec", b="c.vec") + " / (SQRT("
    + _DOT_DUCK.format(a="p.vec", b="p.vec") + ") * SQRT("
    + _DOT_DUCK.format(a="c.vec", b="c.vec") + ")), 9)"
)


def _nnd_summary_sql(cos: str, n_rounds_expr: str) -> str:
    """Shared final-summary SQL over views/CTEs `nnd_corpus` (vec_id,
    label, vec) and `nnd_final` (vec_id, nbr)."""
    return f"""
WITH truth AS (
    SELECT vec_id, nbr FROM (
        SELECT p.vec_id, c.vec_id AS nbr,
               ROW_NUMBER() OVER (PARTITION BY p.vec_id
                                  ORDER BY {cos} DESC, c.vec_id) AS rn
        FROM nnd_corpus p
        JOIN nnd_corpus c ON c.vec_id <> p.vec_id
        WHERE p.vec_id < 32
    ) r WHERE rn <= 5
),
hits AS (
    SELECT t.vec_id, COUNT(f.nbr) AS h
    FROM truth t LEFT JOIN nnd_final f
      ON f.vec_id = t.vec_id AND f.nbr = t.nbr
    GROUP BY t.vec_id
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM nnd_corpus) AS n_points,
       {n_rounds_expr} AS n_rounds,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM nnd_final) AS n_edges,
       ROUND(CAST(SUM(h) AS DOUBLE) / (5 * COUNT(*)), 9)
           AS recall5_converged
FROM hits
"""


def _nn_descent_converged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NN-descent to the kNN-graph fixpoint (see block comment)."""
    from crypto_lakehouse_spark.operators.checkpointing import (
        release_lineage,
        truncate_lineage,
    )

    register_views(spark, sf_dir, ["embeddings"])
    corpus = spark.sql(
        "SELECT vec_id, label, "
        + _D_SPARK.format(e="embedding")
        + " AS vec FROM embeddings WHERE embedding IS NOT NULL"
    ).persist()
    corpus.createOrReplaceTempView("nnd_corpus")

    g = truncate_lineage(
        spark.sql(
            f"""
SELECT vec_id, nbr FROM (
    SELECT p.vec_id, c.vec_id AS nbr,
           ROW_NUMBER() OVER (PARTITION BY p.vec_id
                              ORDER BY {_NND_COS_SPARK} DESC,
                                       c.vec_id) AS rn
    FROM nnd_corpus p
    JOIN nnd_corpus c ON c.label = p.label AND c.vec_id <> p.vec_id
) r WHERE rn <= 5
"""
        ),
        spark,
    )
    rounds = 0
    while rounds < _NND_MAX_ROUNDS:
        g.createOrReplaceTempView("nnd_g")
        new_g = truncate_lineage(
            spark.sql(
                f"""
WITH cand AS (
    SELECT DISTINCT vec_id, nbr FROM (
        SELECT vec_id, nbr FROM nnd_g
        UNION ALL
        SELECT a.vec_id, b.nbr FROM nnd_g a JOIN nnd_g b ON b.vec_id = a.nbr
    ) u WHERE vec_id <> nbr
)
SELECT vec_id, nbr FROM (
    SELECT cd.vec_id, cd.nbr,
           ROW_NUMBER() OVER (PARTITION BY cd.vec_id
                              ORDER BY {_NND_COS_SPARK} DESC,
                                       cd.nbr) AS rn
    FROM cand cd
    JOIN nnd_corpus p ON p.vec_id = cd.vec_id
    JOIN nnd_corpus c ON c.vec_id = cd.nbr
) r WHERE rn <= 5
"""
            ),
            spark,
        )
        grown = new_g.join(g, ["vec_id", "nbr"], "left_anti").count()
        if grown == 0:
            release_lineage(new_g)
            break
        release_lineage(g)
        g = new_g
        rounds += 1
    g.createOrReplaceTempView("nnd_final")
    out = spark.sql(
        _nnd_summary_sql(_NND_COS_SPARK, f"CAST({rounds} AS BIGINT)")
    )
    # Single-row summary: materialize eagerly, then release the final
    # checkpointed neighbor frame (see _kmeans_converged — prevents
    # localCheckpoint block accumulation across repeated invocations).
    result = spark.createDataFrame(out.collect(), out.schema)
    release_lineage(g)
    corpus.unpersist()
    return result


_NND_CONV_DUCK = f"""
WITH RECURSIVE
nnd_corpus AS (
    SELECT vec_id, label, {_D_DUCK.format(e="embedding")} AS vec
    FROM embeddings WHERE embedding IS NOT NULL
),
it(iter, vec_id, nbr) AS (
    SELECT 0, vec_id, nbr FROM (
        SELECT p.vec_id, c.vec_id AS nbr,
               ROW_NUMBER() OVER (PARTITION BY p.vec_id
                                  ORDER BY {_NND_COS_DUCK} DESC,
                                           c.vec_id) AS rn
        FROM nnd_corpus p
        JOIN nnd_corpus c ON c.label = p.label AND c.vec_id <> p.vec_id
    ) r WHERE rn <= 5
    UNION ALL
    SELECT prev_iter + 1, vec_id, nbr FROM (
        WITH cand AS (
            SELECT DISTINCT vec_id, nbr FROM (
                SELECT vec_id, nbr FROM it
                UNION ALL
                SELECT a.vec_id, b.nbr FROM it a JOIN it b ON b.vec_id = a.nbr
            ) u WHERE vec_id <> nbr
        ),
        newg AS (
            SELECT vec_id, nbr FROM (
                SELECT cd.vec_id, cd.nbr,
                       ROW_NUMBER() OVER (PARTITION BY cd.vec_id
                                          ORDER BY {_NND_COS_DUCK} DESC,
                                                   cd.nbr) AS rn
                FROM cand cd
                JOIN nnd_corpus p ON p.vec_id = cd.vec_id
                JOIN nnd_corpus c ON c.vec_id = cd.nbr
            ) r WHERE rn <= 5
        )
        SELECT n.vec_id, n.nbr,
               (SELECT MAX(iter) FROM it) AS prev_iter
        FROM newg n
        CROSS JOIN (SELECT COUNT(*) AS d
                    FROM newg x LEFT JOIN it p
                      ON p.vec_id = x.vec_id AND p.nbr = x.nbr
                    WHERE p.nbr IS NULL) g
        WHERE g.d > 0 AND (SELECT MAX(iter) FROM it) < {_NND_MAX_ROUNDS}
    ) z
),
nnd_final AS (
    SELECT vec_id, nbr FROM it WHERE iter = (SELECT MAX(iter) FROM it)
),
summary AS ({_nnd_summary_sql(_NND_COS_DUCK,
                              "(SELECT CAST(MAX(iter) AS BIGINT) FROM it)")})
SELECT * FROM summary
"""

query(
    "nn_descent_converged",
    oracle=_NND_CONV_DUCK,
    tags=("similarity", "ann", "nn-descent", "graph", "iterative",
          "convergence-gated"),
    # Data-dependent depth: correctness-gated but kept out of the
    # bench suite — nn_descent_round_recall is the benched fixed-depth
    # representative of the same per-round plan.
    bench=False,
)(_nn_descent_converged)


# --- Johnson-Lindenstrauss projection distortion census ---------------------
# The dimensionality-reduction pre-pass embedding stores run before
# clustering/ANN at scale (random signed projection, Achlioptas 2003):
# project 64-d vectors to 16-d with a deterministic +-1 matrix
# (sign(k, i) from md5('k:i'), the same derivation as the LSH
# hyperplanes) scaled by 1/sqrt(16), and CENSUS the pairwise-distance
# distortion the JL lemma promises on a 24-point panel (276 pairs):
# per pair, original L2, projected L2, and their ratio. Every double
# on the path is a sequential fold in a defined order (dims by index,
# projection components by k), so both engines produce bit-identical
# values and the rounded report value-hashes — the measured answer to
# "how much does 4x compression distort MY distances", not a lemma
# citation. Scale shape: the projection is a narrow per-row map
# (64 x 16 multiply-adds inside codegen; at 100 TB it runs in the
# ingest scan); only the 276-pair panel census joins, and the panel
# is a constant.
_JL_OUT = 16

_JL_SIGN_SPARK = (
    "CASE WHEN substr(md5(CAST({k} AS STRING) || ':' || CAST({i} AS STRING)),"
    " 1, 1) IN ('8','9','a','b','c','d','e','f')"
    " THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END"
)
_JL_SIGN_DUCK = _JL_SIGN_SPARK  # same text: md5/substr/CASE are shared

_JL_PROJ_SPARK = (
    f"transform(sequence(0, {_JL_OUT - 1}), k -> "
    "aggregate(zip_with(v, sequence(0, 63), (x, i) -> x * "
    + _JL_SIGN_SPARK.format(k="k", i="i")
    + f"), CAST(0.0 AS DOUBLE), (a, b) -> a + b) / SQRT({_JL_OUT}.0))"
)
_JL_PROJ_DUCK = (
    f"list_transform(range(0, {_JL_OUT}), k -> "
    "list_reduce(list_transform(range(1, 65), i -> v[i] * "
    + _JL_SIGN_DUCK.format(k="k", i="i - 1")
    + f"), (a, b) -> a + b) / SQRT({_JL_OUT}.0))"
)


def _jl_sql(dbl: str, proj: str, d2_dims: str, d2_proj: str) -> str:
    return f"""
WITH panel AS (
    SELECT vec_id, {dbl.format(e='embedding')} AS v
    FROM embeddings WHERE vec_id < 24
),
proj AS (
    SELECT vec_id, v, {proj} AS p FROM panel
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       ROUND(SQRT({d2_dims}), 9) AS dist_orig,
       ROUND(SQRT({d2_proj}), 9) AS dist_proj,
       ROUND(SQRT({d2_proj}) / SQRT({d2_dims}), 9) AS distortion
FROM proj a JOIN proj b ON a.vec_id < b.vec_id
ORDER BY vec_a, vec_b
"""


_JL_D2_DIMS_SPARK = (
    "aggregate(zip_with(a.v, b.v, (x, y) -> (x - y) * (x - y)), "
    "CAST(0.0 AS DOUBLE), (s, t) -> s + t)"
)
_JL_D2_PROJ_SPARK = (
    "aggregate(zip_with(a.p, b.p, (x, y) -> (x - y) * (x - y)), "
    "CAST(0.0 AS DOUBLE), (s, t) -> s + t)"
)
_JL_D2_DIMS_DUCK = (
    "list_reduce(list_transform(range(1, 65), "
    "i -> (a.v[i] - b.v[i]) * (a.v[i] - b.v[i])), (s, t) -> s + t)"
)
_JL_D2_PROJ_DUCK = (
    f"list_reduce(list_transform(range(1, {_JL_OUT + 1}), "
    "i -> (a.p[i] - b.p[i]) * (a.p[i] - b.p[i])), (s, t) -> s + t)"
)

_pair(
    "jl_projection_distortion",
    _jl_sql(_D_SPARK, _JL_PROJ_SPARK, _JL_D2_DIMS_SPARK, _JL_D2_PROJ_SPARK),
    _jl_sql(_D_DUCK, _JL_PROJ_DUCK, _JL_D2_DIMS_DUCK, _JL_D2_PROJ_DUCK),
    tags=("similarity", "embedding", "projection", "jl-lemma"),
)


# --- contrastive negative mining ---------------------------------------------
# The training-pair construction step of every embedding/contrastive
# pipeline (SimCSE/DPR-style): for each anchor in a query panel, mine
# (a) the HARD negative — the most-similar corpus vector with a
# DIFFERENT label (the informative near-miss gradient), and (b) k=3
# RANDOM negatives — different-label vectors ranked by a
# cryptographic hash of (anchor, candidate), i.e. deterministic
# pseudo-random sampling with no RNG state (the same device as
# stratified_sample_docs). Cosines are ROUND(..,9) of the shared
# sequential-fold dot product; all ranking ties break on vec_id. One
# output row per (anchor, negative) with the kind tagged, so the
# result is the actual pair table a trainer would consume. Scale
# shape: both legs are panel x corpus scans (the benched
# embedding_cosine_topk shape — anchor side broadcasts, corpus scan
# embarrassingly parallel, per-anchor top-k is a windowed rank); the
# hash leg needs no similarity at all, so at 100 TB it degrades to a
# pure map + per-anchor TakeOrdered.
def _contrastive_sql(dot: str, dbl: str) -> str:
    cos = (
        "ROUND("
        + dot.format(a="p.vec", b="c.vec")
        + " / (SQRT("
        + dot.format(a="p.vec", b="p.vec")
        + ") * SQRT("
        + dot.format(a="c.vec", b="c.vec")
        + ")), 9)"
    )
    return f"""
WITH corpus AS (
    SELECT vec_id, label, {dbl.format(e='embedding')} AS vec
    FROM embeddings WHERE embedding IS NOT NULL
),
panel AS (SELECT * FROM corpus WHERE vec_id < 32),
hard AS (
    SELECT anchor_id, neg_id, cosine FROM (
        SELECT p.vec_id AS anchor_id, c.vec_id AS neg_id,
               {cos} AS cosine,
               ROW_NUMBER() OVER (PARTITION BY p.vec_id
                                  ORDER BY {cos} DESC, c.vec_id) AS rn
        FROM panel p
        JOIN corpus c ON c.label <> p.label
    ) h WHERE rn = 1
),
rand_ids AS (
    -- rank by hash FIRST over ids only; cosine is computed below for
    -- just the 3 selected pairs per anchor — the hash leg itself
    -- touches no vectors (the claimed 100 TB shape).
    SELECT anchor_id, neg_id FROM (
        SELECT p.vec_id AS anchor_id, c.vec_id AS neg_id,
               ROW_NUMBER() OVER (
                   PARTITION BY p.vec_id
                   ORDER BY md5(CAST(p.vec_id AS STRING) || ':'
                                || CAST(c.vec_id AS STRING)),
                            c.vec_id) AS rn
        FROM panel p
        JOIN corpus c ON c.label <> p.label
    ) r WHERE rn <= 3
),
rand AS (
    SELECT ri.anchor_id, ri.neg_id, {cos} AS cosine
    FROM rand_ids ri
    JOIN panel p ON p.vec_id = ri.anchor_id
    JOIN corpus c ON c.vec_id = ri.neg_id
)
SELECT anchor_id, kind, neg_id, cosine FROM (
    SELECT anchor_id, 'hard' AS kind, neg_id, cosine FROM hard
    UNION ALL
    SELECT anchor_id, 'random', neg_id, cosine FROM rand
) u
ORDER BY anchor_id, kind, neg_id
"""


_pair(
    "contrastive_negatives_mine",
    _contrastive_sql(_DOT_SPARK, _D_SPARK),
    _contrastive_sql(_DOT_DUCK, _D_DUCK),
    tags=("similarity", "trainprep", "contrastive", "negative-mining"),
)


# --- k-center greedy coreset selection ----------------------------------------
# The standard coreset/data-pruning baseline (Gonzalez 1985 greedy
# 2-approximation; the selection rule behind active-learning "core-set"
# sampling, Sener & Savarese 2018): seed with the min vec_id, then k-1
# times add the point FARTHEST from its nearest already-chosen center.
# Complements semdedup (which prunes redundancy) — k-center picks the
# maximally COVERING subset, and final_coverage_sq is the certified
# covering radius (squared L2).
#
# Both engines run the IDENTICAL unrolled recurrence (k=8 chained
# CTEs): c_i = argmax of the maintained min-distance, d_i = LEAST of
# the running distance and the distance to the new center — each step
# is one corpus map + one TakeOrdered(1), never an all-pairs product.
# Scale shape: k sequential passes, each corpus-linear with a bounded
# top-1 reduction; driver/plan state is k rows. Distances are
# dim-ordered float folds (bit-identical across engines, same
# discipline as the k-means family); ROUND(9) only on output.

_KC_K = 8

_KC_L2_SPARK = (
    "aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), "
    "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
)
_KC_L2_DUCK = (
    "list_reduce(list_prepend(CAST(0 AS DOUBLE), "
    "list_transform(range(1, 65), "
    "i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))), (acc, v) -> acc + v)"
)


def _kcenter_sql(vecs_sql: str, l2: str) -> str:
    parts = [
        f"WITH vecs AS ({vecs_sql}),",
        "c1 AS (SELECT vec_id, v, CAST(0 AS DOUBLE) AS dist FROM vecs "
        "WHERE vec_id = (SELECT MIN(vec_id) FROM vecs)),",
        f"d1 AS (SELECT d.vec_id, d.v, {l2.format(a='d.v', b='c.v')} AS dist"
        " FROM vecs d CROSS JOIN c1 c WHERE d.vec_id <> c.vec_id),",
    ]
    for i in range(2, _KC_K + 1):
        parts.append(
            f"c{i} AS (SELECT vec_id, v, dist FROM d{i - 1} "
            "ORDER BY dist DESC, vec_id LIMIT 1),"
        )
        parts.append(
            f"d{i} AS (SELECT d.vec_id, d.v, "
            f"LEAST(d.dist, {l2.format(a='d.v', b='c.v')}) AS dist "
            f"FROM d{i - 1} d CROSS JOIN c{i} c WHERE d.vec_id <> c.vec_id),"
        )
    union = "\n    UNION ALL\n    ".join(
        f"SELECT {i} AS step, vec_id, dist FROM c{i}"
        for i in range(1, _KC_K + 1)
    )
    parts.append(f"sel AS (\n    {union}\n)")
    parts.append(
        f"""
SELECT CAST(s.step AS BIGINT) AS step,
       s.vec_id AS center_vec_id,
       ROUND(s.dist, 9) AS sel_dist_sq,
       ROUND(z.cov, 9) AS final_coverage_sq
FROM sel s
CROSS JOIN (SELECT MAX(dist) AS cov FROM d{_KC_K}) z
ORDER BY step
"""
    )
    return "\n".join(parts)


def _coreset_kcenter_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-center greedy, driver-loop form (see block comment). Spark
    has no CTE materialization, so the unrolled-CTE shape the DuckDB
    oracle runs would re-evaluate the whole distance chain per step
    (exponential plan growth — measured 31 s at sf0.001); instead each
    round's min-distance relation is lineage-truncated once and the
    argmax is a 1-row TakeOrdered collect, the same discipline as
    kmeans_converged."""
    from crypto_lakehouse_spark.operators.checkpointing import (
        release_lineage,
        truncate_lineage,
    )

    register_views(spark, sf_dir, ["embeddings"])
    spark.sql(
        "SELECT vec_id, transform(embedding, x -> CAST(x AS DOUBLE)) AS v "
        "FROM embeddings WHERE embedding IS NOT NULL"
    ).createOrReplaceTempView("kc_vecs")
    _KC_SCHEMA = (
        "step bigint, center_vec_id bigint, sel_dist_sq double, "
        "final_coverage_sq double"
    )
    seed = spark.sql(
        "SELECT MIN(vec_id) AS vec_id FROM kc_vecs"
    ).collect()[0]["vec_id"]
    if seed is None:  # empty corpus: no centers to pick
        return spark.createDataFrame([], _KC_SCHEMA)
    l2 = _KC_L2_SPARK.format(a="d.v", b="c.v")
    # The 1-row center side MUST broadcast explicitly: it derives from
    # a checkpointed LogicalRDD whose size statistics are unknown, so
    # without the hint the CROSS JOIN plans as a CartesianProduct whose
    # partition count MULTIPLIES each round (32 -> 1024 -> 1,048,576
    # tasks by round 3 — observed live before the hint).
    d = truncate_lineage(
        spark.sql(
            f"""SELECT /*+ BROADCAST(c) */ d.vec_id, d.v, {l2} AS dist
FROM kc_vecs d CROSS JOIN (SELECT v FROM kc_vecs WHERE vec_id = {seed}) c
WHERE d.vec_id <> {seed}"""
        ),
        spark,
    )
    centers = [(1, int(seed), 0.0)]
    for i in range(2, _KC_K + 1):
        d.createOrReplaceTempView("kc_d")
        top_rows = spark.sql(
            "SELECT vec_id, ROUND(dist, 9) AS dist_r FROM kc_d "
            "ORDER BY dist DESC, vec_id LIMIT 1"
        ).collect()
        if not top_rows:  # corpus smaller than k: all points chosen
            break
        top = top_rows[0]
        centers.append((i, int(top["vec_id"]), float(top["dist_r"])))
        new_d = truncate_lineage(
            spark.sql(
                f"""SELECT /*+ BROADCAST(c) */ d.vec_id, d.v,
       LEAST(d.dist, {l2}) AS dist
FROM kc_d d CROSS JOIN (SELECT v FROM kc_d WHERE vec_id = {top["vec_id"]}) c
WHERE d.vec_id <> {top["vec_id"]}"""
            ),
            spark,
        )
        release_lineage(d)
        d = new_d
    d.createOrReplaceTempView("kc_d")
    cov = spark.sql(
        "SELECT ROUND(MAX(dist), 9) AS cov FROM kc_d"
    ).collect()[0]["cov"]
    release_lineage(d)
    cov = None if cov is None else float(cov)  # <= k points: no
    return spark.createDataFrame(  # remainder, NULL coverage (oracle
        [(s, c, sd, cov) for s, c, sd in centers], _KC_SCHEMA  # too)
    )


query(
    "coreset_kcenter_greedy",
    oracle=_kcenter_sql(
        "SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE))"
        " AS v FROM embeddings WHERE embedding IS NOT NULL",
        _KC_L2_DUCK,
    ),
    tags=("similarity", "coreset", "sampling", "data-pruning"),
)(_coreset_kcenter_greedy)


# --- simplified silhouette (clustering quality diagnostic) --------------------
# The linear-time clustering diagnostic (Hruschka et al.'s simplified
# silhouette; what sklearn users approximate when N^2 pairwise is off
# the table): after one Lloyd step from the kmeans_one_step seeds,
# score every vector s = (b - a) / max(a, b) with a = distance to its
# OWN updated centroid and b = the nearest OTHER centroid — per
# cluster: member count, mean/min silhouette, and the misfit count
# (s < 0 means the vector sits closer to another centroid: the
# re-assignment pressure k-means' next round would act on). Exactly
# the "is k right / did clustering converge well" report a curation
# run publishes next to semdedup yields.
#
# Scale shape: the N x k distance matrix is the SAME broadcast-join
# cost as one Lloyd assignment (no pairwise N^2 anywhere); centroid
# arrays fold dim-ordered, member sums fold vec_id-ordered, ROUND(12)
# -> DECIMAL before the per-cluster mean — the family's bit-exactness
# discipline throughout.

_SIL_SPARK = """
WITH vecs AS (
    SELECT vec_id, transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings WHERE embedding IS NOT NULL
),
cents AS (SELECT vec_id AS cid, v AS c FROM vecs WHERE vec_id < 4),
assigned AS (
    SELECT vec_id, cid, v FROM (
        SELECT vecs.vec_id, cents.cid, vecs.v,
               ROW_NUMBER() OVER (
                   PARTITION BY vecs.vec_id
                   ORDER BY aggregate(zip_with(vecs.v, cents.c,
                                (x, y) -> (x - y) * (x - y)),
                            CAST(0 AS DOUBLE), (a, b) -> a + b),
                            cents.cid) AS rn
        FROM vecs CROSS JOIN cents
    ) WHERE rn = 1
),
dimvals AS (
    SELECT cid, dim, vec_id, element_at(v, dim) AS val
    FROM assigned
    CROSS JOIN (SELECT explode(sequence(1, 64)) AS dim)
),
dimmeans AS (
    SELECT cid, dim,
           aggregate(transform(array_sort(collect_list(struct(vec_id, val))),
                     s -> s.val), CAST(0 AS DOUBLE), (a, b) -> a + b)
               / COUNT(*) AS mean_d
    FROM dimvals GROUP BY cid, dim
),
cents2 AS (
    SELECT cid,
           transform(array_sort(collect_list(struct(dim, mean_d))),
                     s -> s.mean_d) AS c
    FROM dimmeans GROUP BY cid
),
dists AS (
    SELECT /*+ BROADCAST(c) */ a.vec_id, a.cid AS own, c.cid,
           SQRT(aggregate(zip_with(a.v, c.c, (x, y) -> (x - y) * (x - y)),
                CAST(0 AS DOUBLE), (p, q) -> p + q)) AS dist
    FROM assigned a CROSS JOIN cents2 c
),
sil AS (
    SELECT vec_id, own,
           MAX(CASE WHEN cid = own THEN dist END) AS a_d,
           MIN(CASE WHEN cid <> own THEN dist END) AS b_d
    FROM dists GROUP BY vec_id, own
),
scored AS (
    SELECT own AS cid,
           CAST(ROUND(CASE WHEN GREATEST(a_d, b_d) = 0 THEN 0
                           ELSE (b_d - a_d) / GREATEST(a_d, b_d) END, 12)
                AS DECIMAL(16, 12)) AS s
    FROM sil
)
SELECT cid AS cluster_id,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       ROUND(CAST(SUM(s) AS DOUBLE) / COUNT(*), 9) AS mean_silhouette,
       ROUND(CAST(MIN(s) AS DOUBLE), 9) AS min_silhouette,
       CAST(SUM(CASE WHEN s < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_misfit
FROM scored GROUP BY cid ORDER BY cluster_id
"""

_SIL_DUCK = """
WITH vecs AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings WHERE embedding IS NOT NULL
),
cents AS (SELECT vec_id AS cid, v AS c FROM vecs WHERE vec_id < 4),
assigned AS (
    SELECT vec_id, cid, v FROM (
        SELECT vecs.vec_id, cents.cid, vecs.v,
               ROW_NUMBER() OVER (
                   PARTITION BY vecs.vec_id
                   ORDER BY list_reduce(list_transform(range(1, 65),
                                i -> (vecs.v[i] - cents.c[i])
                                     * (vecs.v[i] - cents.c[i])),
                            (a, b) -> a + b),
                            cents.cid) AS rn
        FROM vecs CROSS JOIN cents
    ) WHERE rn = 1
),
dimvals AS (
    SELECT cid, dim, vec_id, v[dim] AS val
    FROM assigned
    CROSS JOIN (SELECT unnest(range(1, 65)) AS dim)
),
dimmeans AS (
    SELECT cid, dim,
           list_reduce(list(val ORDER BY vec_id), (a, b) -> a + b)
               / COUNT(*) AS mean_d
    FROM dimvals GROUP BY cid, dim
),
cents2 AS (
    SELECT cid, list(mean_d ORDER BY dim) AS c
    FROM dimmeans GROUP BY cid
),
dists AS (
    SELECT a.vec_id, a.cid AS own, c.cid,
           SQRT(list_reduce(list_transform(range(1, 65),
                i -> (a.v[i] - c.c[i]) * (a.v[i] - c.c[i])),
                (p, q) -> p + q)) AS dist
    FROM assigned a CROSS JOIN cents2 c
),
sil AS (
    SELECT vec_id, own,
           MAX(CASE WHEN cid = own THEN dist END) AS a_d,
           MIN(CASE WHEN cid <> own THEN dist END) AS b_d
    FROM dists GROUP BY vec_id, own
),
scored AS (
    SELECT own AS cid,
           CAST(ROUND(CASE WHEN GREATEST(a_d, b_d) = 0 THEN 0
                           ELSE (b_d - a_d) / GREATEST(a_d, b_d) END, 12)
                AS DECIMAL(16, 12)) AS s
    FROM sil
)
SELECT cid AS cluster_id,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       ROUND(CAST(SUM(s) AS DOUBLE) / COUNT(*), 9) AS mean_silhouette,
       ROUND(CAST(MIN(s) AS DOUBLE), 9) AS min_silhouette,
       CAST(SUM(CASE WHEN s < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_misfit
FROM scored GROUP BY cid ORDER BY cluster_id
"""

_pair(
    "kmeans_simplified_silhouette",
    _SIL_SPARK,
    _SIL_DUCK,
    tags=("similarity", "clustering", "diagnostics", "silhouette"),
)


# --- prototypicality pruning (Sorscher et al. 2022) -------------------------
# "Beyond neural scaling laws: beating power law scaling via data
# pruning" — the SSL-prototype selection rule: cluster the embedding
# space, score each example by its distance to its cluster centroid,
# and (data-abundant regime) PRUNE the most prototypical (closest)
# examples, keeping the hard ones. Here: one Lloyd step from the
# kmeans_one_step seeds (vec_id < 4 — deterministic, shared with the
# whole k-means family), exact sequential-fold centroid means and
# distances (bit-reproducible cross-engine, same discipline as
# kmeans_converged), then a per-cluster NTILE(4) by (distance,
# vec_id) with quartile 1 = most prototypical = pruned. Scale shape:
# the N x k assignment is a broadcast of k centroid rows over an
# embarrassingly-parallel scan, the centroid recompute is one shuffle
# of exploded dims into k x 64 groups, and the quartile window
# partitions by cid — corpus-linear, no N^2 anywhere.

_PROTO_SPARK = """
WITH vecs AS (
    SELECT vec_id, transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings WHERE embedding IS NOT NULL
),
cents AS (SELECT vec_id AS cid, v AS c FROM vecs WHERE vec_id < 4),
assigned AS (
    SELECT vec_id, cid, v FROM (
        SELECT vecs.vec_id, cents.cid, vecs.v,
               ROW_NUMBER() OVER (
                   PARTITION BY vecs.vec_id
                   ORDER BY aggregate(zip_with(vecs.v, cents.c,
                                (x, y) -> (x - y) * (x - y)),
                            CAST(0 AS DOUBLE), (a, b) -> a + b),
                            cents.cid) AS rn
        FROM vecs CROSS JOIN cents
    ) WHERE rn = 1
),
dimmeans AS (
    SELECT cid, dim,
           aggregate(transform(array_sort(collect_list(struct(vec_id, val))),
                     s -> s.val), CAST(0 AS DOUBLE), (a, b) -> a + b)
               / COUNT(*) AS mean_d
    FROM (
        SELECT cid, dim, vec_id, element_at(v, dim) AS val
        FROM assigned
        CROSS JOIN (SELECT explode(sequence(1, 64)) AS dim)
    ) GROUP BY cid, dim
),
centroids AS (
    SELECT cid,
           transform(array_sort(collect_list(struct(dim, mean_d))),
                     s -> s.mean_d) AS c
    FROM dimmeans GROUP BY cid
),
dists AS (
    SELECT a.vec_id, a.cid,
           SQRT(aggregate(zip_with(a.v, c.c, (x, y) -> (x - y) * (x - y)),
                CAST(0 AS DOUBLE), (acc, s) -> acc + s)) AS dist
    FROM assigned a JOIN centroids c ON a.cid = c.cid
)
SELECT vec_id, cid AS cluster_id,
       ROUND(dist, 9) AS dist_to_centroid,
       q AS quartile, q >= 2 AS keep
FROM (
    SELECT vec_id, cid, dist,
           NTILE(4) OVER (PARTITION BY cid ORDER BY dist, vec_id) AS q
    FROM dists
)
ORDER BY vec_id
"""

_PROTO_DUCK = """
WITH vecs AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings WHERE embedding IS NOT NULL
),
cents AS (SELECT vec_id AS cid, v AS c FROM vecs WHERE vec_id < 4),
assigned AS (
    SELECT vec_id, cid, v FROM (
        SELECT vecs.vec_id, cents.cid, vecs.v,
               ROW_NUMBER() OVER (
                   PARTITION BY vecs.vec_id
                   ORDER BY list_reduce(list_transform(range(1, 65),
                                i -> (vecs.v[i] - cents.c[i])
                                     * (vecs.v[i] - cents.c[i])),
                            (a, b) -> a + b),
                            cents.cid) AS rn
        FROM vecs CROSS JOIN cents
    ) WHERE rn = 1
),
dimmeans AS (
    SELECT cid, dim,
           list_reduce(list(val ORDER BY vec_id), (a, b) -> a + b)
               / COUNT(*) AS mean_d
    FROM (
        SELECT cid, dim, vec_id, v[dim] AS val
        FROM assigned
        CROSS JOIN (SELECT unnest(range(1, 65)) AS dim)
    ) GROUP BY cid, dim
),
centroids AS (
    SELECT cid, list(mean_d ORDER BY dim) AS c
    FROM dimmeans GROUP BY cid
),
dists AS (
    SELECT a.vec_id, a.cid,
           SQRT(list_reduce(list_transform(range(1, 65),
                i -> (a.v[i] - c.c[i]) * (a.v[i] - c.c[i])),
                (acc, s) -> acc + s)) AS dist
    FROM assigned a JOIN centroids c ON a.cid = c.cid
)
SELECT vec_id, cid AS cluster_id,
       ROUND(dist, 9) AS dist_to_centroid,
       q AS quartile, q >= 2 AS keep
FROM (
    SELECT vec_id, cid, dist,
           NTILE(4) OVER (PARTITION BY cid ORDER BY dist, vec_id) AS q
    FROM dists
)
ORDER BY vec_id
"""

_pair(
    "prototypicality_pruning",
    _PROTO_SPARK,
    _PROTO_DUCK,
    tags=("similarity", "clustering", "data-pruning", "selection"),
)
