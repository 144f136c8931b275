"""Training-data-pipeline operators, batch 2: document fingerprinting
(winnowing), IVF-style ANN, embedding-cosine near-dup, and event-stream
funnel / retention analytics.

Scale notes (the 100 TB framing):
- `doc_fingerprint_winnow`: grams and window-minima are computed
  per-document (window partitioned by doc_id), so the whole operator is
  one shuffle on doc_id; fingerprints-per-doc is bounded by the
  winnowing guarantee (one per sliding window position, dedup'd), not
  by document length.
- `embedding_ivf_topk`: the IVF pattern — a tiny centroid table
  (|labels| rows, broadcast) prunes the corpus scan to `nprobe=2`
  inverted lists before any exact scoring. The probe assignment is a
  broadcast nested loop over |Q| x |centroids|; the exact search
  shuffles only the probed lists. The label column serves as the
  trained coarse quantizer (public IVF formulation, e.g. FAISS docs).
- `embedding_near_dup`: candidates come from an 8-hyperplane LSH
  bucket equi-join (same signature construction as
  `embedding_lsh_buckets`), then exact cosine verification — never an
  all-pairs product. Synthetic dups are injected in-query (the driver
  corpus has none: max observed off-diagonal cosine is 0.44): an exact
  copy of every 20th vector and a first-element +0.5 perturbation of
  every 40th. The perturbation is a single f32 addition, bit-identical
  across engines (both operands exactly representable; one rounding).
- `event_funnel` / `weekly_retention`: chained MIN-timestamp
  aggregations and a cohort triangle — each one shuffle on user_id;
  cohort/activity week via date_trunc('week', ...) (Monday-start in
  both engines).

Determinism: dot products are sequential left folds on doubles
(bit-identical in both engines); centroid means are rounded to 6
decimals before use; cosines rounded to 9; every ORDER BY carries a
unique tie-break.

DuckDB-oracle caveat: DuckDB's `range()` cannot be laterally
correlated, so the oracle enumerates gram positions with a fixed
1..128 cross join filtered by document length (driver documents are
<= 100 tokens; the Spark side uses a proper per-row `sequence`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from crypto_lakehouse_spark.io import register_views
from crypto_lakehouse_spark.queries.fixture_meter import fixture, hold_view
from crypto_lakehouse_spark.queries.registry import query


def _pair(
    name: str,
    spark_sql: str,
    duck_sql: str,
    tables: list[str],
    tags: tuple[str, ...],
    bench: bool = True,
) -> None:
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        register_views(spark, sf_dir, tables)
        return spark.sql(spark_sql)

    fn.__name__ = name
    fn.__doc__ = (
        "Paired-dialect SQL (semantics documented in the module "
        f"docstring). Spark SQL:\n{spark_sql}"
    )
    query(name, oracle=duck_sql, tags=tags, bench=bench)(fn)


# --- document fingerprinting: winnowing over 4-gram rolling hashes ---------
# Gram hash h_i = md5(4 consecutive tokens); fingerprint set = distinct
# minima of each 4-wide sliding window of gram hashes (the winnowing
# scheme of Schleimer/Wilkerson/Aiken, SIGMOD'03).
_WINNOW_TAIL = """
wins AS (
    SELECT doc_id, i, g,
           MIN(h) OVER (PARTITION BY doc_id ORDER BY i
                        ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin
    FROM grams
)
SELECT doc_id,
       COUNT(DISTINCT wmin) AS n_fingerprints,
       {agg} AS fingerprint
FROM wins
WHERE i <= g - 3
GROUP BY doc_id
ORDER BY doc_id
"""

_pair(
    "doc_fingerprint_winnow",
    """
WITH grams AS (
    SELECT doc_id, i, size(ws) - 3 AS g,
           md5(concat_ws(' ', element_at(ws, i), element_at(ws, i + 1),
                         element_at(ws, i + 2), element_at(ws, i + 3))) AS h
    FROM (SELECT doc_id, ws
          FROM (SELECT doc_id, split(text, ' ') AS ws FROM documents)
          WHERE size(ws) >= 7)
    LATERAL VIEW explode(sequence(1, size(ws) - 3)) t AS i
),
"""
    + _WINNOW_TAIL.format(
        agg="array_join(array_sort(collect_set(wmin)), '|')"
    ),
    """
WITH grams AS (
    SELECT doc_id, t.i AS i, len(ws) - 3 AS g,
           md5(ws[t.i] || ' ' || ws[t.i + 1] || ' ' || ws[t.i + 2]
               || ' ' || ws[t.i + 3]) AS h
    FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
          WHERE len(string_split(text, ' ')) >= 7)
    CROSS JOIN range(1, 129) t(i)
    WHERE t.i <= len(ws) - 3
),
"""
    + _WINNOW_TAIL.format(
        agg="string_agg(DISTINCT wmin, '|' ORDER BY wmin)"
    ),
    tables=["documents"],
    tags=("text", "fingerprint"),
)

# --- IVF-style ANN ---------------------------------------------------------
_DOT_S = "aggregate(zip_with({a}, {b}, (x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
_DOT_D = "list_reduce(list_transform(range(1, 65), i -> {a}[i] * {b}[i]), (acc, v) -> acc + v)"

# Shared IVF centroid fixture (r14 optimization round): THREE queries
# (embedding_ivf_topk, ann_recall_at_5, ivf_pq_topk) each re-ran the
# identical label-mean centroid aggregate — a posexplode of the FULL
# embedding corpus (64 rows per vector) — once per call. The (label,
# cvec) relation is the offline coarse-quantizer artifact an IVF
# deployment persists; materialized once per (session, sf_dir). The
# expressions are byte-identical to the inline form; every consumer's
# DuckDB oracle keeps the inline derivation.
IVF_CENTS_VIEW = "ivf_cents_mat"


@fixture("ivf_cents", view=IVF_CENTS_VIEW)
def cached_ivf_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crypto_lakehouse_spark.operators.checkpointing import truncate_lineage

    register_views(spark, sf_dir, ["embeddings"])
    return truncate_lineage(
        spark.sql(
            f"""
SELECT label,
       transform(array_sort(collect_list(struct(dim, cv))), s -> s.cv)
           AS cvec
FROM ({_CENT_LONG_S}) cl
GROUP BY label"""
        ),
        spark,
    )


def _cents_cte(cent_long: str, rebuild: str, cents_src: str | None) -> str:
    """The label-centroid CTE: inline aggregate, or a view reference
    when the Spark side reads the cached_ivf_cents fixture."""
    if cents_src is not None:
        return f"cents AS (\n    SELECT label, cvec FROM {cents_src}\n)"
    return f"""cent_long AS ({cent_long}),
cents AS (
    SELECT label, {rebuild} AS cvec
    FROM cent_long
    GROUP BY label
)"""


def _ivf_sql(dot: str, cent_long: str, rebuild: str, dbl: str,
             cents_src: str | None = None) -> str:
    cos_probe = (
        f"ROUND({dot.format(a='q.vec', b='c.cvec')} / "
        f"(SQRT({dot.format(a='q.vec', b='q.vec')}) * "
        f"SQRT({dot.format(a='c.cvec', b='c.cvec')})), 9)"
    )
    cos_exact = (
        f"ROUND({dot.format(a='q.vec', b='e.vec')} / "
        f"(SQRT({dot.format(a='q.vec', b='q.vec')}) * "
        f"SQRT({dot.format(a='e.vec', b='e.vec')})), 9)"
    )
    return f"""
WITH {_cents_cte(cent_long, rebuild, cents_src)},
qs AS (
    SELECT vec_id, {dbl} AS vec FROM embeddings WHERE vec_id < 5
),
probes AS (
    SELECT query_id, label
    FROM (
        SELECT q.vec_id AS query_id, c.label,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                                  ORDER BY {cos_probe} DESC, c.label) AS rn
        FROM qs q CROSS JOIN cents c
    )
    WHERE rn <= 2
),
scored AS (
    SELECT p.query_id, e.vec_id AS neighbor_id, e.label AS neighbor_label,
           {cos_exact} AS cosine
    FROM probes p
    JOIN qs q ON q.vec_id = p.query_id
    JOIN (SELECT vec_id, label, {dbl} AS vec FROM embeddings) e
      ON e.label = p.label AND e.vec_id <> p.query_id
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


_CENT_LONG_S = """
    SELECT label, pos AS dim, ROUND(SUM(CAST(v AS DOUBLE)) / COUNT(*), 6) AS cv
    FROM embeddings LATERAL VIEW posexplode(embedding) t AS pos, v
    GROUP BY label, pos
"""
_CENT_LONG_D = """
    SELECT label, i - 1 AS dim,
           ROUND(SUM(CAST(embedding[i] AS DOUBLE)) / COUNT(*), 6) AS cv
    FROM embeddings, range(1, 65) t(i)
    GROUP BY label, i
"""

def _embedding_ivf_topk_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probe + exact rerank over the materialized centroid fixture
    (cached_ivf_cents block comment); oracle keeps the inline form."""
    cached_ivf_cents(spark, sf_dir)
    return spark.sql(
        _ivf_sql(
            _DOT_S,
            _CENT_LONG_S,
            "transform(array_sort(collect_list(struct(dim, cv))), s -> s.cv)",
            "transform(embedding, x -> CAST(x AS DOUBLE))",
            cents_src=IVF_CENTS_VIEW,
        )
    )


_embedding_ivf_topk_fn.__name__ = "embedding_ivf_topk"
query(
    "embedding_ivf_topk",
    oracle=_ivf_sql(
        _DOT_D,
        _CENT_LONG_D,
        "list(cv ORDER BY dim)",
        "list_transform(embedding, x -> CAST(x AS DOUBLE))",
    ),
    tags=("similarity", "ann", "ivf"),
)(_embedding_ivf_topk_fn)

# --- IVF-PQ: probe-bounded candidates + ADC rerank + in-result recall ------
# The production ANN layout (FAISS IVF-PQ): IVF picks the cells to
# probe (2 of the label cells here, by centroid cosine), PQ's
# asymmetric-distance scoring ranks ONLY the candidates from those
# cells, and recall@10 against the EXACT global top-10 is reported in
# the result — so the one number a deployment tunes (probes x
# codebook vs recall) is part of the oracle-checked output. Both
# building blocks are the ones already proven standalone
# (embedding_ivf_topk for the probe stage, pq_adc_topk for the ADC
# stage); composition restricts the ADC term join to the candidate
# set, which is the step that makes the scoring probe-bounded — the
# 100 TB shape where per-query cost is |probed cells| x cell size,
# never the corpus. Codebook/encoding (encd) is the offline index
# build, computed corpus-wide exactly as a real IVF-PQ index is.
# The measured recall (0.2 at sf0.01) is LOW by design honesty: the
# fixture's `label` column partitions vectors arbitrarily, not by
# geometry, so cell probing misses most true neighbors — exactly the
# signal this eval exists to surface (a real deployment k-means the
# cells, then tunes nprobe against this same number).


def _ivf_pq_core_sql(core: str, dot: str, cent_long: str, rebuild: str,
                     cents_src: str | None = None,
                     encd_marker: str = "FROM encd e\n") -> str:
    """The WITH-body through `adc`: centroid probe -> candidate gate ->
    probe-bounded ADC scoring, composed over the proven PQ core."""
    cos_probe = (
        f"ROUND({dot.format(a='q.vec', b='c.cvec')} / "
        f"(SQRT({dot.format(a='q.vec', b='q.vec')}) * "
        f"SQRT({dot.format(a='c.cvec', b='c.cvec')})), 9)"
    )
    if cents_src is not None:
        cents_def = f"cents AS (\n    SELECT label, cvec FROM {cents_src}\n)"
    else:
        cents_def = f"""cents AS (
    SELECT label, {rebuild} AS cvec
    FROM ({cent_long}) cl
    GROUP BY label
)"""
    inject = f"""{cents_def},
qfull AS (SELECT vec FROM corpus WHERE vec_id = 0),
probes AS (
    SELECT label FROM (
        SELECT c.label,
               ROW_NUMBER() OVER (ORDER BY {cos_probe} DESC, c.label) AS rn
        FROM cents c CROSS JOIN qfull q
    ) pr WHERE rn <= 2
),
cand AS (
    SELECT e.vec_id FROM embeddings e
    JOIN probes p ON e.label = p.label
    WHERE e.vec_id <> 0
),
terms AS ("""
    # Surgical composition of the proven PQ core: candidates gate the
    # term join (probe-bounded scoring), everything upstream is the
    # shared codebook/encode chain. `encd_marker` points at the term
    # join's encoding source — "FROM encd e\n" for the inline core,
    # the materialized-view reference for the fixture core.
    assert core.count("terms AS (") == 1
    core = core.replace("terms AS (", inject, 1)
    assert core.count(encd_marker) == 1
    core = core.replace(
        encd_marker,
        encd_marker + "    JOIN cand ca ON ca.vec_id = e.vec_id\n",
        1,
    )
    return core


def _ivf_pq_sql(core: str, dot: str, cent_long: str, rebuild: str,
                l2_64: str, cents_src: str | None = None,
                encd_marker: str = "FROM encd e\n",
                ncand_src: str = "cand") -> str:
    # `ncand_src`: the Spark side counts candidates from the grouped
    # ADC relation (one row per candidate by construction — every
    # candidate has exactly 8 encoded subvectors), avoiding a second
    # inlined execution of the embeddings x probes join; the oracle
    # keeps COUNT(cand), so the hash proves the equality.
    core = _ivf_pq_core_sql(core, dot, cent_long, rebuild,
                            cents_src=cents_src, encd_marker=encd_marker)
    return f"""
WITH {core},
exact10 AS (
    SELECT c.vec_id FROM (
        SELECT c.vec_id,
               ROW_NUMBER() OVER (ORDER BY {l2_64}, c.vec_id) AS rn
        FROM corpus c CROSS JOIN qfull q
        WHERE c.vec_id <> 0
    ) c WHERE rn <= 10
),
adc10 AS (
    SELECT vec_id FROM (
        SELECT vec_id, ROW_NUMBER() OVER (ORDER BY adc_dist, vec_id) AS rn
        FROM adc
    ) a WHERE rn <= 10
),
hits AS (
    SELECT COUNT(*) AS h
    FROM exact10 e JOIN adc10 a ON a.vec_id = e.vec_id
)
SELECT CAST(0 AS BIGINT) AS query_id,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM {ncand_src}) AS n_candidates,
       CAST(h.h AS BIGINT) AS hits,
       CAST(10 AS BIGINT) AS k,
       ROUND(CAST(h.h AS DOUBLE) / 10, 9) AS recall_at_10
FROM hits h
"""


def _wire_ivf_pq() -> None:
    from crypto_lakehouse_spark.queries.similarity_ops import (
        _DOT_DUCK,
        _DOT_SPARK,
        _PQ_DUCK_CORE,
        _PQ_L2_64_DUCK,
        _PQ_L2_64_SPARK,
        _PQ_RECALL_VIEWS_CORE,
        PQ_ENCD_VIEW,
        cached_pq_index,
    )

    # Spark side composes over the MATERIALIZED index fixtures
    # (cached_pq_index + cached_ivf_cents): the before-plan carried 12
    # embeddings scans from CTE-inlined re-execution of the codebook /
    # encode / centroid chains. Per call, the probe-bounded ADC
    # relation (candidate-sized) is materialized ONCE — it is consumed
    # by the top-10 ranking AND the n_candidates scalar, and inlining
    # re-ran the whole probe+term chain per reference — then the tail
    # (exact ranking + overlap + report) runs over the view. The
    # oracle keeps the full single-statement inline chain.
    adc_head = "WITH " + _ivf_pq_core_sql(
        _PQ_RECALL_VIEWS_CORE,
        _DOT_SPARK,
        _CENT_LONG_S,
        "transform(array_sort(collect_list(struct(dim, cv))), s -> s.cv)",
        cents_src=IVF_CENTS_VIEW,
        encd_marker=f"FROM {PQ_ENCD_VIEW} e\n",
    ) + "\nSELECT vec_id, adc_dist FROM adc"
    tail_sql = f"""
WITH corpus AS (
    SELECT vec_id, transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
    FROM embeddings
),
qfull AS (SELECT vec FROM corpus WHERE vec_id = 0),
exact10 AS (
    SELECT c.vec_id FROM (
        SELECT c.vec_id,
               ROW_NUMBER() OVER (ORDER BY {{l2}}, c.vec_id) AS rn
        FROM corpus c CROSS JOIN qfull q
        WHERE c.vec_id <> 0
    ) c WHERE rn <= 10
),
adc10 AS (
    SELECT vec_id FROM (
        SELECT vec_id, ROW_NUMBER() OVER (ORDER BY adc_dist, vec_id) AS rn
        FROM ivfpq_adc_mat
    ) a WHERE rn <= 10
),
hits AS (
    SELECT COUNT(*) AS h
    FROM exact10 e JOIN adc10 a ON a.vec_id = e.vec_id
)
SELECT CAST(0 AS BIGINT) AS query_id,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM ivfpq_adc_mat)
           AS n_candidates,
       CAST(h.h AS BIGINT) AS hits,
       CAST(10 AS BIGINT) AS k,
       ROUND(CAST(h.h AS DOUBLE) / 10, 9) AS recall_at_10
FROM hits h
""".replace("{l2}", _PQ_L2_64_SPARK)

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        cached_pq_index(spark, sf_dir)
        cached_ivf_cents(spark, sf_dir)
        # The returned frame still reads the view: hold_view defers
        # the previous call's release to this one.
        hold_view(spark, "ivfpq_adc_mat", spark.sql(adc_head))
        return spark.sql(tail_sql)

    fn.__name__ = "ivf_pq_topk"
    fn.__doc__ = (
        "IVF probe + PQ-ADC rerank + in-result recall over the "
        "materialized PQ index and centroid fixtures; the candidate-"
        "sized ADC relation is materialized per call (consumed by the "
        "ranking AND the n_candidates scalar). ADC stage SQL:\n"
        + adc_head
        + "\nReport tail SQL:\n"
        + tail_sql
    )
    query(
        "ivf_pq_topk",
        oracle=_ivf_pq_sql(
            _PQ_DUCK_CORE,
            _DOT_DUCK,
            _CENT_LONG_D,
            "list(cv ORDER BY dim)",
            _PQ_L2_64_DUCK,
        ),
        tags=("similarity", "ann", "ivf", "pq"),
    )(fn)


_wire_ivf_pq()

# --- embedding-cosine near-dup via LSH candidates --------------------------
_HI = "('8','9','a','b','c','d','e','f')"


def _neardup_sql(
    dot: str, dbl: str, base_perturb: str, planes: str, proj: str, agg: str
) -> str:
    return f"""
WITH base AS (
    SELECT vec_id, embedding FROM embeddings
    UNION ALL
    SELECT vec_id + 1000000 AS vec_id, embedding FROM embeddings
    WHERE vec_id % 20 = 0
    UNION ALL
    SELECT vec_id + 2000000 AS vec_id, {base_perturb} AS embedding
    FROM embeddings WHERE vec_id % 40 = 0
),
planes AS ({planes}),
sigs AS (
    SELECT e.vec_id, p.p,
           CASE WHEN {proj} >= 0 THEN '1' ELSE '0' END AS bit
    FROM base e CROSS JOIN planes p
),
buckets AS (
    SELECT vec_id, {agg} AS bucket
    FROM sigs
    GROUP BY vec_id
),
cands AS (
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
    FROM buckets a
    JOIN buckets b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
),
pairs AS (
    SELECT c.vec_a, c.vec_b,
           ROUND({dot.format(a='x.vec', b='y.vec')} /
                 (SQRT({dot.format(a='x.vec', b='x.vec')}) *
                  SQRT({dot.format(a='y.vec', b='y.vec')})), 9) AS cosine
    FROM cands c
    JOIN (SELECT vec_id, {dbl} AS vec FROM base) x ON x.vec_id = c.vec_a
    JOIN (SELECT vec_id, {dbl} AS vec FROM base) y ON y.vec_id = c.vec_b
)
SELECT vec_a, vec_b, cosine
FROM pairs
WHERE cosine >= 0.98
ORDER BY vec_a, vec_b
"""


_PROJ_S = (
    "aggregate(zip_with(transform(e.embedding, x -> CAST(x AS DOUBLE)), "
    "transform(sequence(0, 63), d -> CASE WHEN substr(md5(CAST(p.p AS STRING) "
    "|| ':' || CAST(d AS STRING)), 1, 1) IN " + _HI + " THEN CAST(1.0 AS DOUBLE) "
    "ELSE CAST(-1.0 AS DOUBLE) END), (x, w) -> x * w), "
    "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
)
_PROJ_D = (
    "list_reduce(list_transform(range(1, 65), i -> CAST(e.embedding[i] AS DOUBLE) * "
    "(CASE WHEN substr(md5(CAST(p.p AS STRING) || ':' || CAST(i - 1 AS STRING)), 1, 1) "
    "IN " + _HI + " THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END)), "
    "(acc, v) -> acc + v)"
)

_pair(
    "embedding_near_dup",
    _neardup_sql(
        _DOT_S,
        "transform(embedding, x -> CAST(x AS DOUBLE))",
        "concat(array(CAST(element_at(embedding, 1) + CAST(0.5 AS FLOAT) AS FLOAT)), "
        "slice(embedding, 2, 63))",
        "SELECT explode(sequence(0, 7)) AS p",
        _PROJ_S,
        "array_join(array_sort(collect_list(lpad(CAST(p AS STRING), 2, '0') || ':' || bit)), '')",
    ),
    _neardup_sql(
        _DOT_D,
        "list_transform(embedding, x -> CAST(x AS DOUBLE))",
        "list_prepend(CAST(embedding[1] + CAST(0.5 AS FLOAT) AS FLOAT), embedding[2:])",
        "SELECT unnest(range(0, 8)) AS p",
        _PROJ_D,
        "string_agg(lpad(CAST(p AS STRING), 2, '0') || ':' || bit, '' "
        "ORDER BY lpad(CAST(p AS STRING), 2, '0') || ':' || bit)",
    ),
    tables=["embeddings"],
    tags=("dedup", "similarity", "lsh"),
)

# --- event funnel ----------------------------------------------------------
_FUNNEL = """
WITH su AS (
    SELECT user_id, MIN(ts) AS t0 FROM events
    WHERE event_type = 'signup' GROUP BY user_id
),
c1 AS (
    SELECT e.user_id, MIN(e.ts) AS t1
    FROM events e JOIN su ON su.user_id = e.user_id AND e.ts > su.t0
    WHERE e.event_type = 'click'
    GROUP BY e.user_id
),
p1 AS (
    SELECT e.user_id, MIN(e.ts) AS t2
    FROM events e JOIN c1 ON c1.user_id = e.user_id AND e.ts > c1.t1
    WHERE e.event_type = 'purchase'
    GROUP BY e.user_id
)
SELECT stage, stage_order, users FROM (
    SELECT 'signup' AS stage, 1 AS stage_order, COUNT(*) AS users FROM su
    UNION ALL
    SELECT 'click_after_signup', 2, COUNT(*) FROM c1
    UNION ALL
    SELECT 'purchase_after_click', 3, COUNT(*) FROM p1
) f
ORDER BY stage_order
"""

# r14 optimization round (guide §2.4 duplicated subtrees): the CTE
# chain su -> c1 -> p1 is referenced both by the next stage and by its
# own COUNT, and Spark inlines CTEs, so the executed plan scanned
# events SIX times (1 + 2 + 3) with three join+aggregate chains. The
# funnel is computable in ONE corpus pass: per user, the min signup
# ts, plus the sorted click/purchase ts arrays; t1 = min click after
# t0 and t2 = min purchase after t1 are array expressions over that
# single aggregate (per-user arrays are bounded by per-user activity,
# the standard single-pass funnel shape). Stage gating is identical:
# MIN ignores NULLs, collect_list drops NULLs, x > NULL filters to
# empty, and the explicit user_id IS NOT NULL guard reproduces the
# oracle's join-on-user_id semantics for the NULL-user group (a NULL
# user can appear in the signup count but can never advance — NULL
# joins match nothing). The DuckDB oracle keeps the reference
# three-join form, so the green hash proves the collapse.
_FUNNEL_SPARK = """
WITH per_user AS (
    SELECT user_id,
           MIN(CASE WHEN event_type = 'signup' THEN ts END) AS t0,
           array_sort(collect_list(
               CASE WHEN event_type = 'click' THEN ts END)) AS clicks,
           array_sort(collect_list(
               CASE WHEN event_type = 'purchase' THEN ts END)) AS purchases
    FROM events GROUP BY user_id
),
staged AS (
    SELECT t0, t1, array_min(filter(purchases, x -> x > t1)) AS t2
    FROM (
        SELECT t0, purchases,
               CASE WHEN user_id IS NOT NULL
                    THEN array_min(filter(clicks, x -> x > t0)) END AS t1
        FROM per_user
    ) s1
),
counts AS (
    SELECT COUNT(t0) AS c1, COUNT(t1) AS c2, COUNT(t2) AS c3 FROM staged
)
SELECT stage, stage_order, users FROM (
    SELECT stack(3,
        'signup', 1, c1,
        'click_after_signup', 2, c2,
        'purchase_after_click', 3, c3) AS (stage, stage_order, users)
    FROM counts
) f
ORDER BY stage_order
"""

_pair(
    "event_funnel",
    _FUNNEL_SPARK,
    _FUNNEL,
    tables=["events"],
    tags=("events", "funnel"),
)

# --- weekly retention triangle --------------------------------------------
_RETENTION = """
WITH firsts AS (
    SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
    FROM events GROUP BY user_id
),
activity AS (
    SELECT DISTINCT user_id, date_trunc('week', ts) AS week FROM events
)
SELECT CAST(f.cohort_week AS DATE) AS cohort_week,
       CAST(a.week AS DATE) AS active_week,
       COUNT(*) AS active_users
FROM firsts f
JOIN activity a ON a.user_id = f.user_id
GROUP BY f.cohort_week, a.week
ORDER BY cohort_week, active_week
"""

# Oracle anchor only (bench=False): the fused single-scan twin below
# is the declared scale path and the benched primary — the same
# anchor/primary split as the sketch twins in events_ops.
_pair(
    "weekly_retention",
    _RETENTION,
    _RETENTION,
    tables=["events"],
    tags=("events", "retention"),
    bench=False,
)


@query(
    "weekly_retention_fused",
    oracle=_RETENTION,
    tags=("events", "retention", "fused"),
)
def weekly_retention_fused(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-scan retention triangle (same oracle as
    weekly_retention): one groupBy(user_id) computes the cohort week
    (min(trunc) == trunc(min): date_trunc is monotone) AND the
    distinct active-week set per user; exploding the set replaces the
    firsts-join-activity plan. One scan + two shuffles vs two scans +
    three (two aggs + a join). The per-user set is bounded by the
    calendar (#distinct weeks), so collect_set state is small at any
    corpus scale."""
    from pyspark.sql import functions as F

    from crypto_lakehouse_spark.io import load_table

    per_user = (
        load_table(spark, sf_dir, "events")
        .select("user_id", F.date_trunc("week", "ts").alias("week"))
        .groupBy("user_id")
        .agg(
            F.min("week").alias("cohort_week"),
            F.collect_set("week").alias("weeks"),
        )
    )
    return (
        per_user.select("cohort_week", F.explode("weeks").alias("active_week"))
        .groupBy("cohort_week", "active_week")
        .agg(F.count("*").alias("active_users"))
        .select(
            F.col("cohort_week").cast("date").alias("cohort_week"),
            F.col("active_week").cast("date").alias("active_week"),
            "active_users",
        )
        .orderBy("cohort_week", "active_week")
    )


# --- ANN quality evaluation: recall@5 of IVF vs brute force ---------------
# The eval loop every ANN deployment needs: run the exact top-k and
# the approximate top-k over the same queries and measure overlap.
# Both pipelines are CTEs of ONE query, so Spark evaluates the corpus
# scan once per side and the comparison is a tiny (|Q| x k) join; at
# scale the exact side runs on a sampled query set (as here: 5 probe
# queries) while the ANN side is the production path — recall
# measurement cost stays O(sample), independent of corpus size.
def _recall_sql(dot: str, cent_long: str, rebuild: str, dbl: str,
                cents_src: str | None = None) -> str:
    cos_probe = (
        f"ROUND({dot.format(a='q.vec', b='c.cvec')} / "
        f"(SQRT({dot.format(a='q.vec', b='q.vec')}) * "
        f"SQRT({dot.format(a='c.cvec', b='c.cvec')})), 9)"
    )
    cos_exact = (
        f"ROUND({dot.format(a='q.vec', b='e.vec')} / "
        f"(SQRT({dot.format(a='q.vec', b='q.vec')}) * "
        f"SQRT({dot.format(a='e.vec', b='e.vec')})), 9)"
    )
    return f"""
WITH {_cents_cte(cent_long, rebuild, cents_src)},
qs AS (
    SELECT vec_id, {dbl} AS vec FROM embeddings WHERE vec_id < 5
),
corpus AS (
    SELECT vec_id, label, {dbl.replace('embedding', 'e.embedding')} AS vec
    FROM embeddings e
),
exact_topk AS (
    SELECT query_id, neighbor_id
    FROM (
        SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                                  ORDER BY {cos_exact} DESC, e.vec_id) AS rn
        FROM qs q CROSS JOIN corpus e
        WHERE e.vec_id <> q.vec_id
    )
    WHERE rn <= 5
),
probes AS (
    SELECT query_id, label
    FROM (
        SELECT q.vec_id AS query_id, c.label,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                                  ORDER BY {cos_probe} DESC, c.label) AS rn
        FROM qs q CROSS JOIN cents c
    )
    WHERE rn <= 2
),
ivf_topk AS (
    SELECT query_id, neighbor_id
    FROM (
        SELECT p.query_id, e.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY p.query_id
                                  ORDER BY {cos_exact} DESC, e.vec_id) AS rn
        FROM probes p
        JOIN qs q ON q.vec_id = p.query_id
        JOIN corpus e ON e.label = p.label AND e.vec_id <> p.query_id
    )
    WHERE rn <= 5
)
SELECT x.query_id,
       COUNT(i.neighbor_id) AS hits,
       ROUND(CAST(COUNT(i.neighbor_id) AS DOUBLE) / 5.0, 9) AS recall_at_5
FROM exact_topk x
LEFT JOIN ivf_topk i
  ON i.query_id = x.query_id AND i.neighbor_id = x.neighbor_id
GROUP BY x.query_id
ORDER BY x.query_id
"""


def _ann_recall_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF recall@5 eval over the materialized centroid fixture
    (cached_ivf_cents block comment); oracle keeps the inline form."""
    cached_ivf_cents(spark, sf_dir)
    return spark.sql(
        _recall_sql(
            _DOT_S,
            _CENT_LONG_S,
            "transform(array_sort(collect_list(struct(dim, cv))), s -> s.cv)",
            "transform(embedding, x -> CAST(x AS DOUBLE))",
            cents_src=IVF_CENTS_VIEW,
        )
    )


_ann_recall_fn.__name__ = "ann_recall_at_5"
query(
    "ann_recall_at_5",
    oracle=_recall_sql(
        _DOT_D,
        _CENT_LONG_D,
        "list(cv ORDER BY dim)",
        "list_transform(embedding, x -> CAST(x AS DOUBLE))",
    ),
    tags=("similarity", "ann", "evaluation"),
)(_ann_recall_fn)
