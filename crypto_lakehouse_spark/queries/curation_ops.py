"""Corpus-curation operators — round-8 widening of the LLM-data
pipeline surface (reference scope: processing/spark_jobs quality tier,
BASELINE.json north star):

- paragraph-level dedup with document reassembly (the CCNet shape:
  drop duplicated paragraphs corpus-wide, keep each doc's surviving
  paragraphs in order). Distinct from `substring_span_dedup` (span
  census) and `doc_exact_dedup` (whole-doc): the unit is a fixed
  16-token paragraph and the OUTPUT is the rebuilt document.
- hashed-linear quality classifier (the fastText shape: token ->
  hash bucket -> learned weight -> mean -> threshold). Weights here
  are a deterministic function of the bucket id, so both engines
  compute them without a side table; a real deployment swaps in a
  broadcast weight array with the identical plan.
- MinHash estimator error: measured |estimate - exact Jaccard| over
  the LSH candidate pairs — the "measure, don't guess" companion to
  `minhash_lsh_dedup` (same spirit as `pq_recall_at_10` /
  `ann_recall_at_5` for the ANN tier): the number that tells you
  whether K=8 hashes are enough before you commit a 100 TB dedup run
  to them.

Scale shapes (100 TB framing):
- paragraph dedup: one narrow explode (16-token chunks), a combiner-
  absorbed MIN aggregation on md5(paragraph) joined back on the hash
  (AQE-splittable), one groupBy(doc_id) for reassembly. Same class as
  exact dedup plus a re-agg; no self-joins, no row blowup beyond
  tokens/16 per doc, no hot-key window (see the block comment).
- classifier: ZERO shuffles — the whole score is a per-row
  higher-order `aggregate` over the token array inside whole-stage
  codegen; at 100 TB this is a pure map-side scan.
- estimator error: bounded by the SAME candidate set the LSH dedup
  already materializes (band equi-join, never all-pairs); the extra
  cost is one 8-column signature join on the candidates.

All hashing md5-based (portable Spark<->DuckDB, see dedup_ops).
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, SparkSession

from crypto_lakehouse_spark.io import register_views
from crypto_lakehouse_spark.queries.fixture_meter import fixture
from crypto_lakehouse_spark.queries.dedup_ops import (
    _BANDKEY_DUCK,
    _BANDKEY_SPARK,
    _DUP_UNION_SPARK,
    _K,
    _MINHASH_DUCK,
    _MINHASH_VIEW,
    _SH_DUCK,
    _SH_PERSISTED,
    cached_minhash,
    cached_shingles,
)

# The persisted K=8 signature fixture (cached_minhash) replaces the
# inline _MINHASH_SPARK aggregation in both estimate-error queries
# (r13 optimization round): the inlined `minhash` CTE is referenced by
# bands AND minhash_wide, so the 8-hash MIN aggregation over the full
# shingle relation executed twice per query — and once more per query
# in the suite, where lsh_band_sweep_eval's fixture already holds the
# identical relation.
# The wide (8-column) form is recovered from the unpivoted fixture by
# a pivot groupBy — exactly one (doc_id, i) row exists per hash, so
# MAX(CASE WHEN i = k ...) is the original mh{k} value.
_MINHASH_FROM_VIEW = (
    f"minhash AS (SELECT doc_id, i, mh FROM {_MINHASH_VIEW}),\n"
    "minhash_wide AS (\n    SELECT doc_id,\n           "
    + ",\n           ".join(
        f"MAX(CASE WHEN i = {i} THEN mh END) AS mh{i}" for i in range(_K)
    )
    + "\n    FROM minhash GROUP BY doc_id\n)"
)
from crypto_lakehouse_spark.queries.registry import query, sql_query


_pair = partial(sql_query, tables=["documents"])


# --- paragraph-level dedup with reassembly --------------------------------
# Paragraph = 16 consecutive whitespace tokens (last one may be short).
# Keep rule: global first occurrence by (doc_id, para_idx).
#
# Plan shape: NOT a row_number window over md5(para) — a window
# partitioned on the content hash has no map-side combiner and no AQE
# skew mitigation, so one boilerplate paragraph repeated across 10% of
# a crawl lands its entire partition on one task. Instead:
# MIN(struct(doc_id, para_idx)) GROUP BY hash (partial aggregation
# absorbs the hot key on the map side) joined back on the hash (AQE
# skew-join can split it). keep = (doc_id, para_idx) == global min.
# Reassembly: order-stabilized concat of surviving paragraphs (hashed
# in the output to keep rows narrow). Input includes the synthetic
# +1_000_000 full duplicates (same derivation as doc_exact_dedup) so
# the operator provably drops duplicate documents paragraph-by-
# paragraph.
_P = 16

_PARA_TAIL = """
firsts AS (
    SELECT md5(para) AS h,
           MIN({ordkey}) AS first_key
    FROM paras
    GROUP BY md5(para)
),
keep AS (
    SELECT p.doc_id, p.para_idx, p.para,
           CASE WHEN {ordkey_p} = f.first_key THEN 1 ELSE 0 END AS is_first
    FROM paras p
    JOIN firsts f ON f.h = md5(p.para)
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_paras,
       CAST(COUNT(CASE WHEN is_first = 1 THEN 1 END) AS BIGINT) AS n_kept,
       CAST(COUNT(CASE WHEN is_first = 1 THEN 1 END) AS DOUBLE) / COUNT(*)
           AS kept_frac,
       md5({reassembled}) AS kept_text_hash
FROM keep
GROUP BY doc_id
ORDER BY doc_id
"""

# Portable total order on (doc_id, para_idx): doc_id < 1e9 and
# para_idx < 1e6 — margins guaranteed BY CONSTRUCTION of the fixture
# generators (TESTDATA doc_ids top out ~9.0e8 at sf10; paragraphs are
# 16-token slices so para_idx stays tiny), not runtime-asserted: a
# future fixture with a larger key offset must widen the multiplier.
# Within those bounds a single BIGINT composite key gives MIN() the
# lexicographic (doc_id, para_idx) semantics in both engines.
_ORDKEY = "({a}doc_id * 1000000 + {a}para_idx)"

_REASSEMBLE_SPARK = (
    "array_join(transform(array_sort("
    "collect_list(struct(para_idx, para)) FILTER (WHERE is_first = 1)"
    "), s -> s.para), ' ')"
)
_REASSEMBLE_DUCK = (
    "COALESCE(string_agg(para, ' ' ORDER BY para_idx) "
    "FILTER (WHERE is_first = 1), '')"
)

_pair(
    "paragraph_dedup_reassemble",
    f"""
WITH corpus AS ({_DUP_UNION_SPARK}),
toks AS (SELECT doc_id, split(text, ' ') AS ws FROM corpus),
paras AS (
    SELECT doc_id, pos AS para_idx, para
    FROM toks
    LATERAL VIEW posexplode(transform(
        sequence(0, CAST(ceil(size(ws) / {_P}.0) AS INT) - 1),
        i -> array_join(slice(ws, i * {_P} + 1, {_P}), ' '))) t AS pos, para
),
"""
    + _PARA_TAIL.format(
        reassembled=_REASSEMBLE_SPARK,
        ordkey=_ORDKEY.format(a=""),
        ordkey_p=_ORDKEY.format(a="p."),
    ),
    f"""
WITH corpus AS ({_DUP_UNION_SPARK}),
toks AS (SELECT doc_id, string_split(text, ' ') AS ws FROM corpus),
paras AS (
    SELECT doc_id, u.para_idx AS para_idx, u.para AS para
    FROM (
        SELECT doc_id, unnest(list_transform(
            range(0, CAST(ceil(len(ws) / {_P}.0) AS INT)),
            i -> {{'para_idx': i,
                   'para': array_to_string(
                       list_slice(ws, i * {_P} + 1, i * {_P} + {_P}), ' ')}}))
            AS u
        FROM toks
    )
),
"""
    + _PARA_TAIL.format(
        reassembled=_REASSEMBLE_DUCK,
        ordkey=_ORDKEY.format(a=""),
        ordkey_p=_ORDKEY.format(a="p."),
    ),
    tags=("dedup", "paragraph", "curation"),
)

# --- hashed-linear quality classifier -------------------------------------
# bucket(t) = first 16 bits of md5(t) mod 1024; weight numerator
# w(b) = (b * 2654435761) % 4096 - 2048  (Knuth multiplicative hash ->
# integer weight in [-2048, 2047]; mean_w = sum / (2048 * n) lands in
# [-1, 1)). Integer sums keep both engines bit-exact; the one double
# division at the end is IEEE-exact. label_keep = sign threshold.
_W_SPARK = (
    "(CAST(conv(substr(md5(t), 1, 4), 16, 10) AS BIGINT) % 1024) "
    "* 2654435761 % 4096 - 2048"
)
_W_DUCK = (
    "(CAST(('0x' || substr(md5(t), 1, 4)) AS BIGINT) % 1024) "
    "* 2654435761 % 4096 - 2048"
)

_pair(
    "hashed_classifier_score",
    f"""
SELECT doc_id, lang, source,
       CAST(n_tok AS BIGINT) AS n_tokens,
       CAST(score_num AS BIGINT) AS score_num,
       CAST(score_num AS DOUBLE) / (2048.0 * n_tok) AS mean_w,
       CASE WHEN score_num >= 0 THEN 1 ELSE 0 END AS label_keep
FROM (
    SELECT doc_id, lang, source, size(ws) AS n_tok,
           aggregate(ws, 0L, (acc, t) -> acc + ({_W_SPARK})) AS score_num
    FROM (SELECT doc_id, lang, source, split(text, ' ') AS ws
          FROM documents)
)
ORDER BY doc_id
""",
    f"""
SELECT doc_id, lang, source,
       CAST(len(ws) AS BIGINT) AS n_tokens,
       CAST(score_num AS BIGINT) AS score_num,
       CAST(score_num AS DOUBLE) / (2048.0 * len(ws)) AS mean_w,
       CASE WHEN score_num >= 0 THEN 1 ELSE 0 END AS label_keep
FROM (
    SELECT doc_id, lang, source, ws,
           CAST(list_sum(list_transform(ws, t -> ({_W_DUCK})))
                AS BIGINT) AS score_num
    FROM (SELECT doc_id, lang, source, string_split(text, ' ') AS ws
          FROM documents)
)
ORDER BY doc_id
""",
    tags=("text", "classifier", "curation"),
)

# --- MinHash estimator error over LSH candidates --------------------------
_EST_MATCHES = " + ".join(
    f"CASE WHEN a.mh{i} = b.mh{i} THEN 1 ELSE 0 END" for i in range(_K)
)

_EST_TAIL = f"""
bands AS (
    -- floor, not CAST(i/4 AS INT): double->int CAST truncates in
    -- Spark but ROUNDS in DuckDB, which silently shifts the band
    -- boundaries (the verified LSH query tolerates that because its
    -- exact-Jaccard >= 0.5 gate absorbs candidate-set differences;
    -- the raw candidate set exposed here does not).
    SELECT doc_id, CAST(floor(i / 4.0) AS INT) AS band,
           {{bandkey}} AS band_key
    FROM minhash
    GROUP BY doc_id, CAST(floor(i / 4.0) AS INT)
),
candidates AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a
    JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
               AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
inter AS (
    SELECT c.doc_a, c.doc_b, COUNT(*) AS inter
    FROM candidates c
    JOIN shingles sa ON sa.doc_id = c.doc_a
    JOIN shingles sb ON sb.doc_id = c.doc_b AND sa.s = sb.s
    GROUP BY c.doc_a, c.doc_b
),
est AS (
    SELECT c.doc_a, c.doc_b, {_EST_MATCHES} AS n_match
    FROM candidates c
    JOIN minhash_wide a ON a.doc_id = c.doc_a
    JOIN minhash_wide b ON b.doc_id = c.doc_b
)
SELECT e.doc_a, e.doc_b,
       CAST(e.n_match AS DOUBLE) / {_K} AS jaccard_est,
       CAST(COALESCE(i.inter, 0) AS DOUBLE)
           / (za.n + zb.n - COALESCE(i.inter, 0)) AS jaccard_exact,
       ABS(CAST(e.n_match AS DOUBLE) / {_K}
           - CAST(COALESCE(i.inter, 0) AS DOUBLE)
             / (za.n + zb.n - COALESCE(i.inter, 0))) AS abs_err
FROM est e
LEFT JOIN inter i ON i.doc_a = e.doc_a AND i.doc_b = e.doc_b
JOIN sizes za ON za.doc_id = e.doc_a
JOIN sizes zb ON zb.doc_id = e.doc_b
ORDER BY e.doc_a, e.doc_b
"""


@query(
    "minhash_estimate_error",
    oracle="WITH "
    + _SH_DUCK
    + ","
    + _MINHASH_DUCK
    + ","
    + _EST_TAIL.format(bandkey=_BANDKEY_DUCK),
    tags=("dedup", "minhash", "measure", "curation"),
)
def minhash_estimate_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-candidate-pair |MinHash estimate - exact Jaccard| over the
    LSH candidate set (module docstring has the contract and scale
    notes). Reads the persisted shingle + signature relations."""
    cached_shingles(spark, sf_dir)
    cached_minhash(spark, sf_dir)
    return spark.sql(
        "WITH "
        + _SH_PERSISTED
        + ","
        + _MINHASH_FROM_VIEW
        + ","
        + _EST_TAIL.format(bandkey=_BANDKEY_SPARK)
    )

# --- 64-bit SimHash near-dup (banded Hamming join) ------------------------
# The 16-bit simhash_fingerprints operator is a fingerprint CENSUS;
# near-dup retrieval needs a wider code: 16-bit band keys have only
# 2^4 values per 4-bit band, so the bucket join degenerates to
# O(N^2/16) at scale. Here: 64-bit simhash (two md5 draws x 32
# high-bits per feature), 4 bands x 16 bits -> 2^16-value band
# keys keep buckets small; pigeonhole guarantees every pair with
# Hamming distance <= 3 shares at least one full band. Candidates are
# verified with the exact 64-bit Hamming distance.
#
# Features are distinct 3-gram SHINGLES, not unigram tokens: over a
# small shared vocabulary (this fixture; templated boilerplate in a
# real crawl) nearly every doc contains nearly every token, so
# unigram fingerprints collapse onto a few codes and the band buckets
# go quadratic (measured here: 6954 Hamming<=3 pairs / 550 docs with
# unigrams vs true-dup-only with shingles). Shingles are sparse in
# feature space, which is also why production simhash (Charikar /
# Manku et al.) hashes shingles.
#
# Fingerprinting is ZERO-shuffle on the Spark side: per row, a
# higher-order fold (aggregate + zip_with) sums the per-token +-1 bit
# votes — no 64x row explosion, no (doc_id, bit) shuffle. The DuckDB
# oracle computes the same votes by the straightforward explode +
# GROUP BY (same values, different plan — the oracle is a semantic
# check, not a plan mirror).
_HEXHI = "('8','9','a','b','c','d','e','f')"

# 64 bits from exactly TWO md5 calls per shingle (not 64), and the
# bit votes as 64 conditional-SUM aggregate columns over the exploded
# shingle relation — NOT a per-row higher-order fold: Spark evaluates
# lambda expressions interpreted (outside whole-stage codegen), so a
# fold doing 64 array ops per shingle measured ~6 s for 550 docs; the
# wide-SUM shape stays fully codegen'd with map-side combiners (the
# same idiom as dedup_ops' 8-column minhash_wide) and the groupBy
# carries 64 ints per doc.
_HH = "md5(t)"

# The md5's first 16 hex digits give 64 uniform bits, decoded as TWO
# 32-bit integers (one conv each) so the per-bit vote is pure integer
# shift/mask arithmetic. The string alternative (64 x substr + IN-list
# of 8 hex chars = 512 string compares per shingle) measured ~5x
# slower. Vote threshold: majority-of-ones (2*ones >= n), identical
# to SUM(+-1) >= 0.
_HILO_SPARK = (
    "CAST(conv(substr(h, 1, 8), 16, 10) AS BIGINT) AS hi, "
    "CAST(conv(substr(h, 9, 8), 16, 10) AS BIGINT) AS lo"
)
_HILO_DUCK = (
    "CAST(('0x' || substr(h, 1, 8)) AS BIGINT) AS hi, "
    "CAST(('0x' || substr(h, 9, 8)) AS BIGINT) AS lo"
)


def _bit_expr(b: int) -> str:
    if b <= 32:
        return f"shiftright(hi, {32 - b}) % 2"
    return f"shiftright(lo, {64 - b}) % 2"


_VOTE_COLS = ",\n           ".join(
    f"CASE WHEN 2 * SUM({_bit_expr(b)}) >= COUNT(*) "
    f"THEN '1' ELSE '0' END AS b{b}"
    for b in range(1, 65)
)
_FP_CONCAT = "concat(" + ", ".join(f"b{b}" for b in range(1, 65)) + ")"

# NOTE: deliberately CTE-free (nested subqueries only). This SELECT is
# persisted and registered as a temp view; when it was built as a
# WITH-chain (corpus/votes/fps CTEs), CacheManager lookups from the
# near-dup tail silently missed — the plan re-inlined the corpus fold
# at all four fps references (measured: 8 parquet scans instead of
# InMemoryTableScan reuse; plan-pinned below). The flat form
# canonicalizes identically on both sides and always substitutes.
_FPS_SELECT_SPARK = f"""
SELECT doc_id, {_FP_CONCAT} AS fp
FROM (
    SELECT doc_id,
           {_VOTE_COLS}
    FROM (
        SELECT doc_id, {_HILO_SPARK}
        FROM (
            SELECT doc_id, {_HH} AS h
            FROM (
                SELECT doc_id, explode(array_distinct(transform(
                           sequence(1, greatest(size(ws) - 2, 1)),
                           i -> concat_ws(' ', element_at(ws, i),
                                element_at(ws, least(i + 1, size(ws))),
                                element_at(ws, least(i + 2, size(ws)))))))
                           AS t
                FROM (SELECT doc_id, split(text, ' ') AS ws
                      FROM ({_DUP_UNION_SPARK}))
            )
        )
    )
    GROUP BY doc_id
)
"""

_FPS_DUCK = f"""
toks AS (
    SELECT DISTINCT doc_id,
           unnest(list_transform(
               range(1, greatest(len(ws) - 2, 1) + 1),
               i -> ws[i] || ' ' || ws[least(i + 1, len(ws))]
                         || ' ' || ws[least(i + 2, len(ws))])) AS t
    FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM corpus)
),
hilo AS (
    SELECT doc_id, {_HILO_DUCK}
    FROM (SELECT doc_id, {_HH} AS h FROM toks)
),
votes AS (
    SELECT doc_id, b,
           CASE WHEN 2 * SUM((CASE WHEN b <= 32 THEN hi >> (32 - b)
                              ELSE lo >> (64 - b) END) % 2) >= COUNT(*)
                THEN '1' ELSE '0' END AS bit
    FROM hilo CROSS JOIN (SELECT unnest(range(1, 65)) AS b) bb
    GROUP BY doc_id, b
),
fps AS (
    SELECT doc_id, string_agg(bit, '' ORDER BY b) AS fp
    FROM votes GROUP BY doc_id
)
"""

_SIMHASH_ND_TAIL = """
bands AS (
    SELECT doc_id, band, substr(fp, band * 16 + 1, 16) AS bkey
    FROM fps {band_src}
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a
    JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
               AND a.doc_id < b.doc_id
)
SELECT c.doc_a, c.doc_b,
       CAST({ham} AS BIGINT) AS hamming
FROM cand c
JOIN fps fa ON fa.doc_id = c.doc_a
JOIN fps fb ON fb.doc_id = c.doc_b
WHERE {ham} <= 3
ORDER BY c.doc_a, c.doc_b
"""

_HAM_SPARK = (
    "size(filter(sequence(1, 64), "
    "i -> substr(fa.fp, i, 1) <> substr(fb.fp, i, 1)))"
)
_HAM_DUCK = (
    "len(list_filter(range(1, 65), "
    "i -> substr(fa.fp, i, 1) <> substr(fb.fp, i, 1)))"
)

_FP64_VIEW = "simhash64_fps_persisted"


@fixture("simhash_fp64", view=_FP64_VIEW)
def _cached_fp64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 64-bit fingerprint relation: Spark inlines deterministic
    CTEs, so the four references below (two band sides, two verify
    sides) would each recompute the whole corpus fold — 4 corpus scans
    at 100 TB (measured 4x here). truncate_lineage, not bare persist:
    consumers wrap this view in WITH CTEs, which misses the
    CacheManager in Spark 4.1 (see the fixture_meter module
    docstring)."""
    from crypto_lakehouse_spark.operators.checkpointing import truncate_lineage

    register_views(spark, sf_dir, ["documents"])
    return truncate_lineage(spark.sql(_FPS_SELECT_SPARK), spark)


@query(
    "simhash64_near_dup",
    oracle=f"WITH corpus AS ({_DUP_UNION_SPARK}),"
    + _FPS_DUCK
    + ","
    + _SIMHASH_ND_TAIL.format(
        band_src="CROSS JOIN (SELECT unnest(range(0, 4)) AS band) bb",
        ham=_HAM_DUCK,
    ),
    tags=("dedup", "simhash", "curation"),
)
def simhash64_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded-Hamming near-dup over 64-bit shingle simhash (block
    comment above has the contract and scale notes). Reads the
    persisted fingerprint relation so the corpus is folded once."""
    _cached_fp64(spark, sf_dir)
    return spark.sql(
        f"WITH fps AS (SELECT doc_id, fp FROM {_FP64_VIEW}),"
        + _SIMHASH_ND_TAIL.format(
            band_src="LATERAL VIEW explode(sequence(0, 3)) t AS band",
            ham=_HAM_SPARK,
        )
    )

# --- embedding dimension-truncation recall --------------------------------
# Matryoshka-style storage decision, measured: recall@10 of cosine
# top-k using only the first d dims (d = 8, 16, 32) against the exact
# 64-dim top-k, per probe query. At 100 TB the truncated index is
# d/64 of the storage and bandwidth; this query is the number that
# says which d is safe. Exact side is bounded by the 8-query probe
# panel (O(|Q| x N), corpus scanned once per side), same eval pattern
# as ann_recall_at_5 / pq_recall_at_10.
_TDOT_SPARK = (
    "aggregate(transform(sequence(1, {d}), "
    "i -> element_at({a}, i) * element_at({b}, i)), "
    "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
)
_TDOT_DUCK = (
    "list_reduce(list_transform(range(1, {d} + 1), "
    "i -> {a}[i] * {b}[i]), (acc, v) -> acc + v)"
)


def _trunc_recall_sql(dot: str, dbl: str) -> str:
    cos_full = (
        f"ROUND({dot.format(a='q.vec', b='e.vec', d='64')} / "
        f"(SQRT({dot.format(a='q.vec', b='q.vec', d='64')}) * "
        f"SQRT({dot.format(a='e.vec', b='e.vec', d='64')})), 9)"
    )
    cos_trunc = (
        f"ROUND({dot.format(a='q.vec', b='e.vec', d='dm.d')} / "
        f"(SQRT({dot.format(a='q.vec', b='q.vec', d='dm.d')}) * "
        f"SQRT({dot.format(a='e.vec', b='e.vec', d='dm.d')})), 9)"
    )
    return f"""
WITH dims AS (
    SELECT 8 AS d UNION ALL SELECT 16 UNION ALL SELECT 32
),
qs AS (SELECT vec_id, {dbl} AS vec FROM embeddings WHERE vec_id < 8),
corpus AS (SELECT vec_id, {dbl} AS vec FROM embeddings),
exact_topk AS (
    SELECT query_id, neighbor_id
    FROM (
        SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                                  ORDER BY {cos_full} DESC, e.vec_id) AS rn
        FROM qs q CROSS JOIN corpus e
        WHERE e.vec_id <> q.vec_id
    )
    WHERE rn <= 10
),
trunc_topk AS (
    SELECT d, query_id, neighbor_id
    FROM (
        SELECT dm.d, q.vec_id AS query_id, e.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY dm.d, q.vec_id
                                  ORDER BY {cos_trunc} DESC, e.vec_id) AS rn
        FROM dims dm CROSS JOIN qs q CROSS JOIN corpus e
        WHERE e.vec_id <> q.vec_id
    )
    WHERE rn <= 10
)
SELECT t.d AS dim, t.query_id,
       COUNT(x.neighbor_id) AS hits,
       ROUND(CAST(COUNT(x.neighbor_id) AS DOUBLE) / 10.0, 9) AS recall_at_10
FROM trunc_topk t
LEFT JOIN exact_topk x
  ON x.query_id = t.query_id AND x.neighbor_id = t.neighbor_id
GROUP BY t.d, t.query_id
ORDER BY dim, t.query_id
"""


_pair(
    "ann_dim_truncation_recall",
    _trunc_recall_sql(
        _TDOT_SPARK, "transform(embedding, x -> CAST(x AS DOUBLE))"
    ),
    _trunc_recall_sql(
        _TDOT_DUCK, "list_transform(embedding, x -> CAST(x AS DOUBLE))"
    ),
    tags=("similarity", "ann", "evaluation", "curation"),
    tables=["embeddings"],
)


# --- filter agreement audit ------------------------------------------------
# Before committing a 100 TB corpus to any single quality gate, a
# curation pipeline measures how its candidate filters AGREE: the
# 2x2x2 contingency of Gopher rules (gopher_quality_rules), the
# weighted quality score at its 0.5 threshold (doc_quality_score),
# and the hashed linear classifier's sign (hashed_classifier_score) —
# plus pairwise Cohen's kappa (chance-corrected agreement). All three
# signals come from ONE narrow higher-order-function projection per
# document (zero joins, whole-stage codegen), then one tiny aggregate:
# at 100 TB this is a single map-side scan. Integer indicator sums are
# exact in both engines; each double division happens once in a fixed
# expression order. NULL text is unscoreable by all three filters and
# excluded (the shared contract). An empty corpus yields zero rows
# (kappa rows are gated on n > 0).

from crypto_lakehouse_spark.queries.text_ops import _EN, _GOPHER_STOP  # noqa: E402


def _signals_cte(split: str, size: str, dist: str, filt: str,
                 alpha_pred: str, len_sum: str, score_sum: str) -> str:
    return f"""
signals AS (
    SELECT doc_id,
           n_tok BETWEEN 20 AND 100000
             AND CAST(len_sum AS DOUBLE) / n_tok BETWEEN 2.0 AND 10.0
             AND CAST(n_alpha AS DOUBLE) / n_tok >= 0.8
             AND n_stop_d >= 2 AS g,
           CAST(LEAST(n_tok, 200) AS DOUBLE) / 200 * 0.3
             + CAST(n_distinct AS DOUBLE) / n_tok * 0.4
             + CAST(n_stop AS DOUBLE) / n_tok * 0.3 >= 0.5 AS q,
           score_num >= 0 AS c
    FROM (
        SELECT doc_id,
               {size}(ws) AS n_tok,
               {size}({dist}(ws)) AS n_distinct,
               {size}({filt}(ws, t -> t IN ({_EN}))) AS n_stop,
               {size}({dist}({filt}(ws, w -> w IN {_GOPHER_STOP})))
                   AS n_stop_d,
               {size}({filt}(ws, w -> {alpha_pred})) AS n_alpha,
               {len_sum} AS len_sum,
               {score_sum} AS score_num
        FROM (SELECT doc_id, {split}(text, ' ') AS ws FROM documents
              WHERE text IS NOT NULL)
    )
)"""


_SIGNALS_SPARK = _signals_cte(
    "split", "size", "array_distinct", "filter",
    "w RLIKE '[a-z]'",
    "aggregate(ws, 0L, (acc, w) -> acc + length(w))",
    f"aggregate(ws, 0L, (acc, t) -> acc + ({_W_SPARK}))",
)
_SIGNALS_DUCK = _signals_cte(
    "string_split", "len", "list_distinct", "list_filter",
    "regexp_matches(w, '[a-z]')",
    "CAST(list_sum(list_transform(ws, w -> length(w))) AS BIGINT)",
    f"CAST(list_sum(list_transform(ws, t -> ({_W_DUCK}))) AS BIGINT)",
)

_AUDIT_TAIL = """
SELECT CAST(g AS INT) AS gopher_keep,
       CAST(q AS INT) AS quality_keep,
       CAST(c AS INT) AS classifier_keep,
       COUNT(*) AS n_docs,
       ROUND(CAST(COUNT(*) AS DOUBLE) / SUM(COUNT(*)) OVER (), 9) AS frac
FROM signals
GROUP BY g, q, c
ORDER BY gopher_keep, quality_keep, classifier_keep
"""

_pair(
    "filter_agreement_audit",
    "WITH " + _SIGNALS_SPARK + _AUDIT_TAIL,
    "WITH " + _SIGNALS_DUCK + _AUDIT_TAIL,
    tags=("text", "quality", "curation", "audit"),
)

_KAPPA_TAIL = """,
s AS (
    SELECT COUNT(*) AS n,
           SUM(CAST(g AS INT)) AS ng,
           SUM(CAST(q AS INT)) AS nq,
           SUM(CAST(c AS INT)) AS nc,
           SUM(CAST(g AS INT) * CAST(q AS INT)) AS ngq,
           SUM(CAST(g AS INT) * CAST(c AS INT)) AS ngc,
           SUM(CAST(q AS INT) * CAST(c AS INT)) AS nqc
    FROM signals
)
SELECT pair, CAST(n_agree AS BIGINT) AS n_agree,
       ROUND(po, 9) AS po, ROUND(pe, 9) AS pe,
       -- + 0 normalizes IEEE -0.0 (DuckDB keeps the sign of a
       -- negative rounded-to-zero quotient; Spark does not)
       ROUND((po - pe) / NULLIF(1 - pe, 0), 9) + 0 AS kappa
FROM (
    SELECT 'gopher~quality' AS pair,
           2 * ngq + n - ng - nq AS n_agree,
           CAST(2 * ngq + n - ng - nq AS DOUBLE) / n AS po,
           (CAST(ng AS DOUBLE) / n) * (CAST(nq AS DOUBLE) / n)
             + (1 - CAST(ng AS DOUBLE) / n)
               * (1 - CAST(nq AS DOUBLE) / n) AS pe
    FROM s WHERE n > 0
    UNION ALL
    SELECT 'gopher~classifier' AS pair,
           2 * ngc + n - ng - nc AS n_agree,
           CAST(2 * ngc + n - ng - nc AS DOUBLE) / n AS po,
           (CAST(ng AS DOUBLE) / n) * (CAST(nc AS DOUBLE) / n)
             + (1 - CAST(ng AS DOUBLE) / n)
               * (1 - CAST(nc AS DOUBLE) / n) AS pe
    FROM s WHERE n > 0
    UNION ALL
    SELECT 'quality~classifier' AS pair,
           2 * nqc + n - nq - nc AS n_agree,
           CAST(2 * nqc + n - nq - nc AS DOUBLE) / n AS po,
           (CAST(nq AS DOUBLE) / n) * (CAST(nc AS DOUBLE) / n)
             + (1 - CAST(nq AS DOUBLE) / n)
               * (1 - CAST(nc AS DOUBLE) / n) AS pe
    FROM s WHERE n > 0
)
ORDER BY pair
"""

_pair(
    "filter_kappa_pairs",
    "WITH " + _SIGNALS_SPARK + _KAPPA_TAIL,
    "WITH " + _SIGNALS_DUCK + _KAPPA_TAIL,
    tags=("text", "quality", "curation", "audit", "kappa"),
)


# --- classifier calibration census (reliability / ECE / Brier) -------------
# The standard audit BEFORE a quality classifier ships as a corpus
# gate: is its score a calibrated probability? Per source:
# reliability-diagram binning (10 bins), Expected Calibration Error,
# Brier score, and the Murphy decomposition (reliability - resolution
# + uncertainty, over binned forecasts). Reference label = the Gopher
# rules (the independent heuristic gate); predicted probability = the
# hashed classifier's mean weight mapped affinely from [-1,1) to
# [0,1) (the deployed map would be a fitted logistic; the affine map
# keeps the audit exactly reproducible).
#
# Cross-engine exactness: the probability is QUANTIZED ONCE per row
# to integer milli-units pm = floor((score_num + 2048*n)*500 /
# (2048*n)) in [0, 999] — pure integer arithmetic — so
#   ECE   = SUM_b |1000*pos_b - sum_pm_b| / (1000*N)
#   Brier = SUM_rows (pm - 1000*y)^2 / (1e6*N)
# are INTEGER sums with one double division at emission. Only the
# <=10 per-bin decomposition terms are doubles, folded in pinned bin
# order (the module's order-pinned-fold discipline). Zero joins: one
# corpus scan computes every per-row signal (higher-order functions,
# whole-stage codegen), one groupBy(source, bin), windows for the
# per-source totals the resolution term needs — at 100 TB this is a
# single map-side scan plus a 10-bins-per-source aggregate.

def _calib_cte(split: str, size: str, filt: str, alpha_pred: str,
               len_sum: str, score_sum: str, intdiv: str) -> str:
    return f"""
rows AS (
    SELECT source,
           CAST((score_num + 2048 * n_tok) * 500 {intdiv} (2048 * n_tok)
                AS INT) AS pm,
           CASE WHEN n_tok BETWEEN 20 AND 100000
                 AND CAST(len_sum AS DOUBLE) / n_tok BETWEEN 2.0 AND 10.0
                 AND CAST(n_alpha AS DOUBLE) / n_tok >= 0.8
                 AND n_stop_d >= 2 THEN 1 ELSE 0 END AS y
    FROM (
        SELECT source,
               {size}(ws) AS n_tok,
               {size}({filt}(ws, w -> {alpha_pred})) AS n_alpha,
               {size}({filt}(ws, w -> w IN {_GOPHER_STOP})) AS n_stop_d,
               {len_sum} AS len_sum,
               {score_sum} AS score_num
        FROM (SELECT source, {split}(text, ' ') AS ws FROM documents
              WHERE text IS NOT NULL)
    ) sig
),
bins AS (
    SELECT source, bin,
           COUNT(*) AS n_b,
           SUM(pm) AS sum_pm,
           SUM(y) AS pos_b,
           SUM((pm - 1000 * y) * (pm - 1000 * y)) AS ssq_b
    FROM (SELECT source, LEAST(pm {intdiv} 100, 9) AS bin, pm, y FROM rows) q
    GROUP BY source, bin
),
terms AS (
    SELECT source, bin, n_b, sum_pm, pos_b, ssq_b,
           POW(CAST(sum_pm - 1000 * pos_b AS DOUBLE), 2)
               / (1000000.0 * n_b) AS term_rel,
           n_b * POW(CAST(pos_b AS DOUBLE) / n_b
                     - CAST(SUM(pos_b) OVER (PARTITION BY source) AS DOUBLE)
                       / SUM(n_b) OVER (PARTITION BY source), 2) AS term_res
    FROM bins
)"""


_CALIB_TAIL = """
SELECT source,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_pos AS BIGINT) AS n_pos,
       ROUND(CAST(ece_num AS DOUBLE) / (1000.0 * n_docs), 9) AS ece,
       ROUND(CAST(ssq AS DOUBLE) / (1000000.0 * n_docs), 9) AS brier,
       ROUND({fold_rel} / n_docs, 9) AS reliability,
       ROUND({fold_res} / n_docs, 9) AS resolution,
       ROUND((CAST(n_pos AS DOUBLE) / n_docs)
             * (1.0 - CAST(n_pos AS DOUBLE) / n_docs), 9) AS uncertainty
FROM (
    SELECT source,
           SUM(n_b) AS n_docs,
           SUM(pos_b) AS n_pos,
           SUM(ssq_b) AS ssq,
           SUM(ABS(1000 * pos_b - sum_pm)) AS ece_num,
           {agg_rel} AS rel_terms,
           {agg_res} AS res_terms
    FROM terms
    GROUP BY source
) s
ORDER BY source
"""

_CALIB_SPARK = (
    "WITH "
    + _calib_cte(
        "split", "size", "filter",
        "w RLIKE '[a-z]'",
        "aggregate(ws, 0L, (acc, w) -> acc + length(w))",
        f"aggregate(ws, 0L, (acc, t) -> acc + ({_W_SPARK}))",
        "DIV",
    )
    + _CALIB_TAIL.format(
        agg_rel="collect_list(struct(bin, term_rel))",
        agg_res="collect_list(struct(bin, term_res))",
        fold_rel=(
            "aggregate(array_sort(rel_terms), CAST(0.0 AS DOUBLE), "
            "(acc, x) -> acc + x.term_rel)"
        ),
        fold_res=(
            "aggregate(array_sort(res_terms), CAST(0.0 AS DOUBLE), "
            "(acc, x) -> acc + x.term_res)"
        ),
    )
)

_CALIB_DUCK = (
    "WITH "
    + _calib_cte(
        "string_split", "len", "list_filter",
        "regexp_matches(w, '[a-z]')",
        "CAST(list_sum(list_transform(ws, w -> length(w))) AS BIGINT)",
        f"CAST(list_sum(list_transform(ws, t -> ({_W_DUCK}))) AS BIGINT)",
        "//",
    )
    + _CALIB_TAIL.format(
        agg_rel="list(term_rel ORDER BY bin)",
        agg_res="list(term_res ORDER BY bin)",
        fold_rel=(
            "list_reduce(list_prepend(CAST(0 AS DOUBLE), rel_terms), "
            "(acc, x) -> acc + x)"
        ),
        fold_res=(
            "list_reduce(list_prepend(CAST(0 AS DOUBLE), res_terms), "
            "(acc, x) -> acc + x)"
        ),
    )
)

_pair(
    "classifier_calibration_census",
    _CALIB_SPARK,
    _CALIB_DUCK,
    tags=("text", "classifier", "curation", "calibration"),
)


# --- b-bit MinHash estimator (Li & Konig 2010) ------------------------------
# Storing only the low b bits of each minhash value cuts signature
# memory 8x (b=4 vs 32-bit values) at the price of random collisions:
# P(low-b match) = J + (1 - J)/2^b, so the unbiased estimate is
# J_hat = (m - 1/2^b) / (1 - 1/2^b) over the match rate m. This query
# measures that tradeoff END TO END on the same LSH candidate set as
# minhash_estimate_error: exact Jaccard, the full-width estimate, the
# raw b=4 match rate, the collision-corrected estimate, and both
# absolute errors — the numbers that justify (or veto) the 8x memory
# cut at 100 TB signature volume. All counts integer; divisions at
# emission, ROUND(...,9). Same scale shape as the parent query
# (banded candidates, never all-pairs; persisted shingle fixture).
_B_BITS = 4
_B_MOD = 1 << _B_BITS  # 16
# The minhash values are md5 HEX STRINGS (dedup_ops._MINS), so the
# low b=4 bits are exactly the LAST hex character — one substr
# compare per hash, identical in both engines.
_EST_MATCHES_B = " + ".join(
    f"CASE WHEN substr(a.mh{i}, 32, 1) = substr(b.mh{i}, 32, 1) "
    "THEN 1 ELSE 0 END"
    for i in range(_K)
)

_BBIT_TAIL = f"""
bands AS (
    SELECT doc_id, CAST(floor(i / 4.0) AS INT) AS band,
           {{bandkey}} AS band_key
    FROM minhash
    GROUP BY doc_id, CAST(floor(i / 4.0) AS INT)
),
candidates AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a
    JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
               AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
inter AS (
    SELECT c.doc_a, c.doc_b, COUNT(*) AS inter
    FROM candidates c
    JOIN shingles sa ON sa.doc_id = c.doc_a
    JOIN shingles sb ON sb.doc_id = c.doc_b AND sa.s = sb.s
    GROUP BY c.doc_a, c.doc_b
),
est AS (
    SELECT c.doc_a, c.doc_b,
           {_EST_MATCHES} AS n_match_full,
           {_EST_MATCHES_B} AS n_match_b
    FROM candidates c
    JOIN minhash_wide a ON a.doc_id = c.doc_a
    JOIN minhash_wide b ON b.doc_id = c.doc_b
),
scored AS (
    SELECT e.doc_a, e.doc_b,
           CAST(COALESCE(i.inter, 0) AS DOUBLE)
               / (za.n + zb.n - COALESCE(i.inter, 0)) AS j_exact,
           CAST(e.n_match_full AS DOUBLE) / {_K} AS j_full,
           CAST(e.n_match_b AS DOUBLE) / {_K} AS m_b,
           GREATEST((CAST(e.n_match_b AS DOUBLE) / {_K}
                     - 1.0 / {_B_MOD})
                    / (1 - 1.0 / {_B_MOD}), 0.0) AS j_b_corrected
    FROM est e
    LEFT JOIN inter i ON i.doc_a = e.doc_a AND i.doc_b = e.doc_b
    JOIN sizes za ON za.doc_id = e.doc_a
    JOIN sizes zb ON zb.doc_id = e.doc_b
)
SELECT doc_a, doc_b,
       ROUND(j_exact, 9) AS jaccard_exact,
       ROUND(j_full, 9) AS jaccard_est_full,
       ROUND(m_b, 9) AS match_rate_b4,
       ROUND(j_b_corrected, 9) AS jaccard_est_b4,
       ROUND(ABS(j_full - j_exact), 9) AS abs_err_full,
       ROUND(ABS(j_b_corrected - j_exact), 9) AS abs_err_b4
FROM scored
ORDER BY doc_a, doc_b
"""


@query(
    "bbit_minhash_estimate_error",
    oracle="WITH "
    + _SH_DUCK
    + ","
    + _MINHASH_DUCK
    + ","
    + _BBIT_TAIL.format(bandkey=_BANDKEY_DUCK),
    tags=("dedup", "minhash", "b-bit", "measure", "curation"),
)
def bbit_minhash_estimate_error(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """b=4-bit MinHash estimate vs full-width estimate vs exact
    Jaccard over the LSH candidate set (block comment above). Reads
    the persisted shingle + signature relations."""
    cached_shingles(spark, sf_dir)
    cached_minhash(spark, sf_dir)
    return spark.sql(
        "WITH "
        + _SH_PERSISTED
        + ","
        + _MINHASH_FROM_VIEW
        + ","
        + _BBIT_TAIL.format(bandkey=_BANDKEY_SPARK)
    )


# --- URL/host canonicalization dedup family ---------------------------------
# The standard corpus-prep pass a web-crawl pipeline runs before
# content dedup (VERDICT r10 item 4): canonicalize each record's URL
# (RFC 3986 normalization + tracker stripping) and collapse records
# that differ only in URL noise. The testdata carries no URL column,
# so the fixture DERIVES a messy-but-deterministic URL per document
# in-SQL, identically in both engines, from md5(doc_id) bits: scheme
# case (http/HTTP/https/HTTPS), optional www./WWW. prefix, host case,
# explicit default port (:80/:443 matching the scheme), trailing
# slash, kept params (id, sort) in shuffled order, tracking params
# (utm_source, ref) and a #fragment. Docs within a source share
# canonical pages via doc_id % 50, so canonicalization exposes real
# duplicate groups.
#
# Canonicalization rules (each exercised by a fixture bit):
#   lowercase scheme+host | strip www. | strip default port |
#   strip fragment | drop utm_*/ref= params | sort kept params |
#   strip trailing slash. The canonical key deliberately folds the
#   SCHEME away (http/https duplicates are one resource for dedup
#   purposes); raw-variant counts keep the information auditable.
# Scale shape: both queries are ONE hash groupBy over a map-side
# derived key — no joins, corpus-linear, the same shape as
# doc_exact_dedup.

_URL_FIXTURE_SQL = """
SELECT doc_id, source, n_chars, url,
       CASE WHEN url LIKE '%utm_%' OR url LIKE '%ref=%'
            THEN 1 ELSE 0 END AS has_tracking
FROM (
    SELECT doc_id, source, n_chars,
        (CASE WHEN substr(h, 1, 1) < '4' THEN 'http'
              WHEN substr(h, 1, 1) < '8' THEN 'HTTP'
              WHEN substr(h, 1, 1) < 'c' THEN 'https'
              ELSE 'HTTPS' END)
        || '://'
        || (CASE WHEN substr(h, 2, 1) < '6' THEN 'www.'
                 WHEN substr(h, 2, 1) < '9' THEN 'WWW.' ELSE '' END)
        || (CASE WHEN substr(h, 3, 1) < '8' THEN source
                 ELSE upper(source) END)
        || '.example.com'
        || (CASE WHEN substr(h, 4, 1) < '4'
                 THEN (CASE WHEN substr(h, 1, 1) < '8'
                            THEN ':80' ELSE ':443' END)
                 ELSE '' END)
        || '/articles/' || CAST(page AS STRING)
        || (CASE WHEN substr(h, 5, 1) < '8' THEN '/' ELSE '' END)
        || (CASE WHEN qs <> '' THEN '?' || qs ELSE '' END)
        || (CASE WHEN substr(h, 11, 1) < '4' THEN '#top' ELSE '' END)
        AS url
    FROM (
        SELECT doc_id, source, n_chars, h, page,
               CASE WHEN substr(h, 10, 1) < '8'
                    THEN concat_ws('&', pid, psort, putm, pref)
                    ELSE concat_ws('&', putm, pref, psort, pid)
               END AS qs
        FROM (
            SELECT doc_id, source, n_chars, h, page,
                   CASE WHEN substr(h, 6, 1) < 'c'
                        THEN 'id=' || CAST(page % 7 AS STRING) END AS pid,
                   CASE WHEN substr(h, 7, 1) < '6'
                        THEN 'sort=asc' END AS psort,
                   CASE WHEN substr(h, 8, 1) < '8'
                        THEN 'utm_source=feed' END AS putm,
                   CASE WHEN substr(h, 9, 1) < '4'
                        THEN 'ref=tw' END AS pref
            FROM (
                SELECT doc_id, source, n_chars,
                       md5(CAST(doc_id AS STRING)) AS h,
                       doc_id % 50 AS page
                FROM documents
                WHERE doc_id IS NOT NULL AND source IS NOT NULL
            ) seed
        ) params
    ) assembled
) final
"""


def _url_canon_sql(nofrag: str, keep_params: str) -> str:
    """Canonical-key derivation over the `urls` CTE. `nofrag` strips
    the #fragment from column `url`; `keep_params` filters+sorts+joins
    the query string `q` (dialect-split list ops)."""
    return f"""
canon AS (
    SELECT doc_id, url, has_tracking,
           host || path
           || (CASE WHEN kept <> '' THEN '?' || kept ELSE '' END)
               AS canonical_url,
           host
    FROM (
        SELECT doc_id, url, has_tracking,
               regexp_replace(regexp_replace(
                   lower(regexp_extract(nf, '^[a-zA-Z]+://([^/?#]*)', 1)),
                   '^www[.]', ''), ':(80|443)$', '') AS host,
               regexp_replace(
                   regexp_extract(nf, '^[a-zA-Z]+://[^/?#]*([^?#]*)', 1),
                   '/$', '') AS path,
               {keep_params} AS kept
        FROM (
            -- regex literals stay backslash-free ([?], [.]) so the
            -- same pattern text survives BOTH engines' string-literal
            -- escaping rules (Spark unescapes backslashes in '...',
            -- DuckDB does not).
            SELECT doc_id, url, has_tracking, {nofrag} AS nf,
                   regexp_extract({nofrag}, '[?](.*)$', 1) AS q
            FROM urls
        ) parts
    ) pieces
)
"""


_URL_KEEP_SPARK = (
    "array_join(array_sort(filter(split(q, '&'), "
    "p -> p <> '' AND substr(p, 1, 4) <> 'utm_' "
    "AND substr(p, 1, 4) <> 'ref=')), '&')"
)
_URL_KEEP_DUCK = (
    "array_to_string(list_sort(list_filter(string_split(q, '&'), "
    "p -> p <> '' AND substr(p, 1, 4) <> 'utm_' "
    "AND substr(p, 1, 4) <> 'ref=')), '&')"
)
_URL_NOFRAG_SPARK = "element_at(split(url, '#'), 1)"
_URL_NOFRAG_DUCK = "string_split(url, '#')[1]"


def _url_dedup_sql(nofrag: str, keep: str) -> str:
    return (
        "WITH urls AS (" + _URL_FIXTURE_SQL + "),\n"
        + _url_canon_sql(nofrag, keep)
        + """
SELECT canonical_url,
       CAST(COUNT(*) AS BIGINT) AS n_occurrences,
       MIN(doc_id) AS survivor_doc_id,
       CAST(COUNT(DISTINCT url) AS BIGINT) AS n_raw_variants
FROM canon
GROUP BY canonical_url
HAVING COUNT(*) > 1
ORDER BY canonical_url
"""
    )


def _host_census_sql(nofrag: str, keep: str) -> str:
    return (
        "WITH urls AS (" + _URL_FIXTURE_SQL + "),\n"
        + _url_canon_sql(nofrag, keep)
        + """
SELECT host,
       CAST(COUNT(*) AS BIGINT) AS n_urls,
       CAST(COUNT(DISTINCT canonical_url) AS BIGINT) AS n_canonical,
       ROUND(1.0 - CAST(COUNT(DISTINCT canonical_url) AS DOUBLE)
                 / COUNT(*), 9) AS dup_rate,
       CAST(SUM(has_tracking) AS BIGINT) AS n_tracking_urls
FROM canon
GROUP BY host
ORDER BY host
"""
    )


_pair(
    "url_canonical_dedup",
    _url_dedup_sql(_URL_NOFRAG_SPARK, _URL_KEEP_SPARK),
    _url_dedup_sql(_URL_NOFRAG_DUCK, _URL_KEEP_DUCK),
    tags=("curation", "dedup", "url", "canonicalization"),
)

_pair(
    "host_dup_census",
    _host_census_sql(_URL_NOFRAG_SPARK, _URL_KEEP_SPARK),
    _host_census_sql(_URL_NOFRAG_DUCK, _URL_KEEP_DUCK),
    tags=("curation", "dedup", "url", "host-census"),
)


# --- PII detection census + redaction pass -----------------------------------
# The pre-training privacy pass every public corpus pipeline runs
# (Dolma's PII tagger, CCNet/RefinedWeb variants): regex-detect
# emails / phone numbers / IPv4s / long account-number digit runs,
# census them per source, and REDACT them with class tokens. The
# synthetic corpus has no organic PII, so — like the URL family — a
# deterministic fixture derives it in-SQL identically in both engines:
# md5(doc_id) bits decide which classes are appended to each doc's
# text, with the spans themselves built from doc_id arithmetic.
# Patterns are backslash-free ([0-9] classes, [.] literals) so ONE
# pattern text survives both engines' string-literal escaping, and
# conservative enough to behave identically under Java regex and RE2.
# Scale shape: both queries are a single map-side projection + one
# groupBy(source) with map-side combine — corpus-linear, no joins.
# The redaction twin also value-pins residual_matches = 0 per class,
# i.e. the oracle PROVES the redaction chain removed everything the
# census found (chain order email -> phone -> ip -> idnum, identical
# in both engines).

_PII_FIXTURE_SQL = """
SELECT doc_id, source,
    text
    || CASE WHEN substr(h, 1, 1) < '8'
            THEN ' contact user' || CAST(doc_id AS STRING) || '@mail'
                 || CAST(doc_id % 7 AS STRING) || '.example.org'
            ELSE '' END
    || CASE WHEN substr(h, 2, 1) < '4'
            THEN ' call 555-' || lpad(CAST(doc_id % 1000 AS STRING), 3, '0')
                 || '-' || lpad(CAST(doc_id % 10000 AS STRING), 4, '0')
            ELSE '' END
    || CASE WHEN substr(h, 3, 1) < '4'
            THEN ' ip 10.' || CAST(doc_id % 256 AS STRING) || '.'
                 || CAST((doc_id * 7) % 256 AS STRING) || '.'
                 || CAST((doc_id * 13) % 256 AS STRING)
            ELSE '' END
    || CASE WHEN substr(h, 4, 1) < '2'
            THEN ' acct ' || lpad(CAST(doc_id AS STRING), 16, '4')
            ELSE '' END
    AS text
FROM (
    SELECT doc_id, source, text, md5(CAST(doc_id AS STRING)) AS h
    FROM documents WHERE text IS NOT NULL AND source IS NOT NULL
) seed
"""

_PII_EMAIL = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+[.][a-zA-Z]{2,}"
_PII_PHONE = "[0-9]{3}[-][0-9]{3}[-][0-9]{4}"
_PII_IPV4 = "([0-9]{1,3}[.]){3}[0-9]{1,3}"
_PII_IDNUM = "[0-9]{12,19}"


def _pii_census_sql(nmatch: str) -> str:
    """`nmatch` formats (expr, pattern) -> match count (dialect)."""
    counts = {
        "email": _PII_EMAIL,
        "phone": _PII_PHONE,
        "ip": _PII_IPV4,
        "idnum": _PII_IDNUM,
    }
    cols = ",\n           ".join(
        f"{nmatch.format(e='text', p=p)} AS n_{k}" for k, p in counts.items()
    )
    agg = ",\n       ".join(
        f"CAST(SUM(CASE WHEN n_{k} > 0 THEN 1 ELSE 0 END) AS BIGINT) "
        f"AS docs_with_{k},\n       CAST(SUM(n_{k}) AS BIGINT) AS total_{k}"
        for k in counts
    )
    return f"""
WITH docs AS ({_PII_FIXTURE_SQL}),
per_doc AS (
    SELECT source,
           {cols}
    FROM docs
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       {agg}
FROM per_doc
GROUP BY source
ORDER BY source
"""


def _pii_redact_sql(nmatch: str, sub: str) -> str:
    """`sub` formats (expr, pattern, replacement) -> global regex
    substitution (dialect: DuckDB needs the 'g' flag)."""
    red = sub.format(
        e=sub.format(
            e=sub.format(
                e=sub.format(e="text", p=_PII_EMAIL, r="<EMAIL>"),
                p=_PII_PHONE,
                r="<PHONE>",
            ),
            p=_PII_IPV4,
            r="<IP>",
        ),
        p=_PII_IDNUM,
        r="<ID>",
    )
    residual = " + ".join(
        nmatch.format(e="red", p=p)
        for p in (_PII_EMAIL, _PII_PHONE, _PII_IPV4, _PII_IDNUM)
    )
    return f"""
WITH docs AS ({_PII_FIXTURE_SQL}),
redacted AS (
    SELECT source, text, {red} AS red
    FROM docs
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN red <> text THEN 1 ELSE 0 END) AS BIGINT)
           AS n_docs_redacted,
       CAST(SUM(length(text) - length(red)) AS BIGINT) AS chars_removed,
       CAST(SUM({residual}) AS BIGINT) AS residual_matches
FROM redacted
GROUP BY source
ORDER BY source
"""


_PII_NMATCH_SPARK = "size(regexp_extract_all({e}, '{p}', 0))"
_PII_NMATCH_DUCK = "len(regexp_extract_all({e}, '{p}'))"
_PII_SUB_SPARK = "regexp_replace({e}, '{p}', '{r}')"
_PII_SUB_DUCK = "regexp_replace({e}, '{p}', '{r}', 'g')"

_pair(
    "pii_regex_census",
    _pii_census_sql(_PII_NMATCH_SPARK),
    _pii_census_sql(_PII_NMATCH_DUCK),
    tags=("curation", "pii", "privacy", "data-quality"),
)

_pair(
    "pii_redact_stats",
    _pii_redact_sql(_PII_NMATCH_SPARK, _PII_SUB_SPARK),
    _pii_redact_sql(_PII_NMATCH_DUCK, _PII_SUB_DUCK),
    tags=("curation", "pii", "privacy", "redaction"),
)


# --- HTML strip + structured extraction --------------------------------------
# The FIRST step of every web-crawl corpus pipeline (CCNet/RefinedWeb
# extraction stage): strip markup, drop script payloads entirely
# (tag AND content), and census the structured bits (title, links).
# Like the URL/PII families, the corpus has no organic markup, so the
# fixture derives a deterministic HTML wrapper per document in-SQL —
# title from doc_id, the original text in a <p>, a same-site <a href>
# from doc_id % 50, and an md5-gated <script> block that must vanish
# without leaking its content. Extraction is regex-only with
# backslash-free patterns (script bodies contain no '<', so
# '<script>[^<]*</script>' is exact here; tags are '<[^>]*>'), and
# the per-source census pins byte accounting: raw vs extracted
# lengths, script-bearing docs, and href counts. The value contract
# every row carries: extracted text length equals the original text
# length + title + anchor text + the joining spaces — i.e. markup
# vanished, content survived. Map-side projection + one
# groupBy(source); corpus-linear.

_HTML_FIXTURE_SQL = """
SELECT doc_id, source, text,
    '<html><head><title>Doc ' || CAST(doc_id AS STRING)
    || '</title></head><body><p>' || text || '</p>'
    || CASE WHEN substr(h, 5, 1) < '8'
            THEN '<script>var x = ' || CAST(doc_id AS STRING)
                 || ';</script>' ELSE '' END
    || '<a href="/doc/' || CAST(doc_id % 50 AS STRING)
    || '">next</a></body></html>' AS html,
    CASE WHEN substr(h, 5, 1) < '8' THEN 1 ELSE 0 END AS has_script
FROM (
    SELECT doc_id, source, text, md5(CAST(doc_id AS STRING)) AS h
    FROM documents WHERE text IS NOT NULL AND source IS NOT NULL
) seed
"""


def _html_extract_sql(nmatch: str, sub: str) -> str:
    noscript = sub.format(e="html", p="<script>[^<]*</script>", r=" ")
    detagged = sub.format(e=noscript, p="<[^>]*>", r=" ")
    squeezed = "trim(" + sub.format(e=detagged, p="  *", r=" ") + ")"
    return f"""
WITH docs AS ({_HTML_FIXTURE_SQL}),
extracted AS (
    SELECT doc_id, source, text, has_script,
           length(html) AS raw_len,
           {squeezed} AS clean,
           {nmatch.format(e="html", p='href="([^"]*)"')} AS n_links,
           {nmatch.format(e="html", p="<title>[^<]*</title>")} AS n_titles
    FROM docs
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(raw_len) AS BIGINT) AS raw_chars,
       CAST(SUM(length(clean)) AS BIGINT) AS extracted_chars,
       CAST(SUM(has_script) AS BIGINT) AS n_script_docs,
       CAST(SUM(n_links) AS BIGINT) AS n_links,
       CAST(SUM(n_titles) AS BIGINT) AS n_titles,
       CAST(SUM(CASE WHEN clean =
                'Doc ' || CAST(doc_id AS STRING) || ' ' || text || ' next'
                THEN 1 ELSE 0 END) AS BIGINT) AS n_content_exact,
       CAST(SUM(CASE WHEN clean LIKE '%var x =%' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_script_leaks
FROM extracted
GROUP BY source
ORDER BY source
"""


_pair(
    "html_strip_extract",
    _html_extract_sql(_PII_NMATCH_SPARK, _PII_SUB_SPARK),
    _html_extract_sql(_PII_NMATCH_DUCK, _PII_SUB_DUCK),
    tags=("curation", "extraction", "html", "crawl"),
)


# --- robots/license gating census (compliance pass) --------------------------
# The pre-training compliance pass a crawl pipeline runs before any
# quality work (VERDICT r11 item 4): join the corpus against a
# per-host policy relation (the materialized robots.txt / license
# audit table) and grade how much of each source's character mass is
# crawl-allowed, crawl-disallowed, or unknown, and how it is licensed.
# The synthetic corpus has no policy table, so — like the PII and URL
# fixtures — one derives deterministically in-SQL from md5(host) over
# the DISTINCT canonical hosts of the url_canonical_dedup fixture
# (hosts are canonicalized the same way: lowercase, www-stripped,
# default-port-stripped). A real deployment swaps the `policy` CTE
# for its fetched robots/license table with the identical plan.
#
# Scale shape (100 TB framing): the corpus side is ONE map-side
# projection (url -> host, no text read); `policy` is DISTINCT hosts
# — bounded by the web's host count, millions at worst — explicitly
# broadcast on the Spark side, so the gating join is shuffle-free;
# the census is one groupBy(source, policy) with map-side combine.
# The scalar total-mass CTE is a 1-row broadcast nested loop.

_GATE_HOST = (
    "regexp_replace(regexp_replace("
    "lower(regexp_extract(nf, '^[a-zA-Z]+://([^/?#]*)', 1)), "
    "'^www[.]', ''), ':(80|443)$', '')"
)


def _robots_gating_sql(nofrag: str, hint: str) -> str:
    return f"""
WITH urls AS ({_URL_FIXTURE_SQL}),
hosts AS (
    SELECT doc_id, source, n_chars, {_GATE_HOST} AS host
    FROM (SELECT doc_id, source, n_chars, {nofrag} AS nf FROM urls) x
),
policy AS (
    SELECT host,
           CASE WHEN substr(md5(host), 1, 1) < '6' THEN 'allow'
                WHEN substr(md5(host), 1, 1) < 'a' THEN 'disallow'
                ELSE 'unknown' END AS crawl_policy,
           CASE WHEN substr(md5(host), 2, 1) < '4' THEN 'permissive'
                WHEN substr(md5(host), 2, 1) < '8' THEN 'restrictive'
                ELSE 'unlabeled' END AS license_class
    FROM (SELECT DISTINCT host FROM hosts) h
)
SELECT {hint}d.source, p.crawl_policy, p.license_class,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT d.host) AS BIGINT) AS n_hosts,
       CAST(SUM(d.n_chars) AS BIGINT) AS char_mass,
       ROUND(CAST(SUM(d.n_chars) AS DOUBLE) / tot.m, 9) AS mass_share
FROM hosts d
JOIN policy p ON d.host = p.host
CROSS JOIN (SELECT SUM(n_chars) AS m FROM hosts) tot
GROUP BY d.source, p.crawl_policy, p.license_class, tot.m
ORDER BY d.source, p.crawl_policy, p.license_class
"""


_pair(
    "robots_license_gating",
    _robots_gating_sql(_URL_NOFRAG_SPARK, "/*+ BROADCAST(p) */ "),
    _robots_gating_sql(_URL_NOFRAG_DUCK, ""),
    tags=("curation", "compliance", "robots", "license", "url"),
)


# --- encoding-hygiene (mojibake/control-char) census --------------------------
# The byte-level hygiene pass a crawl pipeline runs BEFORE any
# tokenization (Dolma/CCNet strip control characters; U+FFFD
# REPLACEMENT CHARACTER is the canonical mojibake tell from a bad
# charset transcode; bare CR means unnormalized line endings; NBSP is
# the classic HTML-extraction residue). The synthetic corpus is clean
# ASCII, so — like the PII family — a deterministic fixture injects
# each artifact class from md5(doc_id) bits, with the artifact chars
# built via chr(N) (identical semantics in both engines for N < 256;
# U+FFFD rides as a UTF-8 literal in the query text itself).
# Occurrences are counted with length-delta over single-char
# replace() — no regex, so no cross-engine escaping hazard at all.
# Scale shape: JOINLESS — one map-side projection + one
# groupBy(source) with map-side combine, corpus-linear.

_ENC_FIXTURE_SQL = """
SELECT doc_id, source,
    text
    || CASE WHEN substr(h, 1, 1) < '4'
            THEN ' bell' || chr(7) || 'ctl' || chr(8) ELSE '' END
    || CASE WHEN substr(h, 2, 1) < '4' THEN ' mis�code�' ELSE '' END
    || CASE WHEN substr(h, 3, 1) < '6' THEN chr(13) || 'cr line'
            ELSE '' END
    || CASE WHEN substr(h, 4, 1) < '4' THEN chr(160) || 'nbsp'
            ELSE '' END
    AS text
FROM (
    SELECT doc_id, source, text,
           md5(CAST(doc_id AS STRING)) AS h
    FROM documents WHERE text IS NOT NULL AND source IS NOT NULL
) seed
"""

_N_CHAR = "(length(text) - length(replace(text, {c}, '')))"


def _enc_census_sql() -> str:
    ctl = f"({_N_CHAR.format(c='chr(7)')} + {_N_CHAR.format(c='chr(8)')})"
    rep = _N_CHAR.format(c="'�'")
    cr = _N_CHAR.format(c="chr(13)")
    nbsp = _N_CHAR.format(c="chr(160)")
    return f"""
WITH corpus AS ({_ENC_FIXTURE_SQL}),
flagged AS (
    SELECT source,
           {ctl} AS n_ctl, {rep} AS n_rep, {cr} AS n_cr, {nbsp} AS n_nbsp
    FROM corpus
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN n_ctl > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_ctl_docs,
       CAST(SUM(n_ctl) AS BIGINT) AS n_ctl_chars,
       CAST(SUM(CASE WHEN n_rep > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_mojibake_docs,
       CAST(SUM(n_rep) AS BIGINT) AS n_replacement_chars,
       CAST(SUM(CASE WHEN n_cr > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_bare_cr_docs,
       CAST(SUM(CASE WHEN n_nbsp > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_nbsp_docs,
       CAST(SUM(CASE WHEN n_ctl + n_rep + n_cr + n_nbsp = 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_clean_docs,
       ROUND(CAST(SUM(CASE WHEN n_ctl + n_rep + n_cr + n_nbsp = 0
                           THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 9)
           AS clean_frac
FROM flagged
GROUP BY source
ORDER BY source
"""


_pair(
    "encoding_hygiene_census",
    _enc_census_sql(),
    _enc_census_sql(),
    tags=("curation", "encoding", "mojibake", "data-quality"),
)
