"""Deduplication operators over `documents` — exact, MinHash+LSH,
SimHash, n-gram Jaccard. The scale-critical pieces of a training-data
pipeline (SURVEY §7 step 8 / BASELINE.json north star).

Architecture (100 TB framing):
- exact dedup: hash -> groupBy(hash) -> keep min id. One shuffle on the
  content hash; combiner-side partial aggregation.
- MinHash+LSH: shingle -> k hash mins per doc (one shuffle on
  (doc,hash_id)) -> band keys -> self-join on band key (shuffle on
  band). Candidate pairs are verified with exact Jaccard. No all-pairs
  product ever materializes; cost is O(docs x shingles) + O(collisions).
- SimHash: per-doc fingerprint via bit-vote aggregation; near-dup
  lookup is a bucket join on fingerprint prefix (not materialized
  here).
- brute-force n-gram Jaccard via shared-shingle inverted index: the
  exact baseline. Scales with shingle-frequency skew, which is why the
  LSH variant is the scale path; hot shingles would need a frequency
  cap (documented, not needed at test scale).

All hashing is md5-based so the DuckDB oracle computes identical
values; MinHash "functions" are md5(i || ':' || shingle) for
i in 0..7, min taken lexicographically over the hex strings (a valid
uniform min-hash family for our purposes).

Synthetic duplicates for the exact-dedup operator: every doc with
doc_id % 10 == 0 is re-emitted as doc_id + 1_000_000 with identical
text (same derivation in both engines), mirroring the trades-dup
pattern (operators/trades.py).
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crypto_lakehouse_spark.io import register_views
from crypto_lakehouse_spark.queries.fixture_meter import fixture
from crypto_lakehouse_spark.queries.registry import WIDE_SHUFFLE, query, sql_query


_pair = partial(sql_query, tables=["documents"])


# --- persisted shingle relation -------------------------------------------
# Spark inlines a CTE at every reference, so the self-join queries
# below would recompute the corpus explode 4-8x (audited: 8-16 scans
# of documents.parquet). Materializing the shingle relation once per
# (session, sf_dir) turns those into scans of one checkpoint — at
# 100 TB this is the difference between one corpus pass and eight.
# Why fixtures are checkpointed, not persisted: fixture_meter's
# module docstring (Spark 4.1 CTE/CacheManager trap).
SHINGLE_VIEW = "shingles_persisted"

_SHINGLE_SELECT_SPARK = """
SELECT doc_id, explode(array_distinct(transform(
           sequence(1, size(ws) - 2),
           i -> concat_ws(' ', element_at(ws, i), element_at(ws, i + 1),
                          element_at(ws, i + 2))))) AS s
FROM (SELECT doc_id, split(text, ' ') AS ws FROM documents)
WHERE size(ws) >= 3
"""


@fixture("shingles", view=SHINGLE_VIEW)
def cached_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 3-gram shingle relation for `sf_dir`."""
    register_views(spark, sf_dir, ["documents"])
    return _truncate_lineage(spark.sql(_SHINGLE_SELECT_SPARK), spark)


# The Spark side reads the persisted shingle view; the DuckDB oracle
# recomputes shingles inline (same rows).
_pair_shingled = partial(sql_query, prepare=cached_shingles)


# --- exact dedup ----------------------------------------------------------
_DUP_UNION_SPARK = """
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id, text FROM documents
    WHERE doc_id % 10 = 0
"""

_pair(
    "doc_exact_dedup",
    f"""
SELECT content_hash,
       MIN(doc_id) AS keeper_doc_id,
       COUNT(*) AS n_copies,
       array_join(array_sort(collect_list(CAST(doc_id AS STRING))), ',')
           AS member_ids
FROM (
    SELECT doc_id, md5(text) AS content_hash FROM ({_DUP_UNION_SPARK})
)
GROUP BY content_hash
HAVING COUNT(*) > 1
ORDER BY keeper_doc_id
""",
    f"""
SELECT content_hash,
       MIN(doc_id) AS keeper_doc_id,
       COUNT(*) AS n_copies,
       string_agg(CAST(doc_id AS STRING), ',' ORDER BY CAST(doc_id AS STRING))
           AS member_ids
FROM (
    SELECT doc_id, md5(text) AS content_hash FROM ({_DUP_UNION_SPARK})
)
GROUP BY content_hash
HAVING COUNT(*) > 1
ORDER BY keeper_doc_id
""",
    tags=("dedup", "exact"),
)

# --- shingles + minhash ---------------------------------------------------
# 3-word shingles; 8 md5-derived min-hashes; 2 LSH bands of 4.
_SH_SPARK = """
shingles AS (
    SELECT doc_id, explode(array_distinct(transform(
               sequence(1, size(ws) - 2),
               i -> concat_ws(' ', element_at(ws, i), element_at(ws, i + 1),
                              element_at(ws, i + 2))))) AS s
    FROM (SELECT doc_id, split(text, ' ') AS ws FROM documents)
    WHERE size(ws) >= 3
)
"""

_SH_DUCK = """
shingles AS (
    SELECT DISTINCT doc_id, unnest(list_transform(
               range(1, len(ws) - 1),
               i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2])) AS s
    FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
    WHERE len(ws) >= 3
)
"""

# One pass, no row multiplication: the 8 hash functions are 8 columns
# of a single groupBy(doc_id) — at 100 TB this is 1/8th the shuffle of
# the explode-by-hash-id shape, with identical semantics. The `i`-row
# form is recovered by unpivoting the 8 min columns.
_K = 8
_MINS = ",\n           ".join(
    f"MIN(md5('{i}:' || s)) AS mh{i}" for i in range(_K)
)
_MINHASH_WIDE = f"""
minhash_wide AS (
    SELECT doc_id,
           {_MINS}
    FROM shingles
    GROUP BY doc_id
)
"""
_UNPIVOT_SPARK = (
    "minhash AS (SELECT doc_id, posexploded.pos AS i, posexploded.col AS mh "
    "FROM minhash_wide "
    "LATERAL VIEW posexplode(array("
    + ", ".join(f"mh{i}" for i in range(_K))
    + ")) posexploded AS pos, col)"
)
_UNPIVOT_DUCK = (
    "minhash AS (SELECT doc_id, i, ["
    + ", ".join(f"mh{i}" for i in range(_K))
    + "][i + 1] AS mh FROM minhash_wide, range(0, 8) t(i))"
)

_MINHASH_SPARK = _MINHASH_WIDE + "," + _UNPIVOT_SPARK
_MINHASH_DUCK = _MINHASH_WIDE + "," + _UNPIVOT_DUCK

_pair(
    "minhash_signatures",
    "WITH "
    + _SH_SPARK
    + ","
    + _MINHASH_SPARK
    + """
SELECT doc_id,
       array_join(array_sort(collect_list(
           CAST(i AS STRING) || ':' || mh)), '|') AS signature
FROM minhash
GROUP BY doc_id
ORDER BY doc_id
""",
    "WITH "
    + _SH_DUCK
    + ","
    + _MINHASH_DUCK
    + """
SELECT doc_id,
       string_agg(CAST(i AS STRING) || ':' || mh, '|'
                  ORDER BY CAST(i AS STRING) || ':' || mh) AS signature
FROM minhash
GROUP BY doc_id
ORDER BY doc_id
""",
    tags=("dedup", "minhash"),
)

# --- LSH candidate pairs + exact-Jaccard verification ---------------------
_LSH_TAIL = """
bands AS (
    -- floor, not CAST(i/4 AS INT): double->int CAST truncates in
    -- Spark but ROUNDS in DuckDB; floor keeps the band boundaries
    -- identical in both engines (see curation_ops.minhash_estimate_error,
    -- which exposes the raw candidate set and caught this).
    SELECT doc_id, CAST(floor(i / 4.0) AS INT) AS band, {bandkey} AS band_key
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
verified AS (
    SELECT c.doc_a, c.doc_b, COUNT(*) AS inter
    FROM candidates c
    JOIN shingles sa ON sa.doc_id = c.doc_a
    JOIN shingles sb ON sb.doc_id = c.doc_b AND sa.s = sb.s
    GROUP BY c.doc_a, c.doc_b
)
SELECT v.doc_a, v.doc_b,
       CAST(v.inter AS DOUBLE) / (za.n + zb.n - v.inter) AS jaccard
FROM verified v
JOIN sizes za ON za.doc_id = v.doc_a
JOIN sizes zb ON zb.doc_id = v.doc_b
WHERE CAST(v.inter AS DOUBLE) / (za.n + zb.n - v.inter) >= 0.5
ORDER BY v.doc_a, v.doc_b
"""

_BANDKEY_SPARK = "array_join(array_sort(collect_list(CAST(i AS STRING) || ':' || mh)), '|')"
_BANDKEY_DUCK = (
    "string_agg(CAST(i AS STRING) || ':' || mh, '|' "
    "ORDER BY CAST(i AS STRING) || ':' || mh)"
)

_SH_PERSISTED = f"shingles AS (SELECT doc_id, s FROM {SHINGLE_VIEW})"

_pair_shingled(
    "minhash_lsh_dedup",
    "WITH "
    + _SH_PERSISTED
    + ","
    + _MINHASH_SPARK
    + ","
    + _LSH_TAIL.format(bandkey=_BANDKEY_SPARK),
    "WITH "
    + _SH_DUCK
    + ","
    + _MINHASH_DUCK
    + ","
    + _LSH_TAIL.format(bandkey=_BANDKEY_DUCK),
    tags=("dedup", "minhash", "lsh"),
)

# --- LSH band-parameter sweep eval ------------------------------------------
# "Measure, don't guess" for the (bands b, rows r) knob: before
# committing a 100 TB dedup run to one banding, a pipeline measures
# the candidate volume AND the recall/precision of EVERY feasible
# banding of its K=8 signature against exact-Jaccard truth (J >= 0.5,
# the dedup threshold). The S-curve theory says P(candidate) =
# 1 - (1 - J^r)^(8/r); this query replaces the theory with the
# corpus's own numbers — r=8 (one strict band) should show tiny
# candidate volume / low recall, r=1 (8 loose bands) near-total
# recall at maximal candidate cost, with the production choice in
# between. Truth is the same inverted-index exact join the dedup
# queries use; candidate generation per config is the same banded
# equi-join as minhash_lsh_dedup — never all-pairs.
# The brute-force exact-Jaccard truth block (always the ORACLE's
# form; before r13 it was also the Spark side's).
_BAND_SWEEP_TRUTH_BRUTE = """pairs AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
    FROM shingles a
    JOIN shingles b ON a.s = b.s AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
truth AS (
    SELECT p.doc_a, p.doc_b
    FROM pairs p
    JOIN sizes za ON za.doc_id = p.doc_a
    JOIN sizes zb ON zb.doc_id = p.doc_b
    WHERE CAST(p.inter AS DOUBLE) / (za.n + zb.n - p.inter) >= 0.5
),"""

_BAND_SWEEP_TAIL = """
configs AS (
    SELECT 8 AS r UNION ALL SELECT 4 UNION ALL SELECT 2 UNION ALL SELECT 1
),
cfg_bands AS (
    SELECT doc_id, r, CAST(floor(i / (r * 1.0)) AS INT) AS band,
           {bandkey} AS band_key
    FROM minhash CROSS JOIN configs
    GROUP BY doc_id, r, CAST(floor(i / (r * 1.0)) AS INT)
),
cand AS (
    SELECT DISTINCT a.r, a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM cfg_bands a
    JOIN cfg_bands b ON a.r = b.r AND a.band = b.band
                    AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
{truth}
cand_counts AS (SELECT r, COUNT(*) AS n_cand FROM cand GROUP BY r),
-- {{truth}} = the exact-Jaccard J >= 0.5 truth CTE: the DuckDB oracle
-- always uses the brute inverted-index join (_BAND_SWEEP_TRUTH_BRUTE);
-- the Spark side derives the same set from the shared J >= 0.3 edge
-- fixture re-verified per edge (r13 — see _lsh_band_sweep_eval).
hit_counts AS (
    SELECT c.r, COUNT(*) AS n_hit
    FROM cand c JOIN truth t ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
    GROUP BY c.r
),
tcount AS (SELECT COUNT(*) AS n_true FROM truth)
SELECT cf.r AS rows_per_band,
       CAST(8 / cf.r AS INT) AS n_bands,
       CAST(COALESCE(cc.n_cand, 0) AS BIGINT) AS n_candidates,
       CAST(t.n_true AS BIGINT) AS n_true_pairs,
       CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hits,
       ROUND(CASE WHEN t.n_true = 0 THEN 1.0
                  ELSE CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / t.n_true
             END, 9) AS recall,
       ROUND(CASE WHEN COALESCE(cc.n_cand, 0) = 0 THEN 1.0
                  ELSE CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / cc.n_cand
             END, 9) AS precision
FROM configs cf
LEFT JOIN cand_counts cc ON cc.r = cf.r
LEFT JOIN hit_counts h ON h.r = cf.r
CROSS JOIN tcount t
ORDER BY rows_per_band DESC
"""

# Round-11 plan fix: the sweep's candidate self-join references
# cfg_bands twice, so the inlined minhash aggregation (8 md5 MINs over
# the full shingle relation) executed TWICE per run — measured 1.43 s
# per evaluation at sf0.1 against a 4.26 s total. The signature
# relation now materializes once per (session, sf_dir) via
# cached_minhash below (the same fixture discipline as the shingle
# relation it derives from); what remains is the exact-Jaccard truth
# join (2.2 s — the documented exact-anchor cost every eval query in
# this family shares) plus the banded probes.
_MINHASH_VIEW = "minhash_persisted"


@fixture("minhash", view=_MINHASH_VIEW)
def cached_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The unpivoted K=8 MinHash signature relation (doc_id, i, mh)
    for `sf_dir` over the persisted shingle fixture."""
    cached_shingles(spark, sf_dir)
    return _truncate_lineage(
        spark.sql(
            "WITH " + _SH_PERSISTED + "," + _MINHASH_SPARK
            + " SELECT doc_id, i, mh FROM minhash"
        ),
        spark,
    )


def _lsh_band_sweep_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band-parameter S-curve sweep (block comments above) over the
    persisted shingle + signature fixtures.

    r13 optimization round: the exact-Jaccard TRUTH relation is no
    longer the inline inverted-index self-join (the documented ~2 s
    exact-anchor cost) — truth(J >= 0.5) is a subset of the shared
    J >= 0.3 edge fixture (`cached_cc_edges`, itself losslessly
    prefix-filtered and oracle-proven), re-verified per edge with one
    array-intersect over the persisted shingle arrays. The DuckDB
    oracle keeps the brute-force truth join, so the green hash proves
    the fixture-derived truth set equals the brute set end-to-end.
    (ADVICE r13: the fixture path inherits the module's documented
    xxhash64 caveat — a per-pair collision inside one candidate's
    shingle union, ~2^-64 per pair, would skew this truth set relative
    to the string-exact oracle; accepted, as for every PPJoin
    consumer.)"""
    cached_minhash(spark, sf_dir)
    cached_cc_edges(spark, sf_dir)
    cached_shingle_arrays(spark, sf_dir)
    truth_spark = f"""verified05 AS (
    SELECT c.doc_a, c.doc_b,
           size(array_intersect(aa.arr, ab.arr)) AS inter,
           aa.n AS na, ab.n AS nb
    FROM {CC_EDGES_VIEW} c
    JOIN {ARRAYS_VIEW} aa ON aa.doc_id = c.doc_a
    JOIN {ARRAYS_VIEW} ab ON ab.doc_id = c.doc_b
),
truth AS (
    SELECT doc_a, doc_b FROM verified05
    WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.5
),"""
    return spark.sql(
        "WITH "
        + _SH_PERSISTED
        + ","
        + f"minhash AS (SELECT doc_id, i, mh FROM {_MINHASH_VIEW}),"
        + _BAND_SWEEP_TAIL.format(bandkey=_BANDKEY_SPARK, truth=truth_spark)
    )


query(
    "lsh_band_sweep_eval",
    oracle="WITH "
    + _SH_DUCK
    + ","
    + _MINHASH_DUCK
    + ","
    + _BAND_SWEEP_TAIL.format(
        bandkey=_BANDKEY_DUCK, truth=_BAND_SWEEP_TRUTH_BRUTE
    ),
    tags=("dedup", "minhash", "lsh", "quality-eval", "sweep"),
)(_lsh_band_sweep_eval)

# --- exact n-gram Jaccard via shared-shingle inverted index ---------------
_JACCARD_TAIL = """
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

_pair_shingled(
    "ngram_jaccard_dedup",
    "WITH " + _SH_PERSISTED + "," + _JACCARD_TAIL,
    "WITH " + _SH_DUCK + "," + _JACCARD_TAIL,
    tags=("dedup", "jaccard"),
)

# --- SimHash fingerprints -------------------------------------------------
# 16-bit simhash: bit b votes +1/-1 by the high bit of hex digit b+1 of
# md5(token); fingerprint bit = (vote sum >= 0).
_SIMHASH = """
SELECT doc_id,
       {agg} AS simhash
FROM (
    SELECT doc_id, b,
           CASE WHEN SUM(CASE WHEN substr(md5(t), b + 1, 1)
                                   IN ('8','9','a','b','c','d','e','f')
                              THEN 1 ELSE -1 END) >= 0
                THEN '1' ELSE '0' END AS bit,
           lpad(CAST(b AS STRING), 2, '0') AS bk
    FROM (SELECT DISTINCT doc_id, {tok} AS t
          FROM (SELECT doc_id, {split}(text, ' ') AS ws FROM documents))
    CROSS JOIN ({bits}) bb
    GROUP BY doc_id, b
)
GROUP BY doc_id
ORDER BY doc_id
"""

# r14 optimization round (guide §2.3 "shuffle fewer bytes"): the
# paired-dialect form cross-joined every DISTINCT (doc, token) row
# with the 16 bit positions BEFORE the shuffle — a 16x row blowup
# carrying the token string, and md5(t) re-evaluated per (token, bit)
# row (16x the hashing). The Spark side now hashes each token ONCE,
# folds all 16 bit-majority sums in a single per-doc aggregate
# (conditional SUMs over the hex digits), and assembles the fingerprint
# with a plain concat: the sorted collect_list('<2-digit bk>:<bit>')
# of 16 distinct zero-padded keys IS the in-order concatenation, so
# the output string is byte-identical. One exchange of (doc, 32-char
# hash) + one per-doc agg replace the 16x-exploded double shuffle.
# The DuckDB oracle keeps the cross-join form — the hash proves it.
_SIMHASH_HI = "('8','9','a','b','c','d','e','f')"

_SIMHASH_SPARK_1PASS = (
    "SELECT doc_id,\n       concat("
    + ",\n              ".join(
        f"'{b:02d}:', CASE WHEN SUM(CASE WHEN substr(h, {b + 1}, 1) "
        f"IN {_SIMHASH_HI} THEN 1 ELSE -1 END) >= 0 "
        "THEN '1' ELSE '0' END"
        for b in range(16)
    )
    + """) AS simhash
FROM (
    SELECT doc_id, md5(t) AS h
    FROM (SELECT DISTINCT doc_id, explode(ws) AS t
          FROM (SELECT doc_id, split(text, ' ') AS ws FROM documents))
)
GROUP BY doc_id
ORDER BY doc_id
"""
)

_pair(
    "simhash_fingerprints",
    _SIMHASH_SPARK_1PASS,
    _SIMHASH.format(
        agg="string_agg(bk || ':' || bit, '' ORDER BY bk || ':' || bit)",
        tok="unnest(ws)",
        split="string_split",
        bits="SELECT unnest(range(0, 16)) AS b",
    ),
    tags=("dedup", "simhash"),
)


# --- duplicate clustering: connected components over near-dup edges -------
# Deduplication is transitive in practice (A~B, B~C => one cluster even
# when A,C don't pair directly): after pair generation, a training
# pipeline needs CLUSTERS with one canonical keeper each. Edges here
# are the exact-Jaccard pairs at 0.3 (lower than the 0.5 dedup cut so
# chains exist); components are computed by iterative min-label
# propagation — each round every node takes the min label among itself
# and its neighbors, converging in O(graph diameter) rounds. Each
# round is one shuffle-join + one aggregation; at 100 TB scale the
# same loop with the alternating large-star/small-star optimization
# (Kiveris et al., "Connected Components in MapReduce") converges in
# O(log n) rounds — the join/agg structure is identical, so this is
# the honest small-scale shape of the scale algorithm. The DuckDB
# oracle computes the same components via a recursive CTE, so the
# fixpoint itself is differentially checked, not just row counts.
#
# _CC_EDGES below is the BRUTE-FORCE edge definition and feeds ONLY
# the oracles (_CC_CTES): the Spark side builds the same edge list via
# the lossless prefix filter in `cached_cc_edges` (defined after the
# prefix machinery below), so every green hash in this family also
# proves the filtered pair generation equals the full self-join.
_CC_EDGES = """
pairs AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
    FROM shingles a
    JOIN shingles b ON a.s = b.s AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id)
SELECT p.doc_a, p.doc_b
FROM pairs p
JOIN sizes za ON za.doc_id = p.doc_a
JOIN sizes zb ON zb.doc_id = p.doc_b
WHERE CAST(p.inter AS DOUBLE) / (za.n + zb.n - p.inter) >= 0.3
"""

# CTE chain up to and including the `cc` labeling — composed FORWARD
# (prefix + final-select) so the keeper oracle below reuses the exact
# prefix without any string surgery on the finished oracle.
_CC_CTES = (
    "WITH RECURSIVE "
    + _SH_DUCK.strip().lstrip()
    + ",\n"
    + _CC_EDGES.replace(
        "\nSELECT p.doc_a, p.doc_b", "\n, edges AS (SELECT p.doc_a, p.doc_b", 1
    )
    + """),
und AS (
    SELECT doc_a AS src, doc_b AS dst FROM edges
    UNION
    SELECT doc_b AS src, doc_a AS dst FROM edges
),
nodes AS (SELECT DISTINCT src AS node FROM und),
reach(node, root) AS (
    SELECT node, node FROM nodes
    UNION
    SELECT u.dst, r.root FROM reach r JOIN und u ON u.src = r.node
),
cc AS (SELECT node, MIN(root) AS component FROM reach GROUP BY node)
"""
)

_CC_ORACLE = (
    _CC_CTES
    + """
SELECT c.node AS doc_id, c.component,
       s.sz AS cluster_size
FROM cc c
JOIN (SELECT component, COUNT(*) AS sz FROM cc GROUP BY component) s
  ON c.component = s.component
ORDER BY doc_id
"""
)


# Shared with graph_ops (operators/checkpointing.py): reliable
# checkpoint() when a checkpoint dir is set, localCheckpoint otherwise.
from crypto_lakehouse_spark.operators.checkpointing import (  # noqa: E402
    release_lineage as _release_lineage,
    truncate_lineage as _truncate_lineage,
)


def _cc_labels(spark, edges, max_rounds: int = 32) -> DataFrame:
    """Iterative min-label propagation WITH pointer-doubling over an
    undirected edge frame (doc_a, doc_b): returns (node, component)
    for every node WITH at least one edge; component = min doc_id in
    the connected component. Each round takes
    comp'(v) = min(comp(v), min_{u in N(v)} comp(u), comp(comp(v))) —
    the neighbor-min hop plus the SHORTCUT join comp(comp(v)), which
    halves the distance any label still has to travel. Convergence is
    therefore O(log diameter) rounds, not O(diameter): a giant
    chain-shaped component (the near-dup graph of a boilerplate-heavy
    crawl, where template drift links doc i to doc i+1 across 10% of
    the corpus) converges in ~log2 rounds where plain propagation
    needs diameter rounds and a fixed cap would silently return WRONG
    labels. Non-convergence inside `max_rounds` raises instead of
    returning a partial fixpoint. Lineage per iteration is truncated
    via `_truncate_lineage`: reliable checkpoint when a checkpoint dir
    is set, localCheckpoint otherwise. Shared by `dup_clusters_cc`
    (the cluster census) and `leakage_safe_split` (the split
    assignment); ramp-tested on the giant-component fixture in
    tests/test_scaling.py."""
    from pyspark.sql import functions as F

    und = edges.selectExpr("doc_a AS src", "doc_b AS dst").union(
        edges.selectExpr("doc_b AS src", "doc_a AS dst")
    )
    lbl = _truncate_lineage(
        und.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("component", F.col("node")),
        spark,
    )
    for _ in range(max_rounds):  # O(log diameter) with the shortcut
        nb = (
            und.join(
                lbl.select(
                    F.col("node").alias("dst"),
                    F.col("component").alias("nb_comp"),
                ),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("nb_comp").alias("nb_comp"))
        )
        # comp(comp(v)): labels are node ids, so re-key the label table
        # by node and look up each node's current label's label.
        shortcut = lbl.select(
            F.col("node").alias("comp_node"),
            F.col("component").alias("comp_comp"),
        )
        # Carry the old label through the same job so the convergence
        # check is a filter+count on the checkpointed result, not an
        # extra join per iteration.
        new = _truncate_lineage(
            lbl.join(nb, lbl.node == nb.src, "left")
            .join(shortcut, lbl.component == shortcut.comp_node, "left")
            .select(
                lbl.node,
                F.least(
                    lbl.component,
                    F.coalesce(nb.nb_comp, lbl.component),
                    F.coalesce(F.col("comp_comp"), lbl.component),
                ).alias("component"),
                lbl.component.alias("old"),
            ),
            spark,
        )
        changed = new.where(F.col("component") != F.col("old")).count()
        lbl = new.select("node", "component")
        if changed == 0:
            return lbl
    raise RuntimeError(
        f"connected components did not converge in {max_rounds} rounds "
        "(graph diameter > 2^rounds is impossible; this indicates a bug)"
    )


@fixture("cc_minlabels")
def cached_cc_minlabels(spark, sf_dir: str) -> DataFrame:
    """Materialize the min-label-propagation CC labels once per
    (session, sf_dir) — r13 optimization round: `dup_clusters_cc` and
    `leakage_safe_split` each re-ran the identical `_cc_labels` loop
    over the same shared edge fixture; the persisted label relation is
    the checkpoint a 100 TB pipeline keeps between clustering and its
    consumers (same discipline as `cached_cc_edges`)."""
    edges = spark.table(cached_cc_edges(spark, sf_dir)[1])
    return _truncate_lineage(_cc_labels(spark, edges), spark)


@query(
    "dup_clusters_cc",
    oracle=_CC_ORACLE,
    tags=("dedup", "clustering", "iterative", "graph"),
)
def dup_clusters_cc(spark, sf_dir: str):
    """Near-duplicate clusters: connected components via iterative
    min-label propagation with pointer-doubling over the Jaccard>=0.3
    candidate graph (see the block comment above for the scale framing
    and oracle, and `_cc_labels` for the O(log diameter) loop).
    Alternative with the same round bound: alternating large-star /
    small-star rounds (Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC'14) — implemented as
    `dup_clusters_cc_star` below."""
    from pyspark.sql import functions as F

    lbl = cached_cc_minlabels(spark, sf_dir)
    sizes = lbl.groupBy("component").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        lbl.join(sizes, "component")
        .select(F.col("node").alias("doc_id"), "component", "cluster_size")
        .orderBy("doc_id")
    )


# --- prefix-filtered Jaccard (PPJoin-style) --------------------------------
# The scale path for the exact inverted-index self-join above
# (ngram_jaccard_dedup): rank every shingle by global rarity
# (frequency asc, shingle asc), keep only each doc's PREFIX — its
# n - ceil(t*n) + 1 rarest shingles — and generate candidates from
# the prefix join alone, then verify candidates exactly. Two sets
# with J >= t must share >= ceil(t*|x|) shingles (i(1+t) >= t(na+nb)
# >= t(|x|+i) => i >= t|x|), so by pigeonhole they collide inside the
# prefix — no candidate is missed, and the oracle (the full exact
# Jaccard) proves it: IDENTICAL output pairs.
# Why this scales where the full self-join melts: join fan-out is
# quadratic in per-shingle document frequency, and the prefix keeps
# each doc's RAREST shingles — hot shingles (the skew that produces
# the O(df^2) hot partitions at 100 TB) are exactly what the prefix
# excludes. The size filter (max <= 2*min at t=0.5) prunes candidates
# before the verify join. Verification touches only candidate pairs,
# a join driven by the (small) candidate set instead of the corpus.
# Spark CTEs are INLINED (unlike DuckDB's materialized CTEs), so a
# `prefix` CTE referenced on both sides of the candidate self-join
# would recompute the freq-join + window sort twice. The prefix
# relation is therefore materialized once per session (same pattern
# as the shingle view) — which is also the honest 100 TB design: the
# ranked-prefix relation is the thing you'd checkpoint before the
# pair-generation stage.
PREFIX_VIEW = "jaccard_prefix_persisted"

# Threshold-INDEPENDENT rarity-ranked shingle relation (r13
# optimization round): the freqs-join + per-doc rarity window does
# not depend on the prefix threshold, yet the session built it twice —
# once for the t=1/2 prefix (cached_prefix) and once for the t=3/10
# prefix (cached_cc_edges). Materialize the ranked relation once (the
# full (doc_id, hashed shingle, set size, canonical position)
# postings, which the containment family below also reads on both
# sides of its candidate join); each prefix is then a pure filter.
RANKED_VIEW = "shingle_ranked_persisted"

_RANKED_SELECT = f"""
WITH freqs AS (SELECT s, COUNT(*) AS df FROM {SHINGLE_VIEW} GROUP BY s),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM {SHINGLE_VIEW} GROUP BY doc_id)
SELECT sh.doc_id, xxhash64(sh.s) AS sh, z.n,
       ROW_NUMBER() OVER (
           PARTITION BY sh.doc_id ORDER BY f.df, sh.s) AS pos
FROM {SHINGLE_VIEW} sh
JOIN freqs f ON f.s = sh.s
JOIN sizes z ON z.doc_id = sh.doc_id
"""

# Prefix bound is threshold-generic: J >= num/den admits prefix
# length n - ceil(num*n/den) + 1 (same pigeonhole lemma, t = num/den).
_PREFIX_FILTER_T = (
    f"SELECT doc_id, sh, n, pos FROM {RANKED_VIEW} "
    "WHERE pos <= n - ({num} * n + {den} - 1) DIV {den} + 1"
)


@fixture("ranked_postings", view=RANKED_VIEW)
def cached_ranked_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonically-ranked hashed posting relation."""
    cached_shingles(spark, sf_dir)
    return _truncate_lineage(spark.sql(_RANKED_SELECT), spark)


@fixture("prefix_t12", view=PREFIX_VIEW)
def cached_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each doc's rarest-shingle prefix (threshold 0.5)."""
    cached_ranked_postings(spark, sf_dir)
    return _truncate_lineage(
        spark.sql(_PREFIX_FILTER_T.format(num=1, den=2)), spark
    )


# --- shared per-doc shingle-array relation -----------------------------------
# (doc_id, sorted-hash array, set size): the verify-side payload of
# every PPJoin-style query. It was an inline `arrays` CTE referenced
# twice per query (aa/ab verify sides), i.e. the 26M-row collect_list
# aggregate ran twice per run — and as a CTE it would miss the cache
# anyway (Spark 4.1 trap, see fixture_meter's module docstring). One
# lineage-truncated fixture per session; at 100 TB this is the
# doc->signature relation a pipeline materializes once next to the
# shingle store.
ARRAYS_VIEW = "shingle_arrays_persisted"

_ARRAYS_SELECT = f"""
SELECT doc_id, collect_list(xxhash64(s)) AS arr, COUNT(*) AS n
FROM {SHINGLE_VIEW} GROUP BY doc_id
"""


@fixture("shingle_arrays", view=ARRAYS_VIEW)
def cached_shingle_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-doc hashed shingle arrays."""
    cached_shingles(spark, sf_dir)
    return _truncate_lineage(spark.sql(_ARRAYS_SELECT), spark)


# --- shared near-dup edge relation (Jaccard >= 0.3, prefix-filtered) -------
# The J >= 0.3 edge list feeds the ENTIRE clustering family
# (dup_clusters_cc, dup_clusters_cc_star, near_dup_keep,
# dedup_survivor_weights, leakage_safe_split). Round-9 sf10 profiling
# split leakage_safe_split's 81 s as: pair generation 41 s, CC loop
# 5 s, tail <2 s — the uncapped inverted-index self-join (sum of
# C(df,2) over every shingle) was the whole cost, not the iteration.
# This builder applies the SAME lossless PPJoin prefix filter as
# ngram_jaccard_prefix_filtered, at t = 3/10 (longer prefixes than
# t = 1/2 — the lemma's prefix length is threshold-dependent), plus
# the t-scaled size filter 3*max(n) <= 10*min(n), then verifies
# candidates exactly by array intersection. Every consumer's oracle
# still derives edges from the BRUTE self-join, so each green hash is
# an end-to-end proof the filter lost no edge. Materialized once per
# session (the checkpoint a 100 TB pipeline would persist between
# pair generation and everything downstream); xxhash64 arrays carry
# the same documented 2^-64-per-pair collision tradeoff as PPJoin.
CC_EDGES_VIEW = "cc_edges_persisted"
# fixture value: (prefix03_df, edges_df) — BOTH checkpointed and both
# kept live for the fixture's lifetime: the t=3/10 prefix stays
# registered as PREFIX03_VIEW (referenced on both sides of the
# candidate self-join — Spark inlines temp views, so a released
# prefix would recompute the freq-join + window sort twice), and
# eviction releases both on an sf_dir switch.
PREFIX03_VIEW = "jaccard_prefix03_persisted"

_CC_EDGES_PREFIX = f"""
WITH candidates AS (
    -- Positional filter at t = 3/10: J >= 3/10 needs overlap
    -- >= ceil(3 (n_a + n_b) / 13), bounded by 1 + min(n - pos), so
    -- 13 * ubound >= 3 * (n_a + n_b) — same lossless first-shared-row
    -- argument as the t = 1/2 form above.
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM {PREFIX03_VIEW} a
    JOIN {PREFIX03_VIEW} b ON a.sh = b.sh AND a.doc_id < b.doc_id
    WHERE 3 * (CASE WHEN a.n > b.n THEN a.n ELSE b.n END)
          <= 10 * (CASE WHEN a.n < b.n THEN a.n ELSE b.n END)
      AND 13 * (1 + least(a.n - a.pos, b.n - b.pos))
          >= 3 * (a.n + b.n)
    GROUP BY a.doc_id, b.doc_id
),
verified AS (
    SELECT c.doc_a, c.doc_b,
           size(array_intersect(aa.arr, ab.arr)) AS inter,
           aa.n AS na, ab.n AS nb
    FROM candidates c
    JOIN {ARRAYS_VIEW} aa ON aa.doc_id = c.doc_a
    JOIN {ARRAYS_VIEW} ab ON ab.doc_id = c.doc_b
)
SELECT doc_a, doc_b FROM verified
WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.3
"""


@fixture("cc_edges", view=(PREFIX03_VIEW, CC_EDGES_VIEW))
def cached_cc_edges(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """The t=3/10 prefix and the Jaccard>=0.3 near-dup edge list it
    generates (block comment above)."""
    cached_shingles(spark, sf_dir)
    cached_shingle_arrays(spark, sf_dir)
    cached_ranked_postings(spark, sf_dir)
    pfx = _truncate_lineage(
        spark.sql(_PREFIX_FILTER_T.format(num=3, den=10)), spark
    )
    # The edge SQL reads the prefix view, so register it now.
    pfx.createOrReplaceTempView(PREFIX03_VIEW)
    # Lineage is TRUNCATED (not just persisted): downstream
    # consumers checkpoint plans derived from this view inside
    # iterative loops, and a view that still carries the CTE
    # logical plan trips Spark's InlineCTE re-optimization
    # ([PLAN_VALIDATION_FAILED_RULE_IN_BATCH] on re-checkpoint).
    # A checkpointed edge list is also the honest 100 TB artifact.
    return pfx, _truncate_lineage(spark.sql(_CC_EDGES_PREFIX), spark)


# Verification joins each candidate pair to per-doc shingle ARRAYS
# and intersects in one JVM expression — one row per candidate, no
# ~|doc| x |candidates| row expansion through a shuffle (the naive
# verify-by-inverted-index re-join was measured 2.5x slower).
# Two payload tricks keep the verify join cheap:
# - arrays hold xxhash64(s), not the 3-word strings (8 B vs ~25 B per
#   element, and long-compare intersects instead of string-compare).
#   Spark-side only, so no cross-engine hash portability concern —
#   the DuckDB oracle recomputes the exact string Jaccard
#   independently; a hash collision inside one candidate pair's ~120
#   element union (~C(120,2)/2^64 ~ 4e-16) is the accepted risk.
# - both arrays joins are HINT-FREE: the scale-safe default is a
#   doc_id-co-partitioned shuffle join (one row per candidate either
#   way). Spark's STATIC size estimate for collect_list output is too
#   conservative to plan broadcast up front, but AQE re-plans from the
#   ACTUAL shuffle-stage stats and converts to broadcast at runtime
#   exactly when the arrays relation is genuinely small — so test
#   scale still gets the broadcast plan while a billions-of-docs
#   corpus keeps the partitioned join, with no hint to remove.
_PPJOIN_SPARK = f"""
WITH candidates AS (
    -- Positional filter (PPJoin proper, lossless): at a shared
    -- prefix feature at global-rarity positions (pos_a, pos_b), the
    -- overlap can be at most 1 + min(n_a - pos_a, n_b - pos_b); a
    -- J >= 1/2 pair needs overlap >= ceil((n_a + n_b) / 3), and its
    -- FIRST shared feature row maximizes the bound, so keeping pairs
    -- from passing rows loses nothing. Integer form: 3 * ubound >=
    -- n_a + n_b. Round-9 sf10 measurement: 31M candidates made the
    -- verify join the whole cost; this prunes them at the join.
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM {PREFIX_VIEW} a
    JOIN {PREFIX_VIEW} b ON a.sh = b.sh AND a.doc_id < b.doc_id
    WHERE (CASE WHEN a.n > b.n THEN a.n ELSE b.n END)
          <= 2 * (CASE WHEN a.n < b.n THEN a.n ELSE b.n END)
      AND 3 * (1 + least(a.n - a.pos, b.n - b.pos)) >= a.n + b.n
),
verified AS (
    SELECT c.doc_a, c.doc_b,
           size(array_intersect(aa.arr, ab.arr)) AS inter,
           aa.n AS na, ab.n AS nb
    FROM candidates c
    JOIN {ARRAYS_VIEW} aa ON aa.doc_id = c.doc_a
    JOIN {ARRAYS_VIEW} ab ON ab.doc_id = c.doc_b
)
SELECT doc_a, doc_b,
       CAST(inter AS DOUBLE) / (na + nb - inter) AS jaccard
FROM verified
WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.5
ORDER BY doc_a, doc_b
"""


def _ngram_jaccard_prefix_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PPJoin-style prefix-filtered exact Jaccard (module docstring
    block above has the lemma + scale notes); oracle is the FULL
    inverted-index Jaccard — prefix filtering must lose nothing."""
    cached_prefix(spark, sf_dir)
    cached_shingle_arrays(spark, sf_dir)
    return spark.sql(_PPJOIN_SPARK)


query(
    "ngram_jaccard_prefix_filtered",
    oracle="WITH " + _SH_DUCK + "," + _JACCARD_TAIL,
    tags=("dedup", "jaccard", "prefix-filter"),
    confs=WIDE_SHUFFLE,
)(_ngram_jaccard_prefix_filtered)


# --- blocked edit-distance linkage (fuzzy near-dup) -------------------------
# Record-linkage shape: block on (lang, size-bucket, 8-char head
# prefix) — a fixed deterministic blocking rule shared by both
# engines — then score candidate pairs with levenshtein over the
# 60-char head and keep distance <= 25. Blocking turns the O(n^2)
# all-pairs scoring into per-block self-joins on an equi key, the
# classic entity-resolution scale pattern. The head-prefix term is
# load-bearing for the asymptotics (round-7 sf1 finding): with only
# (lang, size-bucket), block SIZE grows linearly with the corpus and
# within-block pairs quadratically — measured 43x wall at 10x docs;
# the prefix term (standard multi-pass/prefix blocking) keys blocks
# by content so corpus growth adds BLOCKS, not block width (sf1
# re-measure: 4.6x at 10x docs). The trade is standard for blocking:
# a true near-dup pair differing inside the first 8 chars lands in
# different blocks and is not scored — the recall knob is the prefix
# length, and a production multi-pass setup unions a second pass on a
# different key (e.g. suffix or sorted-token prefix);
# levenshtein is identical classic edit distance in both engines.
# The Spark side REPARTITIONs the probe relation: the whole corpus
# fits one parquet file at test scale, so the broadcast block-join
# would otherwise emit every candidate pair in ONE partition and run
# every levenshtein on one core (measured 35 s -> ~2 s at sf0.1 with
# 32 slices). At real scale the scan is naturally partitioned and the
# hint is a no-op shuffle of row-sized tuples; CPU-heavy per-row
# scoring must always be spread across slices, scan layout aside.
_LEV_BLOCKED = """
WITH blocked AS (
    SELECT %%HINT%% doc_id, lang, n_chars %%DIV%% 50 AS bkt,
           substr(text, 1, 8) AS pfx,
           substr(text, 1, 60) AS head
    FROM documents
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       levenshtein(a.head, b.head) AS edit_dist
FROM blocked a
JOIN blocked b
  ON a.lang = b.lang AND a.bkt = b.bkt AND a.pfx = b.pfx
 AND a.doc_id < b.doc_id
WHERE levenshtein(a.head, b.head) <= 25
ORDER BY doc_a, doc_b
"""

def _levenshtein_blocked_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked edit-distance linkage. The repartition width is derived
    from the live session's defaultParallelism (NOT a constant): the
    point of the hint is one scoring slice per core, whatever the
    cluster size."""
    register_views(spark, sf_dir, ["documents"])
    slices = spark.sparkContext.defaultParallelism
    sql = _LEV_BLOCKED.replace("%%DIV%%", "DIV").replace(
        "%%HINT%%", f"/*+ REPARTITION({slices}) */"
    )
    return spark.sql(sql)


query(
    "levenshtein_blocked_linkage",
    oracle=_LEV_BLOCKED.replace("%%DIV%%", "//").replace("%%HINT%%", ""),
    tags=("dedup", "linkage", "fuzzy"),
)(_levenshtein_blocked_linkage)


# --- incremental exact dedup (batch-vs-corpus) ------------------------------
# The continuous-ingest shape of exact dedup: a NEW batch (every 7th
# doc stands in for today's crawl) is checked against the existing
# corpus's content-hash set; known duplicates are flagged, fresh docs
# pass. Per-row verdicts, not just counts, so the oracle checks every
# decision. Scale shape: one equi-join on the 32-hex md5 — at 100 TB
# the corpus side is a bucketed/sorted hash table updated per batch
# (or a bloom-filter pre-filter before the join); the batch side is
# small and broadcastable when Spark's stats see it. The md5 is the
# same function in both engines, so the SQL is shared verbatim.
_INCR_DEDUP = """
WITH corpus AS (
    SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 7 <> 0
),
batch AS (
    SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 7 = 0
)
SELECT b.doc_id,
       CAST(CASE WHEN c.h IS NULL THEN 0 ELSE 1 END AS INT) AS known_dup
FROM batch b LEFT JOIN corpus c ON b.h = c.h
ORDER BY b.doc_id
"""

_pair(
    "incremental_exact_dedup",
    _INCR_DEDUP,
    _INCR_DEDUP,
    tags=("dedup", "exact", "incremental"),
)


# --- idf-weighted cosine top-k (tf-idf similarity over shingles) -----------
# The tf-idf member of the similarity family: docs as idf-weighted
# binary shingle vectors (shingles are distinct per doc, so tf = 1 and
# weight = ln(N/df)); cosine = sum of wt^2 over SHARED shingles /
# (|a| * |b|). Rare shared shingles dominate — the "soft Jaccard"
# ranking a real pipeline uses next to the exact-overlap one. Word
# tf-idf is pointless on this corpus (31-word vocabulary, every term
# hot); shingles carry the discriminative signal AND keep the
# inverted-index join bounded: pair generation takes only shingles with
# 1 < df <= _TFIDF_DF_CAP. df = 1 shingles cannot be shared; df > cap
# shingles are boilerplate whose idf weight ln(N/df) is near the floor;
# dropping them from the DOT (norms still use ALL shingles) bounds
# per-shingle join fan-out to cap^2 rows — without the cap, one viral
# shingle shared by k docs emits k^2 candidates on a single join key,
# the quadratic hot-partition blowup ngram_jaccard_capped already
# guards against. Semantics of the cap: pairs whose shared shingles lie
# ONLY above the cap emit no dot row and drop out of the top-k entirely
# — a deliberate recall tradeoff (boilerplate-only overlap is not
# similarity), the same stop-shingle policy ngram_jaccard_capped
# documents; for pairs that remain, scores shift only by the excluded
# near-floor weights. The oracle applies the IDENTICAL cap, so the
# differential check proves the capped semantics (it cannot, by
# construction, compare against the uncapped definition).
# Determinism: the only float work is ln + the folds, and every fold
# runs over the s-SORTED list in both engines; cosine is ROUND(9)ed
# BEFORE ranking so the row_number tie-break (doc_b) is identical.
# norms CTE split out: the oracle inlines it (DuckDB materializes
# CTEs); the Spark side substitutes the persisted norms view instead
# (see cached_tfidf_norms below).
_TFIDF_NORMS_CTE = """
norms AS (
    SELECT doc_id, {fold} AS nrm FROM (
        SELECT doc_id, df, COUNT(*) AS c, MAX(wt) AS wt
        FROM w GROUP BY doc_id, df
    ) g GROUP BY doc_id
),"""

# {w} and {norms} are TABLE NAMES, not CTE aliases, on purpose: the
# Spark side passes the persisted view names DIRECTLY. Wrapping a
# cached view in a CTE alias that is referenced more than once
# (`w AS (SELECT ... FROM view)` + a self-join on w) makes Spark 4.1's
# CTE inlining emit a plan whose canonical form NO LONGER MATCHES the
# CacheManager entry — the whole upstream (idf join over 26M shingle
# rows) silently recomputes on BOTH join sides (measured: the
# candidates stage ran 76 s vs 22 s at sf10 for the identical query
# with direct view references). The DuckDB oracle passes its own CTE
# names; DuckDB materializes CTEs, so it is unaffected.
_TFIDF_TAIL = """
dots AS (
    SELECT doc_a, doc_b, {fold} AS dot FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.df AS df,
               COUNT(*) AS c, MAX(a.wt) AS wt
        FROM (SELECT doc_id, s, wt, df FROM {w}
              WHERE df > 1 AND df <= {cap}) a
        JOIN (SELECT doc_id, s FROM {w} WHERE df > 1 AND df <= {cap}) b
          ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id, a.df
    ) g GROUP BY doc_a, doc_b
),
scored AS (
    SELECT d.doc_a, d.doc_b,
           ROUND(d.dot / (SQRT(na.nrm) * SQRT(nb.nrm)), 9) AS cosine
    FROM dots d
    JOIN {norms} na ON na.doc_id = d.doc_a
    JOIN {norms} nb ON nb.doc_id = d.doc_b
),
ranked AS (
    SELECT doc_a, doc_b, cosine,
           ROW_NUMBER() OVER (
               PARTITION BY doc_a ORDER BY cosine DESC, doc_b
           ) AS rnk
    FROM scored WHERE cosine > 0
)
SELECT doc_a, CAST(rnk AS INT) AS rnk, doc_b, cosine
FROM ranked WHERE rnk <= 3
ORDER BY doc_a, rnk
"""

# One fold shape for norms and dots: the float work collapses to the
# handful of DISTINCT df values (wt is a function of df), so the heavy
# aggregation is integer COUNT per (group, df) — map-side combinable,
# whole-stage codegen — and the double fold runs over a df-sorted list
# of at most |distinct df| elements. O(join rows) integer work,
# O(groups x distinct-df) float work.
_TFIDF_FOLD_SPARK = (
    "aggregate(array_sort(collect_list(struct(df, c, wt))), "
    "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.c * x.wt * x.wt)"
)
_TFIDF_FOLD_DUCK = (
    "list_reduce(list_prepend(CAST(0 AS DOUBLE), "
    "list(c * wt * wt ORDER BY df)), (acc, x) -> acc + x)"
)

# The weighted-shingle relation `w` is referenced three times (norms
# + both sides of the pair join); Spark inlines CTEs, so it is
# materialized once per session like the shingle/prefix relations —
# the checkpoint you'd persist before pair generation at 100 TB. The
# join key is xxhash64(s), not the raw shingle string (int64 equality
# in the hot self-join; same 2^-64-collision tradeoff the PPJoin
# verify already takes — the oracle joins raw strings and proves no
# collision bit).
TFIDF_W_VIEW = "tfidf_w_persisted"

_TFIDF_W_SELECT = f"""
WITH nd AS (SELECT COUNT(DISTINCT doc_id) AS n FROM {SHINGLE_VIEW}),
idf AS (SELECT s, COUNT(*) AS df FROM {SHINGLE_VIEW} GROUP BY s)
SELECT sh.doc_id, xxhash64(sh.s) AS s,
       ln(CAST(nd.n AS DOUBLE) / d.df) AS wt, d.df
FROM {SHINGLE_VIEW} sh JOIN idf d ON sh.s = d.s CROSS JOIN nd
"""


@fixture("tfidf_weights", view=TFIDF_W_VIEW)
def cached_tfidf_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The idf-weighted shingle relation."""
    cached_shingles(spark, sf_dir)
    return _truncate_lineage(spark.sql(_TFIDF_W_SELECT), spark)


_TFIDF_W_DUCK = """
nd AS (SELECT COUNT(DISTINCT doc_id) AS n FROM shingles),
idf AS (SELECT s, COUNT(*) AS df FROM shingles GROUP BY s),
w AS (
    SELECT sh.doc_id, sh.s, ln(CAST(nd.n AS DOUBLE) / d.df) AS wt, d.df
    FROM shingles sh JOIN idf d ON sh.s = d.s CROSS JOIN nd
),
"""

# Per-doc norm relation, materialized once per session: Spark INLINES
# CTEs, so a `norms` CTE referenced three times (the g-threshold side
# plus both sides of the final score join) would run the fold
# aggregate over the full weighted relation three times — measured as
# the dominant recompute in the thresholded twin at sf10. One scan,
# persisted, shared by both idf-cosine queries.
TFIDF_NORMS_VIEW = "tfidf_norms_persisted"


@fixture("tfidf_norms", view=TFIDF_NORMS_VIEW)
def cached_tfidf_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc tf-idf vector norms."""
    cached_tfidf_weights(spark, sf_dir)
    df = spark.sql(
        f"""
SELECT doc_id, {{fold}} AS nrm FROM (
    SELECT doc_id, df, COUNT(*) AS c, MAX(wt) AS wt
    FROM {TFIDF_W_VIEW} GROUP BY doc_id, df
) g GROUP BY doc_id
""".format(fold=_TFIDF_FOLD_SPARK)
    )
    return _truncate_lineage(df, spark)


# Per-query conf for the idf-cosine family: the per-doc scalar
# relations (norms, g-thresholds — ~16 B/doc) sit just above the
# 10 MB default broadcast threshold at sf10 (650k docs ~ 15 MB), so
# hint-free planning sort-merges the 112M-row pair relation against
# them — measured 92 s vs ~35 s for the map-side plan. Raise ONLY the
# ADAPTIVE threshold: AQE decides from ACTUAL materialized shuffle
# sizes, so the 15 MB norms side converts to broadcast while the
# multi-GB relations never do, and the billions-of-docs regime
# (norms >> 64 MB) keeps the co-partitioned shuffle join. The STATIC
# threshold stays at default on purpose — raising it was measured to
# broadcast a mis-estimated 26M-row relation (GC death spiral).
_TFIDF_CONFS = dict(WIDE_SHUFFLE)
_TFIDF_CONFS["spark.sql.adaptive.autoBroadcastJoinThreshold"] = str(
    64 * 1024 * 1024
)

# Hot-shingle document-frequency cap for pair generation (see the
# block comment above `_TFIDF_TAIL`). 20 mirrors ngram_jaccard_capped's
# stop-shingle threshold; at 100 TB this is the knob that bounds the
# worst join key to cap^2 candidate rows.
_TFIDF_DF_CAP = 20


# Spark-side tail with NORM-CARRIED scoring: joining the per-doc norm
# relation onto the 112M-row pair relation costs two extra full
# shuffles (measured +38 s at sf10 — dots alone 24 s, dots+norm joins
# 62 s). Instead the capped fixture (TFIDF_CG_VIEW) carries each
# row's own nrm, the pair aggregate keeps it via MAX (constant per
# group), and the cosine divides at emission — the IDENTICAL formula
# and rounding points as the oracle's join form, zero extra shuffles.
_TFIDF_TOPK_SPARK_T = """
WITH dots AS (
    SELECT doc_a, doc_b, {fold} AS dot,
           MAX(na) AS na, MAX(nb) AS nb
    FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.df AS df,
               COUNT(*) AS c, MAX(a.wt) AS wt,
               MAX(a.nrm) AS na, MAX(b.nrm) AS nb
        FROM {cg} a JOIN {cg} b
          ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id, a.df
    ) g GROUP BY doc_a, doc_b
),
scored AS (
    SELECT doc_a, doc_b,
           ROUND(dot / (SQRT(na) * SQRT(nb)), 9) AS cosine
    FROM dots
),
ranked AS (
    SELECT doc_a, doc_b, cosine,
           ROW_NUMBER() OVER (
               PARTITION BY doc_a ORDER BY cosine DESC, doc_b
           ) AS rnk
    FROM scored WHERE cosine > 0
)
SELECT doc_a, CAST(rnk AS INT) AS rnk, doc_b, cosine
FROM ranked WHERE rnk <= 3
ORDER BY doc_a, rnk
"""


def _idf_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """idf-weighted cosine top-3 per doc over the persisted weighted
    shingle relation (block comments above: scale framing + the
    norm-carried scoring shape; views referenced directly, never via
    CTE aliases — see the _TFIDF_TAIL comment for the cache trap).

    SCALE POSTURE (VERDICT r9 item 2): this is the family's documented
    BRUTE-FORCE EXACTNESS ANCHOR, like the RRF dense leg — an
    unthresholded exact top-k must touch every shared-shingle pair
    (112M at sf10, 71 s), and that cost is intrinsic to the semantics,
    not the plan. The production scale path is `idf_cosine_thresholded`
    (count-bound prefiltered; the sf10 ramp row lives there).
    Composing exact top-k from the thresholded candidates (run the
    tau=0.3 prefilter, brute-force only docs with < k survivors) was
    evaluated and REJECTED by measurement: at sf0.01 only 28 of 1390
    result rows clear tau, i.e. ~98% of docs have < 3 survivors and
    would fall back to the full pair join anyway — the composition
    adds a pass without removing the brute one. This query stays in
    the sf0.1 bench (1.8 s) and the sf0.01->sf0.1 ramp tests; it is
    deliberately NOT in the sf1/sf10 tier."""
    cached_tfidf_cg(spark, sf_dir)
    return spark.sql(
        _TFIDF_TOPK_SPARK_T.format(
            fold=_TFIDF_FOLD_SPARK, cg=TFIDF_CG_VIEW
        )
    )


query(
    "idf_cosine_topk",
    oracle="WITH "
    + _SH_DUCK
    + ","
    + _TFIDF_W_DUCK
    + _TFIDF_NORMS_CTE.format(fold=_TFIDF_FOLD_DUCK).lstrip()
    + _TFIDF_TAIL.format(
        fold=_TFIDF_FOLD_DUCK, cap=_TFIDF_DF_CAP, w="w", norms="norms"
    ),
    tags=("similarity", "tfidf", "topk"),
    confs=_TFIDF_CONFS,
)(_idf_cosine_topk)


# --- count-bounded thresholded idf-cosine (all-pairs at scale) --------------
# idf_cosine_topk's cost at sf10 (134.6 s) is NOT the inverted-index
# join itself (measured 13 s for the 125M join rows) — it is
# everything the unthresholded form must do to ALL 112M pairs: the
# (a,b,df)-keyed fold aggregate, two norm joins, and the per-doc
# ranking window. The production all-pairs query adds a similarity
# threshold tau, and a threshold admits a LOSSLESS pair prefilter so
# only genuine near-dup pairs reach that heavy tail.
# Which prefilter matters: the classic Bayardo/Chaudhuri prefix
# filter was tried first and MEASURED useless here — with tau = 0.3
# and near-uniform idf weights (df capped at 20, so wt spans ~1.2x)
# the Cauchy-Schwarz suffix bound keeps 1 - tau^2 ~ 91% of the capped
# relation at sf10, i.e. no pruning. The effective lossless filter is
# a MINIMUM SHARED-COUNT bound instead:
#   dot(a,b) = sum of wt_s^2 over shared capped shingles
#            <= |shared| * wmax^2          (wmax = max capped weight)
#   cosine >= tau  ==>  |shared| >= tau * |a| * |b| / wmax^2
#                                =  g_a * g_b,
#   where g_d = sqrt(tau * nrm_d) / wmax is ONE scalar per doc.
# So candidate generation is the inverted-index join carrying g on
# both sides, one THIN count aggregate per pair, and a HAVING
# COUNT >= g_a * g_b * (1 - 1e-12) test (the slack absorbs float
# rounding in g; the bound itself is exact-real, so no qualifying
# pair can fail it). Only survivors flow into the exact fold + norm
# joins + window — thousands of rows, not 112M. The oracle is the
# BRUTE threshold form, so every green hash proves the prefilter lost
# no qualifying pair end to end.
_TFIDF_TAU = 0.3

# sf10 cost split (VERDICT r9 item 3, measured round 10): of the
# ~43 s warm-fixture total, the candidate aggregate alone is ~41 s
# (94%) and the survivor fold + norm joins + window ~3 s — 25,700
# candidates survive out of 112M pairs, so everything downstream of
# the HAVING is noise. The aggregate's cost is LINEAR in pair volume
# (sum of C(df,2), df capped at 20): the sf10 fixture's disjoint
# replicas scale pairs exactly 10x and the measured decade ratio
# ~12 is 10x volume plus shuffle-overhead growth, not superlinearity.
# Two alternatives were measured and rejected:
# - thin count (drop g from the join, filter via per-doc g joins
#   after the aggregate): the 112M-pair x g-relation joins pick
#   sort-merge at default thresholds and GC-OOM'd at sf10 — the
#   same +38 s/OOM trap the norm-carried scoring exists to avoid;
# - Bayardo prefix filter: kept ~91% of the relation at this
#   tau/weight profile (see below), no pruning.
# Carrying g through the map-side MAX is therefore the plan; the
# remaining 16 B/row of aggregate-buffer width is the price of
# avoiding any second pass over the pair relation.

TFIDF_CG_VIEW = "tfidf_cg_persisted"

# Views are referenced DIRECTLY (never via a CTE alias used twice) —
# see the _TFIDF_TAIL comment for the CacheManager-miss trap.
_TFIDF_PREFIX_SPARK = f"""
WITH candidates AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM {TFIDF_CG_VIEW} a JOIN {TFIDF_CG_VIEW} b
      ON a.s = b.s AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING COUNT(*) >= MAX(a.g) * MAX(b.g) * (1 - 1e-12)
),
dots AS (
    SELECT doc_a, doc_b, {_TFIDF_FOLD_SPARK} AS dot FROM (
        SELECT c.doc_a, c.doc_b, a.df, COUNT(*) AS c, MAX(a.wt) AS wt
        FROM candidates c
        JOIN {TFIDF_CG_VIEW} a ON a.doc_id = c.doc_a
        JOIN {TFIDF_CG_VIEW} b ON b.doc_id = c.doc_b AND b.s = a.s
        GROUP BY c.doc_a, c.doc_b, a.df
    ) g GROUP BY doc_a, doc_b
),
scored AS (
    SELECT d.doc_a, d.doc_b,
           ROUND(d.dot / (SQRT(na.nrm) * SQRT(nb.nrm)), 9) AS cosine
    FROM dots d
    JOIN {TFIDF_NORMS_VIEW} na ON na.doc_id = d.doc_a
    JOIN {TFIDF_NORMS_VIEW} nb ON nb.doc_id = d.doc_b
),
ranked AS (
    SELECT doc_a, doc_b, cosine,
           ROW_NUMBER() OVER (
               PARTITION BY doc_a ORDER BY cosine DESC, doc_b
           ) AS rnk
    FROM scored WHERE cosine >= {_TFIDF_TAU}
)
SELECT doc_a, CAST(rnk AS INT) AS rnk, doc_b, cosine
FROM ranked WHERE rnk <= 3
ORDER BY doc_a, rnk
"""


# The g-extended capped relation is materialized once per session:
# it is referenced on BOTH sides of the candidate self-join, and Spark
# inlines CTEs, so an unpersisted `cg` would recompute the doc-keyed
# g join (and its norms upstream) twice — measured 92 s vs 22 s for
# the cached scan at sf10. Like the shingle/weight views, this is the
# checkpoint a 100 TB pipeline would persist before pair generation.
# (TFIDF_CG_VIEW itself is declared above _TFIDF_PREFIX_SPARK, which
# interpolates it.)
@fixture("tfidf_cg", view=TFIDF_CG_VIEW)
def cached_tfidf_cg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The capped weighted relation extended with the per-doc
    count-bound threshold g (block comment above)."""
    cached_tfidf_norms(spark, sf_dir)
    df = spark.sql(
        f"""
SELECT c.doc_id, c.s, c.wt, c.df, g.g, g.nrm
FROM (SELECT doc_id, s, wt, df FROM {TFIDF_W_VIEW}
      WHERE df > 1 AND df <= {_TFIDF_DF_CAP}) c
JOIN (SELECT n.doc_id, n.nrm, SQRT({_TFIDF_TAU} * n.nrm) / w.m AS g
      FROM {TFIDF_NORMS_VIEW} n CROSS JOIN
           (SELECT MAX(wt) AS m FROM {TFIDF_W_VIEW}
            WHERE df > 1 AND df <= {_TFIDF_DF_CAP}) w) g
  ON g.doc_id = c.doc_id
"""
    )
    return _truncate_lineage(df, spark)


def _idf_cosine_thresholded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-bounded thresholded idf-cosine top-3 (block comment
    above: lossless minimum-shared-count candidate pruning); oracle
    is the BRUTE inverted-index form with the same threshold, so the
    hash check proves the prefilter loses no qualifying pair."""
    cached_tfidf_cg(spark, sf_dir)
    return spark.sql(_TFIDF_PREFIX_SPARK)


query(
    "idf_cosine_thresholded",
    oracle=(
        "WITH "
        + _SH_DUCK
        + ","
        + _TFIDF_W_DUCK
        + _TFIDF_NORMS_CTE.format(fold=_TFIDF_FOLD_DUCK).lstrip()
        + _TFIDF_TAIL.format(
            fold=_TFIDF_FOLD_DUCK, cap=_TFIDF_DF_CAP, w="w", norms="norms"
        )
    ).replace(
        "FROM scored WHERE cosine > 0",
        f"FROM scored WHERE cosine >= {_TFIDF_TAU}",
    ),
    tags=("similarity", "tfidf", "threshold", "count-bound"),
    confs=_TFIDF_CONFS,
)(_idf_cosine_thresholded)


# --- connected components, large-star/small-star ---------------------------
# The O(log^2 n)-round scale algorithm (Kiveris et al., "Connected
# Components in MapReduce and Beyond", SoCC'14) next to the
# O(diameter) label propagation above — SAME oracle, so the fixpoint
# of the star transforms is differentially proven equal to the
# recursive-CTE components. Each round is two edge transforms:
#   large-star: every node's strictly-larger neighbors re-attach to
#     the minimum of its closed neighborhood;
#   small-star: the node and its smaller neighbors re-attach to that
#     minimum.
# Both are one groupBy(min) + one join over the edge list — no
# per-node state, edges shrink toward the star form {(v, root)}.
# High-diameter chains collapse in logarithmic rounds where label
# propagation needs the full diameter.
def _star_round(e: DataFrame, large: bool) -> DataFrame:
    """One large- or small-star edge transform (module-level so its
    physical plan is pinnable by tests/test_plans.py).

    Hub-skew posture, explicitly: a cluster center u of degree d sends
    d rows into the groupBy — but min is algebraic, so Spark compiles
    it to partial_min (map-side combine) + final min: every map task
    emits ONE row per key and the reducer for u receives at most
    numMapTasks rows regardless of d. That IS the salted two-level
    min, with the map partitioning as the salt — an explicit salt
    column would add a second full shuffle to buy a property the plan
    already has (the plan test asserts partial_min is present). The
    remaining hub exposure is the re-attach JOIN on u, which is
    handled at runtime by AQE skew-join splitting
    (spark.sql.adaptive.skewJoin.enabled, pinned in session.py).
    """
    # No per-star distinct: groupBy(min) is insensitive to duplicate
    # edges, and the duplicates a star emits (one per shared
    # neighbor, O(clique-degree) multiplicity) are removed by the
    # single round-end distinct — one shuffle per round, not three.
    und = e.select(F.col("a").alias("u"), F.col("b").alias("v")).union(
        e.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    # min over least(v, u) == least(min(v), u) without referencing
    # the group key post-agg (F.first("u") worked — u is constant
    # per group — but read as nondeterminism-by-idiom).
    m = und.groupBy("u").agg(
        F.min(F.least(F.col("v"), F.col("u"))).alias("m")
    )
    part = und.join(m, "u").where(
        F.col("v") > F.col("u") if large else F.col("v") <= F.col("u")
    )
    out = part.select(F.col("v").alias("x"), F.col("m"))
    if not large:  # small-star also re-attaches the center itself
        out = out.union(m.select(F.col("u").alias("x"), F.col("m")))
    return out.where(F.col("x") != F.col("m")).select(
        F.greatest("x", "m").alias("a"), F.least("x", "m").alias("b")
    )


@query(
    "dup_clusters_cc_star",
    oracle=_CC_ORACLE,
    tags=("dedup", "clustering", "iterative", "graph", "star"),
)
def dup_clusters_cc_star(spark, sf_dir: str):
    """Near-duplicate clusters via alternating large-star/small-star
    rounds to a fixed point (block comment above; oracle shared with
    dup_clusters_cc). Per-round skew posture documented on
    `_star_round`. The (node, component) labels come from the shared
    `cached_cc_star_labels` fixture (r13 optimization round): the
    star fixpoint is the checkpoint a 100 TB pipeline persists
    between clustering and every downstream keeper/weighting pass,
    and before the fixture it re-ran once per consumer
    (dup_clusters_cc_star + near_dup_keep + dedup_survivor_weights =
    3 identical loop executions per session)."""
    lbl = cached_cc_star_labels(spark, sf_dir)
    sizes = lbl.groupBy("component").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        lbl.join(sizes, "component")
        .select(F.col("node").alias("doc_id"), "component", "cluster_size")
        .orderBy("doc_id")
    )


@fixture("cc_star_labels")
def cached_cc_star_labels(spark, sf_dir: str) -> DataFrame:
    """Materialize the star-CC fixpoint labels (node, component) once
    per (session, sf_dir) — the identical loop `dup_clusters_cc_star`
    ran inline before r13 — and return the checkpointed label frame."""
    base = spark.table(cached_cc_edges(spark, sf_dir)[1])
    # Canonical edge orientation (big, small); self-loops impossible.
    # Checkpoint FIRST, then derive everything else (nodes, the round
    # loop) from the materialized edge list — deriving nodes from
    # `base` would evaluate the shingle self-join twice more.
    edges = _truncate_lineage(
        base.select(
            F.greatest("doc_a", "doc_b").alias("a"),
            F.least("doc_a", "doc_b").alias("b"),
        ).distinct(),
        spark,
    )
    edges0 = edges  # original (checkpointed) edge list, for the node set
    star = _star_round

    def sig(e: DataFrame):
        # Edge-set fingerprint in ONE job (count + order-free bit_xor
        # of per-edge hashes; edges are distinct so xor is faithful) —
        # cheaper than the two exceptAll scans it replaces.
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(a, b))").alias("h"),
        ).first()
        return (row["n"], row["h"])

    rounds: list[DataFrame] = []
    prev = sig(edges)
    for _ in range(15):  # log-round bound; tiny graphs converge in 2-3
        # Each round is checkpointed eagerly: re-deriving even a tiny
        # round chain re-executes its ~12 shuffle stages per downstream
        # job (measured 2x slower without this).
        edges = _truncate_lineage(
            star(star(edges, True), False).distinct(), spark
        )
        rounds.append(edges)
        cur = sig(edges)
        if cur == prev:
            break
        prev = cur
    # Fixed point: every edge is (non-root, root). Roots label themselves.
    nodes = (
        edges0.select(F.col("a").alias("node"))
        .union(edges0.select(F.col("b").alias("node")))
        .distinct()
    )
    lbl = _truncate_lineage(
        nodes.join(
            edges.select(F.col("a").alias("node"), F.col("b").alias("parent")),
            "node",
            "left",
        ).select("node", F.coalesce("parent", "node").alias("component")),
        spark,
    )
    # The labels are materialized; the per-round edge frames (and the
    # canonicalized round-0 list) are no longer reachable — release
    # their blocks instead of waiting for the JVM GC.
    for f in rounds:
        _release_lineage(f)
    _release_lineage(edges0)
    return lbl


# --- keeper selection: the cleaned corpus, not just the clusters -----------
# The last step of the dedup story: pick ONE canonical document per
# near-dup cluster and report the per-source yield. The canonical doc
# is the cluster ROOT — at the star fixpoint (and in the oracle's
# MIN(root) labeling) the component label IS the minimum doc_id of the
# cluster, so keeper == (doc_id = component); documents with no
# near-dup edge keep themselves. The labels join carries NO hint:
# broadcast viability is about absolute size, not corpus ratio — a
# dup-heavy 100 TB corpus yields billions of label rows, and a forced
# broadcast would OOM the driver. AQE picks broadcast when the label
# table is actually small (asserted at test scale in test_plans.py)
# and falls back to a doc_id-co-partitioned shuffle join otherwise.

@query(
    "near_dup_keep",
    oracle=_CC_CTES
    + """
SELECT d.source,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN c.node IS NULL OR c.node = c.component
                THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN c.node IS NOT NULL AND c.node <> c.component
                THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
FROM documents d
LEFT JOIN cc c ON d.doc_id = c.node
GROUP BY d.source
ORDER BY d.source
""",
    tags=("dedup", "clustering", "keeper"),
)
def near_dup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source keep/drop yield of near-dup keeper selection (block
    comment above): cluster labels from the star CC fixpoint, corpus
    LEFT-joined (hint-free; AQE broadcasts when small) to the labels,
    keeper = cluster root or unclustered singleton."""
    from crypto_lakehouse_spark.io import load_table

    labels = cached_cc_star_labels(spark, sf_dir).select(
        F.col("node").alias("doc_id"), "component"
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    j = docs.join(labels, "doc_id", "left")
    kept = F.col("component").isNull() | (F.col("doc_id") == F.col("component"))
    return (
        j.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(kept, 1).otherwise(0)).alias("n_kept"),
            F.sum(F.when(~kept, 1).otherwise(0)).alias("n_dropped"),
        )
        .orderBy("source")
    )


# --- leakage-safe train/val/test split --------------------------------------
# The split a training pipeline actually needs: assigning docs to
# train/val/test BY DOC ID leaks near-duplicates across the boundary
# (a test doc's near-copy in train inflates eval), so the split key
# must be the NEAR-DUP CLUSTER, not the doc. Assignment: md5 of the
# component label (min doc_id in the Jaccard>=0.3 component; docs
# with no near-dup edge are their own singleton component) -> bucket
# 0-9 -> test/val/train (10/10/80). The output census carries, per
# split, a machine-checked PROOF of leakage-safety:
# n_cross_split_dup_pairs counts near-dup edges with exactly one
# endpoint in the split — provably 0 under cluster-keyed assignment,
# and the DuckDB oracle re-derives the clusters independently via a
# recursive CTE, so a propagation bug on either side breaks the hash.
# Scale shape: the CC loop is dup_clusters_cc's (checkpointed,
# O(diameter) shuffle-join rounds); everything after is one broadcast
# join of labels onto the corpus plus two small aggregates.

_SPLIT_TAIL = """
assign AS (
    SELECT d.doc_id,
           COALESCE(c.component, d.doc_id) AS component,
           CASE {bucket} % 10
             WHEN 0 THEN 'test' WHEN 1 THEN 'val' ELSE 'train'
           END AS split
    FROM documents d LEFT JOIN {cc} c ON c.node = d.doc_id
),
leak_ends AS (
    SELECT a.split
    FROM {edges} e
    JOIN assign a ON a.doc_id = e.doc_a
    JOIN assign b ON b.doc_id = e.doc_b
    WHERE a.split <> b.split
    UNION ALL
    SELECT b.split
    FROM {edges} e
    JOIN assign a ON a.doc_id = e.doc_a
    JOIN assign b ON b.doc_id = e.doc_b
    WHERE a.split <> b.split
),
leaks AS (SELECT split, COUNT(*) AS n FROM leak_ends GROUP BY split)
SELECT s.split,
       COUNT(*) AS n_docs,
       COUNT(DISTINCT s.component) AS n_clusters,
       CAST(SUM(s.doc_id) AS BIGINT) AS doc_id_checksum,
       CAST(COALESCE(MAX(l.n), 0) AS BIGINT) AS n_cross_split_dup_pairs
FROM assign s LEFT JOIN leaks l ON l.split = s.split
GROUP BY s.split
ORDER BY s.split
"""

_BUCKET_SPARK = (
    "CAST(conv(substr(md5(CAST({x} AS STRING)), 1, 4), 16, 10) AS INT)"
)
_BUCKET_DUCK = "CAST(('0x' || substr(md5(CAST({x} AS VARCHAR)), 1, 4)) AS INT)"
_COMP = "COALESCE(c.component, d.doc_id)"


@query(
    "leakage_safe_split",
    oracle=_CC_CTES
    + ","
    + _SPLIT_TAIL.format(
        bucket=_BUCKET_DUCK.format(x=_COMP), cc="cc", edges="edges"
    ),
    tags=("dedup", "split", "leakage", "trainprep"),
)
def leakage_safe_split(spark, sf_dir: str):
    """Cluster-keyed train/val/test split with an in-result proof of
    near-dup leakage-safety (block comment above)."""
    edges = spark.table(cached_cc_edges(spark, sf_dir)[1])
    cached_cc_minlabels(spark, sf_dir).createOrReplaceTempView(
        "cc_labels_split"
    )
    edges.createOrReplaceTempView("cc_edges_split")
    out = spark.sql(
        "WITH "
        + _SPLIT_TAIL.format(
            bucket=_BUCKET_SPARK.format(x=_COMP),
            cc="cc_labels_split",
            edges="cc_edges_split",
        )
    )
    return out


# --- soft-dedup survivor weights ---------------------------------------------
# The reweighting alternative to hard dedup (the "count duplicates as
# weight" recipe for training-data pipelines): every kept document
# carries its near-dup CLUSTER SIZE as an integer weight, so the
# training loss can upweight popular content by its true frequency
# instead of either hard-dropping it (weight forced to 1) or keeping
# all copies (token waste). Keeper rule = near_dup_keep's (cluster
# root or unclustered singleton); weight = component size from the
# same star-CC labels, COALESCEd to 1 for singletons. Scale shape:
# the CC fixpoint is the shared checkpointed loop; after it, one
# groupBy(component) and two doc_id/component-keyed joins onto the
# corpus (AQE broadcasts the label side when small).

@query(
    "dedup_survivor_weights",
    oracle=_CC_CTES
    + """,
csize AS (SELECT component, COUNT(*) AS w FROM cc GROUP BY component)
SELECT d.doc_id, CAST(COALESCE(s.w, 1) AS BIGINT) AS weight
FROM documents d
LEFT JOIN cc c ON d.doc_id = c.node
LEFT JOIN csize s ON s.component = c.component
WHERE c.node IS NULL OR d.doc_id = c.component
ORDER BY d.doc_id
""",
    tags=("dedup", "clustering", "keeper", "weights"),
)
def dedup_survivor_weights(spark, sf_dir: str):
    """Soft-dedup: kept docs weighted by near-dup cluster size (block
    comment above)."""
    from pyspark.sql import functions as F

    from crypto_lakehouse_spark.io import load_table

    labels = cached_cc_star_labels(spark, sf_dir).select(
        F.col("node").alias("doc_id"), "component"
    )
    sizes = labels.groupBy("component").agg(F.count(F.lit(1)).alias("w"))
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    j = (
        docs.join(labels, "doc_id", "left")
        .join(sizes, "component", "left")
        .where(F.col("component").isNull() | (F.col("doc_id") == F.col("component")))
    )
    return j.select(
        "doc_id", F.coalesce(F.col("w"), F.lit(1)).cast("bigint").alias("weight")
    ).orderBy("doc_id")


# --- cross-source duplicate matrix --------------------------------------------
# Where do the near-dups COME FROM? The per-source-pair count of
# Jaccard>=0.3 near-dup edges — the provenance report a curation run
# publishes next to the dedup yield (mirror sites and syndication
# show up as heavy OFF-diagonal cells; template reuse within one crawl
# as a heavy diagonal). Spark side reads the shared prefix-filtered
# edge fixture (cached_cc_edges — one checkpoint feeds the whole
# clustering family); the oracle re-derives edges from the BRUTE
# self-join, so the green hash re-proves the filter's losslessness on
# yet another aggregate of the same relation.

@query(
    "cross_source_dup_matrix",
    oracle="WITH "
    + _SH_DUCK
    + ",\n"
    + _CC_EDGES.replace(
        "\nSELECT p.doc_a, p.doc_b", "\n, edges AS (SELECT p.doc_a, p.doc_b", 1
    )
    + """)
SELECT LEAST(da.source, db.source) AS source_a,
       GREATEST(da.source, db.source) AS source_b,
       COUNT(*) AS n_dup_pairs
FROM edges e
JOIN documents da ON da.doc_id = e.doc_a
JOIN documents db ON db.doc_id = e.doc_b
GROUP BY LEAST(da.source, db.source), GREATEST(da.source, db.source)
ORDER BY source_a, source_b
""",
    tags=("dedup", "provenance", "matrix", "curation"),
)
def cross_source_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup edge counts per unordered source pair (block comment
    above); edges from the shared checkpointed fixture, documents
    joined on both endpoints (AQE broadcasts the doc-source side when
    small; doc_id-keyed shuffle join otherwise)."""
    from crypto_lakehouse_spark.io import load_table

    edges = spark.table(cached_cc_edges(spark, sf_dir)[1])
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    j = (
        edges.join(docs.withColumnRenamed("source", "sa"), edges.doc_a == docs.doc_id)
        .drop("doc_id")
        .join(
            docs.withColumnRenamed("source", "sb").withColumnRenamed(
                "doc_id", "doc_id_b"
            ),
            F.col("doc_b") == F.col("doc_id_b"),
        )
    )
    return (
        j.select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_dup_pairs"))
        .orderBy("source_a", "source_b")
    )


# --- asymmetric containment near-dup (round 10) ------------------------------
# Jaccard misses the commonest real duplication shape: document A
# quoted WHOLE inside a much larger B (J = |A|/|B| can be tiny while
# A is 100% redundant). Containment C(a->b) = |S_a n S_b| / |S_a|
# >= 3/5 catches it. The prefix filter works on the CONTAINED side
# only — C(a->b) >= t needs overlap >= ceil(t*n_a), so b must share
# one of a's first n_a - ceil(t*n_a) + 1 canonically-ordered shingles
# (the overlap form of the PPJoin lemma); the CONTAINER side cannot
# be pruned (b may be arbitrarily large), so candidates are
# prefix(a) x full postings(b), verified exactly against the
# persisted per-doc arrays. The DuckDB oracle is the BRUTE directed
# self-join on raw shingle strings — a green hash proves the prefix
# filter lost no qualifying pair AND covers the xxhash64 collision
# bit. Integer threshold (5*inter >= 3*n_in), no float compares.
# Both sides of the candidate join read the ranked-postings fixture
# (cached_ranked_postings, above): Spark inlines CTEs, so an inline
# `ranked` would run the window twice (measured 8 s/call at sf1,
# ~80 s at sf10 before that fixture existed).
_CONTAIN_SPARK = f"""
WITH pa AS (
    SELECT doc_id, n, sh
    FROM {RANKED_VIEW} WHERE pos <= n - (3 * n + 4) DIV 5 + 1
),
cand AS (
    -- TWO-SIDED prefix at a pair-dependent overlap threshold
    -- t = ceil(3*n_a/5): the shared shingle with the smallest global
    -- canonical rank lies within BOTH docs' (n - t + 1)-prefixes
    -- (PPJoin lemma, overlap form), so requiring the b-side row to
    -- satisfy n_b - pos_b + 1 >= t is lossless and prunes hot
    -- shingles (high canonical pos) from the container side. The
    -- size filter (overlap <= n_b) rides the same join. Integer
    -- ceil arithmetic: x >= ceil(3n/5) <=> 5x >= 3n for integer x.
    SELECT pa.doc_id AS doc_in, fb.doc_id AS doc_of
    FROM pa JOIN {RANKED_VIEW} fb
      ON fb.sh = pa.sh AND fb.doc_id != pa.doc_id
     AND 5 * fb.n >= 3 * pa.n
     AND 5 * (fb.n - fb.pos + 1) >= 3 * pa.n
    GROUP BY pa.doc_id, fb.doc_id
),
ver AS (
    SELECT c.doc_in, c.doc_of, aa.n AS n_in,
           size(array_intersect(aa.arr, ab.arr)) AS inter
    FROM cand c
    JOIN {ARRAYS_VIEW} aa ON aa.doc_id = c.doc_in
    JOIN {ARRAYS_VIEW} ab ON ab.doc_id = c.doc_of
),
dirc AS (
    SELECT doc_in, doc_of, n_in, inter
    FROM ver WHERE 5 * inter >= 3 * n_in
),
top1 AS (
    SELECT doc_in, doc_of, n_in, inter,
           ROW_NUMBER() OVER (
               PARTITION BY doc_in ORDER BY inter DESC, doc_of) AS rn
    FROM dirc
)
SELECT doc_in, doc_of,
       CAST(n_in AS BIGINT) AS n_in,
       CAST(inter AS BIGINT) AS shared,
       ROUND(CAST(inter AS DOUBLE) / n_in, 9) AS containment
FROM top1 WHERE rn = 1
ORDER BY doc_in
"""

_CONTAIN_DUCK = (
    "WITH "
    + _SH_DUCK.strip().lstrip()
    + """,
sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
pair_inter AS (
    SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS c
    FROM shingles a JOIN shingles b
      ON a.s = b.s AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
),
dirc AS (
    SELECT p.da AS doc_in, p.db AS doc_of, sa.n AS n_in, p.c AS inter
    FROM pair_inter p JOIN sizes sa ON sa.doc_id = p.da
    WHERE 5 * p.c >= 3 * sa.n
    UNION ALL
    SELECT p.db, p.da, sb.n, p.c
    FROM pair_inter p JOIN sizes sb ON sb.doc_id = p.db
    WHERE 5 * p.c >= 3 * sb.n
),
top1 AS (
    SELECT doc_in, doc_of, n_in, inter,
           ROW_NUMBER() OVER (
               PARTITION BY doc_in ORDER BY inter DESC, doc_of) AS rn
    FROM dirc
)
SELECT doc_in, doc_of,
       CAST(n_in AS BIGINT) AS n_in,
       CAST(inter AS BIGINT) AS shared,
       ROUND(CAST(inter AS DOUBLE) / n_in, 9) AS containment
FROM top1 WHERE rn = 1
ORDER BY doc_in
"""
)


def _containment_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-filtered asymmetric containment (block comment above);
    rides the persisted ranked-postings + arrays fixtures.

    SCALE POSTURE: this exact form is the family's anchor, not the
    sf10 path — at sf10 the candidate set is 46M REAL pairs (measured;
    volume scales linearly with the corpus but is intrinsically large
    on a small-vocab corpus where every doc shares rare trigrams with
    hundreds of others). The deployable scale path is
    `containment_topk_capped` (stop-shingle policy, below), which
    carries the sf10 ramp row; this query stays in the sf0.1 bench
    and the sf1 tier (ratio 2.6)."""
    cached_ranked_postings(spark, sf_dir)
    cached_shingle_arrays(spark, sf_dir)
    return spark.sql(_CONTAIN_SPARK)


query(
    "containment_topk",
    oracle=_CONTAIN_DUCK,
    tags=("dedup", "containment", "prefix-filter", "asymmetric"),
    confs=WIDE_SHUFFLE,
)(_containment_topk)


# --- incremental MinHash-LSH dedup (round 10) --------------------------------
# The DAILY-INGEST shape: a new batch of documents arrives and must be
# deduplicated against the EXISTING corpus (and internally) without
# re-pairing the corpus against itself. Candidates are
# new-batch bands x full band index only — never store x store — so
# per-ingest cost is O(|batch| x bucket width), the property that
# makes continuous dedup affordable at 100 TB (the corpus-side band
# index is the persisted signature table a production pipeline keeps;
# here both sides derive from one fixture but the JOIN SHAPE is the
# incremental one, asserted by the a-side batch filter). Within-batch
# pairs are kept once (doc_old < doc_new) so a batch with internal
# dups still converges. Verification is the exact shingle join at
# J >= 0.5; emission is each new doc's best surviving match.
_INCR_MINHASH_TAIL = """
bands AS (
    SELECT doc_id, CAST(floor(i / 4.0) AS INT) AS band,
           {bandkey} AS band_key
    FROM minhash
    GROUP BY doc_id, CAST(floor(i / 4.0) AS INT)
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_new, b.doc_id AS doc_old
    FROM bands a
    JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
               AND a.doc_id != b.doc_id
    WHERE a.doc_id % 10 = 7
      AND (b.doc_id % 10 != 7 OR b.doc_id < a.doc_id)
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
verified AS (
    SELECT c.doc_new, c.doc_old, COUNT(*) AS inter
    FROM cand c
    JOIN shingles sa ON sa.doc_id = c.doc_new
    JOIN shingles sb ON sb.doc_id = c.doc_old AND sa.s = sb.s
    GROUP BY c.doc_new, c.doc_old
),
scored AS (
    SELECT v.doc_new, v.doc_old,
           CAST(v.inter AS DOUBLE) / (za.n + zb.n - v.inter) AS j
    FROM verified v
    JOIN sizes za ON za.doc_id = v.doc_new
    JOIN sizes zb ON zb.doc_id = v.doc_old
    WHERE CAST(v.inter AS DOUBLE) / (za.n + zb.n - v.inter) >= 0.5
),
best AS (
    SELECT doc_new, doc_old, j,
           ROW_NUMBER() OVER (
               PARTITION BY doc_new ORDER BY j DESC, doc_old) AS rn
    FROM scored
)
SELECT doc_new, doc_old,
       CASE WHEN doc_old % 10 = 7 THEN 1 ELSE 0 END AS within_batch,
       ROUND(j, 9) AS jaccard
FROM best WHERE rn = 1
ORDER BY doc_new
"""

_pair_shingled(
    "incremental_minhash_dedup",
    "WITH "
    + _SH_PERSISTED
    + ","
    + _MINHASH_SPARK
    + ","
    + _INCR_MINHASH_TAIL.format(bandkey=_BANDKEY_SPARK),
    "WITH "
    + _SH_DUCK.strip().lstrip("WITH").strip()
    + ","
    + _MINHASH_DUCK
    + ","
    + _INCR_MINHASH_TAIL.format(bandkey=_BANDKEY_DUCK),
    tags=("dedup", "minhash", "lsh", "incremental"),
)


# --- dedup dividend by threshold band (round 10) -----------------------------
# The number a pipeline owner actually asks before committing a dedup
# run: "how much does each threshold buy?" Per Jaccard band
# ([0.3,0.5), [0.5,0.7), [0.7,1.0]) this reports pair volume and the
# redundant-char upper bound (sum of min(doc chars) over pairs — an
# upper bound because transitive clusters double-count; the exact
# figure needs the CC pass, which dedup_survivor_weights prices).
# Bands are INTEGER comparisons (10*inter vs 3/5/7*union) — no float
# thresholds. Spark rides the shared prefix-filtered J >= 0.3 edge
# fixture + one arrays re-verify to recover inter/union; the oracle
# is the brute self-join, so the fixture's losslessness is re-proven
# through yet another consumer.
_SAVINGS_TAIL = """
SELECT band,
       COUNT(*) AS n_pairs,
       CAST(SUM(mn) AS BIGINT) AS chars_redundant_ub,
       CAST(SUM(mx) AS BIGINT) AS chars_kept_min
FROM (
    SELECT CASE WHEN 10 * inter >= 7 * (na + nb - inter) THEN '0.7+'
                WHEN 10 * inter >= 5 * (na + nb - inter) THEN '0.5-0.7'
                ELSE '0.3-0.5' END AS band,
           CASE WHEN ca.n_chars < cb.n_chars
                THEN ca.n_chars ELSE cb.n_chars END AS mn,
           CASE WHEN ca.n_chars < cb.n_chars
                THEN cb.n_chars ELSE ca.n_chars END AS mx
    FROM jpairs p
    JOIN documents ca ON ca.doc_id = p.doc_a
    JOIN documents cb ON cb.doc_id = p.doc_b
)
GROUP BY band
ORDER BY band
"""


def _dedup_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-band dedup dividend (block comment above); rides the
    shared J>=0.3 edge fixture + per-doc arrays."""
    register_views(spark, sf_dir, ["documents"])
    cached_cc_edges(spark, sf_dir)
    cached_shingle_arrays(spark, sf_dir)
    return spark.sql(
        f"""
WITH jpairs AS (
    SELECT e.doc_a, e.doc_b,
           size(array_intersect(aa.arr, ab.arr)) AS inter,
           aa.n AS na, ab.n AS nb
    FROM {CC_EDGES_VIEW} e
    JOIN {ARRAYS_VIEW} aa ON aa.doc_id = e.doc_a
    JOIN {ARRAYS_VIEW} ab ON ab.doc_id = e.doc_b
)
"""
        + _SAVINGS_TAIL
    )


query(
    "dedup_savings_by_threshold",
    oracle="WITH "
    + _SH_DUCK.strip().lstrip("WITH").strip()
    + """,
sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
jpairs AS (
    SELECT v.doc_a, v.doc_b, v.inter, za.n AS na, zb.n AS nb
    FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
        FROM shingles a JOIN shingles b
          ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ) v
    JOIN sizes za ON za.doc_id = v.doc_a
    JOIN sizes zb ON zb.doc_id = v.doc_b
    WHERE 10 * v.inter >= 3 * (za.n + zb.n - v.inter)
)
"""
    + _SAVINGS_TAIL,
    tags=("dedup", "savings", "threshold", "planning"),
)(_dedup_savings)


# --- capped containment: the deployable scale path ---------------------------
# The EXACT containment_topk above is the family's anchor; its
# candidate volume on a small-vocabulary corpus is intrinsic (46M
# pairs at sf10 — every doc shares rare-ish trigrams with hundreds of
# others, and the one/two-sided prefix bounds cannot cut what is
# genuinely similar). The deployable form applies the same
# stop-shingle policy as ngram_jaccard_capped / the tf-idf family:
# shingles in > 20 docs are excluded, giving containment over the
# CAPPED shingle sets — candidate volume is bounded by cap * postings
# (linear), the per-pair count from the join IS the exact capped
# intersection (no verify pass needed), and the DuckDB oracle
# computes the identical capped semantics.
#
# Round-11 profile (VERDICT r10 item 6, measured at sf10): the decade
# ratio 8.7 is LINEAR, and the dominant term is the candidate-pair
# aggregation: capped-shingle build 6.4 s (25.9M rows), pair
# generation + per-pair count 22.5 s over 112M candidate pairs — an
# average of 4.3 pairs per shingle row, far under the cap's C(20,2)
# per-shingle worst case, i.e. the volume the cap bound promises.
# A hashed-join-key variant (xxhash64(s) in place of the 3-gram
# string) was measured at 43.8/56.5 s vs 57.4/46.5 s for this form —
# within run-to-run noise, because the cost is the 112M aggregated
# rows, not key width — so the lossless string key stays. Remaining
# cost is Θ(capped-postings²-within-cap) = linear in corpus by the
# cap bound; written attribution, not a defect.
_CONTAIN_CAP = 20

_CONTAIN_CAPPED_TAIL = f"""
hot AS (
    SELECT s FROM shingles0 GROUP BY s HAVING COUNT(*) > {_CONTAIN_CAP}
),
shingles AS (
    SELECT doc_id, s FROM shingles0 sh
    WHERE NOT EXISTS (SELECT 1 FROM hot WHERE hot.s = sh.s)
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
pairs AS (
    SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS inter
    FROM shingles a JOIN shingles b
      ON a.s = b.s AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
),
dirc AS (
    SELECT p.da AS doc_in, p.db AS doc_of, za.n AS n_in, p.inter
    FROM pairs p JOIN sizes za ON za.doc_id = p.da
    WHERE 5 * p.inter >= 3 * za.n
    UNION ALL
    SELECT p.db, p.da, zb.n, p.inter
    FROM pairs p JOIN sizes zb ON zb.doc_id = p.db
    WHERE 5 * p.inter >= 3 * zb.n
),
top1 AS (
    SELECT doc_in, doc_of, n_in, inter,
           ROW_NUMBER() OVER (
               PARTITION BY doc_in ORDER BY inter DESC, doc_of) AS rn
    FROM dirc
)
SELECT doc_in, doc_of,
       CAST(n_in AS BIGINT) AS n_in,
       CAST(inter AS BIGINT) AS shared,
       ROUND(CAST(inter AS DOUBLE) / n_in, 9) AS containment
FROM top1 WHERE rn = 1
ORDER BY doc_in
"""


def _containment_topk_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stop-shingle-capped asymmetric containment (block comment
    above) over the persisted shingle relation."""
    cached_shingles(spark, sf_dir)
    return spark.sql(
        f"WITH shingles0 AS (SELECT doc_id, s FROM {SHINGLE_VIEW}),"
        + _CONTAIN_CAPPED_TAIL
    )


query(
    "containment_topk_capped",
    oracle="WITH "
    + _SH_DUCK.strip().lstrip("WITH").strip().replace(
        "shingles AS (", "shingles0 AS ("
    )
    + ","
    + _CONTAIN_CAPPED_TAIL,
    tags=("dedup", "containment", "skew", "capped"),
    confs=WIDE_SHUFFLE,
)(_containment_topk_capped)
