"""Corpus-preparation operators for LLM training-data pipelines:
benchmark-contamination detection, boilerplate n-gram profiling,
concat-and-chunk sequence packing, weighted domain mixture
resampling, and intra-document repetition scoring.

These extend the reference's surface (it has none of these — see
SURVEY §2.8: zero UDFs, no text ops) with the operations a 100 TB
text-corpus pipeline runs before training. All five are pure
Spark-SQL (no Python in the hot path) and every aggregate is either
integer or DECIMAL-summed, so the DuckDB oracle hash-matches exactly.

Scale notes (what survives 1000 executors / 100 TB):

- `contamination_4gram`: the benchmark side (held-out eval set) is
  tiny relative to the corpus, and its DISTINCT 4-gram set is
  deduplicated BEFORE the join, so Catalyst broadcasts it — the
  100 TB corpus side streams map-side with zero shuffle for the
  probe. This is the standard n-gram decontamination pass (GPT-3
  appendix-C style, 13-grams there; 4 here because the synthetic
  docs are ~60 words). Corpus shingles explode ~60x rows but only
  ever feed a broadcast semi-probe + one groupBy(doc_id) partial agg.

- `boilerplate_4gram_fraction`: unlike contamination, the "common
  n-gram" set is data-dependent (n-grams seen in >= 3 distinct
  docs), so it needs one shuffle to count shingle frequencies; the
  hot-key risk concentrates on frequent shingles, which is exactly
  the aggregation (not join) side, where partial aggregation absorbs
  skew. The per-doc fraction join then broadcasts the (small)
  boilerplate set. Per-source ratios are computed from integer SUMs
  (SUM(matched)/SUM(total)), never AVG of per-doc doubles — the
  former is order-free, the latter is not.

- `pack_concat_chunks`: concat-and-chunk packing — documents are
  concatenated in a deterministic order (doc_id) per language shard
  and the token stream is cut every CAPACITY tokens, the layout
  LLM pretraining loaders actually use. The pack assignment is a
  pure function of the running token cumsum (one window sort per
  lang partition, integer arithmetic only), so it parallelizes per
  shard and needs no sequential driver loop; a greedy no-split
  bin-packer would be inherently sequential and is NOT what loaders
  do anyway. Boundary-crossing docs are counted explicitly
  (n_split_docs) since they become cross-pack attention breaks.

- `domain_mixture_resample`: per-domain sampling rate is derived
  from md5(source) (stands in for a learned mixture-weight table —
  in production this is a broadcast map side input); keep/drop is a
  pure function of md5(doc_id), so the resample is deterministic,
  shuffle-free (map-side filter), and stable under corpus growth —
  the same properties as `deterministic_split` in sampling_ops.

- `intra_doc_repetition`: Gopher-style repetition filter signal
  (duplicate-bigram mass per doc). Non-distinct bigram explode,
  one groupBy(doc_id) with COUNT vs COUNT(DISTINCT) — the distinct
  runs inside the per-doc group so no global distinct shuffle; the
  permille ratio and histogram bucket are integer arithmetic
  (%%DIV%%), hash-identical across engines.

Cross-engine dialect notes: word arrays are `split`/`size`/
`element_at`+`transform(sequence)` on Spark vs `string_split`/
`len`/`ws[i]`+`list_transform(range)` on DuckDB; integer division
is `DIV` vs `//` (the `%%DIV%%` placeholder, same mechanism as
scale_ops.zorder_morton_cells).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from crypto_lakehouse_spark.io import register_views
from crypto_lakehouse_spark.queries.fixture_meter import fixture
from crypto_lakehouse_spark.queries.registry import query


def _pair(
    name: str,
    spark_sql: str,
    duck_sql: str,
    tags: tuple[str, ...],
) -> None:
    spark_final = spark_sql.replace("%%DIV%%", "DIV")
    duck_final = duck_sql.replace("%%DIV%%", "//")

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        register_views(spark, sf_dir, ["documents"])
        return spark.sql(spark_final)

    fn.__name__ = name
    fn.__doc__ = (
        "Training-corpus prep operator (scale notes in the module "
        f"docstring). Spark SQL:\n{spark_final}"
    )
    query(name, oracle=duck_final, tags=tags)(fn)


def _ngrams_spark(src: str, n: int, distinct: bool = True) -> str:
    """n-gram shingle CTE body, Spark dialect."""
    words = ", ".join(f"element_at(ws, i + {j})" for j in range(n))
    inner = f"transform(sequence(1, size(ws) - {n - 1}), i -> concat_ws(' ', {words}))"
    if distinct:
        inner = f"array_distinct({inner})"
    return (
        f"SELECT doc_id, explode({inner}) AS s\n"
        f"    FROM (SELECT doc_id, split(text, ' ') AS ws FROM {src})\n"
        f"    WHERE size(ws) >= {n}"
    )


def _ngrams_duck(src: str, n: int, distinct: bool = True) -> str:
    """n-gram shingle CTE body, DuckDB dialect (same rows)."""
    words = " || ' ' || ".join(f"ws[i + {j}]" for j in range(n))
    sel = "SELECT DISTINCT" if distinct else "SELECT"
    return (
        f"{sel} doc_id, unnest(list_transform(range(1, len(ws) - {n - 2}),"
        f" i -> {words})) AS s\n"
        f"    FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM {src})\n"
        f"    WHERE len(ws) >= {n}"
    )


# --- benchmark contamination (n-gram overlap vs held-out set) --------------
# Benchmark set = every 17th doc (stands in for an eval benchmark the
# corpus must be decontaminated against). A corpus doc is contaminated
# if any of its distinct 4-grams appears in the benchmark set.
def _contamination(shingles_corpus: str, shingles_bench: str) -> str:
    return f"""
WITH corpus AS (SELECT doc_id, source, text FROM documents WHERE doc_id % 17 <> 0),
bench AS (SELECT doc_id, text FROM documents WHERE doc_id % 17 = 0),
csh AS (
    {shingles_corpus}
),
bsh AS (SELECT DISTINCT s FROM (
    {shingles_bench}
)),
hits AS (
    SELECT csh.doc_id, COUNT(*) AS matched
    FROM csh JOIN bsh ON csh.s = bsh.s
    GROUP BY csh.doc_id
)
SELECT c.source,
       COUNT(*) AS n_docs,
       COUNT(h.doc_id) AS n_contaminated,
       CAST(COALESCE(SUM(h.matched), 0) AS BIGINT) AS matched_ngrams
FROM corpus c LEFT JOIN hits h ON c.doc_id = h.doc_id
GROUP BY c.source
ORDER BY c.source
"""


_pair(
    "contamination_4gram",
    _contamination(_ngrams_spark("corpus", 4), _ngrams_spark("bench", 4)),
    _contamination(_ngrams_duck("corpus", 4), _ngrams_duck("bench", 4)),
    tags=("trainprep", "text", "dedup"),
)


# --- boilerplate n-gram mass per source ------------------------------------
# Boilerplate = 4-grams occurring in >= 3 distinct docs. Per source:
# total distinct 4-grams, boilerplate-matched count, ratio from the
# integer sums, and count of heavily-boilerplate docs (>25% matched,
# compared by integer cross-multiplication, no float boundary).
def _boilerplate(shingles: str) -> str:
    return f"""
WITH sh AS (
    {shingles}
),
boiler AS (
    SELECT s FROM sh GROUP BY s HAVING COUNT(*) >= 3
),
per_doc AS (
    SELECT sh.doc_id,
           COUNT(*) AS total_ngrams,
           COUNT(b.s) AS matched_ngrams
    FROM sh LEFT JOIN boiler b ON sh.s = b.s
    GROUP BY sh.doc_id
)
SELECT d.source,
       CAST(SUM(p.total_ngrams) AS BIGINT) AS total_ngrams,
       CAST(SUM(p.matched_ngrams) AS BIGINT) AS boiler_ngrams,
       CAST(CAST(SUM(p.matched_ngrams) AS DOUBLE)
            / SUM(p.total_ngrams) AS DOUBLE) AS boiler_ratio,
       CAST(SUM(CASE WHEN p.matched_ngrams * 4 > p.total_ngrams
                THEN 1 ELSE 0 END) AS BIGINT) AS n_heavy_docs
FROM per_doc p JOIN documents d ON p.doc_id = d.doc_id
GROUP BY d.source
ORDER BY d.source
"""


_pair(
    "boilerplate_4gram_fraction",
    _boilerplate(_ngrams_spark("documents", 4)),
    _boilerplate(_ngrams_duck("documents", 4)),
    tags=("trainprep", "text"),
)


# --- concat-and-chunk sequence packing -------------------------------------
# Documents are concatenated per language shard in doc_id order; the
# token stream is cut every 256 tokens. A doc's pack is where its
# FIRST token lands; docs whose span crosses a cut are n_split_docs.
_PACK_CAPACITY = 256


def _packing(tok_expr: str) -> str:
    return f"""
WITH toks AS (
    SELECT doc_id, lang, {tok_expr} AS n_tokens
    FROM documents
),
stream AS (
    SELECT doc_id, lang, n_tokens,
           SUM(n_tokens) OVER (
               PARTITION BY lang ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS cum_end
    FROM toks
)
SELECT lang,
       CAST((cum_end - n_tokens) %%DIV%% {_PACK_CAPACITY} AS BIGINT) AS pack_id,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS tokens_started,
       MIN(doc_id) AS first_doc_id,
       CAST(SUM(CASE WHEN (cum_end - n_tokens) %%DIV%% {_PACK_CAPACITY}
                  <> (cum_end - 1) %%DIV%% {_PACK_CAPACITY}
                THEN 1 ELSE 0 END) AS BIGINT) AS n_split_docs
FROM stream
GROUP BY lang, (cum_end - n_tokens) %%DIV%% {_PACK_CAPACITY}
ORDER BY lang, pack_id
"""


_pair(
    "pack_concat_chunks",
    _packing("size(split(text, ' '))"),
    _packing("len(string_split(text, ' '))"),
    tags=("trainprep", "sampling"),
)


# --- weighted domain mixture resampling ------------------------------------
# Per-domain keep-rate in [10, 90] derived from md5(source) (proxy for
# a mixture-weight side table); keep decision from md5(doc_id). Both
# pure functions -> deterministic, map-side, stable under growth.
def _md5_bucket(expr: str, mod: int) -> str:
    m = f"MD5(CAST({expr} AS VARCHAR(40)))"
    return (
        f"(ASCII(SUBSTR({m}, 1, 1)) * 65536"
        f" + ASCII(SUBSTR({m}, 2, 1)) * 256"
        f" + ASCII(SUBSTR({m}, 3, 1))) % {mod}"
    )


def _mixture(tok_expr: str) -> str:
    return f"""
WITH rated AS (
    SELECT doc_id, source, {tok_expr} AS n_tokens,
           10 + {_md5_bucket("source", 81)} AS keep_rate,
           {_md5_bucket("doc_id", 100)} AS bucket
    FROM documents
)
SELECT source,
       MIN(keep_rate) AS keep_rate,
       COUNT(*) AS n_total,
       CAST(SUM(CASE WHEN bucket < keep_rate THEN 1 ELSE 0 END)
            AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN bucket < keep_rate THEN n_tokens ELSE 0 END)
            AS BIGINT) AS kept_tokens
FROM rated
GROUP BY source
ORDER BY source
"""


_pair(
    "domain_mixture_resample",
    _mixture("size(split(text, ' '))"),
    _mixture("len(string_split(text, ' '))"),
    tags=("trainprep", "sampling"),
)


# --- intra-document repetition histogram -----------------------------------
# Duplicate-bigram mass per doc (Gopher-style repetition signal),
# bucketed into 25-permille histogram bins. Integer arithmetic only.
def _repetition(shingles: str) -> str:
    return f"""
WITH bg AS (
    {shingles}
),
per_doc AS (
    SELECT doc_id,
           COUNT(*) AS total_bg,
           COUNT(DISTINCT s) AS distinct_bg
    FROM bg
    GROUP BY doc_id
),
scored AS (
    SELECT doc_id,
           ((total_bg - distinct_bg) * 1000) %%DIV%% total_bg AS rep_permille
    FROM per_doc
)
SELECT (rep_permille %%DIV%% 25) * 25 AS rep_bin_permille,
       COUNT(*) AS n_docs,
       MIN(doc_id) AS min_doc_id
FROM scored
GROUP BY rep_permille %%DIV%% 25
ORDER BY rep_bin_permille
"""


_pair(
    "intra_doc_repetition",
    _repetition(_ngrams_spark("documents", 2, distinct=False)),
    _repetition(_ngrams_duck("documents", 2, distinct=False)),
    tags=("trainprep", "text"),
)


# --- corpus cleaning funnel -------------------------------------------------
# The composition every pretraining pipeline runs BEFORE tokenization:
# language filter -> quality filter -> exact dedup, reported as a
# funnel (docs surviving each stage). One scan computes all the stage
# flags (conditional aggregation — never one scan per stage); the
# dedup stage adds the single md5-keyed window over the
# quality-surviving slice only. At 100 TB the flags are map-side,
# the funnel counts are partial-aggregated, and the dedup window
# shuffles only what earlier stages kept — the funnel's selectivity
# compounds in the engine, not in repeated scans.
_FUNNEL_CLEAN = """
WITH corpus AS (
    -- The driver corpus has no exact-duplicate texts (every md5 is
    -- unique), so the dedup stage's drop path is exercised by
    -- injecting a copy of every 10th document (same convention as
    -- embedding_near_dup's synthetic dups; identical in both engines,
    -- so the differential check covers the actual drop).
    SELECT doc_id, text, lang FROM documents
    UNION ALL
    SELECT doc_id + 100000, text, lang FROM documents WHERE doc_id % 10 = 0
),
flagged AS (
    SELECT doc_id, text,
           (lang = 'en') AS pass_lang,
           (lang = 'en'
            AND (LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1) >= 20
            AND LENGTH(text) >= 120) AS pass_quality
    FROM corpus
),
kept AS (
    SELECT doc_id FROM (
        SELECT doc_id,
               ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        FROM flagged WHERE pass_quality
    ) WHERE rn = 1
),
counts AS (
    SELECT COUNT(*) AS n_input,
           SUM(CASE WHEN pass_lang THEN 1 ELSE 0 END) AS n_lang,
           SUM(CASE WHEN pass_quality THEN 1 ELSE 0 END) AS n_quality
    FROM flagged
)
SELECT 1 AS stage_order, 'input' AS stage, CAST(n_input AS BIGINT) AS docs
FROM counts
UNION ALL
SELECT 2, 'lang_en', CAST(n_lang AS BIGINT) FROM counts
UNION ALL
SELECT 3, 'quality', CAST(n_quality AS BIGINT) FROM counts
UNION ALL
SELECT 4, 'exact_dedup', (SELECT CAST(COUNT(*) AS BIGINT) FROM kept)
ORDER BY stage_order
"""

_pair(
    "corpus_clean_funnel",
    _FUNNEL_CLEAN,
    _FUNNEL_CLEAN,
    tags=("trainprep", "funnel", "dedup"),
)


# --- fuzzy benchmark decontamination (MinHash bands) -----------------------
# Exact n-gram decontamination (contamination_4gram) misses
# paraphrased/benchmark-adjacent text; the standard production answer
# is MinHash-LSH between corpus and benchmark: 8 md5-derived
# min-hashes per doc over 3-gram shingles, 4 bands of 2 generate
# candidates (corpus x bench docs sharing a band — never all pairs),
# then the full 8-hash agreement estimates Jaccard and docs with
# >= 3/8 agreeing hashes are flagged. Integer thresholds only — no
# float boundary. At 100 TB the band join is the sole pair generator
# and hot band buckets take the same df-cap treatment as the shingle
# joins (queries/dedup_ops.py); the estimate join is one row per
# candidate. Both engines run the identical SQL (dialect differs only
# in the shingle unnest), so the banded candidate set, the estimates,
# and the flags are value-exact, not approximate-vs-approximate.
_FZ_K = 8
_FZ_MINS = ",\n           ".join(
    f"MIN(md5('{i}:' || s)) AS mh{i}" for i in range(_FZ_K)
)
_FZ_BANDS = "\n    UNION ALL\n".join(
    f"    SELECT doc_id, {b} AS band, mh{2*b} || '|' || mh{2*b+1} AS bk FROM {{sig}}"
    for b in range(4)
)
_FZ_EQ = " + ".join(
    f"(CASE WHEN cs.mh{i} = bs.mh{i} THEN 1 ELSE 0 END)" for i in range(_FZ_K)
)


def _fuzzy_contamination(shingles_corpus: str, shingles_bench: str) -> str:
    return f"""
WITH corpus AS (SELECT doc_id, source, text FROM documents WHERE doc_id % 17 <> 0),
bench AS (SELECT doc_id, text FROM documents WHERE doc_id % 17 = 0),
csh AS (
    {shingles_corpus}
),
bsh AS (
    {shingles_bench}
),
csig AS (SELECT doc_id, {_FZ_MINS} FROM csh GROUP BY doc_id),
bsig AS (SELECT doc_id, {_FZ_MINS} FROM bsh GROUP BY doc_id),
cband AS (
{_FZ_BANDS.format(sig="csig")}
),
bband AS (
{_FZ_BANDS.format(sig="bsig")}
),
cand AS (
    SELECT DISTINCT c.doc_id AS c_doc, b.doc_id AS b_doc
    FROM cband c JOIN bband b ON c.band = b.band AND c.bk = b.bk
),
est AS (
    SELECT cand.c_doc, ({_FZ_EQ}) AS n_eq
    FROM cand
    JOIN csig cs ON cs.doc_id = cand.c_doc
    JOIN bsig bs ON bs.doc_id = cand.b_doc
),
flagged AS (
    SELECT c_doc, MAX(n_eq) AS best_eq
    FROM est GROUP BY c_doc HAVING MAX(n_eq) >= 3
)
SELECT c.source,
       COUNT(*) AS n_docs,
       COUNT(f.c_doc) AS n_fuzzy_contaminated,
       CAST(COALESCE(SUM(f.best_eq), 0) AS BIGINT) AS matched_hash_sum,
       CAST(COALESCE(SUM(f.c_doc), 0) AS BIGINT) AS flagged_id_checksum
FROM corpus c LEFT JOIN flagged f ON c.doc_id = f.c_doc
GROUP BY c.source
ORDER BY c.source
"""


# Spark side (round 11): the pure-CTE form re-executed csig/bsig FIVE
# times each (Spark inlines CTEs: 4 band-explode legs + the estimate
# join), i.e. ~50M md5 evaluations per run at sf0.1 for an
# 8-hash/1.2M-shingle corpus. The function form computes each
# signature relation ONCE from the persisted shingle fixture
# (dedup_ops.cached_shingles — the corpus/bench split is a pure
# doc_id filter on the same 3-gram definition), pins it with a
# lineage truncation, memoizes per (session, sf_dir) like the shingle
# fixture itself, and runs the identical band/estimate/rollup tail
# over the pinned views: 3.9 -> ~0.6 s at sf0.1. The DuckDB oracle
# keeps the single-statement form (DuckDB materializes CTEs), so the
# candidate set, estimates, and flags stay value-exact.
_FZ_TAIL = f"""
WITH cband AS (
{_FZ_BANDS.format(sig="fz_csig")}
),
bband AS (
{_FZ_BANDS.format(sig="fz_bsig")}
),
cand AS (
    SELECT DISTINCT c.doc_id AS c_doc, b.doc_id AS b_doc
    FROM cband c JOIN bband b ON c.band = b.band AND c.bk = b.bk
),
est AS (
    SELECT cand.c_doc, ({_FZ_EQ}) AS n_eq
    FROM cand
    JOIN fz_csig cs ON cs.doc_id = cand.c_doc
    JOIN fz_bsig bs ON bs.doc_id = cand.b_doc
),
flagged AS (
    SELECT c_doc, MAX(n_eq) AS best_eq
    FROM est GROUP BY c_doc HAVING MAX(n_eq) >= 3
)
SELECT c.source,
       COUNT(*) AS n_docs,
       COUNT(f.c_doc) AS n_fuzzy_contaminated,
       CAST(COALESCE(SUM(f.best_eq), 0) AS BIGINT) AS matched_hash_sum,
       CAST(COALESCE(SUM(f.c_doc), 0) AS BIGINT) AS flagged_id_checksum
FROM (SELECT doc_id, source FROM documents WHERE doc_id % 17 <> 0) c
LEFT JOIN flagged f ON c.doc_id = f.c_doc
GROUP BY c.source
ORDER BY c.source
"""

@fixture("contamination_fz_sigs", view=("fz_csig", "fz_bsig"))
def _contamination_fz_sigs(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """The corpus and benchmark MinHash signature relations, computed
    once and lineage-pinned."""
    from crypto_lakehouse_spark.operators.checkpointing import truncate_lineage
    from crypto_lakehouse_spark.queries.dedup_ops import (
        SHINGLE_VIEW,
        cached_shingles,
    )

    cached_shingles(spark, sf_dir)
    csig = truncate_lineage(
        spark.sql(
            f"SELECT doc_id, {_FZ_MINS} FROM {SHINGLE_VIEW} "
            "WHERE doc_id % 17 <> 0 GROUP BY doc_id"
        ),
        spark,
    )
    bsig = truncate_lineage(
        spark.sql(
            f"SELECT doc_id, {_FZ_MINS} FROM {SHINGLE_VIEW} "
            "WHERE doc_id % 17 = 0 GROUP BY doc_id"
        ),
        spark,
    )
    return csig, bsig


def _contamination_minhash_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded MinHash decontamination (block comments above) over the
    signature fixture."""
    _contamination_fz_sigs(spark, sf_dir)
    register_views(spark, sf_dir, ["documents"])
    return spark.sql(_FZ_TAIL)


_contamination_minhash_fuzzy.__name__ = "contamination_minhash_fuzzy"
query(
    "contamination_minhash_fuzzy",
    oracle=_fuzzy_contamination(
        _ngrams_duck("corpus", 3), _ngrams_duck("bench", 3)
    ),
    tags=("trainprep", "dedup", "minhash", "decontamination"),
)(_contamination_minhash_fuzzy)


# --- content-defined chunking (Rabin boundaries) ----------------------------
# The chunk-level dedup primitive (LBFS/FastCDC lineage): boundaries
# are placed where a rolling window hash of the CONTENT satisfies a
# mask, so an insertion early in a document shifts every byte offset
# but leaves all downstream boundaries — and therefore the chunk
# hashes a dedup store keys on — unchanged. That shift-resistance is
# why 100 TB blob stores chunk this way instead of fixed-size blocks.
# This operator computes the boundary set and per-source chunk-length
# statistics. Implementation notes:
# - window hash = sum of ascii(char[i+j]) * 31^j over j = 0..7, an
#   exact-integer polynomial both engines evaluate identically (max
#   ~5.6e13, far inside int64); boundary where hash % 61 == 0
#   (expected chunk ~61 chars at this corpus's alphabet).
# - STATELESS Rabin boundaries on purpose: FastCDC's min/max chunk
#   clamps are a sequential scan per document (each boundary depends
#   on where the previous one landed) — fine inside a partition-local
#   kernel, but the set-oriented form keeps the whole operator three
#   shuffles (explode -> boundary filter -> per-doc window) and the
#   dedup-relevant statistics are the same.
# - every document contributes a terminal boundary at L, so chunk
#   lengths always sum to L exactly (asserted by total_chars /
#   total_chunks being consistent in the result).
_CDC_POWERS = [31**j for j in range(8)]
_CDC_HASH = " + ".join(
    # BIGINT cast before the multiply: ascii() is INT32 and Spark's
    # ANSI mode overflows on int * 31^7 otherwise
    f"CAST(ASCII(SUBSTR(text, CAST(i + {j} AS INT), 1)) AS BIGINT) * {p}"
    for j, p in enumerate(_CDC_POWERS)
)


def _cdc_sql(explode_positions: str) -> str:
    return f"""
WITH docs AS (
    SELECT doc_id, source, text, LENGTH(text) AS L
    FROM documents WHERE text IS NOT NULL AND LENGTH(text) >= 1
),
posx AS (
    SELECT doc_id, text, L, {explode_positions} AS i FROM docs
),
bpos AS (
    SELECT doc_id, CAST(i AS BIGINT) AS pos
    FROM posx
    WHERE i <= L - 7 AND ({_CDC_HASH}) % 61 = 0
    UNION ALL
    SELECT doc_id, CAST(L AS BIGINT) AS pos FROM docs
),
segs AS (
    SELECT doc_id,
           pos - COALESCE(
               LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos), 0
           ) AS clen
    FROM bpos
),
per_doc AS (
    SELECT doc_id, COUNT(*) AS n_chunks, MAX(clen) AS max_chunk
    FROM segs GROUP BY doc_id
)
SELECT d.source,
       COUNT(*) AS n_docs,
       CAST(SUM(p.n_chunks) AS BIGINT) AS total_chunks,
       CAST(SUM(d.L) AS BIGINT) AS total_chars,
       ROUND(CAST(SUM(d.L) AS DOUBLE) / SUM(p.n_chunks), 9)
           AS avg_chunk_len,
       CAST(MAX(p.max_chunk) AS BIGINT) AS max_chunk_len
FROM docs d JOIN per_doc p ON p.doc_id = d.doc_id
GROUP BY d.source
ORDER BY d.source
"""


_pair(
    "cdc_chunk_boundaries",
    # Spark: sequence() is INCLUSIVE and generates DESCENDING ranges
    # when stop < start, so short docs clamp to a 1-element sequence
    # that the i <= L - 7 filter then removes.
    _cdc_sql("EXPLODE(SEQUENCE(1, GREATEST(L - 7, 1)))"),
    # DuckDB: range() is end-exclusive and empty when stop <= start.
    _cdc_sql("UNNEST(RANGE(1, GREATEST(L - 6, 1)))"),
    tags=("trainprep", "cdc", "chunking", "dedup"),
)


# --- purged temporal train/test split ------------------------------------------
# Time-series discipline for train/eval boundaries (the finance
# "purged split", Lopez de Prado 2018): train strictly before t1, an
# EMBARGO gap of 3 days discarded, test strictly after — so no label
# window that straddles the boundary can leak supervision across it.
# t1 is the exact 70th-percentile event time under the deterministic
# (ts, event_id) total order (position floor(0.7 * n) + 1 — no
# interpolation convention in play). Emitted per split: row count,
# distinct users, and the actual time extent (formatted strings), so
# the driver hash pins the boundary arithmetic itself. Scale: one
# global rank to find ONE row (at 100 TB: percentile_approx or a
# bucketed two-phase rank — the boundary needs only second-level
# precision), then a single partition-assign scan and a grouped
# aggregate.
_PURGED_SPARK = """
WITH ranked AS (
    SELECT ts, event_id, user_id,
           ROW_NUMBER() OVER (ORDER BY ts, event_id) AS rn,
           COUNT(*) OVER () AS n
    FROM events
),
t1 AS (
    SELECT unix_timestamp(ts) AS t1s FROM ranked
    WHERE rn = CAST(floor(0.7 * n) AS BIGINT) + 1
),
assigned AS (
    SELECT e.user_id, e.ts,
           CASE WHEN unix_timestamp(e.ts) < t.t1s THEN 'train'
                WHEN unix_timestamp(e.ts) < t.t1s + 259200 THEN 'embargo'
                ELSE 'test' END AS split
    FROM events e CROSS JOIN t1 t
)
SELECT split,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       date_format(MIN(ts), 'yyyy-MM-dd HH:mm:ss') AS first_ts,
       date_format(MAX(ts), 'yyyy-MM-dd HH:mm:ss') AS last_ts
FROM assigned
GROUP BY split
ORDER BY split
"""

_PURGED_DUCK = """
WITH ranked AS (
    SELECT ts, event_id, user_id,
           ROW_NUMBER() OVER (ORDER BY ts, event_id) AS rn,
           COUNT(*) OVER () AS n
    FROM events
),
t1 AS (
    -- floor(epoch(...)): DuckDB epoch() is DOUBLE and a bare BIGINT
    -- cast ROUNDS fractional seconds where Spark's unix_timestamp
    -- truncates (review finding; ~half the fixture's events carry
    -- fraction >= 0.5s)
    SELECT CAST(floor(epoch(ts)) AS BIGINT) AS t1s FROM ranked
    WHERE rn = CAST(floor(0.7 * n) AS BIGINT) + 1
),
assigned AS (
    SELECT e.user_id, e.ts,
           CASE WHEN CAST(floor(epoch(e.ts)) AS BIGINT) < t.t1s THEN 'train'
                WHEN CAST(floor(epoch(e.ts)) AS BIGINT) < t.t1s + 259200
                THEN 'embargo'
                ELSE 'test' END AS split
    FROM events e CROSS JOIN t1 t
)
SELECT split,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS first_ts,
       strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS last_ts
FROM assigned
GROUP BY split
ORDER BY split
"""


def _purged_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ["events"])
    return spark.sql(_PURGED_SPARK)


_purged_fn.__name__ = "purged_time_split"
_purged_fn.__doc__ = (
    "Purged temporal train/embargo/test split (block comment above)."
)
query(
    "purged_time_split",
    oracle=_PURGED_DUCK,
    tags=("trainprep", "split", "temporal", "leakage"),
)(_purged_fn)


# --- DoReMi one-step mixture reweighting -------------------------------------
# The iterated unit of the production data-mixing loop (Xie et al.
# 2023, "DoReMi: Optimizing Data Mixtures Speeds Up Language Model
# Pretraining"), completing the mixing ladder the way kmeans_one_step
# did for clustering: domain_mixture_resample applies STATIC weights,
# dsir importance-samples against a target — this computes one
# Group-DRO weight UPDATE from measured per-domain excess loss.
#
# Stand-ins for the two models (deterministic, self-contained):
# reference model = corpus-wide unigram LM; proxy model = per-domain
# unigram LM (both add-one smoothed over the shared corpus vocab V).
# excess(i) = max(0, loss_ref(i) - loss_domain(i)) in bits/token —
# how much worse the corpus-generic model codes domain i than its own
# model, i.e. the domain's unexploited distinctiveness; DoReMi's
# update then up-weights it: u_i = w_i * exp(eta * excess_i) with
# eta = 1 and baseline w_i = the domain's token share, normalized to
# alpha_i = u_i / sum(u) and smoothed alpha* = (1-c)*alpha + c/k with
# c = 0.01 (the paper's uniform-smoothing step). One step, exact:
# the production loop re-trains the proxy and iterates.
#
# Scale shape (100 TB framing): one token explode, one
# groupBy(source, token) with map-side combine; the corpus model
# re-aggregates THAT relation (never a second pass over tokens); the
# per-token join is token-keyed (corpus-linear, AQE-splittable); the
# k-domain update is scalar work over k rows with two 1-row broadcast
# scalars. Determinism: per-token nll terms ROUND(12) -> DECIMAL
# exact sums; the exp boost rounds its argument AND its result to 12
# before the exact-decimal normalization (EXP itself already
# oracle-matches: see statfit_ops power-law intercept). The uniform-
# smoothing step runs in exact DECIMAL on the PUBLISHED 9-decimal
# weight — the double-path ROUND landed a 1-ulp boundary flip between
# engines in differential testing.


def _doremi_sql(unnest_toks: str) -> str:
    return f"""
WITH toks AS ({unnest_toks}),
st AS (
    SELECT source, tok, COUNT(*) AS c
    FROM toks GROUP BY source, tok
),
ct AS (SELECT tok, SUM(c) AS cf FROM st GROUP BY tok),
tot AS (SELECT SUM(cf) AS n, COUNT(*) AS v FROM ct),
stot AS (SELECT source, SUM(c) AS ns FROM st GROUP BY source),
terms AS (
    SELECT s.source, s.c,
           CAST(ROUND(-s.c * LN(CAST(ct.cf + 1 AS DOUBLE) / (t.n + t.v))
                      / LN(2), 12) AS DECIMAL(28, 12)) AS ref_bits,
           CAST(ROUND(-s.c * LN(CAST(s.c + 1 AS DOUBLE) / (so.ns + t.v))
                      / LN(2), 12) AS DECIMAL(28, 12)) AS dom_bits
    FROM st s
    JOIN ct ON ct.tok = s.tok
    JOIN stot so ON so.source = s.source
    CROSS JOIN tot t
),
dom AS (
    SELECT source,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           SUM(ref_bits) AS rb, SUM(dom_bits) AS db
    FROM terms GROUP BY source
),
upd AS (
    SELECT source, n_tokens, rb, db,
           ROUND(GREATEST(CAST(rb - db AS DOUBLE) / n_tokens,
                          CAST(0 AS DOUBLE)), 9) AS excess_bits
    FROM dom
),
boosted AS (
    SELECT source, n_tokens, rb, db, excess_bits,
           n_tokens * CAST(ROUND(EXP(excess_bits), 12) AS DECIMAL(24, 12))
               AS u
    FROM upd
)
SELECT b.source,
       b.n_tokens,
       ROUND(CAST(b.rb AS DOUBLE) / b.n_tokens, 9) AS ref_bits_per_token,
       ROUND(CAST(b.db AS DOUBLE) / b.n_tokens, 9) AS domain_bits_per_token,
       b.excess_bits,
       ROUND(CAST(b.n_tokens AS DOUBLE) / z.nt, 9) AS base_share,
       ROUND(CAST(b.u AS DOUBLE) / CAST(z.su AS DOUBLE), 9) AS doremi_weight,
       CAST(ROUND(
           CAST(0.99 AS DECIMAL(3, 2))
           * CAST(ROUND(CAST(b.u AS DOUBLE) / CAST(z.su AS DOUBLE), 9)
                  AS DECIMAL(12, 9))
           + CAST(ROUND(0.01 / z.k, 12) AS DECIMAL(14, 12)),
           9) AS DOUBLE) AS smoothed_weight
FROM boosted b
CROSS JOIN (
    SELECT SUM(u) AS su, SUM(n_tokens) AS nt, COUNT(*) AS k FROM boosted
) z
ORDER BY b.source
"""


_pair(
    "doremi_one_step",
    _doremi_sql(
        "SELECT source, explode(split(lower(text), ' ')) AS tok "
        "FROM documents WHERE length(text) > 0 AND source IS NOT NULL"
    ),
    _doremi_sql(
        "SELECT source, unnest(string_split(lower(text), ' ')) AS tok "
        "FROM documents WHERE length(text) > 0 AND source IS NOT NULL"
    ),
    tags=("trainprep", "mixture", "doremi", "sampling"),
)


# --- doc-level excess-loss selection (RHO-loss / learnability unit) -----------
# The document-granular companion of doremi_one_step, the selection
# rule behind reducible-holdout-loss sampling (RHO-1, Mindermann et
# al.'s learnability scoring): score each document by its EXCESS loss
# — nll under the corpus-generic reference model minus nll under the
# domain model — and keep the top quarter per source (high excess =
# the domain model explains it much better than the generic one:
# informative, unmemorized, worth training on; near-zero = generic
# boilerplate). One exact step: the production loop re-trains and
# re-scores.
#
# Scale shape: one token explode, doc-keyed and source-keyed censuses
# (each a re-agg of the former, never a second corpus pass), the
# per-token join is token-keyed corpus-linear, selection is one
# window per source. Determinism: per-token nll ROUND(12)->DECIMAL
# sums per doc; the per-doc score is rounded BEFORE ranking so the
# rank ties break identically in both engines; group means are
# decimal sums of the rounded scores.


def _rho_sql(unnest_toks: str) -> str:
    return f"""
WITH toks AS ({unnest_toks}),
dt AS (
    SELECT doc_id, source, tok, COUNT(*) AS c
    FROM toks GROUP BY doc_id, source, tok
),
st AS (SELECT source, tok, SUM(c) AS cs FROM dt GROUP BY source, tok),
ct AS (SELECT tok, SUM(cs) AS cf FROM st GROUP BY tok),
tot AS (SELECT SUM(cf) AS n, COUNT(*) AS v FROM ct),
stot AS (SELECT source, SUM(cs) AS ns FROM st GROUP BY source),
terms AS (
    SELECT d.doc_id, d.source, d.c,
           CAST(ROUND(-d.c * LN(CAST(ct.cf + 1 AS DOUBLE) / (t.n + t.v))
                      / LN(2), 12) AS DECIMAL(28, 12)) AS ref_bits,
           CAST(ROUND(-d.c * LN(CAST(s.cs + 1 AS DOUBLE) / (so.ns + t.v))
                      / LN(2), 12) AS DECIMAL(28, 12)) AS dom_bits
    FROM dt d
    JOIN ct ON ct.tok = d.tok
    JOIN st s ON s.source = d.source AND s.tok = d.tok
    JOIN stot so ON so.source = d.source
    CROSS JOIN tot t
),
docscore AS (
    SELECT doc_id, source,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           ROUND(CAST(SUM(ref_bits) - SUM(dom_bits) AS DOUBLE) / SUM(c), 9)
               AS excess_bpt
    FROM terms GROUP BY doc_id, source
),
ranked AS (
    SELECT doc_id, source, n_tokens, excess_bpt,
           ROW_NUMBER() OVER (PARTITION BY source
                              ORDER BY excess_bpt DESC, doc_id) AS rn,
           COUNT(*) OVER (PARTITION BY source) AS n_docs
    FROM docscore
),
labeled AS (
    SELECT source, n_docs, n_tokens, excess_bpt,
           CASE WHEN rn <= (n_docs + 3) %%DIV%% 4 THEN 1 ELSE 0 END AS sel
    FROM ranked
)
SELECT source,
       CAST(MIN(n_docs) AS BIGINT) AS n_docs,
       CAST(SUM(sel) AS BIGINT) AS n_selected,
       CAST(SUM(CASE WHEN sel = 1 THEN n_tokens ELSE 0 END) AS BIGINT)
           AS selected_token_mass,
       ROUND(CAST(SUM(CASE WHEN sel = 1
                           THEN CAST(excess_bpt AS DECIMAL(16, 9)) END)
                  AS DOUBLE) / SUM(sel), 9) AS mean_excess_selected,
       ROUND(CAST(SUM(CASE WHEN sel = 0
                           THEN CAST(excess_bpt AS DECIMAL(16, 9)) END)
                  AS DOUBLE) / SUM(1 - sel), 9) AS mean_excess_rejected
FROM labeled
GROUP BY source
ORDER BY source
"""


_pair(
    "rho_excess_loss_selection",
    _rho_sql(
        "SELECT doc_id, source, explode(split(lower(text), ' ')) AS tok "
        "FROM documents WHERE length(text) > 0 AND source IS NOT NULL"
    ),
    _rho_sql(
        "SELECT doc_id, source, unnest(string_split(lower(text), ' ')) AS tok"
        " FROM documents WHERE length(text) > 0 AND source IS NOT NULL"
    ),
    tags=("trainprep", "selection", "rho-loss", "learnability"),
)


# --- temperature-scaled mixture weights ---------------------------------------
# The third rung of the mixing ladder (static md5 rates ->
# doremi_one_step -> this): the temperature-sampling scheme
# multilingual pretraining actually deploys (mT5/PaLM's p_i ~
# share_i^(1/T)): for a tau = 1/T grid (1.0 = natural, 0.7, 0.5, 0.3
# ~ T=3.3 near-uniform), report each source's sampled share and the
# effective EPOCHS it would repeat at a one-natural-pass token budget
# — with the epochs > 4 repeat-limit flag (the Muennighoff et al.
# diminishing-returns threshold a data planner checks before
# committing a mixture).
#
# Scale shape: ONE map-side token census per source, then k x tau
# rows of scalar math — corpus-linear scan, everything after is
# constant-size. Determinism: POWER output rounds to 12 -> DECIMAL
# before the exact normalization sum (same discipline as doremi's
# EXP boost); epoch flags compare the ROUNDED double.


def _temperature_sql(tok_expr: str, grid: str) -> str:
    # Scalars come from WINDOWS over the k-row census, NOT from
    # tot/z CTE self-joins: Spark inlines CTEs, so the join form
    # re-ran the corpus tokenization scan 8x (measured in the plan);
    # this form scans documents exactly once.
    return f"""
WITH census AS (
    SELECT source, SUM({tok_expr}) AS n
    FROM documents WHERE text IS NOT NULL AND source IS NOT NULL
    GROUP BY source
),
c2 AS (SELECT source, n, SUM(n) OVER () AS nt FROM census),
grid AS ({grid}),
w AS (
    SELECT c.source, g.tau, c.n, c.nt,
           CAST(ROUND(POWER(CAST(c.n AS DOUBLE) / c.nt, g.tau), 12)
                AS DECIMAL(16, 12)) AS wr
    FROM c2 c CROSS JOIN grid g
),
scored AS (
    SELECT source, tau, n, nt, wr,
           SUM(wr) OVER (PARTITION BY tau) AS sw
    FROM w
)
SELECT source, tau,
       CAST(n AS BIGINT) AS n_tokens,
       ROUND(CAST(n AS DOUBLE) / nt, 9) AS natural_share,
       ROUND(CAST(wr AS DOUBLE) / CAST(sw AS DOUBLE), 9)
           AS sampled_share,
       ROUND(CAST(wr AS DOUBLE) / CAST(sw AS DOUBLE)
             * nt / n, 9) AS epochs_at_one_pass,
       CASE WHEN ROUND(CAST(wr AS DOUBLE) / CAST(sw AS DOUBLE)
                       * nt / n, 9) > 4.0
            THEN 1 ELSE 0 END AS over_repeat_limit
FROM scored
ORDER BY tau DESC, source
"""


_pair(
    "temperature_mixture_weights",
    _temperature_sql(
        "size(split(text, ' '))",
        "SELECT explode(array(CAST(1.0 AS DOUBLE), CAST(0.7 AS DOUBLE), "
        "CAST(0.5 AS DOUBLE), CAST(0.3 AS DOUBLE))) AS tau",
    ),
    _temperature_sql(
        "len(string_split(text, ' '))",
        "SELECT unnest([CAST(1.0 AS DOUBLE), CAST(0.7 AS DOUBLE), "
        "CAST(0.5 AS DOUBLE), CAST(0.3 AS DOUBLE)]) AS tau",
    ),
    tags=("trainprep", "mixture", "temperature", "sampling"),
)
