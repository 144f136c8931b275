"""Language-model data-quality operators over `documents` — round-5
extensions of the training-corpus prep surface (trainprep_ops):
unigram-LM perplexity-proxy scoring, substring-span (character-level)
duplication, and a Bloom-prefiltered decontamination pass.

The reference has no text surface at all (SURVEY §2.8: zero UDFs);
these are the standard passes a 100 TB pretraining pipeline runs.
All three are pure Spark-SQL — no Python in the hot path, whole-stage
codegen applies throughout.

Scale notes (what survives 1000 executors / 100 TB):

- `ngram_lm_doc_score` (CCNet-style quality signal): train a unigram
  LM over the corpus itself (token -> count, one shuffle with
  map-side partials), then score every document by its average
  negative log2 probability under add-one smoothing. The doc-side
  groupBy keys are (doc_id, token) — doc_id-prefixed, so no hot key —
  and the vocab join is 1:1 on token (vocab is unique on token, so a
  frequent token fans out to its (doc,token) pairs only, which is the
  input cardinality, not a blow-up). The per-doc float sum runs as a
  sequential fold over the token-sorted contribution list — the same
  order-pinned-fold discipline as `doc_char_entropy`, bit-identical
  across engines. NTILE(3) over the score assigns the CCNet
  head/middle/tail bucket with a doc_id tie-break.

- `substring_span_dedup` (Lee et al. 2022, "Deduplicating Training
  Data Makes Language Models Better", arXiv:2107.06499 — the
  character-level view exact-substring dedup approximates): slide a
  30-char window at stride 10 over each doc, hash each window
  (md5 — content-derived, engine-portable), and mark spans whose hash
  occurs in >= 2 distinct docs. Per-doc output: span counts and the
  duplicated-span fraction. Shape at scale: the window explode is a
  narrow map-side fan-out (~len/10 rows per doc); the shared-span
  detection is ONE groupBy(hash) with partial aggregation (hot
  hashes — boilerplate — concentrate on the agg side, absorbed by
  combiners, never a join fan-out); the per-doc rollup joins spans
  to the (small) shared set — Catalyst broadcasts it when small, AQE
  decides at runtime otherwise (no forced hint; see VERDICT r4 on
  broadcast-by-ratio being wrong).

- `contamination_bloom` (GPT-3 appendix-C decontamination, Bloom
  edition): the exact-verify contamination pass (`contamination_4gram`)
  probes every corpus shingle through a JOIN against the benchmark
  set. At 100 TB the cheaper shape is: build a Bloom filter over the
  benchmark 4-grams (tiny — here 2^16 bits = 1024 int64 words,
  k=3 hash functions, built with one bit_or aggregation), broadcast
  the 1-row word array to every executor, and drop non-candidate
  shingles MAP-SIDE with three xxhash64 probes — zero shuffle for the
  overwhelmingly-clean corpus. Only surviving candidates (true hits +
  Bloom false positives) reach the exact verify join, which makes the
  FINAL output exactly the true contamination set: Bloom filters have
  no false negatives, and the verify join removes false positives.
  The DuckDB oracle is therefore the plain exact SQL — the Bloom is a
  Spark-side physical optimization with no semantic footprint, which
  is precisely the property that makes it safe to deploy. (Spark's
  own runtime-filter bloom — spark.sql.optimizer.runtimeFilter.* —
  applies the same idea engine-side; this operator demonstrates the
  explicit, plan-controlled form.)

Determinism rules are the registry's: integer counts everywhere,
float work only in order-pinned folds or single expressions, ROUND(9)
on reported doubles, every ORDER BY carries a unique tie-break.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from crypto_lakehouse_spark.io import register_views
from crypto_lakehouse_spark.queries.fixture_meter import fixture, hold_view
from crypto_lakehouse_spark.operators.checkpointing import (
    release_lineage,
    truncate_lineage,
)
from crypto_lakehouse_spark.queries.registry import query


def _pair(name: str, spark_sql: str, duck_sql: str, tags: tuple[str, ...]) -> None:
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        register_views(spark, sf_dir, ["documents"])
        return spark.sql(spark_sql)

    fn.__name__ = name
    fn.__doc__ = (
        "LM-data operator (scale notes in the module docstring). "
        f"Spark SQL:\n{spark_sql}"
    )
    query(name, oracle=duck_sql, tags=tags)(fn)


# --- unigram-LM document scoring (perplexity proxy) ------------------------
# score(doc) = -(1/|doc|) * sum_t log2 P(t),  P(t) = (cf(t)+1)/(N+V)
# (add-one smoothing over the corpus unigram model). Head/middle/tail
# bucket via NTILE(3) ordered by (score, doc_id).


_LM_DUCK = """
WITH toks AS (
    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
    FROM documents WHERE length(text) > 0
),
vocab AS (SELECT tok, COUNT(*) AS cf FROM toks GROUP BY tok),
tot AS (SELECT COUNT(*) AS n, COUNT(DISTINCT tok) AS v FROM toks),
doc_tok AS (
    SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY doc_id, tok
),
contrib AS (
    SELECT d.doc_id, d.tok, d.c,
           -d.c * (ln(CAST(w.cf + 1 AS DOUBLE) / (t.n + t.v)) / ln(2)) AS nll
    FROM doc_tok d JOIN vocab w ON d.tok = w.tok CROSS JOIN tot t
),
folded AS (
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_distinct_tokens,
           list_reduce(list_prepend(CAST(0 AS DOUBLE),
                                    list(nll ORDER BY tok)),
                       (acc, x) -> acc + x) AS total_nll
    FROM contrib GROUP BY doc_id
)
SELECT doc_id, n_tokens, n_distinct_tokens,
       ROUND(total_nll / n_tokens, 9) AS avg_neg_log2p,
       CASE NTILE(3) OVER (ORDER BY ROUND(total_nll / n_tokens, 9), doc_id)
            WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END
           AS ccnet_bucket
FROM folded
ORDER BY doc_id
"""

def _lm_doc_score_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM perplexity-proxy scoring (block comment above). r13
    optimization round: the single-statement form re-ran the token
    explode per inlined-CTE consumer (vocab, tot, doc_tok — 3
    documents scans + a COUNT DISTINCT expand); the Spark side now
    materializes `doc_tok` once and derives the corpus LM from it —
    vocab.cf = SUM(c) (== the occurrence COUNT(*)), tot.n = SUM(c),
    tot.v = COUNT(*) of vocab rows (== COUNT(DISTINCT tok)) — all
    integer-exact, proven by the unchanged DuckDB oracle hash."""
    register_views(spark, sf_dir, ["documents"])
    hold_view(
        spark,
        "lm_doctok_mat",
        spark.sql(
            """
SELECT doc_id, tok, COUNT(*) AS c FROM (
    SELECT doc_id, explode(split(lower(text), ' ')) AS tok
    FROM documents WHERE length(text) > 0
) GROUP BY doc_id, tok"""
        ),
    )
    return spark.sql(
        """
WITH doc_tok AS (SELECT doc_id, tok, c FROM lm_doctok_mat),
vocab AS (SELECT tok, SUM(c) AS cf FROM doc_tok GROUP BY tok),
tot AS (SELECT SUM(cf) AS n, COUNT(*) AS v FROM vocab),
contrib AS (
    SELECT d.doc_id, d.tok, d.c,
           -d.c * (ln(CAST(w.cf + 1 AS DOUBLE) / (t.n + t.v)) / ln(2)) AS nll
    FROM doc_tok d JOIN vocab w ON d.tok = w.tok CROSS JOIN tot t
),
folded AS (
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_distinct_tokens,
           aggregate(array_sort(collect_list(struct(tok, nll))),
                     CAST(0.0 AS DOUBLE),
                     (acc, x) -> acc + x.nll) AS total_nll
    FROM contrib GROUP BY doc_id
)
SELECT doc_id, n_tokens, n_distinct_tokens,
       ROUND(total_nll / n_tokens, 9) AS avg_neg_log2p,
       CASE NTILE(3) OVER (ORDER BY ROUND(total_nll / n_tokens, 9), doc_id)
            WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END
           AS ccnet_bucket
FROM folded
ORDER BY doc_id
"""
    )


_lm_doc_score_fn.__name__ = "ngram_lm_doc_score"
query(
    "ngram_lm_doc_score",
    oracle=_LM_DUCK,
    tags=("lmdata", "text", "quality", "perplexity"),
)(_lm_doc_score_fn)


# --- bigram-LM document scoring ---------------------------------------------
# The order-2 companion of ngram_lm_doc_score: train a bigram LM on
# the corpus itself (bigram counts + prefix counts, two shuffles with
# map-side partials) and score every doc by its average conditional
# cross-entropy -log2 p(cur|prev) with add-one smoothing over the
# token vocabulary V: p = (c2 + 1) / (c_prefix + V). A doc of common
# words in UNCOMMON order now scores badly where the unigram model
# cannot see it — the actual quality signal n-gram LM filters (CCNet,
# KenLM-style) rely on. Scale shape: bigram explode is a narrow map
# (len-1 rows/doc); c2/prefix aggregates are hot-key-safe (combiners);
# the doc-side join fans out only to the doc's own bigram rows. The
# per-doc float fold runs bigram-sorted in both engines (bit-exact).
_BG_TAIL = """
c2 AS (SELECT bg, COUNT(*) AS cf FROM bigrams GROUP BY bg),
pfx AS (
    SELECT {first_tok} AS prev, SUM(cf) AS n
    FROM c2 GROUP BY {first_tok}
),
vsize AS (SELECT COUNT(DISTINCT tok) AS v FROM toks_flat),
doc_bg AS (
    SELECT doc_id, bg, COUNT(*) AS c FROM bigrams GROUP BY doc_id, bg
),
contrib AS (
    SELECT d.doc_id, d.bg, d.c,
           -d.c * (ln(CAST(c2.cf + 1 AS DOUBLE) / (p.n + v.v)) / ln(2))
               AS nll
    FROM doc_bg d
    JOIN c2 ON c2.bg = d.bg
    JOIN pfx p ON p.prev = {first_tok_d}
    CROSS JOIN vsize v
),
folded AS (
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_bigrams,
           CAST(COUNT(*) AS BIGINT) AS n_distinct_bigrams,
           {fold} AS total_nll
    FROM contrib GROUP BY doc_id
)
SELECT doc_id, n_bigrams, n_distinct_bigrams,
       ROUND(total_nll / n_bigrams, 9) AS avg_neg_log2p,
       CASE NTILE(3) OVER (ORDER BY ROUND(total_nll / n_bigrams, 9), doc_id)
            WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END
           AS ccnet_bucket
FROM folded
ORDER BY doc_id
"""


_BIGRAM_DUCK = (
    """
WITH toks AS (
    SELECT doc_id, string_split(lower(text), ' ') AS ws
    FROM documents WHERE length(text) > 0
),
toks_flat AS (SELECT unnest(ws) AS tok FROM toks),
bigrams AS (
    SELECT doc_id, unnest(list_transform(range(2, len(ws) + 1),
        i -> ws[i - 1] || ' ' || ws[i])) AS bg
    FROM toks WHERE len(ws) >= 2
),
"""
    + _BG_TAIL.format(
        first_tok="string_split(bg, ' ')[1]",
        first_tok_d="string_split(d.bg, ' ')[1]",
        fold=(
            "list_reduce(list_prepend(CAST(0 AS DOUBLE), "
            "list(nll ORDER BY bg)), (acc, x) -> acc + x)"
        ),
    )
)

def _bigram_lm_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM scoring (block comment above). r13 optimization
    round, same rewrite as ngram_lm_doc_score: materialize the
    per-doc bigram counts once, derive the corpus bigram model from
    them (c2.cf = SUM(c) == COUNT(*) over the bigram explode), keep
    the token-vocabulary subquery as its own single scan. Unchanged
    DuckDB oracle proves equivalence."""
    register_views(spark, sf_dir, ["documents"])
    hold_view(
        spark,
        "bigram_docbg_mat",
        spark.sql(
            """
SELECT doc_id, bg, COUNT(*) AS c FROM (
    SELECT doc_id, explode(transform(sequence(2, size(ws)),
        i -> concat_ws(' ', element_at(ws, i - 1), element_at(ws, i)))) AS bg
    FROM (SELECT doc_id, split(lower(text), ' ') AS ws
          FROM documents WHERE length(text) > 0)
    WHERE size(ws) >= 2
) GROUP BY doc_id, bg"""
        ),
    )
    return spark.sql(
        """
WITH doc_bg AS (SELECT doc_id, bg, c FROM bigram_docbg_mat),
c2 AS (SELECT bg, SUM(c) AS cf FROM doc_bg GROUP BY bg),
pfx AS (
    SELECT element_at(split(bg, ' '), 1) AS prev, SUM(cf) AS n
    FROM c2 GROUP BY element_at(split(bg, ' '), 1)
),
vsize AS (
    SELECT COUNT(DISTINCT tok) AS v FROM (
        SELECT explode(split(lower(text), ' ')) AS tok
        FROM documents WHERE length(text) > 0
    )
),
contrib AS (
    SELECT d.doc_id, d.bg, d.c,
           -d.c * (ln(CAST(c2.cf + 1 AS DOUBLE) / (p.n + v.v)) / ln(2))
               AS nll
    FROM doc_bg d
    JOIN c2 ON c2.bg = d.bg
    JOIN pfx p ON p.prev = element_at(split(d.bg, ' '), 1)
    CROSS JOIN vsize v
),
folded AS (
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_bigrams,
           CAST(COUNT(*) AS BIGINT) AS n_distinct_bigrams,
           aggregate(array_sort(collect_list(struct(bg, nll))),
                     CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.nll)
               AS total_nll
    FROM contrib GROUP BY doc_id
)
SELECT doc_id, n_bigrams, n_distinct_bigrams,
       ROUND(total_nll / n_bigrams, 9) AS avg_neg_log2p,
       CASE NTILE(3) OVER (ORDER BY ROUND(total_nll / n_bigrams, 9), doc_id)
            WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END
           AS ccnet_bucket
FROM folded
ORDER BY doc_id
"""
    )


_bigram_lm_fn.__name__ = "bigram_lm_doc_score"
query(
    "bigram_lm_doc_score",
    oracle=_BIGRAM_DUCK,
    tags=("lmdata", "text", "quality", "perplexity", "bigram"),
)(_bigram_lm_fn)


# --- character-level substring-span duplication ----------------------------
# 30-char windows at stride 10; a span is duplicated if its hash occurs
# in >= 2 distinct documents.

# r14 optimization round (guide §2.4 duplicated subtrees): `spans` was
# referenced twice (the shared-hash aggregate + the per-doc join side),
# and Spark inlines CTEs, so the document explode + distinct ran TWICE
# (before-plan: 2 documents scans). The Spark side now computes the
# per-hash document count as ONE window over the single spans pass —
# a span is duplicated iff its hash's window count >= 2, exactly the
# HAVING COUNT(*) >= 2 + LEFT JOIN match the oracle keeps (spans is
# distinct per (doc, h), so the window count IS the distinct-doc
# count and each matched span contributes exactly one to COUNT(s.h)).
_SPAN_SPARK = """
WITH spans AS (
    SELECT DISTINCT doc_id, md5(substr(text, start, 30)) AS h
    FROM (
        SELECT doc_id, text,
               explode(sequence(1, length(text) - 29, 10)) AS start
        FROM documents WHERE length(text) >= 30
    )
),
byh AS (
    SELECT doc_id, COUNT(*) OVER (PARTITION BY h) AS cnt FROM spans
),
per_doc AS (
    SELECT doc_id,
           COUNT(*) AS n_spans,
           COUNT(CASE WHEN cnt >= 2 THEN 1 END) AS dup_spans
    FROM byh
    GROUP BY doc_id
)
SELECT doc_id,
       CAST(n_spans AS BIGINT) AS n_spans,
       CAST(dup_spans AS BIGINT) AS dup_spans,
       ROUND(CAST(dup_spans AS DOUBLE) / n_spans, 9) AS dup_fraction
FROM per_doc
ORDER BY doc_id
"""

_SPAN_DUCK = """
WITH spans AS (
    SELECT DISTINCT doc_id, md5(substr(text, CAST(start AS INT), 30)) AS h
    FROM documents,
         unnest(range(1, length(text) - 28, 10)) t(start)
    WHERE length(text) >= 30
),
shared AS (SELECT h FROM spans GROUP BY h HAVING COUNT(*) >= 2),
per_doc AS (
    SELECT d.doc_id,
           COUNT(*) AS n_spans,
           COUNT(s.h) AS dup_spans
    FROM spans d LEFT JOIN shared s ON d.h = s.h
    GROUP BY d.doc_id
)
SELECT doc_id,
       CAST(n_spans AS BIGINT) AS n_spans,
       CAST(dup_spans AS BIGINT) AS dup_spans,
       ROUND(CAST(dup_spans AS DOUBLE) / n_spans, 9) AS dup_fraction
FROM per_doc
ORDER BY doc_id
"""

_pair(
    "substring_span_dedup",
    _SPAN_SPARK,
    _SPAN_DUCK,
    tags=("lmdata", "dedup", "substring"),
)


# --- MAXIMAL duplicated spans (gaps-and-islands merge) ----------------------
# `substring_span_dedup` reports fixed 30-char/stride-10 windows; real
# exact-substring dedup pipelines (Lee et al. 2022, arXiv:2107.06499)
# report MAXIMAL duplicated spans. Adjacent duplicated windows (starts
# 10 apart within a doc) merge into one maximal span via
# gaps-and-islands over the window-start arithmetic: island key =
# start - 10 * ROW_NUMBER(), so a run of stride-adjacent starts shares
# one key and MIN/MAX recover the merged boundaries
# (span_len = last_start - first_start + 30).
#
# Scale shape stays corpus-linear: the window explode is the same
# narrow map-side fan-out (~len/10 rows per doc), shared-hash
# detection is ONE groupBy(h) with partial aggregation, the dup join
# hits the (small) shared set, and the islands window partitions by
# doc_id — per-doc state only, no cross-doc shuffle beyond the hash
# groupBy. No suffix array needed at window granularity.

_SPAN_MAX_SPARK = """
WITH spans AS (
    SELECT doc_id, start, md5(substr(text, start, 30)) AS h
    FROM (
        SELECT doc_id, text,
               explode(sequence(1, length(text) - 29, 10)) AS start
        FROM documents WHERE length(text) >= 30
    ) e
),
shared AS (
    SELECT h FROM spans GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2
),
islands AS (
    SELECT doc_id, start,
           start - 10 * ROW_NUMBER() OVER (
               PARTITION BY doc_id ORDER BY start) AS isl
    FROM (SELECT d.doc_id, d.start FROM spans d JOIN shared s ON d.h = s.h) dup
),
merged AS (
    SELECT doc_id, MIN(start) AS span_start,
           MAX(start) - MIN(start) + 30 AS span_len,
           COUNT(*) AS n_windows
    FROM islands GROUP BY doc_id, isl
)
SELECT doc_id,
       CAST(span_start AS INT) AS span_start,
       CAST(span_len AS INT) AS span_len,
       CAST(n_windows AS BIGINT) AS n_windows
FROM merged
ORDER BY doc_id, span_start
"""

_SPAN_MAX_DUCK = """
WITH spans AS (
    SELECT doc_id, start, md5(substr(text, CAST(start AS INT), 30)) AS h
    FROM documents,
         unnest(range(1, length(text) - 28, 10)) t(start)
    WHERE length(text) >= 30
),
shared AS (
    SELECT h FROM spans GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2
),
islands AS (
    SELECT doc_id, start,
           start - 10 * ROW_NUMBER() OVER (
               PARTITION BY doc_id ORDER BY start) AS isl
    FROM (SELECT d.doc_id, d.start FROM spans d JOIN shared s ON d.h = s.h) dup
),
merged AS (
    SELECT doc_id, MIN(start) AS span_start,
           MAX(start) - MIN(start) + 30 AS span_len,
           COUNT(*) AS n_windows
    FROM islands GROUP BY doc_id, isl
)
SELECT doc_id,
       CAST(span_start AS INT) AS span_start,
       CAST(span_len AS INT) AS span_len,
       CAST(n_windows AS BIGINT) AS n_windows
FROM merged
ORDER BY doc_id, span_start
"""

_pair(
    "substring_span_maximal",
    _SPAN_MAX_SPARK,
    _SPAN_MAX_DUCK,
    tags=("lmdata", "dedup", "substring", "gaps-and-islands"),
)


# --- Bloom-prefiltered decontamination -------------------------------------
# Same benchmark split as contamination_4gram (every 17th doc), per-DOC
# output (the contaminated docs with matched-shingle counts — the list a
# pipeline would route to quarantine). Spark side probes through an
# explicit 2^16-bit / k=3 Bloom built with one bit_or aggregation and
# broadcast as a single 1024-word array row; the oracle is the exact
# SQL (the Bloom is physical, not semantic — no false negatives, and
# false positives die in the verify join).

_M_BITS = 1 << 16  # 65536 bits = 1024 int64 words
_K = 3


def _spark_4grams(src: str) -> str:
    words = ", ".join(f"element_at(ws, i + {j})" for j in range(4))
    return (
        f"SELECT DISTINCT doc_id, s FROM (\n"
        f"  SELECT doc_id, explode(transform(sequence(1, size(ws) - 3),\n"
        f"         i -> concat_ws(' ', {words}))) AS s\n"
        f"  FROM (SELECT doc_id, split(text, ' ') AS ws FROM {src})\n"
        f"  WHERE size(ws) >= 4)"
    )


def _duck_4grams(src: str) -> str:
    words = " || ' ' || ".join(f"ws[i + {j}]" for j in range(4))
    return (
        f"SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(ws) - 2),\n"
        f"       i -> {words})) AS s\n"
        f"    FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM {src})\n"
        f"    WHERE len(ws) >= 4"
    )


def _bit_probe(j: int) -> str:
    """Spark predicate: bit j of shingle c.s is set in the bloom array."""
    pos = f"pmod(xxhash64(concat(c.s, '|{j}')), {_M_BITS})"
    word = f"element_at(b.words, CAST({pos} DIV 64 AS INT) + 1)"
    bit = f"shiftleft(CAST(1 AS BIGINT), CAST({pos} % 64 AS INT))"
    return f"({word} & {bit}) <> 0"


_BLOOM_SPARK = f"""
WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 17 <> 0),
bench AS (SELECT doc_id, text FROM documents WHERE doc_id % 17 = 0),
csh AS ({_spark_4grams("corpus")}),
bsh AS (SELECT DISTINCT s FROM ({_spark_4grams("bench")})),
bits AS (
    SELECT DISTINCT
           pmod(xxhash64(concat(s, '|', CAST(j AS STRING))), {_M_BITS}) AS bitpos
    FROM bsh
    LATERAL VIEW explode(sequence(0, {_K - 1})) t AS j
),
words AS (
    SELECT CAST(bitpos DIV 64 AS INT) AS w,
           bit_or(shiftleft(CAST(1 AS BIGINT), CAST(bitpos % 64 AS INT))) AS bw
    FROM bits GROUP BY CAST(bitpos DIV 64 AS INT)
),
bloom AS (
    SELECT transform(sequence(0, {_M_BITS // 64 - 1}),
                     wi -> coalesce(element_at(wmap, wi), CAST(0 AS BIGINT)))
               AS words
    FROM (SELECT map_from_entries(collect_list(struct(w, bw))) AS wmap
          FROM words)
),
cand AS (
    SELECT c.doc_id, c.s
    FROM csh c CROSS JOIN bloom b
    WHERE {" AND ".join(_bit_probe(j) for j in range(_K))}
),
verified AS (
    SELECT cand.doc_id, COUNT(*) AS matched
    FROM cand JOIN bsh ON cand.s = bsh.s
    GROUP BY cand.doc_id
)
SELECT doc_id, CAST(matched AS BIGINT) AS matched_ngrams
FROM verified
ORDER BY doc_id
"""

_BLOOM_DUCK_ORACLE = f"""
WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 17 <> 0),
bench AS (SELECT doc_id, text FROM documents WHERE doc_id % 17 = 0),
csh AS ({_duck_4grams("corpus")}),
bsh AS (SELECT DISTINCT s FROM ({_duck_4grams("bench")}))
SELECT csh.doc_id, CAST(COUNT(*) AS BIGINT) AS matched_ngrams
FROM csh JOIN bsh ON csh.s = bsh.s
GROUP BY csh.doc_id
ORDER BY doc_id
"""

_pair(
    "contamination_bloom",
    _BLOOM_SPARK,
    _BLOOM_DUCK_ORACLE,
    tags=("lmdata", "trainprep", "bloom", "decontamination"),
)


# --- two-phase heavy hitters (checked-exact top-k tokens) ------------------
# Phase 1 shards the corpus on doc_id % 32 (a DETERMINISTIC key, so the
# candidate set never depends on physical file layout) and keeps tokens
# with any per-shard count >= T=8. A token with global count G has max
# shard count >= ceil(G/32), so every token with G >= 32*T=256 is a
# candidate — the Misra-Gries-style superset guarantee. Phase 2
# recounts ONLY candidates exactly (broadcast candidate probe, one
# small groupBy) and takes the top 10. The `provably_exact` column
# checks the guarantee at runtime: if the reported 10th count >= 256,
# the result equals the true top-10 by construction — the same honest
# value-gating as the sketch twins.
#
# At 100 TB the win over a naive global groupBy(token) is memory, not
# shuffle count: when the vocabulary exceeds the combiner hash map,
# partial aggregation spills; the sharded phase bounds each final-agg
# key's traffic to 32 partial rows and phase 2 shuffles only the
# candidate subset. (Spark's own partial agg covers the small-vocab
# case — the docless naive form stays `vocab_top_tokens`.)

_HH_T = 8
_HH_SHARDS = 32
_HH_BOUND = _HH_T * _HH_SHARDS

_HH_SPARK = f"""
WITH toks AS (
    SELECT doc_id % {_HH_SHARDS} AS shard, doc_id,
           explode(split(text, ' ')) AS token
    FROM documents
),
shard_counts AS (
    SELECT shard, token, COUNT(*) AS c FROM toks GROUP BY shard, token
),
cand AS (SELECT DISTINCT token FROM shard_counts WHERE c >= {_HH_T}),
exact AS (
    SELECT t.token, COUNT(*) AS tf
    FROM toks t JOIN cand ON t.token = cand.token
    GROUP BY t.token
),
topk AS (
    SELECT token, tf, ROW_NUMBER() OVER (ORDER BY tf DESC, token) AS rank
    FROM exact
)
SELECT token, CAST(tf AS BIGINT) AS tf, CAST(rank AS BIGINT) AS rank,
       MIN(tf) OVER () >= {_HH_BOUND} AS provably_exact
FROM topk WHERE rank <= 10
ORDER BY rank
"""

# Oracle: the plain exact top-10 with the same bound column — when the
# bound holds, the two-phase result is provably identical; when it
# does not, the hashes diverge and the gate fails loudly.
_HH_DUCK = f"""
WITH toks AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
),
exact AS (SELECT token, COUNT(*) AS tf FROM toks GROUP BY token),
topk AS (
    SELECT token, tf, ROW_NUMBER() OVER (ORDER BY tf DESC, token) AS rank
    FROM exact
)
SELECT token, CAST(tf AS BIGINT) AS tf, CAST(rank AS BIGINT) AS rank,
       MIN(tf) OVER () >= {_HH_BOUND} AS provably_exact
FROM topk WHERE rank <= 10
ORDER BY rank
"""

_pair(
    "heavy_hitters_twophase",
    _HH_SPARK,
    _HH_DUCK,
    tags=("lmdata", "heavy-hitters", "two-phase", "gated-exact"),
)


# --- tokenizer OOV rate ----------------------------------------------------
# Vocabulary = top-256 tokens by (tf DESC, token); per-doc
# out-of-vocabulary fraction — the cheap "will my tokenizer shred this
# document into bytes" signal a corpus report includes. The vocab is
# 256 rows (broadcast by construction); the probe is a map-side left
# join + one groupBy(doc_id).

_OOV_SPARK = """
WITH toks AS (
    SELECT doc_id, explode(split(text, ' ')) AS token FROM documents
),
vocab AS (
    SELECT token FROM (
        SELECT token, COUNT(*) AS tf FROM toks GROUP BY token
        ORDER BY tf DESC, token LIMIT 256
    )
),
per_doc AS (
    SELECT t.doc_id, COUNT(*) AS n_tokens, COUNT(v.token) AS in_vocab
    FROM toks t LEFT JOIN vocab v ON t.token = v.token
    GROUP BY t.doc_id
)
SELECT doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(n_tokens - in_vocab AS BIGINT) AS oov_tokens,
       ROUND(CAST(n_tokens - in_vocab AS DOUBLE) / n_tokens, 9) AS oov_rate
FROM per_doc
ORDER BY doc_id
"""

_OOV_DUCK = """
WITH toks AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
),
vocab AS (
    SELECT token FROM (
        SELECT token, COUNT(*) AS tf FROM toks GROUP BY token
        ORDER BY tf DESC, token LIMIT 256
    )
),
per_doc AS (
    SELECT t.doc_id, COUNT(*) AS n_tokens, COUNT(v.token) AS in_vocab
    FROM toks t LEFT JOIN vocab v ON t.token = v.token
    GROUP BY t.doc_id
)
SELECT doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(n_tokens - in_vocab AS BIGINT) AS oov_tokens,
       ROUND(CAST(n_tokens - in_vocab AS DOUBLE) / n_tokens, 9) AS oov_rate
FROM per_doc
ORDER BY doc_id
"""

_pair(
    "tokenizer_oov_rate",
    _OOV_SPARK,
    _OOV_DUCK,
    tags=("lmdata", "text", "tokenizer"),
)


# --- quality-weighted curriculum resampling ---------------------------------
# The DCLM/FineWeb-style quality-weighted keep/drop: rank every doc
# into quality deciles (the doc_quality_score signal: length mix,
# lexical diversity, stopword density), then keep each doc with
# probability decile/10 — best decile kept whole, worst kept 10% —
# where "probability" is the repo's deterministic md5-bucket uniform
# (portable across engines/runs/cluster sizes; no RNG state). One
# global NTILE sort (at 100 TB: approx-quantile decile cuts replace
# the global sort — same contract, documented tradeoff) + a map-side
# keep/drop; the census reports per-decile yield.

_Q_BUCKET = (
    "(ASCII(SUBSTR(MD5(CAST(doc_id AS VARCHAR(20))), 4, 1)) * 65536"
    " + ASCII(SUBSTR(MD5(CAST(doc_id AS VARCHAR(20))), 5, 1)) * 256"
    " + ASCII(SUBSTR(MD5(CAST(doc_id AS VARCHAR(20))), 6, 1))) % 10"
)


def _curriculum_sql(size_fn: str, split_fn: str, filter_fn: str, distinct_fn: str) -> str:
    return f"""
WITH q AS (
    SELECT doc_id, source,
           CAST(LEAST(n_tok, 200) AS DOUBLE) / 200 * 0.3
             + CAST(n_distinct AS DOUBLE) / n_tok * 0.4
             + CAST(n_stop AS DOUBLE) / n_tok * 0.3 AS quality_score
    FROM (
        SELECT doc_id, source,
               {size_fn}({split_fn}(text, ' ')) AS n_tok,
               {size_fn}({distinct_fn}({split_fn}(text, ' '))) AS n_distinct,
               {size_fn}({filter_fn}({split_fn}(text, ' '),
                   t -> t IN ('the', 'a', 'of', 'and', 'to', 'in', 'is')))
                   AS n_stop
        FROM documents
    )
),
ranked AS (
    SELECT doc_id, source, quality_score,
           NTILE(10) OVER (ORDER BY quality_score, doc_id) AS decile
    FROM q
),
decided AS (
    SELECT decile, doc_id,
           CASE WHEN {_Q_BUCKET} < decile THEN 1 ELSE 0 END AS kept
    FROM ranked
)
SELECT CAST(decile AS BIGINT) AS decile,
       COUNT(*) AS n_docs,
       CAST(SUM(kept) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN kept = 1 THEN doc_id ELSE 0 END) AS BIGINT)
           AS kept_id_checksum
FROM decided
GROUP BY decile
ORDER BY decile
"""


_pair(
    "curriculum_quality_resample",
    _curriculum_sql("size", "split", "filter", "array_distinct"),
    _curriculum_sql("len", "string_split", "list_filter", "list_distinct"),
    tags=("lmdata", "sampling", "curriculum", "quality"),
)


# --- DSIR importance resampling (Xie et al. 2023, arXiv:2302.03169) --------
# Data Selection via Importance Resampling: estimate target-domain and
# source unigram LMs, weight every source doc by its target/source
# log-likelihood ratio, keep the top 20%. Target sample = every 5th
# doc (stands in for the curated target-domain set); LMs are add-one
# smoothed over the SHARED corpus vocabulary so both likelihoods live
# in the same event space. Per-doc weight folds (doc,token)
# contributions in token-sorted order and the per-source rollup folds
# doc weights in doc_id order — the ngram_lm_doc_score order-pinned
# discipline, bit-identical across engines. Selection is NTILE(5)=1
# over (rounded weight DESC, doc_id). Shape at scale: two token
# groupBys with map-side combine, one 1:1 vocab join keyed by token,
# selection one window over docs — no all-pairs anywhere.


def _dsir(toks_all: str, toks_tgt: str, agg_tok_fold: str, agg_doc_fold: str) -> str:
    return f"""
WITH toks AS (
    {toks_all}
),
ttoks AS (
    {toks_tgt}
),
vocab AS (SELECT tok, COUNT(*) AS sf FROM toks GROUP BY tok),
tvoc AS (SELECT tok, COUNT(*) AS tf FROM ttoks GROUP BY tok),
tots AS (
    SELECT (SELECT COUNT(*) FROM toks) AS sn,
           (SELECT COUNT(*) FROM ttoks) AS tn,
           (SELECT COUNT(*) FROM vocab) AS v
),
doc_tok AS (
    SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY doc_id, tok
),
contrib AS (
    SELECT d.doc_id, d.tok,
           d.c * (ln(CAST(COALESCE(t.tf, 0) + 1 AS DOUBLE) / (z.tn + z.v))
                  - ln(CAST(s.sf + 1 AS DOUBLE) / (z.sn + z.v))) AS lw
    FROM doc_tok d
    JOIN vocab s ON d.tok = s.tok
    LEFT JOIN tvoc t ON d.tok = t.tok
    CROSS JOIN tots z
),
doc_w AS (
    SELECT doc_id,
           ROUND({agg_tok_fold}, 9) AS w
    FROM contrib GROUP BY doc_id
),
ranked AS (
    SELECT doc_id, w,
           NTILE(5) OVER (ORDER BY w DESC, doc_id) AS bucket
    FROM doc_w
)
SELECT d.source,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN r.bucket = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_selected,
       CAST(SUM(CASE WHEN r.bucket = 1 THEN r.doc_id ELSE 0 END) AS BIGINT)
           AS selected_id_checksum,
       ROUND({agg_doc_fold}, 9) AS weight_sum
FROM ranked r JOIN documents d ON r.doc_id = d.doc_id
GROUP BY d.source
ORDER BY d.source
"""


_DSIR_TOKS_SPARK = (
    "SELECT doc_id, explode(split(lower(text), ' ')) AS tok\n"
    "    FROM documents WHERE length(text) > 0"
)
_DSIR_TTOKS_SPARK = (
    "SELECT doc_id, explode(split(lower(text), ' ')) AS tok\n"
    "    FROM documents WHERE length(text) > 0 AND doc_id % 5 = 0"
)
_DSIR_TOKS_DUCK = (
    "SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok\n"
    "    FROM documents WHERE length(text) > 0"
)
_DSIR_TTOKS_DUCK = (
    "SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok\n"
    "    FROM documents WHERE length(text) > 0 AND doc_id % 5 = 0"
)

def _dsir_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling (block comment above). r13
    optimization round: the single-statement form re-executed the
    token explode once per consumer of the inlined `toks`/`doc_tok`
    CTEs (plans/r13/dsir_importance_resample_before.txt: 7 documents
    scans). The Spark side now materializes `doc_tok` once and derives
    vocab (SUM(c) == the occurrence COUNT(*)), target vocab (the
    doc_id %% 5 = 0 restriction commutes with the per-doc grouping)
    and the corpus totals from it — integer-exact rewrites, so the
    unchanged DuckDB oracle hash-proves the equivalence."""
    register_views(spark, sf_dir, ["documents"])
    hold_view(
        spark,
        "dsir_doctok_mat",
        spark.sql(
            "SELECT doc_id, tok, COUNT(*) AS c FROM ("
            + _DSIR_TOKS_SPARK
            + ") GROUP BY doc_id, tok"
        ),
    )
    fold_tok = (
        "aggregate(array_sort(collect_list(struct(tok, lw))),"
        " CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.lw)"
    )
    fold_doc = (
        "aggregate(array_sort(collect_list(struct(r.doc_id, r.w))),"
        " CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.w)"
    )
    return spark.sql(
        f"""
WITH doc_tok AS (SELECT doc_id, tok, c FROM dsir_doctok_mat),
tgt_tok AS (SELECT doc_id, tok, c FROM doc_tok WHERE doc_id % 5 = 0),
vocab AS (SELECT tok, SUM(c) AS sf FROM doc_tok GROUP BY tok),
tvoc AS (SELECT tok, SUM(c) AS tf FROM tgt_tok GROUP BY tok),
tots AS (
    SELECT (SELECT SUM(c) FROM doc_tok) AS sn,
           (SELECT SUM(c) FROM tgt_tok) AS tn,
           (SELECT COUNT(*) FROM vocab) AS v
),
contrib AS (
    SELECT d.doc_id, d.tok,
           d.c * (ln(CAST(COALESCE(t.tf, 0) + 1 AS DOUBLE) / (z.tn + z.v))
                  - ln(CAST(s.sf + 1 AS DOUBLE) / (z.sn + z.v))) AS lw
    FROM doc_tok d
    JOIN vocab s ON d.tok = s.tok
    LEFT JOIN tvoc t ON d.tok = t.tok
    CROSS JOIN tots z
),
doc_w AS (
    SELECT doc_id,
           ROUND({fold_tok}, 9) AS w
    FROM contrib GROUP BY doc_id
),
ranked AS (
    SELECT doc_id, w,
           NTILE(5) OVER (ORDER BY w DESC, doc_id) AS bucket
    FROM doc_w
)
SELECT d.source,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN r.bucket = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_selected,
       CAST(SUM(CASE WHEN r.bucket = 1 THEN r.doc_id ELSE 0 END) AS BIGINT)
           AS selected_id_checksum,
       ROUND({fold_doc}, 9) AS weight_sum
FROM ranked r JOIN documents d ON r.doc_id = d.doc_id
GROUP BY d.source
ORDER BY d.source
"""
    )


_dsir_fn.__name__ = "dsir_importance_resample"
query(
    "dsir_importance_resample",
    oracle=_dsir(
        _DSIR_TOKS_DUCK,
        _DSIR_TTOKS_DUCK,
        "list_reduce(list_prepend(CAST(0 AS DOUBLE), list(lw ORDER BY tok)),"
        " (acc, x) -> acc + x)",
        "list_reduce(list_prepend(CAST(0 AS DOUBLE),"
        " list(r.w ORDER BY r.doc_id)), (acc, x) -> acc + x)",
    ),
    tags=("lmdata", "trainprep", "dsir", "importance-sampling"),
)(_dsir_fn)


# --- n-gram novelty (first-seen fraction in corpus order) ------------------
# The dedup diagnostic practitioners run before/after a dedup pass: in
# doc_id order, a doc's novelty is the fraction of its distinct
# 3-grams whose FIRST corpus occurrence is that doc (min doc_id over
# the shingle's postings). A corpus of near-copies shows novelty
# collapsing toward 0 for later docs; a clean corpus stays high.
# Exact integers until the final division. Shape: one groupBy(shingle)
# for first-seen (map-side combine absorbs boilerplate), one 1:1 join
# back on shingle, one per-doc rollup — no pair joins at all, so this
# is corpus-linear at any scale.


def _novelty(shingles: str) -> str:
    return f"""
WITH sh AS (
    {shingles}
),
first_seen AS (SELECT s, MIN(doc_id) AS first_doc FROM sh GROUP BY s),
per_doc AS (
    SELECT sh.doc_id,
           COUNT(*) AS n_ngrams,
           SUM(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END) AS n_novel
    FROM sh JOIN first_seen f ON sh.s = f.s
    GROUP BY sh.doc_id
)
SELECT d.source,
       COUNT(*) AS n_docs,
       CAST(SUM(p.n_ngrams) AS BIGINT) AS total_ngrams,
       CAST(SUM(p.n_novel) AS BIGINT) AS novel_ngrams,
       ROUND(CAST(SUM(p.n_novel) AS DOUBLE) / SUM(p.n_ngrams), 9)
           AS novelty_ratio,
       CAST(SUM(CASE WHEN p.n_novel * 4 < p.n_ngrams THEN 1 ELSE 0 END)
            AS BIGINT) AS n_stale_docs
FROM per_doc p JOIN documents d ON p.doc_id = d.doc_id
GROUP BY d.source
ORDER BY d.source
"""


from crypto_lakehouse_spark.queries.trainprep_ops import (  # noqa: E402
    _ngrams_duck,
    _ngrams_spark,
)

_pair(
    "ngram_novelty_by_source",
    _novelty(_ngrams_spark("documents", 3)),
    _novelty(_ngrams_duck("documents", 3)),
    tags=("lmdata", "dedup", "diagnostics"),
)


# --- BPE merge-candidate census (one tokenizer-training step) --------------
# The unit of BPE training (Sennrich et al. 2016): count adjacent
# symbol pairs over the corpus and pick the most frequent merge. Here
# symbols are characters within whitespace words (the standard
# pre-tokenized setting), pairs are (substr(w, i, 1), substr(w, i+1, 1)),
# and the census returns the top-20 pairs with deterministic
# (count DESC, pair) ordering — the argmax the training loop would
# merge, plus its runners-up. Corpus-linear: one explode per
# character position (narrow) and one groupBy(pair) with map-side
# combine; the top-20 is a tiny ordered limit.


def _bpe_spark() -> str:
    return """
WITH words AS (
    SELECT explode(split(lower(text), ' ')) AS w
    FROM documents WHERE length(text) > 0
),
pairs AS (
    SELECT concat(substring(w, i, 1), substring(w, i + 1, 1)) AS pair
    FROM (
        SELECT w, explode(sequence(1, length(w) - 1)) AS i
        FROM words WHERE length(w) >= 2
    )
)
SELECT pair, COUNT(*) AS n
FROM pairs
GROUP BY pair
ORDER BY n DESC, pair
LIMIT 20
"""


def _bpe_duck() -> str:
    return """
WITH words AS (
    SELECT unnest(string_split(lower(text), ' ')) AS w
    FROM documents WHERE length(text) > 0
),
pairs AS (
    SELECT substr(w, i, 2) AS pair
    FROM (
        SELECT w, unnest(range(1, len(w))) AS i
        FROM words WHERE len(w) >= 2
    )
)
SELECT pair, COUNT(*) AS n
FROM pairs
GROUP BY pair
ORDER BY n DESC, pair
LIMIT 20
"""


_pair(
    "bpe_top_merges",
    _bpe_spark(),
    _bpe_duck(),
    tags=("lmdata", "tokenizer", "bpe"),
)


# --- full BPE training loop (merge -> re-segment, iterated) -----------------
# The production form of `bpe_top_merges` (VERDICT r10 item 3): real
# tokenizer training iterates census -> argmax merge -> re-segment
# (Sennrich et al. 2016, learn_bpe), so this runs the loop for a fixed
# small merge budget and emits the learned MERGE TABLE — the actual
# artifact BPE training produces — with per-step pair counts
# value-pinned. State is the word-TYPE relation (segmentation, count):
# segmentations are bracket-delimited symbol strings ('[p][a][r]'),
# and applying merge (x, y) is `replace(syms, '[x][y]', '[xy]')` —
# both engines' replace() scans left-to-right and resumes AFTER the
# inserted replacement, which IS BPE's greedy non-overlapping merge
# order ('[a][a][a][a]' -> '[aa][aa]'); the bracket wrapping keeps
# adjacent matches from sharing boundary characters (the corpus is
# restricted to ^[a-z]+$ word types, so brackets cannot collide with
# content). Ties in the argmax break on (count DESC, x, y) — ASCII
# compares identical across engines; all counts are exact integers.
# The DuckDB oracle unrolls the identical recurrence as a recursive
# CTE over the word-type relation and re-derives each step's argmax
# from the step census. Scale shape per round: ONE groupBy(pair) with
# map-side combine over exploded adjacent positions (corpus-linear in
# word-type volume — word types, not corpus tokens, which is why real
# BPE trainers run on the type census), a 1-row argmax collect, and a
# narrow map to re-segment; the loop is merge-budget-bounded, and at
# a production budget (30k merges) the same plan amortizes the census
# over an incremental pair-delta — documented, not implemented, since
# the oracle-checkable unit is the exact recurrence.
_BPE_MAX_MERGES = 8

_BPE_STATE_SQL = """
SELECT array_join(transform(sequence(1, length(w)),
                  i -> concat('[', substring(w, i, 1), ']')), '') AS syms,
       cnt
FROM (
    SELECT w, COUNT(*) AS cnt FROM (
        SELECT explode(split(lower(text), ' ')) AS w
        FROM documents WHERE length(text) > 0
    ) u WHERE w RLIKE '^[a-z]+$' AND length(w) >= 2
    GROUP BY w
) words
"""

_BPE_CENSUS_SQL = r"""
SELECT x, y, CAST(SUM(cnt) AS BIGINT) AS n FROM (
    SELECT element_at(t, i) AS x, element_at(t, i + 1) AS y, cnt
    FROM (
        SELECT t, cnt, explode(sequence(1, size(t) - 1)) AS i
        FROM (SELECT regexp_extract_all(syms, '\\[([^\\]]*)\\]', 1) AS t,
                     cnt FROM bpe_state) toks
        WHERE size(t) >= 2
    ) pos
) pairs GROUP BY x, y ORDER BY n DESC, x, y LIMIT 1
"""


# Shared BPE training run (r13 optimization round): the trainer and
# the fertility census ran the IDENTICAL checkpoint-once /
# narrow-replace-per-merge loop (8 census jobs each = 16 per suite).
# The learned state is exactly the artifact a tokenizer-training
# pipeline persists between "train" and "apply", so it is memoized
# per (session, sf_dir) like the shingle/minhash fixtures: one loop
# serves both queries. Value = (merge records, checkpointed final
# word-type segmentation).
@fixture("bpe_run")
def cached_bpe_run(
    spark: SparkSession, sf_dir: str
) -> tuple[list, DataFrame]:
    register_views(spark, sf_dir, ["documents"])
    # Checkpoint ONCE after the corpus-wide type census; per-round
    # re-segmentation is a NARROW map (replace) over the tiny
    # word-type relation, so the loop accumulates at most
    # _BPE_MAX_MERGES narrow stages on top of the checkpoint instead
    # of paying a materialization job per merge — each round is then a
    # single census job. (At a production 30k-merge budget the chain
    # would be re-truncated every ~32 merges, same as the CC loop.)
    base = truncate_lineage(spark.sql(_BPE_STATE_SQL), spark)
    state = base
    merges: list[tuple] = []
    while len(merges) < _BPE_MAX_MERGES:
        state.createOrReplaceTempView("bpe_state")
        top = spark.sql(_BPE_CENSUS_SQL).collect()
        if not top:
            break
        x, y, n = top[0]["x"], top[0]["y"], top[0]["n"]
        merges.append((len(merges) + 1, x, y, x + y, n))
        state = state.selectExpr(
            f"replace(syms, '[{x}][{y}]', '[{x}{y}]') AS syms", "cnt"
        )
    if state is base:
        final = base
    else:
        final = truncate_lineage(state, spark)
        release_lineage(base)
    return merges, final


def _bpe_train_iterated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterated BPE merge learning (see block comment); the loop runs
    in the shared `cached_bpe_run` fixture."""
    merges, _ = cached_bpe_run(spark, sf_dir)
    return spark.createDataFrame(
        merges,
        "step bigint, left_sym string, right_sym string, merged string, "
        "pair_count bigint",
    )


# Shared DuckDB recursion: word-type census + budget-bounded merge
# loop (used by both the trainer oracle and the fertility oracle).
_BPE_IT_DUCK = r"""
WITH RECURSIVE
words AS (
    SELECT w, COUNT(*) AS cnt FROM (
        SELECT unnest(string_split(lower(text), ' ')) AS w
        FROM documents WHERE length(text) > 0
    ) u WHERE regexp_matches(w, '^[a-z]+$') AND len(w) >= 2
    GROUP BY w
),
it(step, syms, cnt) AS (
    SELECT 0,
           array_to_string(list_transform(range(1, len(w) + 1),
                           i -> '[' || substr(w, i, 1) || ']'), ''),
           cnt
    FROM words
    UNION ALL
    SELECT step + 1,
           replace(syms, '[' || b.x || '][' || b.y || ']',
                   '[' || b.x || b.y || ']'),
           cnt
    FROM it
    CROSS JOIN (
        SELECT x, y FROM (
            SELECT t[i] AS x, t[i + 1] AS y, SUM(cnt) AS n
            FROM (
                SELECT regexp_extract_all(syms, '\[([^\]]*)\]', 1) AS t,
                       cnt,
                       unnest(range(1, len(regexp_extract_all(syms,
                           '\[([^\]]*)\]', 1)))) AS i
                FROM it
            ) p GROUP BY t[i], t[i + 1]
        ) c ORDER BY n DESC, x, y LIMIT 1
    ) b
    WHERE step < %(budget)d
)""" % {"budget": _BPE_MAX_MERGES}

_BPE_TRAIN_DUCK = _BPE_IT_DUCK + r""",
census_all AS (
    SELECT step, t[i] AS x, t[i + 1] AS y, SUM(cnt) AS n
    FROM (
        SELECT step, regexp_extract_all(syms, '\[([^\]]*)\]', 1) AS t,
               cnt,
               unnest(range(1, len(regexp_extract_all(syms,
                   '\[([^\]]*)\]', 1)))) AS i
        FROM it
    ) p GROUP BY step, t[i], t[i + 1]
),
ranked AS (
    SELECT step, x, y, n,
           ROW_NUMBER() OVER (PARTITION BY step ORDER BY n DESC, x, y) AS rn
    FROM census_all
)
SELECT CAST(step + 1 AS BIGINT) AS step,
       x AS left_sym, y AS right_sym, x || y AS merged,
       CAST(n AS BIGINT) AS pair_count
FROM ranked
WHERE rn = 1 AND step < (SELECT MAX(step) FROM it)
ORDER BY step
"""

_bpe_train_iterated.__name__ = "bpe_train_iterated"
query(
    "bpe_train_iterated",
    oracle=_BPE_TRAIN_DUCK,
    tags=("lmdata", "tokenizer", "bpe", "iterative"),
)(_bpe_train_iterated)


# --- cross-lingual vocabulary overlap matrix -------------------------------
# The cross-lingual leakage diagnostic: Jaccard overlap of distinct
# token vocabularies between every language pair. High en/xx overlap
# usually means mislabeled language or code/boilerplate bleeding
# across shards — checked before per-language dedup is trusted.
# Linear shape: one distinct (lang, token) relation, a token-keyed
# self-join restricted to lang_a < lang_b (postings are per-token
# lang lists, k languages -> at most k(k-1)/2 pairs per token), exact
# integer counts to the final ratio.


def _lang_overlap(distinct_toks: str) -> str:
    return f"""
WITH lt AS (
    SELECT DISTINCT lang, tok FROM (
        {distinct_toks}
    ) base
),
sizes AS (SELECT lang, COUNT(*) AS n FROM lt GROUP BY lang),
inter AS (
    SELECT a.lang AS lang_a, b.lang AS lang_b, COUNT(*) AS n_shared
    FROM lt a JOIN lt b ON a.tok = b.tok AND a.lang < b.lang
    GROUP BY a.lang, b.lang
)
SELECT i.lang_a, i.lang_b,
       sa.n AS vocab_a, sb.n AS vocab_b,
       CAST(i.n_shared AS BIGINT) AS n_shared,
       ROUND(CAST(i.n_shared AS DOUBLE)
             / (sa.n + sb.n - i.n_shared), 9) AS jaccard
FROM inter i
JOIN sizes sa ON sa.lang = i.lang_a
JOIN sizes sb ON sb.lang = i.lang_b
ORDER BY lang_a, lang_b
"""


_pair(
    "lang_vocab_overlap",
    _lang_overlap(
        "SELECT lang, explode(split(lower(text), ' ')) AS tok\n"
        "        FROM documents WHERE length(text) > 0"
    ),
    _lang_overlap(
        "SELECT lang, unnest(string_split(lower(text), ' ')) AS tok\n"
        "        FROM documents WHERE length(text) > 0"
    ),
    tags=("lmdata", "diagnostics", "cross-lingual"),
)


# --- greedy wordpiece tokenization via RECURSIVE CTE ------------------------
# Subword tokenization the way a corpus report needs it: learn a piece
# inventory from the corpus (top-96 substrings of length 2-4 by
# distinct-word df + every single char as the progress-guaranteeing
# fallback), then tokenize every DISTINCT word by greedy longest-prefix
# match and report the piece census weighted by word frequency. The
# recursion is Spark 4's WITH RECURSIVE executed ENGINE-SIDE (no
# driver loop): the trick that keeps UNION ALL recursion safe is that
# `best` precomputes THE unique longest (tie: lexicographically
# smallest) piece per (word, position) relationally, so the recursive
# walk has exactly one successor per state — rows grow linearly with
# pieces-per-word, never combinatorially, and depth is bounded by max
# word length. Positions are enumerated PER WORD as 1..length(w)
# (round-8 contract fix: the earlier fixed sequence(1, 16) silently
# truncated 17+-char words mid-walk — the bound is now data-derived,
# so no word length can stall the walk or drop tail pieces). Scale
# shape: the piece inventory is a fixed-size broadcast dimension;
# `best` is words x positions x |pieces| behind a broadcast
# nested-loop (linear in total word CHARS); the walk recursion
# shuffles only (word, pos, piece) tuples. DuckDB runs the same SQL
# modulo explode/sequence dialect — the recursion itself is checked
# value-exactly, both the greedy CHOICES and the counts.

# The greedy-choice ("best") relation's CTE chain, shared VERBATIM by
# the DuckDB oracle statement and the Spark-side materialization —
# the vocab LIMIT, piece lengths, and longest-match tie-break are
# single-sourced so the two plans cannot silently desync (review
# finding: the first cut kept a hand-copied second literal).
def _wordpiece_best_ctes(lens: str) -> str:
    return f"""subs AS (
    SELECT substr(w, i, l) AS piece, COUNT(DISTINCT w) AS df
    FROM wordpos
    {lens}
    WHERE i + l - 1 <= length(w)
    GROUP BY substr(w, i, l)
),
vocab AS (
    SELECT piece FROM subs ORDER BY df DESC, piece LIMIT 96
),
chars AS (
    SELECT DISTINCT substr(w, i, 1) AS piece
    FROM wordpos
),
pieces AS (SELECT piece FROM vocab UNION SELECT piece FROM chars),
best AS (
    SELECT w, pos, piece FROM (
        SELECT wp.w, wp.i AS pos, p.piece,
               ROW_NUMBER() OVER (
                   PARTITION BY wp.w, wp.i
                   ORDER BY length(p.piece) DESC, p.piece) AS rn
        FROM wordpos wp
        JOIN pieces p
          ON substr(wp.w, wp.i, length(p.piece)) = p.piece
    ) ranked WHERE rn = 1
)"""


def _wordpiece_sql(split: str, tok: str, lens: str, wordpos: str) -> str:
    # DuckDB oracle: inline two-scan form (words + word_tf each explode
    # the corpus; DuckDB materializes CTEs, and the oracle's runtime
    # does not matter). The Spark side reads the memoized word_tf
    # fixture instead — see _wordpiece_recursive.
    words_sql = f"""SELECT DISTINCT {tok} AS w FROM (
        SELECT {split}(text, ' ') AS ws FROM documents
    )"""
    wtf_sql = f"""SELECT w, COUNT(*) AS tf FROM (
        SELECT {tok} AS w FROM (
            SELECT {split}(text, ' ') AS ws FROM documents
        )
    ) GROUP BY w"""
    return f"""
WITH RECURSIVE words AS (
    {words_sql}
),
wordpos AS (
    {wordpos}
),
{_wordpiece_best_ctes(lens)},
walk(w, pos, piece) AS (
    SELECT w, CAST(1 AS INT) AS pos, piece FROM best WHERE pos = 1
    UNION ALL
    SELECT b.w, CAST(wk.pos + length(wk.piece) AS INT) AS pos, b.piece
    FROM walk wk
    JOIN best b
      ON b.w = wk.w AND b.pos = wk.pos + length(wk.piece)
),
word_tf AS (
    {wtf_sql}
)
SELECT wk.piece,
       CAST(length(wk.piece) AS INT) AS piece_len,
       CAST(SUM(word_tf.tf) AS BIGINT) AS n_occurrences,
       CAST(COUNT(DISTINCT wk.w) AS BIGINT) AS n_distinct_words
FROM walk wk JOIN word_tf ON word_tf.w = wk.w
GROUP BY wk.piece
ORDER BY n_occurrences DESC, piece
"""


_WORD_TF_VIEW = "word_tf_mat"


@fixture("word_tf", view=_WORD_TF_VIEW)
def cached_word_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus word-frequency relation (w, tf) for `sf_dir` — the
    vocabulary-sized aggregate several token-census queries re-derive
    from a full corpus explode."""
    register_views(spark, sf_dir, ["documents"])
    return truncate_lineage(
        spark.sql(
            """
            SELECT w, COUNT(*) AS tf FROM (
                SELECT explode(ws) AS w FROM (
                    SELECT split(text, ' ') AS ws FROM documents
                )
            ) GROUP BY w
            """
        ),
        spark,
    )


def _wordpiece_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy longest-prefix wordpiece tokenization executed as an
    engine-side WITH RECURSIVE walk (unique successor per state, so
    UNION ALL recursion is safe) — see the block comment above for
    the vocabulary derivation and scale framing. Reads the
    materialized word-frequency fixture: ONE corpus explode serves
    both the word inventory and the tf weights."""
    view = cached_word_tf(spark, sf_dir)
    # Materialize `best` before the recursion: Spark inlines CTEs
    # into the recursive term, so the wordpos x pieces prefix join +
    # window would otherwise re-run on EVERY recursion round (depth =
    # max pieces per word). The relation is vocabulary-sized
    # (positions x 1) and checkpointed per call; the walk output frame
    # still references it, so hold_view defers its release to the
    # next call.
    hold_view(
        spark,
        "wordpiece_best_mat",
        spark.sql(f"""
WITH words AS (SELECT w FROM {view}),
wordpos AS (
    SELECT w, i FROM words
    LATERAL VIEW explode(sequence(1, length(w))) t_i AS i
),
{_wordpiece_best_ctes(_WORDPIECE_SPARK_DIALECT[2])}
SELECT w, pos, piece FROM best
"""),
    )
    return spark.sql(f"""
WITH RECURSIVE walk(w, pos, piece) AS (
    SELECT w, CAST(1 AS INT) AS pos, piece
    FROM wordpiece_best_mat WHERE pos = 1
    UNION ALL
    SELECT b.w, CAST(wk.pos + length(wk.piece) AS INT) AS pos, b.piece
    FROM walk wk
    JOIN wordpiece_best_mat b
      ON b.w = wk.w AND b.pos = wk.pos + length(wk.piece)
),
word_tf AS (SELECT w, tf FROM {view})
SELECT wk.piece,
       CAST(length(wk.piece) AS INT) AS piece_len,
       CAST(SUM(word_tf.tf) AS BIGINT) AS n_occurrences,
       CAST(COUNT(DISTINCT wk.w) AS BIGINT) AS n_distinct_words
FROM walk wk JOIN word_tf ON word_tf.w = wk.w
GROUP BY wk.piece
ORDER BY n_occurrences DESC, piece
""")


# Position enumeration is per word, 1..length(w) — data-derived, so
# the census is complete for any word length (see block comment).
_WORDPIECE_SPARK_DIALECT = (
    "split",
    "explode(ws)",
    "LATERAL VIEW explode(sequence(2, 4)) t_l AS l",
    "SELECT w, i FROM words "
    "LATERAL VIEW explode(sequence(1, length(w))) t_i AS i",
)
_WORDPIECE_DUCK_DIALECT = (
    "string_split",
    "unnest(ws)",
    ", range(2, 5) t_l(l)",
    "SELECT w, unnest(range(1, length(w) + 1)) AS i FROM words",
)

_wordpiece_recursive.__name__ = "wordpiece_tokenize_recursive"
query(
    "wordpiece_tokenize_recursive",
    oracle=_wordpiece_sql(*_WORDPIECE_DUCK_DIALECT),
    tags=("lmdata", "tokenizer", "recursive-cte", "spark4"),
)(_wordpiece_recursive)


# --- unigram-LM (SentencePiece-style) EM step -------------------------------
# The third member of the tokenizer-training ladder (BPE iterated,
# wordpiece greedy, and now unigram-LM — Kudo 2018, "Subword
# Regularization", arXiv:1804.10959). One EM iteration:
#
#   E-step: Viterbi-segment every distinct word under a seed unigram
#   model (all substrings of length 1-4, occurrence-frequency seed
#   probabilities, top-96 multi-char pieces + every single char so any
#   word stays segmentable).
#   M-step: re-estimate piece probabilities from the tf-weighted piece
#   counts of the Viterbi segmentations.
#
# Cross-engine bit-exactness: Viterbi is a DISCRETE argmin — a 1-ulp
# libm difference in log() could flip a segmentation, so costs are
# QUANTIZED to half-bits computed in pure integer arithmetic:
#   qlog2(x) = floor(2*log2 x) = length(bin(x*x)) - 1
# (bin() = exact binary-digit string in both engines; inputs saturate
# at 2^31-1 so the square stays in BIGINT — deployment at 100 TB would
# drop the quantization and use double costs, no oracle to match).
# cost(piece) = qlog2(N) - qlog2(cf) >= 0, N = total seed mass.
#
# The DP runs as interval min-plus DOUBLING, not a driver loop: d0 =
# single-piece spans (<=4 chars), each round unions "span + span @
# shared midpoint" and takes the group-min, so 3 unrolled CTE rounds
# cover words up to 32 chars (4*2^3) — longer words are excluded up
# front, the standard tokenizer-training prefilter (URLs/noise). Path
# recovery needs SUFFIX costs (best cost of segmenting w[i..end]):
# from position i, any piece p with qcost(p) + S(i+len(p)) = S(i) is
# on an optimal path (prefix-cost recovery has no such guarantee);
# ROW_NUMBER over (piece_len DESC, piece) makes the choice unique and
# the walk a unique-successor recursion — the same recursive-CTE
# machinery as wordpiece.
#
# Scale shape: ONE corpus pass (the memoized word_tf fixture, shared
# with wordpiece) — everything downstream is VOCABULARY-sized, which
# Heaps' law keeps sublinear in corpus bytes. Per-word DP cost is
# O(L^3) with L<=32 via the doubling joins; the upgrade path at
# extreme word lengths is 4x4 min-plus transfer-matrix doubling
# (O(L) rows, log L rounds), not needed at this cap.

_UNIGRAM_VOCAB_K = 96
_UNIGRAM_MAX_WORD = 32
_UNIGRAM_SAT = 2147483647  # saturate before squaring: x*x stays in BIGINT


def _unigram_ql(x: str) -> str:
    """Integer half-bit log2: floor(2*log2 x) = length(bin(x*x)) - 1,
    saturated so the square stays in BIGINT (see block comment)."""
    s = str(_UNIGRAM_SAT)
    return (
        f"(length(bin(CAST(least({x}, {s}) AS BIGINT) * "
        f"CAST(least({x}, {s}) AS BIGINT))) - 1)"
    )


def _unigram_census_ctes(words: str, wordpos: str, lens: str) -> str:
    """CTE chain words -> edges (dialect-parameterized): the seed
    vocabulary census, quantized piece costs, and the single-piece
    span edges the DP starts from."""
    qn, qcf = _unigram_ql("t.n"), _unigram_ql("v.cf")
    return f"""words AS (
    SELECT w, tf FROM ({words}) w0
    WHERE length(w) BETWEEN 1 AND {_UNIGRAM_MAX_WORD}
),
wordpos AS (
    {wordpos}
),
occ AS (
    SELECT substr(wp.w, wp.i, l) AS piece, SUM(wd.tf) AS cf
    FROM wordpos wp JOIN words wd ON wd.w = wp.w
    {lens}
    WHERE wp.i + l - 1 <= length(wp.w)
    GROUP BY substr(wp.w, wp.i, l)
),
vocab AS (
    SELECT piece, cf FROM (
        SELECT piece, cf FROM occ WHERE length(piece) > 1
        ORDER BY cf DESC, piece LIMIT {_UNIGRAM_VOCAB_K}
    ) vm
    UNION ALL
    SELECT piece, cf FROM occ WHERE length(piece) = 1
),
tot AS (SELECT SUM(cf) AS n FROM vocab),
costed AS (
    SELECT v.piece, CAST({qn} - {qcf} AS INT) AS qcost
    FROM vocab v CROSS JOIN tot t
),
edges AS (
    SELECT wp.w, wp.i, CAST(wp.i + length(c.piece) AS INT) AS j,
           c.qcost, c.piece
    FROM wordpos wp JOIN costed c
      ON substr(wp.w, wp.i, length(c.piece)) = c.piece
)"""


# One min-plus doubling round: spans(prev) U spans joined at a shared
# midpoint, group-min. `{prev}` is referenced TWICE, which is exactly
# why the Spark side runs each round over a MATERIALIZED view — Spark
# inlines CTEs, so the pure-CTE form duplicates the whole upstream
# plan 2x per round (2^3 census copies by d3; measured 24 s on 138
# rows). DuckDB materializes multi-referenced CTEs, so the oracle
# keeps the single-statement form.
_UNIGRAM_DOUBLE_ROUND = """
SELECT w, i, j, MIN(c) AS c FROM (
    SELECT w, i, j, c FROM {prev}
    UNION ALL
    SELECT a.w, a.i, b.j, a.c + b.c AS c
    FROM {prev} a JOIN {prev} b ON b.w = a.w AND b.i = a.j
) u{n} GROUP BY w, i, j"""


def _unigram_steps_sql(edges: str, dfinal: str) -> str:
    """suffix + unique-successor step selection over the (possibly
    materialized) edges and final DP relations. `words` must be in
    scope as a CTE."""
    return f"""suffix AS (
    SELECT d.w, d.i, d.c
    FROM {dfinal} d JOIN words wd ON wd.w = d.w
    WHERE d.j = length(wd.w) + 1
),
steps AS (
    SELECT w, i, piece FROM (
        SELECT e.w, e.i, e.piece,
               ROW_NUMBER() OVER (PARTITION BY e.w, e.i
                                  ORDER BY length(e.piece) DESC, e.piece
               ) AS rn
        FROM {edges} e
        JOIN words wd ON wd.w = e.w
        JOIN suffix sh ON sh.w = e.w AND sh.i = e.i
        LEFT JOIN suffix sn ON sn.w = e.w AND sn.i = e.j
        WHERE e.qcost + CASE WHEN e.j = length(wd.w) + 1 THEN 0
                             ELSE sn.c END = sh.c
    ) ranked WHERE rn = 1
)"""


def _unigram_shared_ctes(words: str, wordpos: str, lens: str) -> str:
    """Full single-statement CTE chain words -> steps (the DuckDB
    oracle form; see _UNIGRAM_DOUBLE_ROUND for why Spark doesn't run
    this shape)."""
    return (
        _unigram_census_ctes(words, wordpos, lens)
        + f""",
d0 AS (SELECT w, i, j, MIN(qcost) AS c FROM edges GROUP BY w, i, j),
d1 AS ({_UNIGRAM_DOUBLE_ROUND.format(prev="d0", n=1)}),
d2 AS ({_UNIGRAM_DOUBLE_ROUND.format(prev="d1", n=2)}),
d3 AS ({_UNIGRAM_DOUBLE_ROUND.format(prev="d2", n=3)}),
"""
        + _unigram_steps_sql("edges", "d3")
    )


def _unigram_walk_sql(steps_src: str, words_src: str) -> str:
    """Recursive walk over the unique-successor step relation, then
    the M-step piece-probability re-estimation."""
    return f"""walk(w, pos, piece) AS (
    SELECT w, CAST(i AS INT) AS pos, piece FROM {steps_src} WHERE i = 1
    UNION ALL
    SELECT s.w, CAST(s.i AS INT) AS pos, s.piece
    FROM walk k JOIN {steps_src} s
      ON s.w = k.w AND s.i = k.pos + length(k.piece)
),
agg AS (
    SELECT k.piece, SUM(wd.tf) AS vc, COUNT(DISTINCT k.w) AS nw
    FROM walk k JOIN {words_src} wd ON wd.w = k.w
    GROUP BY k.piece
)
SELECT piece,
       CAST(length(piece) AS INT) AS piece_len,
       CAST(vc AS BIGINT) AS viterbi_count,
       CAST(nw AS BIGINT) AS n_distinct_words,
       ROUND(CAST(vc AS DOUBLE) / CAST(SUM(vc) OVER () AS DOUBLE), 9)
           AS em_prob
FROM agg
ORDER BY viterbi_count DESC, piece"""


_UNIGRAM_SPARK_WORDPOS = (
    "SELECT w, i FROM words "
    "LATERAL VIEW explode(sequence(1, length(w))) t_i AS i"
)
_UNIGRAM_SPARK_LENS = "LATERAL VIEW explode(sequence(1, 4)) t_l AS l"
_UNIGRAM_DUCK_WORDPOS = (
    "SELECT w, unnest(range(1, length(w) + 1)) AS i FROM words"
)
_UNIGRAM_DUCK_LENS = ", range(1, 5) t_l(l)"

_UNIGRAM_DUCK_WORDS = """SELECT w, COUNT(*) AS tf FROM (
        SELECT unnest(string_split(text, ' ')) AS w FROM documents
    ) t0 GROUP BY w"""

def _unigram_lm_em_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SentencePiece-style unigram-LM EM step (block comment above):
    quantized-integer-cost Viterbi E-step via interval min-plus
    doubling + recursive-CTE path recovery, exact M-step re-estimation.
    Reads the memoized word_tf fixture (one corpus pass, shared with
    wordpiece); every relation after it is vocabulary-sized.

    r14 optimization round: the census + DP + step-selection state is
    the round-0 half of the SHARED `cached_unigram_run` fixture — the
    pruned twin re-ran the identical ~6-checkpoint chain per call
    (guide §2.4 duplicated work; VERDICT r13 item 1). The per-call
    plan is now ONE action: the recursive walk + M-step over the
    materialized step relation. The DuckDB oracle is unchanged (full
    single-statement CTE form), so the green hash proves the fixture
    path end-to-end."""
    view = cached_word_tf(spark, sf_dir)
    steps0, _ = cached_unigram_run(spark, sf_dir)
    return spark.sql(
        "WITH RECURSIVE " + _unigram_walk_sql(steps0, view)
    )


def _duck_materialize(sql: str, names: tuple[str, ...]) -> str:
    """Pin the named CTEs to AS MATERIALIZED in a DuckDB oracle.
    DuckDB (like Spark) INLINES CTEs; in the doubling DP each CTE is
    referenced twice, so the inlined plan duplicates the upstream
    chain 2^depth times — hundreds of re-scans of documents.parquet in
    the two-round form (observed as an fd-exhaustion IOError, and
    quadratic-plus work besides). The Spark statements never see this
    string; the engine-side fix there is the checkpointed-view loop."""
    for n in names:
        sql = sql.replace(f"{n} AS (", f"{n} AS MATERIALIZED (", 1)
    return sql


_UNIGRAM_DP_CTE_NAMES = (
    "words", "wordpos", "occ", "vocab", "costed", "edges",
)

_UNIGRAM_DUCK_SQL = _duck_materialize(
    "WITH RECURSIVE "
    + _unigram_shared_ctes(
        _UNIGRAM_DUCK_WORDS, _UNIGRAM_DUCK_WORDPOS, _UNIGRAM_DUCK_LENS
    )
    + ",\n"
    + _unigram_walk_sql("steps", "words"),
    _UNIGRAM_DP_CTE_NAMES + ("d0", "d1", "d2", "d3", "suffix", "steps"),
)

_unigram_lm_em_step.__name__ = "unigram_lm_em_step"
query(
    "unigram_lm_em_step",
    oracle=_UNIGRAM_DUCK_SQL,
    tags=("lmdata", "tokenizer", "recursive-cte", "spark4"),
)(_unigram_lm_em_step)


# --- unigram-LM EM with vocabulary pruning (round 2) -------------------------
# The full SentencePiece training loop alternates EM with PRUNING:
# after each E-step, pieces that earn little Viterbi mass are dropped
# and probabilities re-estimated over the survivors. This operator
# runs that second round: seed E-step (identical to
# unigram_lm_em_step) -> prune to the top-64 multi-char pieces by
# Viterbi count (every single char always survives — segmentability) ->
# add-one-smoothed M-step costs over the survivors -> second Viterbi
# under the re-estimated model -> final M-step report.
#
# The cost-independent structure is computed ONCE: the census `edges`
# relation carries (word, position, piece) prefix matches, so round
# 1's edge set is just edges JOIN costed1 ON piece — no second census,
# no second corpus touch. Everything after the shared word_tf fixture
# stays vocabulary-sized; the Spark side materializes each DP round
# exactly as the one-step operator (CTE-inlining rationale above).

_UNIGRAM2_PRUNE_K = 64


def _unigram_dp_steps(sfx: str, edges: str) -> str:
    """Suffixed d0..d3 + suffix + steps CTE chain over an edges
    relation (w, i, j, qcost, piece); `words` must be in scope."""
    r = _UNIGRAM_DOUBLE_ROUND
    return f"""d0{sfx} AS (
    SELECT w, i, j, MIN(qcost) AS c FROM {edges} GROUP BY w, i, j
),
d1{sfx} AS ({r.format(prev=f"d0{sfx}", n=f"1{sfx}")}),
d2{sfx} AS ({r.format(prev=f"d1{sfx}", n=f"2{sfx}")}),
d3{sfx} AS ({r.format(prev=f"d2{sfx}", n=f"3{sfx}")}),
suffix{sfx} AS (
    SELECT d.w, d.i, d.c
    FROM d3{sfx} d JOIN words wd ON wd.w = d.w
    WHERE d.j = length(wd.w) + 1
),
steps{sfx} AS (
    SELECT w, i, piece FROM (
        SELECT e.w, e.i, e.piece,
               ROW_NUMBER() OVER (PARTITION BY e.w, e.i
                                  ORDER BY length(e.piece) DESC, e.piece
               ) AS rn
        FROM {edges} e
        JOIN words wd ON wd.w = e.w
        JOIN suffix{sfx} sh ON sh.w = e.w AND sh.i = e.i
        LEFT JOIN suffix{sfx} sn ON sn.w = e.w AND sn.i = e.j
        WHERE e.qcost + CASE WHEN e.j = length(wd.w) + 1 THEN 0
                             ELSE sn.c END = sh.c
    ) ranked WHERE rn = 1
)"""


def _unigram2_prune_ctes(agg0: str, edges0: str) -> str:
    """keep1/vc1/tot1/costed1: prune to the top-K multi-char Viterbi
    earners plus every char, then add-one-smoothed quantized costs."""
    return f"""keep1 AS (
    SELECT piece FROM (
        SELECT piece FROM {agg0} WHERE length(piece) > 1
        ORDER BY vc DESC, piece LIMIT {_UNIGRAM2_PRUNE_K}
    ) km
    UNION ALL
    SELECT DISTINCT piece FROM {edges0} WHERE length(piece) = 1
),
vc1 AS (
    SELECT k.piece, COALESCE(a.vc, 0) AS vc
    FROM keep1 k LEFT JOIN {agg0} a ON a.piece = k.piece
),
tot1 AS (SELECT SUM(vc) + COUNT(*) AS n FROM vc1),
costed1 AS (
    SELECT v.piece,
           CAST({_unigram_ql("t.n")} - {_unigram_ql("v.vc + 1")} AS INT)
               AS qcost
    FROM vc1 v CROSS JOIN tot1 t
)"""


_UNIGRAM2_DUCK_SQL = _duck_materialize(
    "WITH RECURSIVE "
    + _unigram_census_ctes(
        _UNIGRAM_DUCK_WORDS, _UNIGRAM_DUCK_WORDPOS, _UNIGRAM_DUCK_LENS
    )
    + ",\n"
    + _unigram_dp_steps("_r0", "edges")
    + """,
walk_r0(w, pos, piece) AS (
    SELECT w, CAST(i AS INT) AS pos, piece FROM steps_r0 WHERE i = 1
    UNION ALL
    SELECT s.w, CAST(s.i AS INT) AS pos, s.piece
    FROM walk_r0 k JOIN steps_r0 s
      ON s.w = k.w AND s.i = k.pos + length(k.piece)
),
agg_r0 AS (
    SELECT k.piece, SUM(wd.tf) AS vc
    FROM walk_r0 k JOIN words wd ON wd.w = k.w
    GROUP BY k.piece
),
"""
    + _unigram2_prune_ctes("agg_r0", "edges")
    + """,
edges1 AS (
    SELECT e.w, e.i, e.j, c.qcost, e.piece
    FROM edges e JOIN costed1 c ON c.piece = e.piece
),
"""
    + _unigram_dp_steps("_r1", "edges1")
    + ",\n"
    + _unigram_walk_sql("steps_r1", "words"),
    _UNIGRAM_DP_CTE_NAMES
    + (
        "d0_r0", "d1_r0", "d2_r0", "d3_r0", "suffix_r0", "steps_r0",
        "agg_r0", "keep1", "vc1", "tot1", "costed1", "edges1",
        "d0_r1", "d1_r1", "d2_r1", "d3_r1", "suffix_r1", "steps_r1",
    ),
)

# Shared EM tokenizer state (r14 optimization round, VERDICT r13
# item 1): `unigram_lm_em_step` and `unigram_lm_em_pruned` ran the
# IDENTICAL census + round-0 DP + step-selection chain per call
# (~6 checkpoint jobs each, and the pruned twin re-ran it on every
# bench run). The learned segmentation state — exactly what a
# SentencePiece training pipeline persists between EM rounds — is now
# built once per (session, sf_dir): round-0 steps (seed E-step) and
# round-1 steps (post-pruning re-estimated E-step). Consumers run only
# the recursive walk + M-step, one action per call. Same fixture
# discipline as cached_bpe_run; the unchanged single-statement DuckDB
# oracles re-derive both rounds from scratch, so every green hash
# proves the shared state bit-exact.
_UNIGRAM_STEPS0_VIEW = "unigram_steps0_fix"
_UNIGRAM_STEPS1_VIEW = "unigram_steps1_fix"


@fixture("unigram_em_run", view=(_UNIGRAM_STEPS0_VIEW, _UNIGRAM_STEPS1_VIEW))
def cached_unigram_run(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """The two-round unigram-LM EM step relations (round-0, round-1).

    Each doubling round and the step relations are MATERIALIZED
    (checkpointed temp views), because every one is referenced twice
    downstream and Spark inlines CTEs — the pure-CTE oracle form
    duplicates the census 2^rounds times (measured 24 s on 138 rows;
    materialized: sub-second per round). Same checkpointed-loop
    discipline as the graph pointer-doubling operators."""
    view = cached_word_tf(spark, sf_dir)
    words_sql = (
        f"words AS (SELECT w, tf FROM (SELECT w, tf FROM {view}) w0 "
        f"WHERE length(w) BETWEEN 1 AND {_UNIGRAM_MAX_WORD})"
    )
    ck = lambda df: truncate_lineage(df, spark)  # noqa: E731
    edges = ck(
        spark.sql(
            "WITH "
            + _unigram_census_ctes(
                f"SELECT w, tf FROM {view}",
                _UNIGRAM_SPARK_WORDPOS,
                _UNIGRAM_SPARK_LENS,
            )
            + "\nSELECT w, i, j, qcost, piece FROM edges"
        )
    )
    edges.createOrReplaceTempView("unigram2_edges_mat")
    released = [edges]

    def dp_steps(edges_view: str) -> DataFrame:
        d = ck(
            spark.sql(
                f"SELECT w, i, j, MIN(qcost) AS c FROM {edges_view} "
                "GROUP BY w, i, j"
            )
        )
        for rnd in range(3):  # spans 4 -> 32 = _UNIGRAM_MAX_WORD
            d.createOrReplaceTempView("unigram2_d_mat")
            nd = ck(
                spark.sql(
                    _UNIGRAM_DOUBLE_ROUND.format(
                        prev="unigram2_d_mat", n=rnd
                    )
                )
            )
            released.append(d)
            d = nd
        d.createOrReplaceTempView("unigram2_d_mat")
        released.append(d)
        return ck(
            spark.sql(
                "WITH "
                + words_sql
                + ",\n"
                + _unigram_steps_sql(edges_view, "unigram2_d_mat")
                + "\nSELECT w, i, piece FROM steps"
            )
        )

    steps0 = dp_steps("unigram2_edges_mat")
    # The round-1 pruning reads the round-0 steps view, so register it now.
    steps0.createOrReplaceTempView(_UNIGRAM_STEPS0_VIEW)
    agg0 = ck(
        spark.sql(
            "WITH RECURSIVE "
            + words_sql
            + f""",
walk(w, pos, piece) AS (
    SELECT w, CAST(i AS INT) AS pos, piece
    FROM {_UNIGRAM_STEPS0_VIEW} WHERE i = 1
    UNION ALL
    SELECT s.w, CAST(s.i AS INT) AS pos, s.piece
    FROM walk k JOIN {_UNIGRAM_STEPS0_VIEW} s
      ON s.w = k.w AND s.i = k.pos + length(k.piece)
)
SELECT k.piece, SUM(wd.tf) AS vc
FROM walk k JOIN words wd ON wd.w = k.w
GROUP BY k.piece"""
        )
    )
    agg0.createOrReplaceTempView("unigram2_agg0_mat")
    released.append(agg0)
    edges1 = ck(
        spark.sql(
            "WITH "
            + _unigram2_prune_ctes("unigram2_agg0_mat", "unigram2_edges_mat")
            + """
SELECT e.w, e.i, e.j, c.qcost, e.piece
FROM unigram2_edges_mat e JOIN costed1 c ON c.piece = e.piece"""
        )
    )
    edges1.createOrReplaceTempView("unigram2_edges1_mat")
    released.append(edges1)
    steps1 = dp_steps("unigram2_edges1_mat")
    for f in released:
        release_lineage(f)
    return steps0, steps1


def _unigram_lm_em_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second EM round with vocabulary pruning (block comment above).
    r14: reads the round-1 half of the shared `cached_unigram_run`
    fixture (the census edge structure is computed once and re-costed
    for round 1 inside the fixture build); the per-call plan is the
    recursive walk + M-step only."""
    view = cached_word_tf(spark, sf_dir)
    _, steps1 = cached_unigram_run(spark, sf_dir)
    return spark.sql(
        "WITH RECURSIVE " + _unigram_walk_sql(steps1, view)
    )


_unigram_lm_em_pruned.__name__ = "unigram_lm_em_pruned"
query(
    "unigram_lm_em_pruned",
    oracle=_UNIGRAM2_DUCK_SQL,
    tags=("lmdata", "tokenizer", "recursive-cte", "spark4", "pruning"),
)(_unigram_lm_em_pruned)


# --- vocabulary coverage curve ----------------------------------------------
# The corpus report's "how big must the vocab be" diagnostic: for
# nested vocab sizes k in {16, 64, 256}, the fraction of ALL token
# occurrences covered by the top-k tokens (tf DESC, token tie-break).
# One token-frequency aggregation feeds every point (the rank is a
# single window over the tiny distinct-token relation), so corpus
# cost is one groupBy pass regardless of how many curve points are
# reported; ratios are exact integer ratios rounded at the end.

def _vocab_coverage_sql(tok: str, split: str, ks: str) -> str:
    return f"""
WITH toks AS (
    SELECT {tok} AS token FROM (
        SELECT {split}(text, ' ') AS ws FROM documents
    )
),
tf AS (SELECT token, COUNT(*) AS tf FROM toks GROUP BY token),
ranked AS (
    SELECT token, tf,
           ROW_NUMBER() OVER (ORDER BY tf DESC, token) AS rnk
    FROM tf
),
total AS (SELECT SUM(tf) AS n, COUNT(*) AS n_distinct FROM tf),
ks AS ({ks})
SELECT CAST(ks.k AS INT) AS vocab_size,
       CAST(COUNT(r.token) AS BIGINT) AS n_vocab_tokens,
       CAST(COALESCE(SUM(r.tf), 0) AS BIGINT) AS covered_occurrences,
       CAST(MAX(t.n) AS BIGINT) AS total_occurrences,
       ROUND(CAST(COALESCE(SUM(r.tf), 0) AS DOUBLE) / MAX(t.n), 9)
           AS coverage,
       CAST(MAX(t.n_distinct) AS BIGINT) AS n_distinct_tokens
FROM ks
LEFT JOIN ranked r ON r.rnk <= ks.k
CROSS JOIN total t
GROUP BY ks.k
ORDER BY vocab_size
"""


def _vocab_coverage_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-occurrence coverage at nested vocab sizes (block comment
    above) — one corpus aggregation, window-ranked vocab, exact
    integer ratios."""
    register_views(spark, sf_dir, ["documents"])
    return spark.sql(
        _vocab_coverage_sql(
            "explode(ws)", "split",
            "SELECT explode(array(16, 64, 256)) AS k",
        )
    )


_vocab_coverage_fn.__name__ = "vocab_coverage_curve"
query(
    "vocab_coverage_curve",
    oracle=_vocab_coverage_sql(
        "unnest(ws)", "string_split",
        "SELECT unnest([16, 64, 256]) AS k",
    ),
    tags=("lmdata", "tokenizer", "diagnostics"),
)(_vocab_coverage_fn)


# --- n-gram singleton decay (memorization-risk curve) -------------------------
# For n = 1..5: how many distinct n-grams exist and what fraction are
# SINGLETONS (frequency 1). The singleton fraction rises steeply with
# n in natural text (Good-Turing mass); a corpus whose 5-gram
# singleton fraction is LOW is heavily templated/duplicated — and the
# singleton tail is exactly the material a language model can only
# memorize, so this curve is the one-look memorization-risk summary a
# data audit starts from. Shape: five narrow explodes unioned, ONE
# (n, gram) count aggregate (map-side combiners absorb hot grams), a
# 5-row rollup. All-integer statistics.
def _singleton_sql(gram: str, lenfn: str) -> str:
    legs = "\nUNION ALL\n".join(
        f"""SELECT {n} AS n, {gram.format(n=n)} AS g
FROM toks WHERE {lenfn}(ws) >= {n}"""
        for n in range(1, 6)
    )
    return f"""
WITH toks AS (
    SELECT {{split}}(lower(text), ' ') AS ws
    FROM documents WHERE text IS NOT NULL
),
grams AS ({legs}),
flat AS (SELECT n, {{unn}} AS gram FROM grams),
counts AS (SELECT n, gram, COUNT(*) AS c FROM flat GROUP BY n, gram)
SELECT n,
       CAST(COUNT(*) AS BIGINT) AS n_distinct,
       CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_singletons,
       ROUND(CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 9) AS singleton_frac
FROM counts
GROUP BY n
ORDER BY n
"""


# Spark side (round 10): the generic 5-leg UNION re-scans documents
# five times (Spark inlines the toks CTE at every reference) and
# shuffles raw gram STRINGS (~30 B/key, ~7 GB at sf10). This form
# does ONE scan — the five per-n gram arrays are built in a single
# projection, flattened, and exploded once — and counts by
# (n, 64-bit gram hash) so the shuffle key is 8 bytes. The DuckDB
# oracle keeps raw strings, so every green value hash doubles as a
# proof that no 64-bit gram collision materialized (same accepted
# 2^-64-per-pair tradeoff as the PPJoin/arrays family). sf10:
# 89 -> ~35 s.
#
# Round-11 profile (VERDICT r10 item 6, measured at sf10): the decade
# ratio 9.7 is LINEAR (10x data), not superlinear — and the dominant
# term is the MAP side, not the shuffle: scan+gram-materialization
# 24 s vs ~9 s for the (n, gram) exchange+aggregate. The superfluous
# cost inside that map term was building a ~30 B string per gram
# (slice + array_join) just to hash it; hashing each token ONCE per
# row and deriving every gram hash as the variadic
# xxhash64(tok_hash[i..i+n-1]) removes all per-gram string
# allocation: 33 -> ~17-21 s end-to-end at sf10, values identical.
# What remains is Θ(5 x corpus tokens) hash evaluations + the
# distinct-gram exchange — corpus-linear by construction.
_SINGLETON_LEGS_SPARK = ", ".join(
    f"IF(size(wh) >= {n}, "
    f"transform(sequence(1, size(wh) - {n} + 1), "
    f"i -> named_struct('n', {n}, 'gram', "
    f"xxhash64({', '.join(f'element_at(wh, i + {k})' for k in range(n))}))), "
    f"array())"
    for n in range(1, 6)
)

_SINGLETON_SPARK = f"""
WITH toks AS (
    SELECT transform(split(lower(text), ' '), t -> xxhash64(t)) AS wh
    FROM documents WHERE text IS NOT NULL
),
flat AS (
    SELECT explode(flatten(array({_SINGLETON_LEGS_SPARK}))) AS s
    FROM toks
),
counts AS (
    SELECT s.n AS n, s.gram AS gram, COUNT(*) AS c
    FROM flat GROUP BY s.n, s.gram
)
SELECT n,
       CAST(COUNT(*) AS BIGINT) AS n_distinct,
       CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_singletons,
       ROUND(CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 9) AS singleton_frac
FROM counts
GROUP BY n
ORDER BY n
"""

_SINGLETON_DUCK = _singleton_sql(
    "list_transform(range(1, len(ws) - {n} + 2), "
    "i -> array_to_string(list_slice(ws, i, i + {n} - 1), ' '))",
    "len",
).format(split="string_split", unn="unnest(g)")

_pair(
    "ngram_singleton_decay",
    _SINGLETON_SPARK,
    _SINGLETON_DUCK,
    tags=("lmdata", "ngram", "memorization", "distribution"),
)


# --- compression-ratio (bits-per-byte) census per source ---------------------
# The cheap compressibility filter CCNet/RefinedWeb actually deploy
# before any LM scoring (VERDICT r11 item 3): estimate each document's
# compressed size and census bits-per-byte per source. zlib is not
# SQL-expressible, so the estimator is the sanctioned n-gram CODING
# proxy: the document's own order-1 (bigram) character model coding
# cost — bits(doc) = sum over bigram types c * log2(c_ctx / c), the
# empirical conditional entropy an LZ/PPM coder exploits (repeated
# context -> cheap). Monotone with zlib ratio on text; a production
# pipeline swaps in zlib-in-pandas (mapInPandas, Arrow-batched) with
# the identical census shape. compression_ratio = bpb / 8 (estimated
# compressed bytes / raw bytes); n_low_bpb_docs counts docs under
# 2 bits/byte — the "too compressible = boilerplate/repetitive"
# drop rule.
#
# Scale shape (100 TB framing): JOINLESS — one position explode
# (len-1 rows/doc, narrow: two 1-2 char columns + ints), one
# groupBy(doc_id, ctx, bigram) with map-side combine, the context
# total as a window SUM over (doc_id, ctx) (co-partitioned with the
# groupBy output — no extra shuffle of a second relation), one
# groupBy(doc) fold, one groupBy(source) census. Per-doc state only;
# corpus-linear; hot keys impossible (keys are doc-scoped).
# Determinism: per-bigram term ROUND(...,12) -> DECIMAL, exact
# decimal sums per doc and per source, one final double division
# ROUND(9) — order-independent in both engines.


def _bpb_sql(positions: str) -> str:
    return f"""
WITH pos AS (
    SELECT doc_id, source, length(text) AS n_bytes, text, {positions} AS i
    FROM documents
    WHERE text IS NOT NULL AND source IS NOT NULL AND length(text) > 1
),
bgc AS (
    SELECT doc_id, source, n_bytes,
           substr(text, i, 1) AS ctx, substr(text, i, 2) AS big,
           COUNT(*) AS c
    FROM pos
    GROUP BY doc_id, source, n_bytes, substr(text, i, 1), substr(text, i, 2)
),
terms AS (
    SELECT doc_id, source, n_bytes,
           CAST(ROUND(
               c * LN(CAST(SUM(c) OVER (PARTITION BY doc_id, ctx) AS DOUBLE)
                      / c) / LN(2), 12) AS DECIMAL(28, 12)) AS bits
    FROM bgc
),
docbits AS (
    SELECT doc_id, source, n_bytes, SUM(bits) AS bits
    FROM terms
    GROUP BY doc_id, source, n_bytes
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
       ROUND(CAST(SUM(bits) AS DOUBLE) / SUM(n_bytes), 9) AS bits_per_byte,
       ROUND(CAST(SUM(bits) AS DOUBLE) / SUM(n_bytes) / 8, 9)
           AS compression_ratio,
       CAST(SUM(CASE WHEN bits < CAST(2 * n_bytes AS DECIMAL(28, 12))
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_low_bpb_docs
FROM docbits
GROUP BY source
ORDER BY source
"""


_pair(
    "compression_bpb_census",
    _bpb_sql("explode(sequence(1, length(text) - 1))"),
    _bpb_sql("unnest(range(1, length(text)))"),
    tags=("lmdata", "quality", "compression", "entropy"),
)


# --- BPE fertility census (apply the learned vocab) ---------------------------
# The deployment half of the tokenizer story: bpe_train_iterated
# learns the merge sequence; this APPLIES the resulting vocab
# corpus-wide and reports per-source FERTILITY (subwords per word) and
# chars-per-subword — the number multilingual pipeline teams actually
# track (high-fertility sources tokenize expensively and train
# poorly). Words outside the trainer's domain ([a-z]{2,}) pass through
# as single tokens and are counted separately.
#
# Spark side: the identical checkpoint-once / narrow-replace-per-merge
# loop as bpe_train_iterated (8 census jobs), then ONE type-keyed
# equi-join of word instances to the final segmentation (word types,
# not corpus tokens — combiner-absorbed, AQE-splittable) and one
# groupBy(source). The DuckDB oracle re-derives the final segmentation
# with the same recursive CTE and re-aggregates identically, so the
# green hash proves train AND apply end-to-end.


def _bpe_fertility_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source subword fertility under the learned BPE vocab. The
    training loop runs once per session in `cached_bpe_run` (r13);
    this query applies the persisted final segmentation corpus-wide."""
    register_views(spark, sf_dir, ["documents"])
    _, final = cached_bpe_run(spark, sf_dir)
    final.createOrReplaceTempView("bpe_final")
    out = spark.sql(
        """
WITH types AS (
    SELECT replace(replace(syms, '[', ''), ']', '') AS w,
           length(syms) - length(replace(syms, '[', '')) AS n_sub
    FROM bpe_final
),
inst AS (
    SELECT source, explode(split(lower(text), ' ')) AS w
    FROM documents WHERE length(text) > 0 AND source IS NOT NULL
)
SELECT i.source,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(COALESCE(t.n_sub, 1)) AS BIGINT) AS n_subwords,
       CAST(SUM(CASE WHEN t.w IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_passthrough,
       ROUND(CAST(SUM(COALESCE(t.n_sub, 1)) AS DOUBLE) / COUNT(*), 9)
           AS fertility,
       ROUND(CAST(SUM(length(i.w)) AS DOUBLE)
             / SUM(COALESCE(t.n_sub, 1)), 9) AS chars_per_subword
FROM inst i LEFT JOIN types t ON i.w = t.w
GROUP BY i.source
ORDER BY i.source
"""
    )
    # The final segmentation is a session-retained fixture now, so the
    # apply pass can stay lazy — no collect-to-literal needed to
    # release checkpoint blocks (the pre-r13 reason for it).
    return out


_BPE_FERTILITY_DUCK = _BPE_IT_DUCK + r""",
types AS (
    SELECT replace(replace(syms, '[', ''), ']', '') AS w,
           len(syms) - len(replace(syms, '[', '')) AS n_sub
    FROM it WHERE step = (SELECT MAX(step) FROM it)
),
inst AS (
    SELECT source, unnest(string_split(lower(text), ' ')) AS w
    FROM documents WHERE len(text) > 0 AND source IS NOT NULL
)
SELECT i.source,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(COALESCE(t.n_sub, 1)) AS BIGINT) AS n_subwords,
       CAST(SUM(CASE WHEN t.w IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_passthrough,
       ROUND(CAST(SUM(COALESCE(t.n_sub, 1)) AS DOUBLE) / COUNT(*), 9)
           AS fertility,
       ROUND(CAST(SUM(len(i.w)) AS DOUBLE)
             / SUM(COALESCE(t.n_sub, 1)), 9) AS chars_per_subword
FROM inst i LEFT JOIN types t ON i.w = t.w
GROUP BY i.source
ORDER BY i.source
"""

_bpe_fertility_census.__name__ = "bpe_fertility_census"
query(
    "bpe_fertility_census",
    oracle=_BPE_FERTILITY_DUCK,
    tags=("lmdata", "tokenizer", "bpe", "fertility"),
)(_bpe_fertility_census)


# --- UniMax mixture weights (Chung et al. 2023) ------------------------------
# The third member of the mixture-design ladder (temperature sampling
# rebalances by count^alpha, DoReMi reweights by excess loss; UniMax
# allocates a TOKEN BUDGET with a per-language epoch cap): languages
# are visited smallest-first; each is either capped at E=3 epochs of
# its own corpus or receives the uniform share of the remaining
# budget — the waterfilling fixpoint. Closed form via one window
# chain: with languages ordered ascending by token count, the number
# of capped languages r* is the largest r with
# cap_r * (k - r) <= B - cumcap_r (equivalently cap_r <= theta_r, the
# classic monotone waterfill condition); capped languages get cap_i,
# the rest get theta = (B - cumcap_{r*}) / (k - r*). B = total corpus
# tokens (a one-corpus-size budget), all selection arithmetic integer
# (the only doubles are the two final single divisions, identical
# IEEE ops in both engines). One groupBy + k-row windows — corpus
# cost is the token count scan, mixture math is |langs|-sized.


def _unimax_sql(nwords: str) -> str:
    return f"""
WITH counts AS (
    SELECT lang, SUM({nwords}) AS c FROM documents GROUP BY lang
),
ordered AS (
    SELECT lang, c, 3 * c AS cap,
           ROW_NUMBER() OVER (ORDER BY c, lang) AS r,
           COUNT(*) OVER () AS k,
           SUM(3 * c) OVER (ORDER BY c, lang) AS cumcap,
           SUM(c) OVER () AS b
    FROM counts
),
rstar AS (
    SELECT COALESCE(MAX(CASE WHEN cap * (k - r) <= b - cumcap THEN r END),
                    0) AS rs
    FROM ordered WHERE r < k
),
capsum AS (
    SELECT COALESCE(MAX(CASE WHEN r = rs THEN cumcap END), 0) AS cumcap_rs
    FROM ordered CROSS JOIN rstar
),
alloc AS (
    SELECT lang, c, cap, r, k, b, rs,
           CASE WHEN r <= rs THEN CAST(cap AS DOUBLE)
                ELSE CAST(b - cumcap_rs AS DOUBLE) / (k - rs)
           END AS t_alloc
    FROM ordered CROSS JOIN rstar CROSS JOIN capsum
)
SELECT lang,
       CAST(c AS BIGINT) AS n_tokens,
       CAST(cap AS BIGINT) AS token_cap,
       r <= rs AS is_capped,
       ROUND(t_alloc, 9) AS tokens_alloc,
       ROUND(t_alloc / b, 9) AS weight,
       ROUND(t_alloc / c, 9) AS epochs
FROM alloc
ORDER BY lang
"""


def _unimax_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax budget allocation (block comment above)."""
    register_views(spark, sf_dir, ["documents"])
    return spark.sql(_unimax_sql("size(split(text, ' '))"))


_unimax_mixture_weights.__name__ = "unimax_mixture_weights"
query(
    "unimax_mixture_weights",
    oracle=_unimax_sql("len(string_split(text, ' '))"),
    tags=("lmdata", "mixture", "sampling", "unimax"),
)(_unimax_mixture_weights)


# --- sequence-packing census (concat-and-chop) -------------------------------
# The GPT-style pretraining prep: documents are concatenated in a
# fixed order and chopped into fixed-length context windows; the
# census reports, for window sizes {128, 256, 512}, how many windows
# the corpus fills, the packing efficiency (tokens / window capacity),
# and the fraction of documents that CROSS a window boundary (the
# statistic that motivates doc-attention masking / best-fit packing
# papers). The global token offset of every document is computed with
# a DISTRIBUTED TWO-PHASE PREFIX SUM — per-bucket partial sums, a
# bucket-count-sized offset window, then a PARTITIONED within-bucket
# cumulative — never a global ORDER BY window, so the plan has no
# single-partition stage and survives a corpus that doesn't fit one
# executor (the "No Partition Defined" trap this family must avoid at
# 100 TB). Offsets are corpus-deterministic (doc_id order), all
# arithmetic integer until the two final ratios.

_PACK_WS = (128, 256, 512)


def _packing_sql(nwords: str, idiv: str, arr_ws: str) -> str:
    d = idiv
    return f"""
WITH toks AS (
    SELECT doc_id, {nwords} AS t, doc_id {d} 4096 AS b FROM documents
),
bsum AS (SELECT b, SUM(t) AS bt FROM toks GROUP BY b),
boff AS (
    SELECT b, SUM(bt) OVER (ORDER BY b) - bt AS boffset FROM bsum
),
cum AS (
    SELECT t.doc_id, t.t,
           o.boffset
           + SUM(t.t) OVER (PARTITION BY t.b ORDER BY t.doc_id) AS cend
    FROM toks t JOIN boff o ON o.b = t.b
),
tot AS (
    SELECT SUM(t) AS total, COUNT(*) AS n_docs FROM toks
),
crossing AS (
    SELECT w,
           SUM(CASE WHEN (cend - t) {d} w <> (cend - 1) {d} w
                    THEN 1 ELSE 0 END) AS n_crossing
    FROM cum CROSS JOIN ({arr_ws}) ws
    GROUP BY w
)
SELECT c.w AS window_tokens,
       CAST(t.n_docs AS BIGINT) AS n_docs,
       CAST(t.total AS BIGINT) AS total_tokens,
       CAST((t.total + c.w - 1) {d} c.w AS BIGINT) AS n_windows,
       CAST(c.n_crossing AS BIGINT) AS n_docs_crossing,
       ROUND(CAST(c.n_crossing AS DOUBLE) / t.n_docs, 9)
           AS frac_crossing,
       CAST(((t.total + c.w - 1) {d} c.w) * c.w - t.total AS BIGINT)
           AS tokens_padded,
       ROUND(CAST(t.total AS DOUBLE)
             / (((t.total + c.w - 1) {d} c.w) * c.w), 9)
           AS packing_efficiency
FROM crossing c CROSS JOIN tot t
ORDER BY window_tokens
"""


def _sequence_packing_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chop packing census (block comment above)."""
    register_views(spark, sf_dir, ["documents"])
    ws = ", ".join(str(w) for w in _PACK_WS)
    return spark.sql(
        _packing_sql(
            "size(split(text, ' '))",
            "div",
            f"SELECT explode(array({ws})) AS w",
        )
    )


_sequence_packing_census.__name__ = "sequence_packing_census"
query(
    "sequence_packing_census",
    oracle=_packing_sql(
        "len(string_split(text, ' '))",
        "//",
        "SELECT unnest(["
        + ", ".join(str(w) for w in _PACK_WS)
        + "]) AS w",
    ),
    tags=("lmdata", "packing", "trainprep", "prefix-sum"),
)(_sequence_packing_census)
