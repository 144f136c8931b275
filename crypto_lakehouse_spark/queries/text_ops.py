"""Text-analysis operators over the `documents` table — the
LLM-training-data pipeline surface (BASELINE.json north star):
token counting, quality scoring, language-ID heuristic, document
normalization. All run as JVM-side built-ins (split/regexp/lambda
higher-order functions) — no Python UDFs in the hot path, so
whole-stage codegen applies and the same plan scales to billions of
documents (narrow per-row transforms, aggregation only where stated).

Each query has a Spark-dialect and a DuckDB-dialect SQL string with
identical semantics (split/size/transform vs string_split/len/
list_transform).
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, SparkSession

from crypto_lakehouse_spark.io import register_views
from crypto_lakehouse_spark.queries.fixture_meter import hold_view
from crypto_lakehouse_spark.queries.registry import query, sql_query

# Stopword lists for the language-ID heuristic (deterministic tiny
# lists; the operator contract is argmax-with-preference-order, not
# linguistic accuracy).
_STOP = {
    "en": ("the", "a", "of", "and", "to", "in", "is"),
    "de": ("der", "die", "das", "und", "ist", "ein"),
    "es": ("el", "los", "las", "y", "es", "una"),
    "fr": ("le", "les", "et", "est", "une", "des"),
}


_pair = partial(sql_query, tables=["documents"])


def _inlist(words: tuple[str, ...]) -> str:
    return ", ".join(f"'{w}'" for w in words)


# --- token counting (whitespace + BPE-ish regex) --------------------------
_TOKEN_RE = "[a-z]+|[0-9]+|[^a-z0-9 ]"

_pair(
    "doc_token_stats",
    f"""
SELECT doc_id,
       CAST(LENGTH(text) AS BIGINT) AS n_chars,
       CAST(size(split(text, ' ')) AS BIGINT) AS ws_tokens,
       CAST(size(regexp_extract_all(text, '{_TOKEN_RE}', 0)) AS BIGINT)
           AS re_tokens,
       CAST(size(array_distinct(split(text, ' '))) AS BIGINT)
           AS distinct_tokens
FROM documents
ORDER BY doc_id
""",
    f"""
SELECT doc_id,
       CAST(LENGTH(text) AS BIGINT) AS n_chars,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
       CAST(len(regexp_extract_all(text, '{_TOKEN_RE}')) AS BIGINT)
           AS re_tokens,
       CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
           AS distinct_tokens
FROM documents
ORDER BY doc_id
""",
    tags=("text", "tokenize"),
)

# --- quality scoring ------------------------------------------------------
# score = weighted mix of length, lexical diversity, stopword density —
# the standard cheap pre-filters of a training-data pipeline.
_EN = _inlist(_STOP["en"])

_pair(
    "doc_quality_score",
    f"""
SELECT doc_id,
       lang,
       CAST(n_tok AS BIGINT) AS n_tokens,
       CAST(n_distinct AS DOUBLE) / n_tok AS diversity,
       CAST(n_stop AS DOUBLE) / n_tok AS stopword_ratio,
       CAST(LEAST(n_tok, 200) AS DOUBLE) / 200 * 0.3
         + CAST(n_distinct AS DOUBLE) / n_tok * 0.4
         + CAST(n_stop AS DOUBLE) / n_tok * 0.3 AS quality_score
FROM (
    SELECT doc_id, lang,
           size(split(text, ' ')) AS n_tok,
           size(array_distinct(split(text, ' '))) AS n_distinct,
           size(filter(split(text, ' '), t -> t IN ({_EN}))) AS n_stop
    FROM documents
    WHERE text IS NOT NULL  -- unscoreable; excluded in every twin
)
ORDER BY doc_id
""",
    f"""
SELECT doc_id,
       lang,
       CAST(n_tok AS BIGINT) AS n_tokens,
       CAST(n_distinct AS DOUBLE) / n_tok AS diversity,
       CAST(n_stop AS DOUBLE) / n_tok AS stopword_ratio,
       CAST(LEAST(n_tok, 200) AS DOUBLE) / 200 * 0.3
         + CAST(n_distinct AS DOUBLE) / n_tok * 0.4
         + CAST(n_stop AS DOUBLE) / n_tok * 0.3 AS quality_score
FROM (
    SELECT doc_id, lang,
           len(string_split(text, ' ')) AS n_tok,
           len(list_distinct(string_split(text, ' '))) AS n_distinct,
           len(list_filter(string_split(text, ' '),
                           t -> t IN ({_EN}))) AS n_stop
    FROM documents
    WHERE text IS NOT NULL  -- unscoreable; excluded in every twin
)
ORDER BY doc_id
""",
    tags=("text", "quality"),
)

# --- language-ID heuristic ------------------------------------------------
# n-gram/stopword-hit scoring with deterministic preference order on
# ties (en > de > es > fr > und).


def _langid_sql(size_fn: str, split_fn: str, filter_fn: str) -> str:
    scores = ",\n           ".join(
        f"{size_fn}({filter_fn}({split_fn}(text, ' '), "
        f"t -> t IN ({_inlist(ws)}))) AS s_{lang}"
        for lang, ws in _STOP.items()
    )
    return f"""
SELECT doc_id,
       lang AS labeled_lang,
       CAST(s_en AS BIGINT) AS s_en,
       CAST(s_de AS BIGINT) AS s_de,
       CAST(s_es AS BIGINT) AS s_es,
       CAST(s_fr AS BIGINT) AS s_fr,
       CASE
         WHEN s_en = 0 AND s_de = 0 AND s_es = 0 AND s_fr = 0 THEN 'und'
         WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
         WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
         WHEN s_es >= s_fr THEN 'es'
         ELSE 'fr'
       END AS predicted_lang
FROM (
    SELECT doc_id, lang,
           {scores}
    FROM documents
)
ORDER BY doc_id
"""


_pair(
    "doc_langid",
    _langid_sql("size", "split", "filter"),
    _langid_sql("len", "string_split", "list_filter"),
    tags=("text", "langid"),
)

# --- normalization + exact dedup feed -------------------------------------
_pair(
    "doc_normalize",
    """
SELECT doc_id,
       md5(lower(regexp_replace(text, '[^a-z0-9 ]', ' '))) AS content_hash,
       CAST(LENGTH(trim(text)) AS BIGINT) AS trimmed_len,
       substr(text, 1, 40) AS preview
FROM documents
ORDER BY doc_id
""",
    """
SELECT doc_id,
       md5(lower(regexp_replace(text, '[^a-z0-9 ]', ' ', 'g')))
           AS content_hash,
       CAST(LENGTH(trim(text)) AS BIGINT) AS trimmed_len,
       substr(text, 1, 40) AS preview
FROM documents
ORDER BY doc_id
""",
    tags=("text", "normalize"),
)


# --- LLM context-window chunking ------------------------------------------
# Overlapping token-window chunks (window 20 tokens, stride 15 = 5
# overlap): the standard prep for embedding / context-window packing.
# Pure built-ins: one sequence+explode per doc (no UDF), so at 100 TB
# it's a narrow map-side transform — rows fan out ~tokens/stride x
# with zero shuffle; the DuckDB oracle derives identical chunks from
# a fixed cross-join range (correlated range is not lateral-safe
# there).
_CHUNK_SPARK = """
SELECT doc_id,
       CAST(pos AS BIGINT) AS chunk_id,
       size(slice(ws, start, 20)) AS token_count,
       concat_ws(' ', slice(ws, start, 20)) AS chunk_text
FROM (
    SELECT doc_id, ws, pos, start
    FROM (SELECT doc_id, split(text, ' ') AS ws FROM documents)
    LATERAL VIEW posexplode(sequence(1, size(ws), 15)) t AS pos, start
)
ORDER BY doc_id, chunk_id
"""

_CHUNK_DUCK = """
SELECT doc_id,
       i AS chunk_id,
       len(ws[1 + i * 15 : i * 15 + 20]) AS token_count,
       array_to_string(ws[1 + i * 15 : i * 15 + 20], ' ') AS chunk_text
FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
     range(0, 64) t(i)
WHERE 1 + i * 15 <= len(ws)
ORDER BY doc_id, chunk_id
"""

_pair(
    "doc_chunk_windows",
    _CHUNK_SPARK,
    _CHUNK_DUCK,
    tags=("text", "chunking", "pipeline"),
)


# --- character-entropy quality signal ---------------------------------------
# Shannon entropy over the doc's character distribution (bits/char) —
# the cheap perplexity proxy of a training-data pipeline: gibberish and
# boilerplate sit at the distribution tails. H = log2(n) - (1/n) *
# SUM c*log2(c) over per-char counts c, so the only float work is one
# ln-fold; the fold runs over the CHAR-SORTED count list in both
# engines (hash-agg double summation is order-dependent; a defined
# fold is bit-identical), ROUND(9) as belt-and-braces. Scale shape:
# explode chars -> one groupBy(doc, char) with map-side combine ->
# one groupBy(doc); both shuffles are on doc_id-prefixed keys.
_ENTROPY_SPARK = """
WITH chars AS (
    SELECT doc_id,
           explode(transform(sequence(1, length(text)),
                             i -> substr(text, i, 1))) AS ch
    FROM documents WHERE length(text) > 0
),
counts AS (
    SELECT doc_id, ch, COUNT(*) AS c FROM chars GROUP BY doc_id, ch
),
folded AS (
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n,
           CAST(COUNT(*) AS BIGINT) AS alphabet,
           aggregate(array_sort(collect_list(struct(ch, c))),
                     CAST(0.0 AS DOUBLE),
                     (acc, x) -> acc + x.c * (ln(x.c) / ln(2))) AS clog
    FROM counts GROUP BY doc_id
)
SELECT doc_id, n AS n_chars_counted, alphabet,
       ROUND(ln(n) / ln(2) - clog / n, 9) AS char_entropy_bits
FROM folded
ORDER BY doc_id
"""

_ENTROPY_DUCK = """
WITH chars AS (
    SELECT doc_id,
           unnest(list_transform(range(1, length(text) + 1),
                                 i -> substr(text, i, 1))) AS ch
    FROM documents WHERE length(text) > 0
),
counts AS (
    SELECT doc_id, ch, COUNT(*) AS c FROM chars GROUP BY doc_id, ch
),
folded AS (
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n,
           CAST(COUNT(*) AS BIGINT) AS alphabet,
           list_reduce(list_prepend(CAST(0 AS DOUBLE),
                           list(CAST(c AS DOUBLE) ORDER BY ch)),
                       (acc, x) -> acc + x * (ln(x) / ln(2))) AS clog
    FROM counts GROUP BY doc_id
)
SELECT doc_id, n AS n_chars_counted, alphabet,
       ROUND(ln(n) / ln(2) - clog / n, 9) AS char_entropy_bits
FROM folded
ORDER BY doc_id
"""

_pair(
    "doc_char_entropy",
    _ENTROPY_SPARK,
    _ENTROPY_DUCK,
    tags=("text", "quality", "entropy"),
)


# --- BM25 top-k retrieval ---------------------------------------------------
# Okapi BM25 (k1=1.2, b=0.75) over the documents table for a fixed
# panel of three term queries — the lexical half of a retrieval stack
# (the dense half is embedding_cosine_topk; a hybrid reranker is their
# composition). Everything is relational: tf per (doc, term), df per
# term, length normalization from one corpus aggregate; scoring joins
# the tiny query relation (broadcast by construction) against the tf
# relation — at 100 TB this is the classic inverted-index shape: cost
# tracks postings touched (docs containing query terms), never the
# corpus. Determinism across engines: idf/tf factors are IEEE ops on
# identical doubles in identical order; per-term scores are rounded
# to 9 decimals and summed as DECIMAL (order-free exact sum), the
# module's standard discipline.
#
# r13 optimization round (guide §1.2 "don't compute things you throw
# away", verified against plans/r13/bm25_topk_before.txt): the
# previous inline-CTE form hoped Catalyst would push the query-term
# join filter below the (doc, tok) aggregation — the captured plan
# shows it does NOT (8 full documents scans, full-corpus tf AND df
# aggregations, of which only the 9 panel terms' rows are ever
# consumed). The Spark dialect now restricts tf to the panel INSIDE
# the per-doc array (`filter(ws, w -> w IN panel)` before the
# explode — a narrow map), derives df from the restricted tf, and
# computes dl as `size(ws)` with no explode/shuffle at all (equal by
# construction: explode emits exactly size(ws) rows for non-null
# text, and the NULL-text docs the explode dropped are excluded by
# the explicit IS NOT NULL). The DuckDB oracle keeps the full
# inverted-index form, so the green hash proves the restriction loses
# nothing. At 100 TB this is the difference between "cost tracks
# postings touched" being a comment and being the plan.

# ONE term list feeds both SQL fragments (ADVICE r13): a (qid, term)
# added here lands in the Spark-side tf/df panel automatically —
# previously the panel duplicated the terms and a drift would
# silently drop that term's postings on the Spark side only.
_BM25_QUERY_TERMS: tuple[tuple[int, str], ...] = (
    (1, "query"), (1, "table"), (1, "scan"),
    (2, "stream"), (2, "window"), (2, "batch"),
    (3, "merge"), (3, "join"), (3, "hash"),
)

_BM25_PANEL = ", ".join(
    f"'{t}'" for t in dict.fromkeys(t for _, t in _BM25_QUERY_TERMS)
)

_BM25_QUERIES = (
    "SELECT * FROM (VALUES "
    + ", ".join(f"({q}, '{t}')" for q, t in _BM25_QUERY_TERMS)
    + ") AS q(qid, term)"
)

# Spark-dialect corpus-statistics CTEs, panel-restricted (tf/df) and
# explode-free (dl). Shared by bm25_topk / bm25_prf_rerank / the RRF
# lexical leg.
_BM25_STATS_SPARK = f"""toks AS (
    SELECT doc_id,
           explode(filter(split(text, ' '),
                          w -> w IN ({_BM25_PANEL}))) AS tok
    FROM documents
),
tf AS (SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY doc_id, tok),
dl AS (
    SELECT doc_id, size(split(text, ' ')) AS n
    FROM documents WHERE text IS NOT NULL
),
stats AS (
    SELECT COUNT(*) AS n_docs, SUM(n) AS total_len FROM dl
),
df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok)"""


def _bm25_sql(tok: str, split: str) -> str:
    queries = _BM25_QUERIES
    if split == "split":  # Spark dialect: panel-restricted stats
        head = _BM25_STATS_SPARK
    else:  # DuckDB oracle: the full inverted-index form, unchanged
        head = f"""toks AS (
    SELECT doc_id, {tok} AS tok FROM (
        SELECT doc_id, {split}(text, ' ') AS ws FROM documents
    )
),
tf AS (SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY doc_id, tok),
dl AS (SELECT doc_id, COUNT(*) AS n FROM toks GROUP BY doc_id),
stats AS (
    SELECT COUNT(*) AS n_docs, SUM(n) AS total_len FROM dl
),
df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok)"""
    return f"""
WITH {head},
q AS ({queries}),
term_scores AS (
    SELECT q.qid, tf.doc_id,
           ROUND(
             LN((s.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
             * (tf.c * 2.2)
             / (tf.c + 1.2 * (0.25 + 0.75 * dl.n * s.n_docs
                              / CAST(s.total_len AS DOUBLE))),
             9) AS score
    FROM q
    JOIN df ON df.tok = q.term
    JOIN tf ON tf.tok = q.term
    JOIN dl ON dl.doc_id = tf.doc_id
    CROSS JOIN stats s
),
scored AS (
    SELECT qid, doc_id,
           CAST(SUM(CAST(score AS DECIMAL(28, 9))) AS DOUBLE) AS bm25
    FROM term_scores GROUP BY qid, doc_id
),
ranked AS (
    SELECT qid, doc_id, bm25,
           ROW_NUMBER() OVER (PARTITION BY qid
                              ORDER BY bm25 DESC, doc_id) AS rn
    FROM scored
)
SELECT CAST(qid AS INT) AS query_id,
       CAST(rn AS INT) AS rank,
       doc_id,
       bm25
FROM ranked WHERE rn <= 5
ORDER BY query_id, rank
"""


_pair(
    "bm25_topk",
    _bm25_sql("explode(ws)", "split"),
    _bm25_sql("unnest(ws)", "string_split"),
    tags=("text", "retrieval", "bm25", "topk"),
)


# --- Gopher-style document quality rules ------------------------------------
# The rule-based quality gate from Rae et al. 2021 ("Scaling Language
# Models: ... Gopher", §A1.1), adapted to this corpus's shape (no
# newlines, so the line-based bullet/ellipsis rules are out of scope
# and documented as such): word count in [20, 100000], mean word
# length in [2, 10], >= 80% of words contain an alphabetic character,
# and at least 2 distinct stop words present. One narrow projection
# per doc — codegen-friendly, no shuffle until the final ORDER BY
# (which a real pipeline drops). Thresholds are literals; the output
# carries each metric AND each verdict so the oracle value-checks the
# arithmetic, not just the final boolean.

_GOPHER_STOP = "('the', 'a', 'of', 'and', 'to', 'in', 'is')"


def _gopher_sql(split: str, nwords: str, alpha_frac: str, mean_len: str,
                nstop: str) -> str:
    return f"""
SELECT doc_id,
       CAST(n_words AS BIGINT) AS n_words,
       ROUND(mean_word_len, 9) AS mean_word_len,
       ROUND(alpha_frac, 9) AS alpha_word_frac,
       CAST(n_stop AS INT) AS n_distinct_stopwords,
       n_words BETWEEN 20 AND 100000 AS pass_word_count,
       mean_word_len BETWEEN 2.0 AND 10.0 AS pass_mean_word_len,
       alpha_frac >= 0.8 AS pass_alpha_frac,
       n_stop >= 2 AS pass_stopwords,
       (n_words BETWEEN 20 AND 100000)
         AND (mean_word_len BETWEEN 2.0 AND 10.0)
         AND alpha_frac >= 0.8 AND n_stop >= 2 AS keep
FROM (
    SELECT doc_id,
           {nwords} AS n_words,
           {mean_len} AS mean_word_len,
           {alpha_frac} AS alpha_frac,
           {nstop} AS n_stop
    FROM (SELECT doc_id, {split}(text, ' ') AS ws FROM documents)
)
ORDER BY doc_id
"""


_pair(
    "gopher_quality_rules",
    _gopher_sql(
        "split",
        "size(ws)",
        "CAST(size(filter(ws, w -> w RLIKE '[a-z]')) AS DOUBLE) / size(ws)",
        "CAST(aggregate(ws, 0L, (acc, w) -> acc + length(w)) AS DOUBLE)"
        " / size(ws)",
        f"size(array_distinct(filter(ws, w -> w IN {_GOPHER_STOP})))",
    ),
    _gopher_sql(
        "string_split",
        "len(ws)",
        "CAST(len(list_filter(ws, w -> regexp_matches(w, '[a-z]')))"
        " AS DOUBLE) / len(ws)",
        "CAST(list_sum(list_transform(ws, w -> length(w))) AS DOUBLE)"
        " / len(ws)",
        f"len(list_distinct(list_filter(ws, w -> w IN {_GOPHER_STOP})))",
    ),
    tags=("text", "quality", "gopher", "filter"),
)


# --- hybrid retrieval: BM25 recall + PRF dense rerank -----------------------
# The two-stage shape production retrieval runs: a cheap lexical
# recall stage (BM25 top-10 per query) followed by a dense rerank.
# With no query embeddings in the fixture, the rerank is classic
# pseudo-relevance feedback (Rocchio): the dense query vector is the
# CENTROID of the candidates' own embeddings (docs with doc_id beyond
# the embeddings table simply don't rerank — same rule both engines),
# and candidates re-order by cosine to that centroid. Scale shape:
# stage 1 is the bm25_topk inverted-index plan; stage 2 touches ONLY
# the <= 10 candidates per query — the embedding join is a point
# lookup per candidate, the centroid a 64-row aggregate per query.
# Determinism: per-dim means and all dot/norm sums go through the
# ROUND + DECIMAL-sum discipline, so both engines hash identically.

def _bm25_prf_head(tok: str, split: str) -> str:
    """The lexical stage, `WITH` through the `cand` CTE (Spark side
    panel-restricted per _bm25_sql — r13 optimization round;
    plans/r13/bm25_prf_rerank_before.txt showed 28 documents scans
    from the inlined full-corpus tf/df/dl chain)."""
    queries = _BM25_QUERIES
    if split == "split":
        head = _BM25_STATS_SPARK
    else:
        head = f"""toks AS (
    SELECT doc_id, {tok} AS tok FROM (
        SELECT doc_id, {split}(text, ' ') AS ws FROM documents
    )
),
tf AS (SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY doc_id, tok),
dl AS (SELECT doc_id, COUNT(*) AS n FROM toks GROUP BY doc_id),
stats AS (SELECT COUNT(*) AS n_docs, SUM(n) AS total_len FROM dl),
df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok)"""
    return (
        f"""
WITH {head},
q AS ({queries}),
term_scores AS (
    SELECT q.qid, tf.doc_id,
           ROUND(
             LN((s.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
             * (tf.c * 2.2)
             / (tf.c + 1.2 * (0.25 + 0.75 * dl.n * s.n_docs
                              / CAST(s.total_len AS DOUBLE))),
             9) AS score
    FROM q
    JOIN df ON df.tok = q.term
    JOIN tf ON tf.tok = q.term
    JOIN dl ON dl.doc_id = tf.doc_id
    CROSS JOIN stats s
),
scored AS (
    SELECT qid, doc_id,
           CAST(SUM(CAST(score AS DECIMAL(28, 9))) AS DOUBLE) AS bm25
    FROM term_scores GROUP BY qid, doc_id
),
cand AS (
    SELECT qid, doc_id, bm25, rn AS bm25_rank FROM (
        SELECT qid, doc_id, bm25,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY bm25 DESC, doc_id) AS rn
        FROM scored
    ) r WHERE rn <= 10
)"""
    )


def _bm25_prf_sql(tok: str, split: str, emb_explode: str, emb_v: str) -> str:
    """Single-statement composition (the DuckDB oracle's form; DuckDB
    materializes multiply-referenced CTEs natively)."""
    return (
        _bm25_prf_head(tok, split)
        + ",\n"
        + _bm25_prf_tail(emb_explode, emb_v)
    )


def _bm25_prf_tail(emb_explode: str, emb_v: str) -> str:
    """The dense-rerank tail, from the <= 30-row `cand` relation to
    the final ranking. Split out (r13 optimization round) so the
    Spark side can MATERIALIZE cand once — `cand` is referenced by
    cvec AND the final select, and Spark's CTE inlining re-executed
    the whole BM25 pipeline per reference (the same trap `_rrf_pre`
    documents for `lex`); DuckDB materializes CTEs natively, so the
    oracle keeps the single-statement composition via _bm25_prf_sql."""
    return f"""cvec AS (
    SELECT c.qid, c.doc_id, c.bm25, c.bm25_rank, t_e.i,
           CAST({emb_v} AS DOUBLE) AS v
    FROM cand c
    JOIN embeddings e ON e.vec_id = c.doc_id
    {emb_explode}
),
centroid AS (
    SELECT qid, i,
           CAST(SUM(CAST(ROUND(v, 9) AS DECIMAL(27, 9))) AS DOUBLE)
             / COUNT(*) AS cv
    FROM cvec GROUP BY qid, i
),
dots AS (
    SELECT v.qid, v.doc_id,
           CAST(SUM(CAST(ROUND(v.v * c.cv, 12) AS DECIMAL(30, 12)))
                AS DOUBLE) AS dot,
           CAST(SUM(CAST(ROUND(v.v * v.v, 12) AS DECIMAL(30, 12)))
                AS DOUBLE) AS nv,
           CAST(SUM(CAST(ROUND(c.cv * c.cv, 12) AS DECIMAL(30, 12)))
                AS DOUBLE) AS nc
    FROM cvec v JOIN centroid c ON c.qid = v.qid AND c.i = v.i
    GROUP BY v.qid, v.doc_id
)
SELECT CAST(d.qid AS INT) AS query_id,
       CAST(ROW_NUMBER() OVER (
           PARTITION BY d.qid
           ORDER BY ROUND(d.dot / SQRT(d.nv * d.nc), 9) DESC, d.doc_id
       ) AS INT) AS rerank,
       d.doc_id,
       CAST(c.bm25_rank AS INT) AS bm25_rank,
       c.bm25,
       ROUND(d.dot / SQRT(d.nv * d.nc), 9) AS cosine_to_centroid
FROM dots d JOIN cand c ON c.qid = d.qid AND c.doc_id = d.doc_id
ORDER BY query_id, rerank
"""


def _bm25_prf_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage hybrid retrieval: BM25 lexical recall (top-10 per
    query, inverted-index shape) then Rocchio pseudo-relevance-
    feedback dense rerank by cosine to the candidates' own embedding
    centroid — see the block comment above for the scale framing and
    determinism discipline. The <= 30-row `cand` list is materialized
    before the rerank tail (see _bm25_prf_tail)."""
    from crypto_lakehouse_spark.operators.checkpointing import (
        truncate_lineage,
    )

    register_views(spark, sf_dir, ["documents", "embeddings"])
    cand = truncate_lineage(
        spark.sql(
            _bm25_prf_head("explode(ws)", "split")
            + "\nSELECT qid, doc_id, bm25, bm25_rank FROM cand"
        ),
        spark,
    )
    cand.createOrReplaceTempView("bm25_prf_cand_mat")
    return spark.sql(
        "WITH cand AS (SELECT qid, doc_id, bm25, bm25_rank "
        "FROM bm25_prf_cand_mat),\n"
        + _bm25_prf_tail(
            "LATERAL VIEW posexplode(e.embedding) t_e AS i, ev", "ev"
        )
    )


query(
    "bm25_prf_rerank",
    oracle=_bm25_prf_sql(
        "unnest(ws)",
        "string_split",
        ", range(1, 65) t_e(i)",
        "e.embedding[t_e.i]",
    ),
    tags=("text", "retrieval", "bm25", "hybrid", "rerank"),
)(_bm25_prf_fn)


# --- hybrid retrieval: reciprocal rank fusion (RRF) --------------------------
# The OTHER standard hybrid shape (Cormack et al. 2009): instead of a
# rerank cascade (bm25_prf_rerank), fuse two INDEPENDENT rankings by
# summing reciprocal ranks — rrf(d) = sum over lists of 1/(60 + rank).
# Lexical leg: the bm25_topk inverted-index plan (top-10/query).
# Dense leg: cosine to a Rocchio PRF centroid (top-3 lexical seeds'
# embedding mean — the fixture has no query embeddings) over the FULL
# embeddings relation, top-10/query. Scale shape: the lexical leg is
# postings-bounded; the dense leg is the documented brute-force
# baseline (one corpus scan x |panel|, centroid side 192 rows =
# broadcast by construction) whose 100 TB path is the ivf_probe_topk
# bucketed variant; the fusion itself is a FULL OUTER JOIN of two
# <= 10-row-per-query lists — docs present in only one list score by
# that leg alone (the defined contract, e.g. docs without embeddings).
# Determinism: both legs rank on ROUND(...,9)-stabilized scores with
# doc_id tie-breaks, so ranks are exact integers; the fused score is
# two double divisions summed in written order and rounded to 12.

def _rrf_pre(tok: str, split: str) -> str:
    """The lexical leg through the top-10 `lex` CTE. On the Spark side
    this is MATERIALIZED once (lineage-truncated) before the dense leg:
    `lex` is referenced by svec, the fusion, and the final select, and
    Spark's CTE inlining re-executes the whole BM25 pipeline per
    reference (~3x — measured 25 s at sf1 vs ~3 s for one bm25_topk).
    DuckDB materializes CTEs natively, so the oracle keeps the
    single-statement form."""
    # Same Spark-side panel restriction as _bm25_sql (r13).
    queries = _BM25_QUERIES
    if split == "split":
        head = _BM25_STATS_SPARK
    else:
        head = f"""toks AS (
    SELECT doc_id, {tok} AS tok FROM (
        SELECT doc_id, {split}(text, ' ') AS ws FROM documents
    )
),
tf AS (SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY doc_id, tok),
dl AS (SELECT doc_id, COUNT(*) AS n FROM toks GROUP BY doc_id),
stats AS (SELECT COUNT(*) AS n_docs, SUM(n) AS total_len FROM dl),
df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok)"""
    return f"""{head},
q AS ({queries}),
term_scores AS (
    SELECT q.qid, tf.doc_id,
           ROUND(
             LN((s.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
             * (tf.c * 2.2)
             / (tf.c + 1.2 * (0.25 + 0.75 * dl.n * s.n_docs
                              / CAST(s.total_len AS DOUBLE))),
             9) AS score
    FROM q
    JOIN df ON df.tok = q.term
    JOIN tf ON tf.tok = q.term
    JOIN dl ON dl.doc_id = tf.doc_id
    CROSS JOIN stats s
),
scored AS (
    SELECT qid, doc_id,
           CAST(SUM(CAST(score AS DECIMAL(28, 9))) AS DOUBLE) AS bm25
    FROM term_scores GROUP BY qid, doc_id
),
lex AS (
    SELECT qid, doc_id, rn AS rank_lex FROM (
        SELECT qid, doc_id,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY bm25 DESC, doc_id) AS rn
        FROM scored
    ) r WHERE rn <= 10
)"""


def _rrf_tail(emb_explode_seed: str, emb_explode_all: str,
              emb_v: str, dense_arrays: bool = False) -> str:
    if dense_arrays:
        # r14 optimization round (guide §2.3 "aggregate before you
        # shuffle" taken to its limit: no shuffle at all): the Spark
        # side folds the three scaled-integer sums as JVM array
        # expressions per (doc, qid) instead of posexploding the
        # corpus 64x and re-grouping. Per-element values are the
        # IDENTICAL `CAST(ROUND(x * y * 1e12) AS BIGINT)` integers
        # and BIGINT addition is order-free, so the sums are exact-
        # equal to the explode+SUM form the oracle keeps. The 64-wide
        # centroid rides along as one array per qid (<= 3 rows, cross
        # join = broadcast); embedding IS NOT NULL mirrors the rows
        # posexplode drops.
        dense_cte = """cent_arr AS (
    SELECT qid,
           transform(array_sort(collect_list(struct(i, cv))), s -> s.cv)
               AS cv
    FROM centroid GROUP BY qid
),
dots AS (
    SELECT c.qid, e.vec_id AS doc_id,
           aggregate(zip_with(e.ev, c.cv,
                     (x, y) -> CAST(ROUND(x * y * 1000000000000) AS BIGINT)),
                     CAST(0 AS BIGINT), (acc, t) -> acc + t) AS dot_s,
           aggregate(transform(e.ev,
                     x -> CAST(ROUND(x * x * 1000000000000) AS BIGINT)),
                     CAST(0 AS BIGINT), (acc, t) -> acc + t) AS nv_s,
           aggregate(transform(c.cv,
                     y -> CAST(ROUND(y * y * 1000000000000) AS BIGINT)),
                     CAST(0 AS BIGINT), (acc, t) -> acc + t) AS nc_s
    FROM (SELECT vec_id, transform(embedding, x -> CAST(x AS DOUBLE)) AS ev
          FROM embeddings WHERE embedding IS NOT NULL) e
    CROSS JOIN cent_arr c
),"""
    else:
        dense_cte = f"""allvec AS (
    SELECT e.vec_id AS doc_id, t_e.i, CAST({emb_v} AS DOUBLE) AS v
    FROM embeddings e
    {emb_explode_all}
),
dots AS (
    -- Scaled-integer sums, NOT DECIMAL(30,12): precision > 18 forces
    -- Spark onto boxed BigDecimal accumulators (measured ~9 s PER SUM
    -- over the 3.8M-cell join at sf1; 3 sums = the whole query's
    -- cost). Each (qid, doc_id) group has exactly 64 elements, so
    -- round(x * 1e12) summed as BIGINT is exact (|sum| <= 64 * 1e16)
    -- and whole-stage-codegen fast; the 1e12 scales cancel in the
    -- cosine ratio.
    SELECT c.qid, a.doc_id,
           CAST(SUM(CAST(ROUND(a.v * c.cv * 1000000000000) AS BIGINT))
                AS BIGINT) AS dot_s,
           CAST(SUM(CAST(ROUND(a.v * a.v * 1000000000000) AS BIGINT))
                AS BIGINT) AS nv_s,
           CAST(SUM(CAST(ROUND(c.cv * c.cv * 1000000000000) AS BIGINT))
                AS BIGINT) AS nc_s
    FROM allvec a JOIN centroid c ON c.i = a.i
    GROUP BY c.qid, a.doc_id
),"""
    return f"""svec AS (
    SELECT l.qid, t_e.i, CAST({emb_v} AS DOUBLE) AS v
    FROM lex l
    JOIN embeddings e ON e.vec_id = l.doc_id
    {emb_explode_seed}
    WHERE l.rank_lex <= 3
),
centroid AS (
    SELECT qid, i,
           CAST(SUM(CAST(ROUND(v, 9) AS DECIMAL(27, 9))) AS DOUBLE)
             / COUNT(*) AS cv
    FROM svec GROUP BY qid, i
),
{dense_cte}
dense AS (
    SELECT qid, doc_id, rn AS rank_dense FROM (
        SELECT qid, doc_id,
               ROW_NUMBER() OVER (
                   PARTITION BY qid
                   ORDER BY ROUND(CAST(dot_s AS DOUBLE)
                                  / SQRT(CAST(nv_s AS DOUBLE)
                                         * CAST(nc_s AS DOUBLE)), 9)
                            DESC, doc_id
               ) AS rn
        FROM dots
    ) r WHERE rn <= 10
),
fused AS (
    SELECT COALESCE(l.qid, d.qid) AS qid,
           COALESCE(l.doc_id, d.doc_id) AS doc_id,
           l.rank_lex,
           d.rank_dense,
           ROUND(COALESCE(CAST(1 AS DOUBLE) / (60 + l.rank_lex), 0)
                 + COALESCE(CAST(1 AS DOUBLE) / (60 + d.rank_dense), 0),
                 12) AS rrf_score
    FROM lex l FULL OUTER JOIN dense d
      ON d.qid = l.qid AND d.doc_id = l.doc_id
)
SELECT CAST(qid AS INT) AS query_id,
       CAST(rn AS INT) AS rank,
       doc_id,
       CAST(rank_lex AS INT) AS rank_lex,
       CAST(rank_dense AS INT) AS rank_dense,
       rrf_score
FROM (
    SELECT qid, doc_id, rank_lex, rank_dense, rrf_score,
           ROW_NUMBER() OVER (PARTITION BY qid
                              ORDER BY rrf_score DESC, doc_id) AS rn
    FROM fused
) f WHERE rn <= 10
ORDER BY query_id, rank
"""


_RRF_LEX_VIEW = "rrf_lex_mat"


def _rrf_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank-fusion hybrid retrieval: independent BM25 and
    dense (PRF-centroid cosine) top-10 lists fused by 1/(60+rank) —
    see the block comment above for the scale framing, one-leg-only
    contract, and determinism discipline. The <= 30-row lexical top-k
    is materialized before the dense leg (see _rrf_pre)."""
    from crypto_lakehouse_spark.operators.checkpointing import truncate_lineage

    register_views(spark, sf_dir, ["documents", "embeddings"])
    lex = truncate_lineage(
        spark.sql(
            "WITH "
            + _rrf_pre("explode(ws)", "split")
            + "\nSELECT qid, doc_id, rank_lex FROM lex"
        ),
        spark,
    )
    lex.createOrReplaceTempView(_RRF_LEX_VIEW)
    return spark.sql(
        f"WITH lex AS (SELECT qid, doc_id, rank_lex FROM {_RRF_LEX_VIEW}),\n"
        + _rrf_tail(
            "LATERAL VIEW posexplode(e.embedding) t_e AS i, ev",
            "LATERAL VIEW posexplode(e.embedding) t_e AS i, ev",
            "ev",
            dense_arrays=True,
        )
    )


query(
    "rrf_hybrid_topk",
    oracle="WITH "
    + _rrf_pre("unnest(ws)", "string_split")
    + ",\n"
    + _rrf_tail(
        ", range(1, 65) t_e(i)",
        ", range(1, 65) t_e(i)",
        "e.embedding[t_e.i]",
    ),
    tags=("text", "retrieval", "hybrid", "rrf", "topk"),
)(_rrf_fn)


# --- TF-IDF keyword extraction -----------------------------------------------
# Top-3 characteristic terms per document by tf-idf — the per-doc
# companion of idf_cosine_topk (which uses the same weighting for
# pairwise similarity). tfidf = c * ln(n_docs / df); ranking is per
# document, so the window key is doc_id — no hot key beyond document
# length, and the (doc, term) relation is the natural inverted-index
# build. Determinism: counts are integers, ln runs on identical
# doubles, scores ROUND(...,9)-stabilized, ties broken by term.

def _tfidf_kw_sql(tok: str, split: str) -> str:
    return f"""
WITH toks AS (
    SELECT doc_id, {tok} AS t FROM (
        SELECT doc_id, {split}(text, ' ') AS ws FROM documents
    )
),
tf AS (SELECT doc_id, t, COUNT(*) AS c FROM toks GROUP BY doc_id, t),
df AS (SELECT t, COUNT(*) AS df FROM tf GROUP BY t),
nn AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM tf),
scored AS (
    SELECT tf.doc_id, tf.t,
           CAST(tf.c AS BIGINT) AS c,
           ROUND(tf.c * LN(CAST(s.n_docs AS DOUBLE) / df.df), 9) AS tfidf
    FROM tf JOIN df ON df.t = tf.t CROSS JOIN nn s
)
SELECT doc_id,
       CAST(rn AS INT) AS rank,
       t AS term,
       c AS term_count,
       tfidf
FROM (
    SELECT doc_id, t, c, tfidf,
           ROW_NUMBER() OVER (PARTITION BY doc_id
                              ORDER BY tfidf DESC, t) AS rn
    FROM scored
) r WHERE rn <= 3
ORDER BY doc_id, rank
"""


def _tfidf_kw_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 tf-idf keywords per doc (block comment above). r13
    optimization round: the single-statement form re-ran the token
    explode + (doc, term) aggregation once per inlined-CTE consumer
    (df, nn, scored — 6 documents scans in the captured before-plan);
    the Spark side now materializes `tf` once and derives df/nn/scored
    from the view. Unchanged DuckDB oracle proves equivalence."""
    register_views(spark, sf_dir, ["documents"])
    hold_view(
        spark,
        "tfidf_kw_tf_mat",
        spark.sql(
            """
SELECT doc_id, t, COUNT(*) AS c FROM (
    SELECT doc_id, explode(split(text, ' ')) AS t FROM documents
) GROUP BY doc_id, t"""
        ),
    )
    return spark.sql(
        """
WITH tf AS (SELECT doc_id, t, c FROM tfidf_kw_tf_mat),
df AS (SELECT t, COUNT(*) AS df FROM tf GROUP BY t),
nn AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM tf),
scored AS (
    SELECT tf.doc_id, tf.t,
           CAST(tf.c AS BIGINT) AS c,
           ROUND(tf.c * LN(CAST(s.n_docs AS DOUBLE) / df.df), 9) AS tfidf
    FROM tf JOIN df ON df.t = tf.t CROSS JOIN nn s
)
SELECT doc_id,
       CAST(rn AS INT) AS rank,
       t AS term,
       c AS term_count,
       tfidf
FROM (
    SELECT doc_id, t, c, tfidf,
           ROW_NUMBER() OVER (PARTITION BY doc_id
                              ORDER BY tfidf DESC, t) AS rn
    FROM scored
) r WHERE rn <= 3
ORDER BY doc_id, rank
"""
    )


query(
    "tfidf_keywords_top3",
    oracle=_tfidf_kw_sql("unnest(ws)", "string_split"),
    tags=("text", "tfidf", "keywords", "topk"),
)(_tfidf_kw_fn)


# --- Zipf rank-frequency slope per source ------------------------------------
# Corpus-linguistics fit: over each source's top-100 tokens by
# frequency (rank by freq DESC, token tiebreak), the least-squares
# slope of ln(freq) on ln(rank). A natural-language source fits
# slope ~ -1 (Zipf's law); templated/boilerplate sources flatten
# toward 0, and adversarial token-stuffed ones steepen — a one-number
# distribution-shift detector per ingest source. Determinism: the
# regression is computed FROM exact-decimal sums of ROUND(ln, 12)
# values (never regr_slope, whose internal double accumulation is
# order-dependent); the final slope/intercept are single double
# expressions, ROUND(9)-stabilized.
_ZIPF_TAIL = """
tf AS (SELECT source, t, COUNT(*) AS c FROM toks GROUP BY source, t),
ranked AS (
    SELECT source, t, c,
           ROW_NUMBER() OVER (PARTITION BY source
                              ORDER BY c DESC, t) AS rnk
    FROM tf
),
pts AS (
    -- DECIMAL(18,12), NOT (28,12): the x*y product must keep its full
    -- 24-digit scale exactly. (28,12) x (28,12) needs precision 57 and
    -- Spark caps at 38 by REDUCING SCALE (DuckDB truncates
    -- differently) — measured as a 3e-7 slope divergence; 18+18+1=37
    -- fits, so the product is exact in both engines. ln values are
    -- < 20, far inside 6 integer digits.
    SELECT source,
           CAST(ROUND(LN(CAST(rnk AS DOUBLE)), 12) AS DECIMAL(18, 12)) AS x,
           CAST(ROUND(LN(CAST(c AS DOUBLE)), 12) AS DECIMAL(18, 12)) AS y
    FROM ranked WHERE rnk <= 100
),
sums AS (
    SELECT source,
           COUNT(*) AS n,
           CAST(SUM(x) AS DOUBLE) AS sx,
           CAST(SUM(y) AS DOUBLE) AS sy,
           CAST(SUM(x * y) AS DOUBLE) AS sxy,
           CAST(SUM(x * x) AS DOUBLE) AS sxx
    FROM pts GROUP BY source
)
SELECT source,
       CAST(n AS BIGINT) AS n_points,
       ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 9) AS zipf_slope,
       ROUND((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 9)
           AS intercept
FROM sums
WHERE n >= 2
ORDER BY source
"""


def _zipf_sql(tok: str, split: str) -> str:
    return f"""
WITH toks AS (
    SELECT source, {tok} AS t FROM (
        SELECT source, {split}(lower(text), ' ') AS ws
        FROM documents WHERE length(text) > 0
    )
),
{_ZIPF_TAIL.lstrip()}"""


_pair(
    "zipf_slope_by_source",
    _zipf_sql("explode(ws)", "split"),
    _zipf_sql("unnest(ws)", "string_split"),
    tags=("text", "zipf", "distribution", "quality"),
)


# --- token burstiness (index of dispersion) -----------------------------------
# For the 25 most frequent tokens: variance-to-mean ratio of the
# per-document count, zeros included (D = Var/Mean; Poisson scatter
# gives D ~ 1, topical/bursty tokens D >> 1, rigid boilerplate D < 1).
# The classic boilerplate-vs-content separator: a token that appears
# 40 times in every doc (template) disperses near 0, one that appears
# 400 times in 10% of docs (topic) disperses high — corpus curation
# uses this where document frequency alone cannot distinguish them.
# All sums are integer (counts and squared counts) so both engines'
# statistics are exact until the final double division; absent docs
# contribute zero via N-normalization rather than a row explosion
# (variance over all N docs computed from present-doc sums alone).
_BURST_TAIL = """
tf AS (SELECT doc_id, t, COUNT(*) AS c FROM toks GROUP BY doc_id, t),
nn AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM toks),
top_tokens AS (
    SELECT t, SUM(c) AS total, COUNT(*) AS n_present,
           SUM(c * c) AS sum_sq
    FROM tf GROUP BY t
    ORDER BY SUM(c) DESC, t
    LIMIT 25
)
SELECT t AS token,
       CAST(total AS BIGINT) AS total_count,
       CAST(n_present AS BIGINT) AS n_docs_present,
       ROUND(CAST(total AS DOUBLE) / n.n_docs, 9) AS mean_per_doc,
       ROUND(
           (CAST(sum_sq AS DOUBLE)
            - CAST(total AS DOUBLE) * total / n.n_docs)
           / (n.n_docs - 1)
           / (CAST(total AS DOUBLE) / n.n_docs), 9) AS dispersion
FROM top_tokens CROSS JOIN nn n
ORDER BY dispersion DESC, token
"""


def _burst_sql(tok: str, split: str) -> str:
    return f"""
WITH toks AS (
    SELECT doc_id, {tok} AS t FROM (
        SELECT doc_id, {split}(lower(text), ' ') AS ws
        FROM documents WHERE length(text) > 0
    )
),
{_BURST_TAIL.lstrip()}"""


_pair(
    "token_burstiness_dispersion",
    _burst_sql("explode(ws)", "split"),
    _burst_sql("unnest(ws)", "string_split"),
    tags=("text", "burstiness", "dispersion", "quality"),
)


# --- language-ID quality evaluation ------------------------------------------
# The confusion matrix + accuracy the pipeline owner actually reads
# before trusting doc_langid's routing decisions: per (labeled,
# predicted) cell counts, each cell's share of its labeled row, and
# the overall accuracy (repeated per row — the driver hash then pins
# it). Same stopword scorer as doc_langid; all counts integer, two
# divisions at emission. One corpus scan, two grouped aggregates.
def _langid_conf_sql(size_fn: str, split_fn: str, filter_fn: str) -> str:
    inner = _langid_sql(size_fn, split_fn, filter_fn).replace(
        "ORDER BY doc_id", ""
    )
    return f"""
WITH pred AS ({inner}),
conf AS (
    SELECT labeled_lang, predicted_lang, COUNT(*) AS c
    FROM pred GROUP BY labeled_lang, predicted_lang
),
tot AS (SELECT labeled_lang, SUM(c) AS n FROM conf GROUP BY labeled_lang),
acc AS (
    SELECT SUM(CASE WHEN labeled_lang = predicted_lang THEN c ELSE 0 END)
           AS hit, SUM(c) AS n
    FROM conf
)
SELECT c.labeled_lang,
       c.predicted_lang,
       CAST(c.c AS BIGINT) AS n_docs,
       ROUND(c.c / CAST(t.n AS DOUBLE), 9) AS fraction_of_label,
       ROUND(a.hit / CAST(a.n AS DOUBLE), 9) AS overall_accuracy
FROM conf c
JOIN tot t ON t.labeled_lang = c.labeled_lang
CROSS JOIN acc a
ORDER BY c.labeled_lang, c.predicted_lang
"""


_pair(
    "langid_confusion_eval",
    _langid_conf_sql("size", "split", "filter"),
    _langid_conf_sql("len", "string_split", "list_filter"),
    tags=("text", "langid", "quality-eval", "confusion"),
)


# --- collation-aware token census (Spark 4 COLLATE) -------------------------
# Case-insensitive grouping via Spark 4's COLLATE UTF8_LCASE, proven
# against a lower()-normalized DuckDB oracle. Contrast with the
# md5-bucket dedup family (doc_exact_dedup and friends): a hash
# DESTROYS the equivalence class — md5('Spark') != md5('spark') — so
# collation-aware dedup cannot ride the hash-bucket plan; the
# collation must travel with the GROUP BY key itself, where the
# collated comparator drives the shuffle hash. Plan shape is
# IDENTICAL to the binary-collation twin (same number of exchanges;
# pinned in tests/test_plans.py::test_collation_no_extra_shuffle) —
# collation changes the comparator, not the plan.
#
# The corpus is all-lowercase, so a deterministic case perturbation
# (doc_id % 3 keyed: UPPER / Capitalized / as-is) is applied in-query
# to actually exercise the equivalence classes. For ASCII data,
# lower()-normalization and the UTF8_LCASE comparator agree exactly;
# full-ICU corner cases (dotted-I, final sigma) are where the two
# diverge — documented, not exercised by this corpus. The canonical
# representative is MIN(tok) under BINARY collation (deterministic,
# engine-portable), never "first row seen".

_COLLATE_CASED = """
    SELECT CASE WHEN doc_id % 3 = 0 THEN upper(tok)
                WHEN doc_id % 3 = 1
                    THEN {cap}
                ELSE tok END AS tok
    FROM (SELECT doc_id, {tok_expr} AS tok FROM documents) e
    WHERE length(tok) > 0
"""

_COLLATE_TAIL = """
SELECT canon_tok,
       CAST(n_occurrences AS BIGINT) AS n_occurrences,
       CAST(n_case_variants AS BIGINT) AS n_case_variants
FROM ci
ORDER BY n_occurrences DESC, canon_tok
"""

_COLLATE_SPARK = (
    "WITH toks AS ("
    + _COLLATE_CASED.format(
        cap="concat(upper(substr(tok, 1, 1)), substr(tok, 2))",
        tok_expr="explode(split(text, ' '))",
    )
    + """),
ci AS (
    SELECT MIN(tok) AS canon_tok,
           COUNT(*) AS n_occurrences,
           COUNT(DISTINCT tok) AS n_case_variants
    FROM toks
    GROUP BY collate(tok, 'UTF8_LCASE')
)"""
    + _COLLATE_TAIL
)

_COLLATE_DUCK = (
    "WITH toks AS ("
    + _COLLATE_CASED.format(
        cap="upper(substr(tok, 1, 1)) || substr(tok, 2)",
        tok_expr="unnest(string_split(text, ' '))",
    )
    + """),
ci AS (
    SELECT MIN(tok) AS canon_tok,
           COUNT(*) AS n_occurrences,
           COUNT(DISTINCT tok) AS n_case_variants
    FROM toks
    GROUP BY lower(tok)
)"""
    + _COLLATE_TAIL
)

_pair(
    "collated_token_counts",
    _COLLATE_SPARK,
    _COLLATE_DUCK,
    tags=("text", "collation", "spark4"),
)


# --- Gopher-style within-document repetition rules ---------------------------
# The second half of the Rae et al. 2021 quality gate (§A1.2,
# "repetitious documents"), complementing `gopher_quality_rules`
# (§A1.1 word-level rules): a document is dropped when too much of it
# is one repeated n-gram. Two metric families over word n-grams
# (this corpus has no newlines, so the line/paragraph duplicate rules
# are out of scope, as documented for §A1.1):
#  - top n-gram character fraction, n in {2,3,4}: chars covered by
#    ALL occurrences of the single most frequent n-gram / doc chars;
#    thresholds 0.20 / 0.18 / 0.16 (ties on count break to the
#    lexicographically smallest gram — pinned, engine-stable).
#  - duplicated n-gram character fraction, n in {5..10}: chars
#    covered by all occurrences of every n-gram seen >= 2 times /
#    doc chars; thresholds 0.15 / 0.14 / 0.13 / 0.12 / 0.11 / 0.10.
#    Overlapping occurrences are counted per-occurrence and the
#    fraction capped at 1.0 — the standard streaming approximation
#    (counting each character once needs interval union per doc;
#    production rule filters accept the cap because the decision
#    boundary sits far below saturation).
# Shape at scale: ONE pass builds all 9 gram sizes from the split
# array (lateral index explode, no self-join), one hash aggregate per
# (doc, n, gram) with map-side combine, two vocabulary-free rollups
# back to doc grain — corpus-linear, shuffle keyed on (doc_id, n,
# gram) so hot docs spread across n.

_REP_THRESH = "CASE n WHEN 2 THEN 0.20 WHEN 3 THEN 0.18 WHEN 4 THEN 0.16 " \
    "WHEN 5 THEN 0.15 WHEN 6 THEN 0.14 WHEN 7 THEN 0.13 " \
    "WHEN 8 THEN 0.12 WHEN 9 THEN 0.11 ELSE 0.10 END"

_REP_SPARK = f"""
WITH base AS (
    SELECT doc_id, length(text) AS total_chars, split(text, ' ') AS ws
    FROM documents
),
grams AS (
    SELECT doc_id, total_chars, n,
           concat_ws(' ', slice(ws, i, n)) AS gram
    FROM base
    LATERAL VIEW explode(sequence(2, 10)) t AS n
    LATERAL VIEW explode(sequence(1, size(ws) - n + 1)) s AS i
    WHERE size(ws) >= n
),
counts AS (
    SELECT doc_id, total_chars, n, gram, COUNT(*) AS c
    FROM grams GROUP BY doc_id, total_chars, n, gram
),
-- ONE aggregate per (doc, n) replaces the top_frac window + the
-- dup_frac rollup (r13 optimization round, guide §2.4 "duplicated
-- subtrees": the 6 rejoins of the inlined counts CTE re-executed the
-- whole explode+count pipeline per reference — this form runs it
-- once).  min(struct(-c, gram)) == (max count, lexicographically
-- smallest gram), the exact ROW_NUMBER ... ORDER BY c DESC, gram
-- tie-break of the previous form and of the unchanged DuckDB oracle.
per_n AS (
    SELECT doc_id, n,
           CASE WHEN n <= 4 THEN
               CAST((-top.nc) * length(top.g) AS DOUBLE) / total_chars
           ELSE
               LEAST(CAST(1.0 AS DOUBLE),
                     CAST(dup_chars AS DOUBLE) / total_chars)
           END AS frac
    FROM (
        SELECT doc_id, n,
               MIN(CASE WHEN n <= 4
                        THEN struct(-c AS nc, gram AS g) END) AS top,
               SUM(CASE WHEN n >= 5 AND c >= 2
                        THEN c * length(gram) ELSE 0 END) AS dup_chars,
               ANY_VALUE(total_chars) AS total_chars
        FROM counts GROUP BY doc_id, n
    )
),
pivoted AS (
    SELECT doc_id,
           MAX(CASE WHEN n = 2 THEN frac END) AS t2,
           MAX(CASE WHEN n = 3 THEN frac END) AS t3,
           MAX(CASE WHEN n = 4 THEN frac END) AS t4,
           MAX(CASE WHEN n = 5 THEN frac END) AS d5,
           MAX(CASE WHEN n = 10 THEN frac END) AS d10,
           COUNT(CASE WHEN frac > {_REP_THRESH} THEN 1 END) AS n_viol
    FROM per_n GROUP BY doc_id
)
SELECT b.doc_id,
       ROUND(COALESCE(p.t2, 0.0), 9) AS top_2gram_frac,
       ROUND(COALESCE(p.t3, 0.0), 9) AS top_3gram_frac,
       ROUND(COALESCE(p.t4, 0.0), 9) AS top_4gram_frac,
       ROUND(COALESCE(p.d5, 0.0), 9) AS dup_5gram_frac,
       ROUND(COALESCE(p.d10, 0.0), 9) AS dup_10gram_frac,
       CAST(COALESCE(p.n_viol, 0) AS INT) AS n_violations,
       COALESCE(p.n_viol, 0) = 0 AS keep
FROM base b
LEFT JOIN pivoted p ON p.doc_id = b.doc_id
ORDER BY b.doc_id
"""

_REP_DUCK = f"""
WITH base AS (
    SELECT doc_id, length(text) AS total_chars, string_split(text, ' ') AS ws
    FROM documents
),
positions AS (
    SELECT doc_id, total_chars, ws,
           unnest(range(1, len(ws) + 1)) AS i
    FROM base
),
grams AS (
    SELECT p.doc_id, p.total_chars, s.n,
           array_to_string(p.ws[p.i : p.i + s.n - 1], ' ') AS gram
    FROM positions p
    CROSS JOIN (SELECT unnest(range(2, 11)) AS n) s
    WHERE p.i + s.n - 1 <= len(p.ws)
),
counts AS (
    SELECT doc_id, total_chars, n, gram, COUNT(*) AS c
    FROM grams GROUP BY doc_id, total_chars, n, gram
),
top_frac AS (
    SELECT doc_id, n,
           CAST(c * length(gram) AS DOUBLE) / total_chars AS frac
    FROM (
        SELECT doc_id, n, gram, c, total_chars,
               ROW_NUMBER() OVER (PARTITION BY doc_id, n
                                  ORDER BY c DESC, gram) AS rn
        FROM counts WHERE n <= 4
    ) WHERE rn = 1
),
dup_frac AS (
    SELECT doc_id, n,
           LEAST(CAST(1.0 AS DOUBLE),
                 CAST(SUM(CASE WHEN c >= 2 THEN c * length(gram)
                               ELSE 0 END) AS DOUBLE)
                 / ANY_VALUE(total_chars)) AS frac
    FROM counts WHERE n >= 5 GROUP BY doc_id, n
),
metrics AS (
    SELECT doc_id, n, frac FROM top_frac
    UNION ALL
    SELECT doc_id, n, frac FROM dup_frac
),
violations AS (
    SELECT doc_id,
           COUNT(CASE WHEN frac > {_REP_THRESH} THEN 1 END) AS n_viol,
           MAX(ROUND(frac, 9)) AS worst_frac
    FROM metrics GROUP BY doc_id
)
SELECT b.doc_id,
       ROUND(COALESCE(t2.frac, 0.0), 9) AS top_2gram_frac,
       ROUND(COALESCE(t3.frac, 0.0), 9) AS top_3gram_frac,
       ROUND(COALESCE(t4.frac, 0.0), 9) AS top_4gram_frac,
       ROUND(COALESCE(d5.frac, 0.0), 9) AS dup_5gram_frac,
       ROUND(COALESCE(d10.frac, 0.0), 9) AS dup_10gram_frac,
       CAST(COALESCE(v.n_viol, 0) AS INT) AS n_violations,
       COALESCE(v.n_viol, 0) = 0 AS keep
FROM base b
LEFT JOIN top_frac t2 ON t2.doc_id = b.doc_id AND t2.n = 2
LEFT JOIN top_frac t3 ON t3.doc_id = b.doc_id AND t3.n = 3
LEFT JOIN top_frac t4 ON t4.doc_id = b.doc_id AND t4.n = 4
LEFT JOIN dup_frac d5 ON d5.doc_id = b.doc_id AND d5.n = 5
LEFT JOIN dup_frac d10 ON d10.doc_id = b.doc_id AND d10.n = 10
LEFT JOIN violations v ON v.doc_id = b.doc_id
ORDER BY b.doc_id
"""

_pair(
    "gopher_repetition_rules",
    _REP_SPARK,
    _REP_DUCK,
    tags=("text", "quality", "gopher", "repetition"),
)


# --- C4-style document quality rules -----------------------------------------
# The cleaning gate from Raffel et al. 2020 (C4, "Exploring the Limits
# of Transfer Learning", §2.2), adapted to this corpus's shape: the
# original operates line-by-line on web pages; this corpus has no
# newlines, so the line unit becomes the SENTENCE (split on [.!?],
# whitespace-trimmed, empties dropped). Rules kept: a sentence is
# retained when it has >= 5 words; a document is kept when it has
# >= 3 sentences, no '{' (code), no 'lorem ipsum' (boilerplate), and
# lang = 'en' (C4's langdetect >= 0.99 gate reduced to the corpus's
# lang label). The 3-sentence-span dedup rule lives in the dedup
# family (`substring_span_dedup` / `_maximal`). Everything is pure
# array expressions over one projection — single scan, no explode, no
# shuffle until the final ORDER BY (which a real pipeline drops);
# `retained_frac` (chars of retained sentences / doc chars) is the
# per-doc yield a C4-style pipeline reports.

_C4_SPARK = """
SELECT doc_id,
       CAST(n_sent AS INT) AS n_sentences,
       CAST(size(kept) AS INT) AS n_retained_sentences,
       ROUND(CAST(aggregate(transform(kept, s -> length(s)),
                            CAST(0 AS BIGINT), (a, b) -> a + b) AS DOUBLE)
             / total_chars, 9) AS retained_frac,
       has_brace, has_lorem,
       n_sent >= 3 AND NOT has_brace AND NOT has_lorem
           AND lang = 'en' AS keep
FROM (
    SELECT doc_id, lang, total_chars,
           size(sentences) AS n_sent,
           filter(sentences,
                  s -> size(filter(split(s, ' '), w -> w <> '')) >= 5)
               AS kept,
           contains(text, '{') AS has_brace,
           contains(lower(text), 'lorem ipsum') AS has_lorem
    FROM (
        SELECT doc_id, lang, text, length(text) AS total_chars,
               filter(split(text, '[.!?]'),
                      s -> length(trim(s)) > 0) AS sentences
        FROM documents
    )
)
ORDER BY doc_id
"""

_C4_DUCK = """
SELECT doc_id,
       CAST(n_sent AS INT) AS n_sentences,
       CAST(len(kept) AS INT) AS n_retained_sentences,
       ROUND(CAST(CASE WHEN len(kept) = 0 THEN 0
                       ELSE list_reduce(list_transform(kept,
                                s -> length(s)), (a, b) -> a + b)
                  END AS DOUBLE) / total_chars, 9) AS retained_frac,
       has_brace, has_lorem,
       n_sent >= 3 AND NOT has_brace AND NOT has_lorem
           AND lang = 'en' AS keep
FROM (
    SELECT doc_id, lang, total_chars,
           len(sentences) AS n_sent,
           list_filter(sentences,
                s -> len(list_filter(string_split(s, ' '),
                         w -> w <> '')) >= 5) AS kept,
           contains(text, '{') AS has_brace,
           contains(lower(text), 'lorem ipsum') AS has_lorem
    FROM (
        SELECT doc_id, lang, text, length(text) AS total_chars,
               list_filter(string_split_regex(text, '[.!?]'),
                    s -> length(trim(s)) > 0) AS sentences
        FROM documents
    )
)
ORDER BY doc_id
"""

_pair(
    "c4_quality_rules",
    _C4_SPARK,
    _C4_DUCK,
    tags=("text", "quality", "c4", "rules"),
)
