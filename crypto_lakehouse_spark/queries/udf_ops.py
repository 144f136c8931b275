"""The remaining UDF API surface, each proven against a full DuckDB
oracle: scalar pandas UDF (Arrow-vectorized), grouped-aggregate pandas
UDF (UDAF), and a Python UDTF (lateral table function).

The reference defines zero UDFs (SURVEY §2.8) — built-ins remain this
engine's default too — but a complete engine must *expose* the escape
hatches, and each one here is the idiomatic shape:

- `embedding_norms_pandas`: scalar `@pandas_udf` over an array
  column. Arrow ships each batch as numpy arrays; the fold is an
  explicit sequential left fold per row so the result is
  bit-identical to the oracle's `list_reduce` (pairwise/SIMD
  summation would NOT be — same rule as the SQL dot products,
  see queries/similarity_ops.py docstring).
- `geomean_value_pandas_udaf`: grouped-agg `@pandas_udf` (UDAF).
  Geometric mean via exp(mean(ln x)) — the one aggregate family the
  built-ins genuinely lack. Both engines fold ln() over the
  VALUE-SORTED group (Spark: sorted pandas Series, DuckDB:
  `list(value ORDER BY value)`), making the double summation order
  identical; math.log/math.exp and DuckDB ln/exp resolve to the
  same libm on this platform, with ROUND(9) as belt-and-braces.
  Note the scale contract of grouped-agg pandas UDFs: each group
  must fit in one executor's memory (fine for |event_type| groups;
  for high-cardinality keys prefer applyInPandas or built-ins).
- `props_entries_udtf`: Python UDTF exploding the JSON props column
  into (key, value) rows via a correlated LATERAL join, then
  re-aggregated; shares the MAP-explode query's oracle
  (queries/breadth_ops.py `props_map_entries`) — two different
  Spark surfaces, one contract. UDTFs run row-at-a-time Python, so
  this is the demonstration of the API, not the perf path: the
  from_json MAP version is what production uses.
"""

from __future__ import annotations

import json
import math

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.functions import pandas_udf, udtf

import crypto_lakehouse_spark.queries.breadth_ops  # noqa: F401  (registers oracle we reuse)
from crypto_lakehouse_spark.io import load_table, register_views
from crypto_lakehouse_spark.queries.registry import REGISTRY, query

_NORM_ORACLE = """
SELECT vec_id,
       ROUND(SQRT(list_reduce(
           list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
           (acc, v) -> acc + v)), 9) AS l2_norm
FROM embeddings
ORDER BY vec_id
"""


@query(
    "embedding_norms_pandas",
    oracle=_NORM_ORACLE,
    tags=("similarity", "pandas-udf", "vectorized"),
)
def embedding_norms_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar pandas UDF: L2 norm per embedding via sequential left
    fold (module docstring has the determinism rationale)."""

    @pandas_udf("double")
    def l2_norm(embs: pd.Series) -> pd.Series:
        out = []
        for arr in embs:
            if arr is None:
                # NULL embedding: propagate NULL, exactly as the SQL
                # fold does (list_reduce over NULL is NULL).
                out.append(None)
                continue
            acc = 0.0
            for x in arr:
                fx = float(x)
                acc += fx * fx
            out.append(round(math.sqrt(acc), 9))
        return pd.Series(out, dtype=object)

    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select("vec_id", l2_norm("embedding").alias("l2_norm"))
        .orderBy("vec_id")
    )


_GEOMEAN_ORACLE = """
SELECT event_type,
       COUNT(*) AS n_events,
       ROUND(EXP(list_reduce(
           list_transform(list(value ORDER BY value), x -> ln(1.0 + x)),
           (acc, v) -> acc + v) / COUNT(*)) - 1.0, 9) AS geomean_value
FROM events
GROUP BY event_type
ORDER BY event_type
"""


@query(
    "geomean_value_pandas_udaf",
    oracle=_GEOMEAN_ORACLE,
    tags=("events", "pandas-udf", "udaf", "aggregation"),
)
def geomean_value_pandas_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-aggregate pandas UDF (UDAF): geometric mean of event
    value per type via a value-sorted sequential ln-fold (module
    docstring has the determinism + memory contract)."""

    # Shifted geomean exp(mean(ln(1+x)))-1: defined for the zero
    # values present at sf0.1 (plain ln(x) would be a domain error).
    # ln(1.0 + x), NOT log1p: log1p is a different (more precise)
    # function than the oracle's ln(1+x) and diverges in low bits.
    @pandas_udf("double")
    def geomean(values: pd.Series) -> float:
        acc = 0.0
        for x in sorted(values):
            acc += math.log(1.0 + x)
        return round(math.exp(acc / len(values)) - 1.0, 9)

    # Pandas group aggregates can't mix with JVM aggregates in one
    # agg() (INVALID_PANDAS_UDF_PLACEMENT), so the count is a pandas
    # aggregate too.
    @pandas_udf("long")
    def n_rows(values: pd.Series) -> int:
        return len(values)

    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            n_rows("value").alias("n_events"),
            geomean("value").alias("geomean_value"),
        )
        .orderBy("event_type")
    )


@query(
    "props_entries_udtf",
    oracle=None,  # wired below: shares props_map_entries' oracle
    tags=("json", "udtf"),
    bench=False,  # API demonstration; from_json MAP is the perf path
)
def props_entries_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF exploding JSON props to (key, value) rows via a
    correlated LATERAL join, re-aggregated to the props_map_entries
    contract (whose oracle this query shares)."""

    @udtf(returnType="key string, value bigint")
    class ParseProps:
        def eval(self, props: str):
            if props is None:
                return
            for k, v in json.loads(props).items():
                yield k, int(v)

    spark.udtf.register("parse_props", ParseProps)
    register_views(spark, sf_dir, ["events"])
    return spark.sql(
        """
        SELECT event_type, t.key, COUNT(*) AS n, SUM(t.value) AS value_sum
        FROM events, LATERAL parse_props(props) t
        GROUP BY event_type, t.key
        ORDER BY event_type, t.key
        """
    )


def _wire_udtf_oracle() -> None:
    REGISTRY["props_entries_udtf"].oracle = REGISTRY["props_map_entries"].oracle


_wire_udtf_oracle()


# --- Arrow-native grouped map (applyInArrow, Spark 4) ----------------------
# Per-source corpus profile: doc count, total chars, exact
# nearest-rank median of n_chars. The grouped map runs on raw
# pyarrow.Tables — no pandas materialization at all, the zero-copy
# fast path for columnar per-group logic. Everything is integer
# arithmetic (count/sum/element-pick after an in-group sort), so the
# result is bit-identical to the window-function oracle. Scale
# contract is the same as every grouped map: one group must fit in
# one executor (20 sources here; for high-cardinality keys the
# window-function formulation IS the scale path — this query proves
# both give the same answer).
_ARROW_PROFILE_ORACLE = """
WITH ranked AS (
    SELECT source, n_chars,
           ROW_NUMBER() OVER (
               PARTITION BY source ORDER BY n_chars, doc_id) AS rn,
           COUNT(*) OVER (PARTITION BY source) AS n
    FROM documents
)
SELECT source,
       MAX(n) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       MAX(CASE WHEN rn = (n + 1) // 2 THEN n_chars END) AS median_chars
FROM ranked
GROUP BY source
ORDER BY source
"""


@query(
    "source_profile_arrow",
    oracle=_ARROW_PROFILE_ORACLE,
    tags=("arrow", "grouped-map", "spark4"),
)
def source_profile_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """groupBy().applyInArrow grouped map (Spark 4): per-source doc
    count, char total, and exact nearest-rank median n_chars, computed
    on zero-copy pyarrow.Tables and proven against a window-function
    oracle. Extends SURVEY §2.8 (reference has zero UDFs) with the
    last grouped-map surface: pandas (ohlcv_1h_pandas), pandas UDAF
    (geomean_value_pandas_udaf), and now Arrow-native."""
    import pyarrow as pa
    import pyarrow.compute as pc

    docs = load_table(spark, sf_dir, "documents").select(
        "source", "doc_id", "n_chars"
    )

    def profile(table: "pa.Table") -> "pa.Table":
        st = table.sort_by([("n_chars", "ascending"), ("doc_id", "ascending")])
        n = st.num_rows
        return pa.table(
            {
                "source": [st["source"][0].as_py()],
                "n_docs": pa.array([n], pa.int64()),
                "sum_chars": pa.array(
                    [pc.sum(st["n_chars"]).as_py()], pa.int64()
                ),
                "median_chars": pa.array(
                    [st["n_chars"][(n + 1) // 2 - 1].as_py()], pa.int64()
                ),
            }
        )

    return (
        docs.groupBy("source")
        .applyInArrow(
            profile,
            schema="source string, n_docs long, sum_chars long, median_chars long",
        )
        .orderBy("source")
    )


# --- mapInArrow partition transform (Spark 4) -------------------------------
# Row-wise doc stats computed per Arrow RecordBatch with
# pyarrow.compute kernels only — the zero-copy partition-map surface
# (mapInPandas without the pandas materialization). Integer outputs,
# so the SQL oracle matches exactly. At scale this is a narrow
# transformation: no shuffle, batches stream through the Python
# worker at Arrow speed; anything expressible as pa.compute kernels
# here should graduate to built-in SQL functions (which is what the
# oracle demonstrates) — the API exists for kernels SQL lacks.
_DOCSTATS_ORACLE = """
SELECT doc_id,
       len(string_split(text, ' ')) AS n_tokens,
       n_chars + 1 - len(string_split(text, ' ')) AS n_nonspace_chars
FROM documents
ORDER BY doc_id
"""


@query(
    "doc_stats_map_arrow",
    oracle=_DOCSTATS_ORACLE,
    tags=("arrow", "map-partitions", "spark4"),
)
def doc_stats_map_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInArrow over documents: token count (split on space) and
    non-space char count per doc, all in pyarrow.compute. n_chars in
    the data counts the full text length, so non-space chars =
    n_chars - (n_tokens - 1) separators — the oracle states the same
    contract in SQL."""
    import pyarrow as pa
    import pyarrow.compute as pc

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "n_chars")

    def stats(batches):
        for batch in batches:
            toks = pc.list_value_length(
                pc.split_pattern(batch.column(1), pattern=" ")
            ).cast(pa.int64())
            nonspace = pc.subtract(
                pc.add(batch.column(2), 1), toks
            ).cast(pa.int64())
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), toks, nonspace],
                names=["doc_id", "n_tokens", "n_nonspace_chars"],
            )

    return docs.mapInArrow(
        stats, schema="doc_id long, n_tokens long, n_nonspace_chars long"
    ).orderBy("doc_id")


# --- cogroup + applyInPandas (the remaining pandas API surface) ------------
# `groupBy().cogroup().applyInPandas` is the escape hatch for binary
# per-key operators the built-ins can't express; the canonical use is
# exactly an as-of merge, so this twin shares the backward-as-of
# oracle with `asof_join_purchase_click` (queries/events_ops.py) —
# two Spark surfaces, one contract, differentially proven equal.
#
# Scale contract: both sides shuffle once on a BUCKETED key
# (pmod(user_id, 64)), not the raw user_id — cogrouping on the raw
# key spawns one pandas kernel per user, and millions of tiny Arrow
# batches drown the job in per-group overhead (measured here: 23 s ->
# 2.5 s at sf0.1 from this one change). Each bucket's merge_asof runs
# with by="user_id", so the per-user as-of semantics are identical
# while the kernel stays one vectorized C call per bucket. Each
# bucket must fit in executor memory — buckets scale out by raising
# the bucket count with the cluster, and the window-carry-forward
# implementation in operators/asof.py remains the unbounded
# production path.


def _asof_oracle() -> str:
    import crypto_lakehouse_spark.queries.events_ops  # noqa: F401

    return REGISTRY["asof_join_purchase_click"].oracle


@query(
    "asof_join_cogroup",
    oracle=None,  # wired below from the asof query (shared contract)
    tags=("events", "asof-join", "cogroup", "pandas-udf"),
)
def asof_join_cogroup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join via cogrouped applyInPandas + merge_asof,
    proven equal to the window-carry-forward implementation by sharing
    its DuckDB ASOF JOIN oracle."""
    from pyspark.sql import functions as F

    from crypto_lakehouse_spark.functions import fmt_ts

    ev = load_table(spark, sf_dir, "events")
    # Spark quirk, empirically pinned by test_cogroup_passes_key_copy:
    # when the cogroup key is an EXPRESSION over a column (pmod below),
    # the optimizer may prune that key-source column from the pandas
    # frame it passes (observed on the right side only). The per-user
    # merge key therefore travels as an ALIASED COPY on each side
    # (p_uid / c_uid), which the pruner treats as data and preserves.
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_uid"), "event_id", "ts", "value", "user_id"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_uid"),
        F.col("ts").alias("click_ts"),
        F.col("value").alias("click_value"),
        "user_id",
    )
    ts_type = dict(zip(ev.schema.names, (f.dataType.simpleString() for f in ev.schema.fields)))["ts"]
    out_schema = (
        f"user_id bigint, event_id bigint, ts {ts_type}, "
        "value double, click_value double"
    )

    def merge(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        left = left.sort_values(["ts", "event_id"])
        right = right.sort_values(["click_ts", "click_value"])
        out = pd.merge_asof(
            # The raw user_id column may or may not survive the pruner
            # on either side (see the quirk note above) — drop it so
            # the aliased copies are the only key columns.
            left.drop(columns=["user_id"], errors="ignore"),
            right.drop(columns=["user_id"], errors="ignore"),
            left_on="ts",
            right_on="click_ts",
            left_by="p_uid",
            right_by="c_uid",
            direction="backward",
            allow_exact_matches=True,
        )
        out = out.rename(columns={"p_uid": "user_id"})[
            ["user_id", "event_id", "ts", "value", "click_value"]
        ]
        # NaN (merge miss) must reach Spark as NULL, not float NaN.
        out["click_value"] = out["click_value"].astype(object).where(
            out["click_value"].notna(), None
        )
        return out

    bucket = F.pmod("user_id", F.lit(64))
    joined = (
        purchases.groupBy(bucket.alias("b"))
        .cogroup(clicks.groupBy(bucket.alias("b")))
        .applyInPandas(merge, schema=out_schema)
    )
    return joined.select(
        "user_id",
        "event_id",
        fmt_ts("ts", micros=True).alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
        F.col("click_value").alias("asof_click_value"),
    ).orderBy("user_id", "event_id")


def _wire_cogroup_oracle() -> None:
    REGISTRY["asof_join_cogroup"].oracle = _asof_oracle()


_wire_cogroup_oracle()


# --- Arrow twin of the covariance build --------------------------------------
# embedding_covariance_upper's SQL form generates 64*65/2 cells PER
# VECTOR (416M rows at sf10, 43 s): correct, oracle-checkable, but the
# explode is pure overhead for dense linear algebra. This twin keeps
# the identical contract — per-cell ROUND(v_i * v_j, 6) summed exactly
# — by accumulating INTEGER-scaled sufficient statistics in numpy
# (round(x * 1e6) as int64; integer sums are exact and order-free, so
# the result is bit-equal to the SQL twin's DECIMAL(8,6) sums and the
# shared DuckDB oracle hash-checks both). Scale shape: mapInPandas
# emits at most 2080 partial rows per Arrow batch regardless of batch
# size; the only shuffle is the 2080-key final aggregate. Ties in the
# half-up-vs-half-even rounding difference cannot occur: a binary
# double is never exactly (2k+1)/(2*10^6). The residual hazard is
# fl(x*y)*1e6 landing on the WRONG SIDE of a half-integer because of
# the multiply's rounding error (~1e-10 probability per cell — real at
# >=1e9 cells): _scaled_round6 flags every cell whose scaled double is
# within 1e-6 of a half-integer (a bound >=50x the worst float error
# here) and re-decides ONLY those in exact rational arithmetic, so the
# int64 statistics equal the SQL twin's on ALL inputs, not just the
# shipped fixtures.


def _exact_round6(*factors: float) -> int:
    """round(prod(factors) * 1e6) decided in exact rational arithmetic.

    HALF_UP away from zero to match Spark/DuckDB ROUND; the tie branch
    is unreachable for double inputs (see block comment) but kept so
    the function is total.
    """
    import math
    from fractions import Fraction

    v = Fraction(1000000)
    for f_ in factors:
        v *= Fraction(f_)
    fl = math.floor(v)
    r = v - fl
    if r > Fraction(1, 2):
        return fl + 1
    if r < Fraction(1, 2):
        return fl
    return fl + 1 if v > 0 else fl


def _scaled_round6(products, factors):
    """int64 round(exact_product * 1e6) for an ndarray of products.

    `products` is the floated elementwise product of `factors` (each
    broadcastable to products.shape). Hot path is one multiply + rint;
    cells within 1e-6 of a half-integer after scaling (empirically
    none per batch, ~2e-9 expected fraction) are re-decided exactly
    from the original factors via Fraction.
    """
    import numpy as np

    scaled = products * 1e6
    out = np.rint(scaled)
    near = np.abs(np.abs(scaled - out) - 0.5) < 1e-6
    if near.any():
        spread = [np.broadcast_to(f_, products.shape) for f_ in factors]
        for at in map(tuple, np.argwhere(near)):
            out[at] = _exact_round6(*(float(f_[at]) for f_ in spread))
    return out.astype(np.int64)

def _cov_arrow_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """numpy-accumulated covariance sufficient statistics (block
    comment above); final cov expression identical to the SQL twin."""
    import numpy as np
    from pyspark.sql import functions as F

    emb = (
        load_table(spark, sf_dir, "embeddings")
        .select("embedding")
        .where(F.col("embedding").isNotNull())
    )

    def stats(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            n, d = X.shape
            cells = np.zeros((d, d), dtype=np.int64)
            for lo in range(0, n, 512):
                chunk = X[lo:lo + 512]
                cells += _scaled_round6(
                    np.einsum("ni,nj->nij", chunk, chunk),
                    (chunk[:, :, None], chunk[:, None, :]),
                ).sum(axis=0)
            dim_sums = _scaled_round6(X, (X,)).sum(axis=0)
            iu, ju = np.triu_indices(d)
            yield pd.DataFrame(
                {
                    "i": (iu + 1).astype("int32"),
                    "j": (ju + 1).astype("int32"),
                    "n": np.full(len(iu), n, dtype="int64"),
                    "sxy": cells[iu, ju],
                    "sxi": dim_sums[iu],
                    "sxj": dim_sums[ju],
                }
            )

    parts = emb.mapInPandas(
        stats, schema="i int, j int, n long, sxy long, sxi long, sxj long"
    )
    agg = parts.groupBy("i", "j").agg(
        F.sum("n").alias("n"),
        F.sum("sxy").alias("sxy"),
        F.sum("sxi").alias("sxi"),
        F.sum("sxj").alias("sxj"),
    )
    n = F.col("n")
    sxy = F.col("sxy").cast("double") / 1e6
    sxi = F.col("sxi").cast("double") / 1e6
    sxj = F.col("sxj").cast("double") / 1e6
    return (
        agg.where(n > 1)
        .select(
            F.col("i").alias("dim_i"),
            F.col("j").alias("dim_j"),
            n.cast("bigint").alias("n_vectors"),
            F.round((sxy - sxi * sxj / n) / (n - 1), 9).alias("cov"),
        )
        .orderBy("dim_i", "dim_j")
    )




def _wire_cov_arrow() -> None:
    import crypto_lakehouse_spark.queries.similarity_ops  # noqa: F401

    query(
        "embedding_covariance_arrow",
        oracle=REGISTRY["embedding_covariance_upper"].oracle,
        tags=("arrow", "covariance", "pca", "map-partitions"),
    )(_cov_arrow_fn)


_wire_cov_arrow()
