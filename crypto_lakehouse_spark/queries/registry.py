"""Registry of declared queries with DuckDB-oracle counterparts.

Each query is a callable (spark, sf_dir) -> DataFrame plus (usually) an
ANSI-SQL string DuckDB can run over the same parquet tables. The
driver hash-compares the two at sf0.01; `tests/test_oracle.py` runs the
same comparison locally.

Determinism rules every query here follows (SURVEY §7 "hard parts"):
- no raw DOUBLE aggregation: doubles are cast to DECIMAL before
  SUM/AVG (exact, order-independent), then cast back to DOUBLE at the
  very end — bit-identical across engines;
- timestamps in output are formatted strings (engine-neutral);
- every window ORDER BY carries a unique tie-break column;
- no now()-relative predicates: "now" is a deterministic scalar
  (max timestamp in the data) per SURVEY §2.8.7.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from crypto_lakehouse_spark.io import register_views


@dataclass
class Query:
    name: str
    spark_fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL; None => rows-only check
    tags: tuple[str, ...] = ()
    doc: str = ""
    bench: bool = field(default=True)  # include in bench.py headline set
    # When set, bench.py times THIS plan instead of spark_fn. Used by
    # sketch queries whose correctness-checked spark_fn adds an
    # exactness gate (the only way a nondeterministic estimate can be
    # value-checked): the gate's exact aggregate would dominate the
    # bench and misrepresent the deployed sketch-only plan, so the
    # bench path stays pure while the driver hash-checks the gated
    # twin. bench_fn output is a superset check: the SAME sketch
    # expression feeds both plans.
    bench_fn: Callable[[SparkSession, str], DataFrame] | None = None


REGISTRY: dict[str, Query] = {}

# Every registered query (re)sets its session confs at call time: its
# own `confs`, plus this key unless it declares it. Because EVERY query
# applies its map on entry, an override can never leak into the next
# query — the next call restores the default. This is the per-job
# shuffle sizing a cluster submitter would do, expressed at query
# granularity: shuffles START at initialPartitionNum and AQE coalesces
# down to the 64 MB advisory size. The default is resolved PER SESSION
# at call time (defaultParallelism == core count on local[N],
# executor-core sum on a cluster; cheap for the sub-second tier —
# measured 2-3x slower at a blanket 256); queries with multi-GB
# shuffle intermediates (the PPJoin verify join shuffles candidates x
# 64-element arrays) declare a wider start, because AQE can merge
# small partitions but can never SPLIT an oversized non-skew one
# (sf10 ramp: 200 s at width 32 vs 75 s at 128 for the same plan).
_INITIAL_PARTITIONS_KEY = (
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
)


def _default_initial_partitions(spark: SparkSession) -> str:
    try:
        return str(max(1, spark.sparkContext.defaultParallelism))
    except Exception:
        return "32"  # connect-style sessions without a SparkContext


def _strip_trailing_sort(df: DataFrame) -> DataFrame:
    """Elide a query's top-level global ORDER BY from the executed
    plan (r13 optimization round, guide §2.4 "an orderBy used only to
    make output deterministic").

    Every query's declared SQL carries a final ORDER BY as the
    human-readable report contract, but the CHECKED contract — the
    driver's hash and the local oracle mirror (`oracle.compare`) —
    canonicalizes by sorting rows before comparing, i.e. it is
    order-insensitive by design (25 queries, e.g. ohlcv_1m and
    silver_trades, have shipped green for 10+ rounds with NO final
    ORDER BY on either side). The sort is therefore pure presentation,
    and it is expensive out of proportion: a global Sort plans a
    RangePartitioning exchange whose bounds sampling RE-EXECUTES the
    entire child plan once before the real pass (measured at sf0.1:
    doc_normalize 1.06 -> 0.30 s, doc_langid 0.51 -> 0.09 s,
    gopher_quality_rules 0.56 -> 0.09 s from this strip alone) — the
    classic cost a production pipeline avoids by dropping the ORDER BY
    when the sink doesn't need it (a noop/ETL sink doesn't; a
    paginated report would re-add it).

    Mechanics: exactly ONE top-level logical `Sort(global=true)` node
    is removed — nothing below it changes, so window/aggregation
    ordering semantics inside the query are untouched, and a trailing
    `LIMIT` (GlobalLimit over Sort) keeps its sort because the Sort is
    then not the top node. Uses the same py4j-internals style as
    `operators.checkpointing.release_lineage`, with the identical
    contract: any mismatch (future Spark renames, Connect sessions)
    falls back to the unstripped frame — correctness never depends on
    the strip. Set SPARK_GRAFT_KEEP_FINAL_SORT=1 to disable (ordered
    presentation output, debugging)."""
    import os

    if os.environ.get("SPARK_GRAFT_KEEP_FINAL_SORT") == "1":
        return df
    lp = None
    try:
        session = df.sparkSession
        jvm = session._jvm  # noqa: SLF001
        lp = df._jdf.queryExecution().logical()  # noqa: SLF001

        def _is_global_sort(node) -> bool:
            return node.getClass().getSimpleName() == "Sort" and getattr(
                node, "global"
            )()

        new_lp = None
        if _is_global_sort(lp):
            new_lp = lp.child()
        elif lp.getClass().getSimpleName() == "UnresolvedWith":
            # SQL text with CTEs parses to UnresolvedWith(mainQuery,
            # cteRelations); the final ORDER BY is the main query's
            # top. cteRelations is a field, not a child, so the node
            # is unary and withNewChildren swaps just the main query.
            child = lp.child()
            if _is_global_sort(child):
                new_lp = lp.withNewChildren(
                    jvm.PythonUtils.toSeq([child.child()])
                )
        # A trailing LIMIT (GlobalLimit > LocalLimit > Sort) keeps its
        # sort in both shapes: the Sort is then not the inspected node,
        # and top-k semantics depend on it.
        if new_lp is not None:
            jdf = jvm.org.apache.spark.sql.classic.Dataset.ofRows(
                session._jsparkSession, new_lp  # noqa: SLF001
            )
            return DataFrame(jdf, session)
    except Exception as exc:
        # ADVICE r13: the strip rides py4j internals; on a Spark whose
        # node/class names moved, the bare fallback would silently
        # re-enable every presentation sort (a perf regression with no
        # signal). Warn ONCE per process so the regression is
        # diagnosable, then keep degrading gracefully.
        global _STRIP_FALLBACK_WARNED
        if not _STRIP_FALLBACK_WARNED:
            _STRIP_FALLBACK_WARNED = True
            import logging

            logging.getLogger(__name__).warning(
                "_strip_trailing_sort fell back to the unstripped plan "
                "(%s: %s) — presentation-sort elision is OFF; check "
                "Spark-internal class names after an upgrade",
                type(exc).__name__,
                exc,
            )
    return df


_STRIP_FALLBACK_WARNED = False

# Shorthand used by heavy queries.
WIDE_SHUFFLE = {
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum": "256",
}

# Union of every conf key ANY registered query declares via `confs`.
# Populated at decoration time (module import), so it is complete
# before the first query executes.  The per-call wrapper UNSETS any
# key in this union that the current query does not itself set —
# otherwise a key declared by only a few queries (e.g. the idf_cosine
# pair's raised adaptive autoBroadcastJoinThreshold) would silently
# leak into every subsequent query in the session, changing their
# plans.  Unset restores Spark's built-in default, which is exactly
# the state a query that never declared the key expects.
_ALL_DECLARED_CONF_KEYS: set[str] = set()


def query(
    name: str,
    oracle: str | None = None,
    tags: tuple[str, ...] = (),
    bench: bool = True,
    bench_fn: Callable[[SparkSession, str], DataFrame] | None = None,
    confs: dict[str, str] | None = None,
) -> Callable:
    """Decorator registering a query implementation.

    The decorated function has signature (spark, sf_dir) -> DataFrame
    and is responsible for loading what it needs via
    `crypto_lakehouse_spark.io` (which registers temp views).
    `confs` is applied on every call (and therefore reset by the next
    query's call — no leakage between queries). The registered
    wrapper is named `name`.
    """

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        merged = dict(confs or {})
        _ALL_DECLARED_CONF_KEYS.update(merged)

        def _with_confs(inner: Callable) -> Callable:
            def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
                effective = dict(merged)
                effective.setdefault(
                    _INITIAL_PARTITIONS_KEY,
                    _default_initial_partitions(spark),
                )
                for key in _ALL_DECLARED_CONF_KEYS - effective.keys():
                    try:  # restore Spark's default for keys set only
                        spark.conf.unset(key)  # by OTHER queries
                    except Exception:
                        pass
                for key, val in effective.items():
                    try:
                        spark.conf.set(key, val)
                    except Exception:
                        pass  # a locked-down external session still works
                return _strip_trailing_sort(inner(spark, sf_dir))

            wrapped.__name__ = name
            wrapped.__doc__ = inner.__doc__
            wrapped.__wrapped__ = inner
            return wrapped

        REGISTRY[name] = Query(
            name=name,
            spark_fn=_with_confs(fn),
            oracle=oracle,
            tags=tags,
            doc=(fn.__doc__ or "").strip(),
            bench=bench,
            bench_fn=_with_confs(bench_fn) if bench_fn else None,
        )
        return REGISTRY[name].spark_fn

    return deco


def sql_query(
    name: str,
    spark_sql: str,
    oracle: str | None = None,
    tags: tuple[str, ...] = (),
    tables: list[str] | None = None,
    bench: bool = True,
    prepare: Callable[[SparkSession, str], object] | None = None,
    module: str | None = None,
) -> None:
    """Register a query that is one Spark SQL string paired with its
    DuckDB `oracle` (None: the same dialect-common string runs on
    both engines).

    Each call first registers `tables` as temp views (every table when
    None) or, when the SQL reads a session fixture's view, runs
    `prepare(spark, sf_dir)` in their place. The generated function
    reports `module`, by default the caller's module (as
    `collections.namedtuple` does), as its `__module__`: the query
    belongs to the module that declares it."""

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        if prepare is None:
            register_views(spark, sf_dir, tables)
        else:
            prepare(spark, sf_dir)
        return spark.sql(spark_sql)

    fn.__module__ = module or sys._getframe(1).f_globals["__name__"]  # noqa: SLF001
    fn.__doc__ = (
        "Paired-dialect SQL (semantics in the declaring module's "
        f"docstring). Spark SQL:\n{spark_sql}"
    )
    query(name, oracle=oracle or spark_sql, tags=tags, bench=bench)(fn)
