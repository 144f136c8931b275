"""Session fixtures: one primitive for memo, eviction, views and metering.

A session fixture is a relation (or a small piece of learned state)
that several registered queries reuse inside one SparkSession.
`@fixture(name, view=None)` turns a builder `build(spark, sf_dir)`
into the cached accessor the queries call. The contract:

- One entry per (name, io.session_key(spark)), holding
  (sf_dir, value). A call with the stored sf_dir returns the stored
  result. A call with another sf_dir first releases the old value
  (`release_lineage` on every DataFrame in it, each DataFrame of a
  tuple included), then builds.
- `view=` is one temp-view name, or a tuple of names matched to a
  tuple value; the primitive registers them after the build and the
  call returns the name(s). Without `view=` the call returns the value
  itself: a DataFrame, a tuple or a scalar.
- The fixtures a build calls are its dependencies. A stored hit calls
  them again (each one a hit unless something evicted it meanwhile),
  so the views a consumer reads beside this fixture still belong to
  the same sf_dir.
- Every build is metered into `BUILD_SECONDS[(name, sf_dir)]`,
  cumulatively (a fixture evicted and rebuilt is charged both builds),
  and charged only its own time: nested fixture builds are subtracted
  and charged to their own names. bench.py emits one `fixture:<name>`
  row per entry of `builds_for(sf_dir)`.
- Names and views are unique: registering a name or a view that is
  already bound raises ValueError when the decorator runs.

Why fixtures are `truncate_lineage`d (checkpoint / localCheckpoint)
and not `persist()`ed: Spark inlines a CTE at every reference, so a
relation a plan reads several times is recomputed per reference. A
view over a merely-cached DataFrame LOSES the cache whenever the
consuming SQL references it inside a WITH CTE: Spark 4.1's CTE
resolution wraps the view plan in CTERelationDef/Ref and CacheManager
replacement no longer matches, silently recomputing the fixture per
reference (measured 72 s vs 21 s on the candidate self-join at sf10).
A checkpointed plan IS its materialized rows (LogicalRDD), so every
reference, CTE or not, scans the fixture. Eagerness also means no
double compute when a fixture's first consumer hits it from two
concurrent stages.

`hold_view(spark, view, df)` is the per-call sibling for relations a
single query materializes on every call: the previous call's frame is
released only when the next call replaces it, because the plan a
query returns still reads the view.
"""

from __future__ import annotations

import functools
import time

from pyspark.sql import DataFrame

from crypto_lakehouse_spark.io import session_key
from crypto_lakehouse_spark.operators.checkpointing import (
    release_lineage,
    truncate_lineage,
)

# (fixture name, sf_dir) -> cumulative build seconds in this process.
BUILD_SECONDS: dict[tuple[str, str], float] = {}

# (fixture name, session key) -> (sf_dir, value, dependency accessors).
_ENTRIES: dict[tuple[str, str], tuple[str, object, list]] = {}
_NAMES: set[str] = set()
_VIEWS: set[str] = set()
# One frame per open build: [nested build seconds, dependencies called].
_OPEN: list[list] = []
# (session key, view) -> the frame `hold_view` registered under it.
_HELD: dict[tuple[str, str], DataFrame] = {}


def _release(value: object) -> None:
    for v in value if isinstance(value, tuple) else (value,):
        if isinstance(v, DataFrame):
            release_lineage(v)


def fixture(name: str, view: str | tuple[str, ...] | None = None):
    """Decorate `build(spark, sf_dir)` as the session fixture `name`
    (contract in the module docstring)."""
    views = view if isinstance(view, tuple) else (view,) if view else ()
    if name in _NAMES or _VIEWS.intersection(views) or len(set(views)) < len(views):
        raise ValueError(f"fixture {name!r}: name or view already bound")
    _NAMES.add(name)
    _VIEWS.update(views)

    def decorate(build):
        @functools.wraps(build)
        def get(spark, sf_dir: str):
            if _OPEN:
                _OPEN[-1][1].append(get)
            key = (name, session_key(spark))
            entry = _ENTRIES.get(key)
            if entry is not None and entry[0] == sf_dir:
                for dep in entry[2]:
                    dep(spark, sf_dir)
            else:
                if entry is not None:
                    del _ENTRIES[key]
                    _release(entry[1])
                _OPEN.append([0.0, []])
                t0 = time.perf_counter()
                try:
                    value = build(spark, sf_dir)
                finally:
                    secs = time.perf_counter() - t0
                    nested, deps = _OPEN.pop()
                    if _OPEN:
                        _OPEN[-1][0] += secs
                fkey = (name, sf_dir)
                BUILD_SECONDS[fkey] = BUILD_SECONDS.get(fkey, 0.0) + secs - nested
                frames = value if isinstance(view, tuple) else (value,)
                for v, df in zip(views, frames):
                    df.createOrReplaceTempView(v)
                entry = _ENTRIES[key] = (sf_dir, value, list(dict.fromkeys(deps)))
            return view if view else entry[1]

        return get

    return decorate


def hold_view(spark, view: str, df: DataFrame) -> DataFrame:
    """`truncate_lineage` `df`, register it as `view`, release the
    frame `view` held before in this session, and return the new
    frame."""
    df = truncate_lineage(df, spark)
    df.createOrReplaceTempView(view)
    key = (session_key(spark), view)
    old = _HELD.get(key)
    _HELD[key] = df
    if old is not None:
        release_lineage(old)
    return df


def builds_for(sf_dir: str) -> dict[str, float]:
    """All fixture builds recorded against `sf_dir`, by fixture name."""
    return {
        name: secs for (name, fdir), secs in BUILD_SECONDS.items() if fdir == sf_dir
    }
