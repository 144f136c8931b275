"""Session-memo keying, the session-fixture primitive, and layout-cache
hygiene.

Failure modes pinned here:

- memo aliasing: keying per-session caches on `id(spark)` lets a GC'd
  session's address be reused by a new session, which then inherits
  DataFrames bound to a dead JVM session. The fix is a uuid stamped on
  the session object (`io.session_key`) — an attribute can never
  survive onto a different object, whatever its address.
- cache poisoning / unbounded growth: the layout-compaction cache must
  live in a per-user 0700 directory the engine verified it owns, and
  stale entries (source regenerated → mtime/size key changed) must be
  pruned instead of accumulating forever.
- hand-copied fixture memos drifting apart: every session fixture goes
  through `queries.fixture_meter.fixture`, which rejects a duplicate
  name or view, charges each build only its own time, and releases
  every checkpoint of a superseded sf_dir.
"""

from __future__ import annotations

import os
import shutil

import pyarrow.parquet as pq
import pytest

from crypto_lakehouse_spark import io as io_mod
from crypto_lakehouse_spark.io import load_table, session_key

SRC = "/root/testdata/sf0.001"


def test_session_key_stable_and_distinct(spark):
    s1 = spark.newSession()
    k1 = session_key(s1)
    assert session_key(s1) == k1, "key must be stable for the same session"
    s2 = spark.newSession()
    assert session_key(s2) != k1, "distinct sessions must get distinct keys"
    assert session_key(spark) not in (k1, session_key(s2))


def test_session_key_never_aliases_after_gc(spark):
    """Even if a new session object lands on a dead session's memory
    address (the id() failure mode), its key differs — the uuid lives
    on the object, not the address."""
    import gc

    s1 = spark.newSession()
    k1 = session_key(s1)
    addr = id(s1)
    del s1
    gc.collect()
    # Allocate sessions until one reuses the address, or give up — the
    # property holds either way because the key is object-stamped.
    for _ in range(10):
        s = spark.newSession()
        k = session_key(s)
        assert k != k1
        if id(s) == addr:
            break


def test_table_memo_is_per_session(spark):
    s1 = spark.newSession()
    s2 = spark.newSession()
    a1 = load_table(s1, SRC, "region")
    a1_again = load_table(s1, SRC, "region")
    a2 = load_table(s2, SRC, "region")
    assert a1 is a1_again, "same session must hit the memo"
    assert a1 is not a2, "different sessions must not share memo entries"
    # Each frame is bound to its own session.
    assert a1.sparkSession is s1
    assert a2.sparkSession is s2


def test_cache_root_is_per_user_and_private():
    root = io_mod._CACHE_ROOT
    if os.environ.get("SPARK_GRAFT_LAYOUT_CACHE"):
        pytest.skip("cache root overridden by env")
    assert str(os.getuid()) in os.path.basename(root)
    assert io_mod._trusted_cache_root()
    st = os.stat(root)
    assert st.st_uid == os.getuid()
    assert (st.st_mode & 0o777) == 0o700


def test_stale_cache_entries_pruned(spark, tmp_path):
    """Regenerating a source (new mtime/size) must retire the old cache
    entry rather than accumulate copies unboundedly."""
    if not io_mod._trusted_cache_root():
        pytest.skip("cache root not writable")
    tbl = pq.read_table(f"{SRC}/events.parquet")
    dest = str(tmp_path / "events.parquet")
    pq.write_table(tbl, dest, row_group_size=1_000_000_000)

    target = spark.sparkContext.defaultParallelism
    first = io_mod._compacted_path(spark, dest, "events", target)
    assert first is not None and os.path.isdir(first)

    # "Regenerate": rewrite with different size/mtime.
    pq.write_table(tbl.slice(0, max(1, tbl.num_rows // 2)), dest,
                   row_group_size=1_000_000_000)
    second = io_mod._compacted_path(spark, dest, "events", target)
    assert second is not None and second != first
    assert not os.path.isdir(first), "stale entry must be pruned"
    shutil.rmtree(second, ignore_errors=True)


def test_live_sibling_parallelism_not_pruned(spark, tmp_path):
    """Two sessions with different core counts cache side-by-side for
    the SAME live source: compacting at one parallelism must never
    evict the other's entry (round-12 incident — a local[8] probe
    pruned the local[32] sweep's entry out from under an in-flight
    scan). Only a different mtime+size key is stale."""
    if not io_mod._trusted_cache_root():
        pytest.skip("cache root not writable")
    tbl = pq.read_table(f"{SRC}/events.parquet")
    dest = str(tmp_path / "events.parquet")
    pq.write_table(tbl, dest, row_group_size=1_000_000_000)

    a = io_mod._compacted_path(spark, dest, "events", 8)
    b = io_mod._compacted_path(spark, dest, "events", 32)
    assert a and b and a != b
    assert os.path.isdir(a), "sibling-parallelism entry was evicted"
    assert os.path.isdir(b)
    for d in (a, b):
        shutil.rmtree(d, ignore_errors=True)


def test_unparseable_string_timestamps_fail_loudly(spark, tmp_path):
    """With ANSI off, to_timestamp silently NULLs unparseable text; the
    normalizer must refuse that degradation instead (ADVICE r4)."""
    import pyarrow as pa

    tbl = pa.table({"event_id": [1, 2], "ts": ["2024-01-01 00:00:00", "not-a-time"]})
    pq.write_table(tbl, str(tmp_path / "events.parquet"))
    with pytest.raises(ValueError, match="refusing to degrade"):
        # .count() via the strict probe runs inside load_table already.
        load_table(spark.newSession(), str(tmp_path), "events")


def test_release_lineage_frees_checkpoint_blocks(spark):
    """DataFrame.unpersist is a NO-OP on checkpointed frames (it only
    clears CacheManager entries, not the LogicalRDD's block storage);
    release_lineage must actually free the blocks — the fixture-memo
    eviction path relies on it (ADVICE r9)."""
    from crypto_lakehouse_spark.operators.checkpointing import (
        release_lineage,
        truncate_lineage,
    )

    sc = spark.sparkContext

    def n_persisted() -> int:
        return len(sc._jsc.sc().getRDDStorageInfo())

    base = n_persisted()
    cp = truncate_lineage(
        spark.range(50_000).selectExpr("id", "id * 2 AS y"), spark
    )
    assert n_persisted() == base + 1
    cp.unpersist()  # documented no-op on checkpointed frames
    assert n_persisted() == base + 1
    release_lineage(cp)
    assert n_persisted() == base


def test_release_lineage_plain_persist_fallback(spark):
    """Non-checkpointed persisted frames release through the normal
    unpersist path."""
    from crypto_lakehouse_spark.operators.checkpointing import (
        release_lineage,
    )

    sc = spark.sparkContext

    def n_persisted() -> int:
        return len(sc._jsc.sc().getRDDStorageInfo())

    base = n_persisted()
    df = spark.range(10_000).persist()
    df.count()
    assert n_persisted() == base + 1
    release_lineage(df)
    assert n_persisted() == base


def test_query_conf_keys_reset_between_queries(spark):
    """A conf key declared by ONE query (e.g. the idf-cosine pair's
    raised adaptive broadcast threshold) must not leak into the next
    query's session state (ADVICE r9: plans of unrelated queries were
    silently changing)."""
    from crypto_lakehouse_spark.queries import load_all
    from crypto_lakehouse_spark.queries.registry import REGISTRY

    load_all()
    sf = "/root/testdata/sf0.001"
    key = "spark.sql.adaptive.autoBroadcastJoinThreshold"
    REGISTRY["idf_cosine_thresholded"].spark_fn(spark, sf)
    assert spark.conf.get(key, None) == str(64 * 1024 * 1024)
    REGISTRY["gini_doc_length_by_source"].spark_fn(spark, sf)
    assert spark.conf.get(key, None) is None


def _view_rdd_id(spark, view: str) -> int:
    """Id of the checkpointed RDD behind a temp view (the LogicalRDD
    leaf of its analyzed plan)."""
    plan = spark.table(view)._jdf.queryExecution().analyzed()
    return plan.collectLeaves().head().rdd().id()


def test_fixture_name_and_view_must_be_unique():
    """A second fixture under a bound name or view raises when the
    decorator runs, not when two builders later clobber one entry."""
    from crypto_lakehouse_spark.queries import dedup_ops  # noqa: F401
    from crypto_lakehouse_spark.queries.fixture_meter import fixture

    fixture("uniq_probe", view="uniq_probe_view")
    with pytest.raises(ValueError):
        fixture("uniq_probe")
    with pytest.raises(ValueError):
        fixture("uniq_probe_other", view="uniq_probe_view")
    with pytest.raises(ValueError):
        fixture("uniq_probe_pair", view=("uniq_probe_a", "uniq_probe_a"))
    with pytest.raises(ValueError):
        fixture("ranked_shingles", view="shingle_ranked_persisted")
    # a rejected registration binds nothing
    fixture("uniq_probe_other")


def test_nested_fixture_build_charged_its_own_time():
    """An outer build that triggers an inner build is charged only its
    own time; the inner build's time goes to the inner fixture."""
    import time
    import types

    from crypto_lakehouse_spark.queries.fixture_meter import builds_for, fixture

    @fixture("nested_probe_inner")
    def inner(spark, sf_dir):
        time.sleep(0.3)
        return 1

    @fixture("nested_probe_outer")
    def outer(spark, sf_dir):
        time.sleep(0.2)
        return inner(spark, sf_dir) + 1

    stub = types.SimpleNamespace()  # session_key only stamps an attribute
    sf = "nested_probe_sf"
    assert outer(stub, sf) == 2
    secs = builds_for(sf)
    assert secs["nested_probe_outer"] == pytest.approx(0.2, abs=0.1)
    assert secs["nested_probe_inner"] == pytest.approx(0.3, abs=0.1)
    assert outer(stub, sf) == 2
    assert builds_for(sf) == secs, "a repeat call must not rebuild"


def test_tuple_fixture_releases_every_checkpoint_on_sf_switch(spark):
    """cc_edges holds two checkpoints (the t=3/10 prefix and the edge
    list); an sf_dir switch must release both, so the persistent-RDD
    count does not grow when the session moves to another sf_dir."""
    from crypto_lakehouse_spark.queries.dedup_ops import cached_cc_edges

    session = spark.newSession()
    jsc = spark.sparkContext._jsc
    views = cached_cc_edges(session, SRC)
    old = {_view_rdd_id(session, v) for v in views}
    n_after_sf = jsc.getPersistentRDDs().size()
    assert all(jsc.getPersistentRDDs().containsKey(i) for i in old)
    assert cached_cc_edges(session, "/root/testdata/sf0.01") == views
    assert not any(jsc.getPersistentRDDs().containsKey(i) for i in old)
    # The JVM's ContextCleaner may drop unrelated garbage meanwhile, so
    # the count can only shrink, never grow.
    assert jsc.getPersistentRDDs().size() <= n_after_sf


def test_no_module_level_memo_dicts_in_queries():
    """Session caching lives in queries/fixture_meter.py only: no query
    module may bind a module-level `_*_MEMO` or `_*_PREV` again."""
    import ast
    import pathlib
    import re

    import crypto_lakehouse_spark.queries as queries_pkg

    hits = []
    for path in sorted(pathlib.Path(queries_pkg.__file__).parent.glob("*.py")):
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, ast.Assign):
                targets = node.targets
            elif isinstance(node, ast.AnnAssign):
                targets = [node.target]
            else:
                continue
            hits += [
                f"{path.name}:{node.lineno} {t.id}"
                for t in targets
                if isinstance(t, ast.Name) and re.fullmatch(r"_\w*_(MEMO|PREV)", t.id)
            ]
    assert not hits, "use queries.fixture_meter.fixture / hold_view: " + ", ".join(hits)
