"""Tests of the benchmark's own helpers. They need no Spark session:

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import inputs
import medallion
from meter import (
    Span,
    Tracer,
    geomean,
    op_count,
    overhead_pct,
    percentile,
    reportable_percentile,
    self_times,
    slope,
    walk_files,
    per_table,
    written_since,
)


def test_percentile_interpolates_like_numpy():
    xs = [3.0, 1.0, 4.0, 1.5, 9.0, 2.6, 5.0]
    for p in (0, 10, 50, 90, 100):
        assert percentile(xs, p) == pytest.approx(float(np.percentile(xs, p)))


def test_tail_percentile_needs_ten_samples_beyond_it():
    hundred = [float(i) for i in range(1, 101)]
    assert reportable_percentile(hundred, 90) == pytest.approx(90.1)
    assert reportable_percentile(hundred[:90], 90) is None  # 9 samples above
    assert reportable_percentile([], 90) is None
    assert reportable_percentile(hundred[:11], 50) is None  # 5 above the median


def test_geomean_weighs_relative_changes_equally():
    assert geomean([2.0, 8.0]) == pytest.approx(4.0)
    # Doubling the fast query moves it as much as doubling the slow one.
    assert geomean([0.2, 8.0]) == pytest.approx(geomean([0.1, 16.0]))
    with pytest.raises(ValueError):
        geomean([])


def test_op_count_fills_the_seconds_with_a_floor():
    assert op_count(20, 2.5, 3) == 8
    assert op_count(20, 8.0, 3) == 3
    assert op_count(1, 2.5, 3) == 3


def test_slope_of_tick_times():
    assert slope([1.0, 2.0, 3.0, 4.0]) == pytest.approx(1.0)
    assert slope([5.0, 5.0, 5.0]) == 0.0
    assert slope([7.0]) == 0.0


def test_tracing_overhead_compares_traced_with_untraced_ops():
    assert overhead_pct([(1.1, True), (1.0, False), (1.3, True), (1.0, False)]) == pytest.approx(20.0)
    assert overhead_pct([(1.0, True)]) == 0.0


def test_self_time_subtracts_the_union_of_children():
    spans = [
        Span(0, "tick", None, 0.0, 10.0),
        Span(1, "a", 0, 1.0, 3.0),
        Span(2, "b", 0, 2.0, 5.0),  # overlaps a: union 1..5
        Span(3, "c", 0, 9.0, 12.0),  # clipped to the parent's end
        Span(4, "d", 2, 2.5, 3.5),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 4.0 - 1.0)
    assert st[2] == pytest.approx(3.0 - 1.0)
    assert st[4] == pytest.approx(1.0)


def test_breakdown_accounts_for_the_whole_op():
    tr = Tracer(enabled=True)
    with tr.span("tick") as tick:
        with tr.span("pipeline.silver"):
            pass
        with tr.span("pipeline.gold"):
            pass
    parts = tr.breakdown(tick)
    assert set(parts) == {"pipeline.silver", "pipeline.gold", "(remainder)"}
    assert sum(parts.values()) == pytest.approx(tick.duration)


def test_untraced_spans_time_but_are_not_kept():
    tr = Tracer(enabled=False)
    with tr.span("tick") as sp:
        pass
    assert sp.duration >= 0.0 and tr.spans == []


def _digests(root: str) -> dict[str, str]:
    out = {}
    for dirpath, _, files in os.walk(root):
        for fn in files:
            p = os.path.join(dirpath, fn)
            with open(p, "rb") as f:
                out[os.path.relpath(p, root)] = hashlib.sha256(f.read()).hexdigest()
    return out


ALL_TABLES = inputs.TABLES
FIXED_TABLES = {"region.parquet", "nation.parquet"}  # constant dimensions


def test_same_seed_writes_byte_identical_tables(tmp_path):
    inputs.write_tables(7, str(tmp_path / "a"), ALL_TABLES)
    inputs.write_tables(7, str(tmp_path / "b"), ALL_TABLES)
    a = _digests(str(tmp_path / "a"))
    assert len(a) == len(ALL_TABLES)
    assert a == _digests(str(tmp_path / "b"))


def test_another_seed_changes_every_generated_table(tmp_path):
    inputs.write_tables(7, str(tmp_path / "a"), ALL_TABLES)
    inputs.write_tables(8, str(tmp_path / "b"), ALL_TABLES)
    a, b = _digests(str(tmp_path / "a")), _digests(str(tmp_path / "b"))
    for name in a:
        if name in FIXED_TABLES:
            assert a[name] == b[name]
        else:
            assert a[name] != b[name], name


def _feed() -> pa.Table:
    n = 24 * 200
    rng = np.random.default_rng(0)
    start = np.datetime64("2024-01-01T00:00:00", "us")
    ts = start + np.sort(rng.integers(0, 200 * 3_600_000_000, n)).astype("timedelta64[us]")
    return pa.table(
        {
            "key": ["click"] * n,
            "value": [f'{{"type": "match", "trade_id": "{i}"}}' for i in range(n)],
            "offset": pa.array(np.arange(n), pa.int64()),
            "partition": pa.array(np.arange(n) % 4, pa.int32()),
            "ingested_at": pa.array(ts, pa.timestamp("us", tz="UTC")),
        }
    )


def test_feed_files_repeat_per_seed_and_change_with_it(tmp_path):
    feed = _feed()
    plans = {
        name: medallion.write_feed_files(feed, str(tmp_path / name), seed)
        for name, seed in (("a", 3), ("b", 3), ("c", 4))
    }
    a, b, c = (_digests(str(tmp_path / n)) for n in "abc")
    assert a == b
    assert a != c
    plan = plans["a"]
    assert medallion.START_HOURS[0] <= plan["start_hour"] < medallion.START_HOURS[1]
    assert len(plan["ticks"]) == medallion.MAX_TICKS
    staged = sum(pq.read_metadata(p).num_rows for p in [plan["history"], *plan["ticks"]])
    assert staged <= feed.num_rows
    # The pre-warm backfills a copy of the same history.
    pw_history = os.path.join(plan["prewarm"]["stage"], os.path.basename(plan["history"]))
    with open(pw_history, "rb") as f, open(plan["history"], "rb") as g:
        assert f.read() == g.read()


def test_warehouse_walk_counts_partitions_and_rewrites(tmp_path):
    part = tmp_path / "silver" / "_trade_date=2024-01-04"
    part.mkdir(parents=True)
    (part / "a.parquet").write_bytes(b"x" * 10)
    (part / ".a.parquet.crc").write_bytes(b"c")
    (tmp_path / "silver" / "_schema.json").write_text("{}")
    (tmp_path / "silver" / "_staging").mkdir()
    (tmp_path / "silver" / "_staging" / "b.parquet").write_bytes(b"y")
    before = walk_files(str(tmp_path))
    assert list(before) == [str(part / "a.parquet")]
    (part / "b.parquet").write_bytes(b"z" * 5)
    after = walk_files(str(tmp_path))
    assert written_since(before, after) == (1, 5)
    assert per_table(str(tmp_path), after) == {"silver": [2, 15]}
