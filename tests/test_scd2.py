"""SCD2 dimension maintenance: history chains, idempotency,
point-in-time lookup."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from crypto_lakehouse_spark.pipeline.scd import as_of, current_of, scd2_apply
from crypto_lakehouse_spark.pipeline.versioned import VersionedTable

T0 = datetime(2026, 1, 1)
T1 = datetime(2026, 2, 1)
T2 = datetime(2026, 3, 1)


def _batch(spark, rows):
    return spark.createDataFrame(rows, ["cust_id", "segment", "effective_ts"])


@pytest.fixture()
def dim(spark, tmp_path):
    return VersionedTable(spark, str(tmp_path / "dim_customer"))


def test_scd2_history_chain(spark, dim):
    c = scd2_apply(dim, _batch(spark, [(1, "retail", T0), (2, "corp", T0)]), "cust_id")
    assert c == {"new": 2, "changed": 0, "unchanged": 0}

    c = scd2_apply(dim, _batch(spark, [(1, "premium", T1), (2, "corp", T1)]), "cust_id")
    assert c == {"new": 0, "changed": 1, "unchanged": 1}

    c = scd2_apply(dim, _batch(spark, [(1, "premium", T2), (3, "retail", T2)]), "cust_id")
    assert c == {"new": 1, "changed": 0, "unchanged": 1}

    rows = {
        (r.cust_id, r.segment, r.valid_from, r.valid_to, r.is_current)
        for r in dim.read().collect()
    }
    assert rows == {
        (1, "retail", T0, T1, False),
        (1, "premium", T1, None, True),
        (2, "corp", T0, None, True),
        (3, "retail", T2, None, True),
    }

    cur = current_of(dim)
    assert cur.count() == 3
    assert cur.groupBy("cust_id").count().filter(F.col("count") > 1).count() == 0


def test_scd2_point_in_time(spark, dim):
    scd2_apply(dim, _batch(spark, [(1, "retail", T0)]), "cust_id")
    scd2_apply(dim, _batch(spark, [(1, "premium", T1)]), "cust_id")
    jan = {(r.cust_id, r.segment) for r in as_of(dim, datetime(2026, 1, 15)).collect()}
    feb = {(r.cust_id, r.segment) for r in as_of(dim, datetime(2026, 2, 15)).collect()}
    assert jan == {(1, "retail")} and feb == {(1, "premium")}


def test_scd2_rejects_duplicate_keys_in_batch(spark, dim):
    with pytest.raises(ValueError, match="multiple updates"):
        scd2_apply(dim, _batch(spark, [(1, "a", T0), (1, "b", T0)]), "cust_id")


def test_scd2_same_instant_correction_replaces_in_place(spark, dim):
    """An update whose effective_ts equals the current row's
    valid_from is a correction of that version: replaced in place —
    no zero-width [t, t) close row, no duplicate (key, valid_from)."""
    scd2_apply(dim, _batch(spark, [(1, "retail", T0)]), "cust_id")
    c = scd2_apply(dim, _batch(spark, [(1, "premium", T0)]), "cust_id")
    assert c == {"new": 0, "changed": 1, "unchanged": 0}

    rows = [
        (r.cust_id, r.segment, r.valid_from, r.valid_to, r.is_current)
        for r in dim.read().collect()
    ]
    assert rows == [(1, "premium", T0, None, True)]

    # And a normal later change still chains history off the corrected
    # version.
    scd2_apply(dim, _batch(spark, [(1, "corp", T1)]), "cust_id")
    got = {
        (r.cust_id, r.segment, r.valid_from, r.valid_to, r.is_current)
        for r in dim.read().collect()
    }
    assert got == {
        (1, "premium", T0, T1, False),
        (1, "corp", T1, None, True),
    }
