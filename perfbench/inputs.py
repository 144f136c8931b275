"""Seeded generator for the benchmark's input tables.

Writes the ten tables the engine reads (`crypto_lakehouse_spark.io.TABLES`)
as single-row-group parquet files, in the shape and at the size of the
sf0.1 test data: the same columns, types, key ranges and value domains.
The same seed writes byte-identical files; another seed changes every
value column while keeping row counts and domains, so runs with
different seeds do the same amount of work on different data.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts of the sf0.1 tables.
SF01_ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]

EVENT_DAYS = 30
EVENT_START = np.datetime64("2024-01-01T00:00:00", "us")

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_DATE_LO = np.datetime64("1995-01-01", "D")
_DATE_HI = np.datetime64("2001-11-04", "D")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _dates(rng: np.random.Generator, n: int) -> pa.Array:
    span = int((_DATE_HI - _DATE_LO).astype(int))
    days = _DATE_LO + rng.integers(0, span, n).astype("timedelta64[D]")
    return pa.array(days.astype("datetime64[us]"), pa.timestamp("us"))


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Token soup over a 30-word vocabulary; 5% of documents copy an
    earlier one and append the token `dup`, a few copy one verbatim,
    so the near-duplicate and exact-duplicate operators find work."""
    words = np.array(_WORDS)
    texts: list[str] = []
    for i in range(n):
        roll = rng.random()
        if i > 0 and roll < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 0 and roll < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), int(rng.integers(10, 101)))]))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": [_LANGS[k] for k in rng.integers(0, len(_LANGS), n)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    vecs = rng.standard_normal((n, dim)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32))
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def events_table(rng: np.random.Generator, n: int = SF01_ROWS["events"]) -> pa.Table:
    """`events`: ids in time order over 30 days, 1500 users, five
    event types, exponential values, a small JSON `props`."""
    span_us = EVENT_DAYS * 86_400 * 1_000_000
    offs = np.sort(rng.choice(span_us, size=n, replace=False))
    ts = EVENT_START + offs.astype("timedelta64[us]")
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 1500, n), pa.int64()),
            "event_type": [_EVENT_TYPES[k] for k in rng.integers(0, 5, n)],
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def _tables(seed: int, names: list[str]) -> dict[str, pa.Table]:
    """Each table draws from its own stream, so a table's bytes depend
    only on (seed, table) and not on which other tables are written."""
    out: dict[str, pa.Table] = {}
    for idx, name in enumerate(TABLES):
        if name not in names:
            continue
        rng = np.random.default_rng([seed, idx])
        n = SF01_ROWS.get(name, 0)
        if name == "region":
            out[name] = pa.table(
                {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS}
            )
        elif name == "nation":
            out[name] = pa.table(
                {
                    "n_nationkey": pa.array(range(25), pa.int32()),
                    "n_name": [f"NATION_{i}" for i in range(25)],
                    "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
                }
            )
        elif name == "customer":
            out[name] = pa.table(
                {
                    "c_custkey": pa.array(np.arange(n), pa.int64()),
                    "c_name": _names("Customer", n),
                    "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
                    "c_acctbal": _money(rng, -999.99, 9999.99, n),
                    "c_mktsegment": [_SEGMENTS[k] for k in rng.integers(0, 5, n)],
                }
            )
        elif name == "supplier":
            out[name] = pa.table(
                {
                    "s_suppkey": pa.array(np.arange(n), pa.int64()),
                    "s_name": _names("Supplier", n),
                    "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
                    "s_acctbal": _money(rng, -999.99, 9999.99, n),
                }
            )
        elif name == "part":
            adj = rng.integers(0, len(_PART_ADJ), n)
            noun = rng.integers(0, len(_PART_NOUN), n)
            out[name] = pa.table(
                {
                    "p_partkey": pa.array(np.arange(n), pa.int64()),
                    "p_name": [f"{_PART_ADJ[a]} {_PART_NOUN[b]}" for a, b in zip(adj, noun)],
                    "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n)],
                    "p_type": [_PART_TYPES[k] for k in rng.integers(0, 6, n)],
                    "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
                    "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) * 0.1, 1),
                }
            )
        elif name == "orders":
            out[name] = pa.table(
                {
                    "o_orderkey": pa.array(np.arange(n), pa.int64()),
                    "o_custkey": pa.array(rng.integers(0, SF01_ROWS["customer"], n), pa.int64()),
                    "o_orderstatus": [("F", "O", "P")[k] for k in rng.integers(0, 3, n)],
                    "o_totalprice": _money(rng, 1000.0, 500000.0, n),
                    "o_orderdate": _dates(rng, n),
                    "o_orderpriority": [_PRIORITIES[k] for k in rng.integers(0, 5, n)],
                }
            )
        elif name == "lineitem":
            out[name] = pa.table(
                {
                    "l_orderkey": pa.array(rng.integers(0, SF01_ROWS["orders"], n), pa.int64()),
                    "l_partkey": pa.array(rng.integers(0, SF01_ROWS["part"], n), pa.int64()),
                    "l_suppkey": pa.array(rng.integers(0, SF01_ROWS["supplier"], n), pa.int64()),
                    "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
                    "l_quantity": rng.integers(1, 51, n).astype(np.float64),
                    "l_extendedprice": _money(rng, 900.0, 105000.0, n),
                    "l_discount": rng.integers(0, 11, n) / 100.0,
                    "l_tax": rng.integers(0, 9, n) / 100.0,
                    "l_returnflag": [("A", "N", "R")[k] for k in rng.integers(0, 3, n)],
                    "l_linestatus": [("F", "O")[k] for k in rng.integers(0, 2, n)],
                    "l_shipdate": _dates(rng, n),
                }
            )
        elif name == "events":
            out[name] = events_table(rng)
        elif name == "documents":
            out[name] = _documents(rng, n)
        elif name == "embeddings":
            out[name] = _embeddings(rng, n)
    return out


def write_tables(seed: int, out_dir: str, names: list[str]) -> dict[str, int]:
    """Write the named tables under `out_dir` as `<name>.parquet`, one
    row group each (the test data's layout). Returns bytes per file."""
    os.makedirs(out_dir, exist_ok=True)
    sizes: dict[str, int] = {}
    for name, table in _tables(seed, names).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path, row_group_size=max(1, table.num_rows), compression="snappy")
        sizes[name] = os.path.getsize(path)
    return sizes
