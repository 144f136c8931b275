"""Query registration: one `sql_query` primitive for every paired
SQL query, and the bench-flagged market slice it must not move."""

from __future__ import annotations

import ast
import importlib.util
import pathlib

from crypto_lakehouse_spark import queries as qmod
from crypto_lakehouse_spark.queries.registry import REGISTRY

REPO = pathlib.Path(__file__).resolve().parent.parent
QUERIES = REPO / "crypto_lakehouse_spark" / "queries"


def _is_query_call(node: ast.AST) -> bool:
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Call)
        and isinstance(node.func.func, ast.Name)
        and node.func.func.id == "query"
    )


def _registers_nested_query(fn: ast.FunctionDef) -> bool:
    nested = {
        n.name
        for n in ast.walk(fn)
        if n is not fn
        and isinstance(n, ast.FunctionDef)
        and [a.arg for a in n.args.args] == ["spark", "sf_dir"]
    }
    return any(
        _is_query_call(n)
        and any(isinstance(a, ast.Name) and a.id in nested for a in n.args)
        for n in ast.walk(fn)
    )


def test_query_registration_defined_once():
    """Paired SQL queries register through `registry.sql_query`: no
    query module defines its own helper that builds a `(spark, sf_dir)`
    function and passes it to `query(...)`, and none renames a query
    function by hand (`query()` names its wrapper)."""
    found = []
    for path in sorted(QUERIES.glob("*.py")):
        if path.name == "registry.py":
            continue
        tree = ast.parse(path.read_text())
        for node in tree.body:
            if isinstance(node, ast.FunctionDef) and _registers_nested_query(node):
                found.append(f"{path.name}:{node.lineno} {node.name}")
        for node in ast.walk(tree):
            if isinstance(node, ast.Assign) and any(
                isinstance(t, ast.Attribute) and t.attr == "__name__"
                for t in node.targets
            ):
                found.append(f"{path.name}:{node.lineno} .__name__ =")
    assert found == []


def test_market_slice_pinned(monkeypatch):
    """The `market_queries` benchmark picks its slice by each query's
    module; registration changes must leave that slice as it is."""
    monkeypatch.syspath_prepend(str(REPO / "perfbench"))
    spec = importlib.util.spec_from_file_location(
        "querymix_pin", REPO / "perfbench" / "querymix.py"
    )
    querymix = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(querymix)
    qmod.load_all()
    assert querymix.select(REGISTRY) == [
        "amihud_illiquidity",
        "distinct_counts",
        "multi_touch_attribution",
        "q10_returned_items",
        "q4_order_priority",
        "sessionization",
    ]
