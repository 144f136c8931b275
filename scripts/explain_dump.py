"""Dump .explain("formatted") for named queries to plans/<round>/.

Usage: python scripts/explain_dump.py <suffix> name [name...]
Writes plans/<round>/<name>_<suffix>.txt (suffix = "before" / "after"),
where <round> is $SPARK_GRAFT_PLANS_ROUND (default r14). Queries run
over the scale-factor directory in $SPARK_GRAFT_SF_DIR.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, ".")

from crypto_lakehouse_spark import queries as qmod
from crypto_lakehouse_spark.queries.registry import REGISTRY
from crypto_lakehouse_spark.session import get_spark_session


def main() -> int:
    suffix = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    qmod.load_all()
    spark = get_spark_session("explain-dump")
    spark.sparkContext.setLogLevel("ERROR")
    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", os.environ.get("SPARK_GRAFT_PLANS_ROUND", "r14"))
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        q = REGISTRY[name]
        df = (q.bench_fn or q.spark_fn)(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print("wrote", path, f"({plan.count('Exchange')} Exchange)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
