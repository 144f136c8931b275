"""`market_queries`: a fixed slice of the registry's bench-flagged
analyst queries, run closed-loop by one client through a `noop` sink:
one cold pass, then warm passes for the run's seconds.

The slice is every STRIDE-th query of the market modules in name order.
It does not depend on the seed; the seed sets the input data and the
order of every pass. After the timed passes, each query in the
slice is compared once with its registry DuckDB oracle.
"""

from __future__ import annotations

import time

import numpy as np

from inputs import TABLES
from meter import geomean, median, op_count, overhead_pct, reportable_percentile, settle

MODULES = ("relational", "reference_ops", "ta_ops", "events_ops", "pipeline_ext")
# One warm pass over all 95 queries takes about 70 s on four cores, more
# than a whole run may; a 6-query slice keeps a run, set-up and output
# check included, near 50 s.
STRIDE = 16
# The run's seconds set the number of warm passes, at WARM_PASS_S each
# (a warm pass's time on four cores), and at least MIN_WARM_PASSES.
WARM_PASS_S = 3.0
MIN_WARM_PASSES = 3


def select(registry) -> list[str]:
    names = sorted(
        n
        for n, q in registry.items()
        if q.bench and q.spark_fn.__wrapped__.__module__.rsplit(".", 1)[-1] in MODULES
    )
    return names[::STRIDE]


def _pass(ctx, names: list[str], traced: bool, failures: dict) -> dict:
    """One pass over `names`; returns the pass span and per-query spans."""
    from crypto_lakehouse_spark.queries.registry import REGISTRY

    tr, spark = ctx.tracer, ctx.spark
    per = []
    with tr.span("pass", count_jobs=False) as ps:
        for name in names:
            q = REGISTRY[name]
            with tr.span("query", count_jobs=False) as qs:
                try:
                    with tr.span("queries.plan") as plan:
                        df = (q.bench_fn or q.spark_fn)(spark, ctx.data_dir)
                    with tr.span("spark.exec") as ex:
                        df.write.format("noop").mode("overwrite").save()
                except Exception as exc:  # noqa: BLE001 - a failing query is a failed op
                    failures.setdefault(name, f"{type(exc).__name__}: {exc}"[:300])
                    per.append({"name": name, "span": qs, "ok": False})
                    continue
            per.append({"name": name, "span": qs, "plan": plan, "exec": ex, "ok": True})
    return {"span": ps, "queries": per, "traced": traced}


def run(ctx) -> dict:
    from crypto_lakehouse_spark import queries as qmod
    from crypto_lakehouse_spark.io import load_table
    from crypto_lakehouse_spark.queries.fixture_meter import builds_for
    from crypto_lakehouse_spark.queries.registry import REGISTRY

    qmod.load_all()
    names = select(REGISTRY)
    with ctx.tracer.span("io.load_table") as sp:
        for t in TABLES:
            load_table(ctx.spark, ctx.data_dir, t)
    ctx.setup_layers["io.load_table_s"] = sp.duration

    rng = np.random.default_rng([ctx.seed, 200])
    failures: dict[str, str] = {}
    settle(ctx.spark)
    ctx.setup_done()

    def order() -> list[str]:
        return [names[i] for i in rng.permutation(len(names))]

    fixtures_before = dict(builds_for(ctx.data_dir))
    cold = _pass(ctx, order(), ctx.tracer.enabled, failures)
    builds = {
        k: v - fixtures_before.get(k, 0.0)
        for k, v in builds_for(ctx.data_dir).items()
        if v != fixtures_before.get(k)
    }
    warm: list[dict] = []
    for i in range(op_count(ctx.seconds, WARM_PASS_S, MIN_WARM_PASSES)):
        settle(ctx.spark)
        warm.append(_pass(ctx, order(), ctx.traced_op(i), failures))
    ctx.measure_done()
    t_check = time.perf_counter()
    mismatches = check(ctx, names)
    ctx.summary["check_s"] = time.perf_counter() - t_check
    return {
        "names": names,
        "cold": cold,
        "warm": warm,
        "builds": builds,
        "failures": failures,
        "mismatches": mismatches,
    }


def check(ctx, names: list[str]) -> dict[str, str]:
    """Each query once against its DuckDB oracle: name -> problem."""
    from crypto_lakehouse_spark.oracle import compare, duck_connection
    from crypto_lakehouse_spark.queries.registry import REGISTRY

    bad: dict[str, str] = {}
    con = duck_connection(ctx.data_dir)
    try:
        for name in names:
            try:
                res = compare(REGISTRY[name], ctx.spark, ctx.data_dir, con)
            except Exception as exc:  # noqa: BLE001 - a raising query fails its check
                bad[name] = f"{type(exc).__name__}: {exc}"[:300]
                continue
            if not res.ok:
                bad[name] = res.detail[:300]
    finally:
        con.close()
    return bad


def metrics(ctx, out: dict) -> tuple[dict, dict, int, int]:
    cold, warm = out["cold"], out["warm"]
    samples = [q for p in warm for q in p["queries"] if q["ok"]]
    lat = [q["span"].duration for q in samples]
    traced = [q for p in warm if p["traced"] for q in p["queries"] if q["ok"]] or samples
    # Per query, the median of its warm samples; across queries, their
    # geometric mean. The pooled median of a six-query slice falls in the
    # gap between two queries' latencies and jumps with their extremes.
    per_query = {
        n: median(d)
        for n in out["names"]
        if (d := [q["span"].duration for q in samples if q["name"] == n])
    }
    e2e = {
        "first_pass_s": cold["span"].duration,
        "warm_op_s": geomean(list(per_query.values())) if per_query else 0.0,
    }
    per = {
        "queries.plan_s": median([q["plan"].duration for q in traced]),
        "spark.exec_s": median([q["exec"].duration for q in traced]),
        "spark.jobs_per_query": median([len(q["plan"].jobs) + len(q["exec"].jobs) for q in traced]),
        "spark.tasks_per_query": median([q["plan"].tasks + q["exec"].tasks for q in traced]),
        "queries.warm_pass_s": median([p["span"].duration for p in warm]),
        "fixtures.cold_build_s": sum(out["builds"].values()),
        "fixtures.builds": len(out["builds"]),
        "trace.overhead_pct": overhead_pct([(p["span"].duration, p["traced"]) for p in warm]),
        "trace.remainder_s": median(
            [ctx.tracer.breakdown(p["span"])["(remainder)"] for p in warm if p["traced"]]
        ),
    }
    ctx.summary["queries"] = out["names"]
    ctx.summary["warm_passes"] = len(warm)
    ctx.summary["pass_s"] = {
        "cold": cold["span"].duration,
        "warm": [p["span"].duration for p in warm],
    }
    ctx.summary["query_warm_p50_s"] = per_query
    ctx.summary["query_p50_s"] = median(lat)
    ctx.summary["warm_samples"] = len(lat)
    ctx.summary["query_p90_s"] = reportable_percentile(lat, 90)
    ctx.summary["fixture_builds"] = out["builds"]
    ctx.summary["query_failures"] = out["failures"]
    ctx.summary["oracle_mismatches"] = out["mismatches"]
    timed = [cold, *warm]
    attempted = sum(len(p["queries"]) for p in timed) + len(out["names"])
    failed = (
        sum(1 for p in timed for q in p["queries"] if not q["ok"])
        + len(out["mismatches"])
    )
    return e2e, per, attempted, failed
