"""Generate OPERATORS.md — a one-page operator-family index over the
query registry (VERDICT r6 item 8), so coverage can be audited without
reading 16 query modules. scripts/dev_check.py fails when it is stale;
regenerate with:  python scripts/gen_operators_md.py
"""

from __future__ import annotations

import importlib.util
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _ramp_sets() -> tuple[set, set, set]:
    spec = importlib.util.spec_from_file_location(
        "_scaling", os.path.join(REPO, "tests", "test_scaling.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return (
        set(mod.RAMP_QUERIES),
        set(mod.SKEW_DEDUP_QUERIES),
        set(mod.GIANT_CC_QUERIES),
    )


def generate() -> str:
    from crypto_lakehouse_spark import queries as qmod
    from crypto_lakehouse_spark.queries.registry import REGISTRY

    qmod.load_all()
    green_age = qmod.driver_green_age()
    never_verified = [n for n in REGISTRY if n not in green_age]
    ramp, skew, giant = _ramp_sets()

    families: dict[str, list] = {}
    for name, q in sorted(REGISTRY.items()):
        fam = q.tags[0] if q.tags else "misc"
        families.setdefault(fam, []).append((name, q))

    lines = [
        "# Operator index",
        "",
        "GENERATED by `scripts/gen_operators_md.py` (`scripts/dev_check.py`",
        "fails when it is stale) — do not edit by hand.",
        "",
        f"{len(REGISTRY)} registered queries across {len(families)}",
        "operator families. Columns: **oracle** = driver-side DuckDB",
        "value-hash check (`value` = full hash compare; all queries",
        "carry one); **bench** = in the headline bench set (`plan` =",
        "a separate ungated plan is timed, see registry.Query.bench_fn);",
        "**ramp** = scale-ramp membership (`uniform` =",
        "tests/test_scaling.py RAMP_QUERIES, `zipf` = Zipf-skew suite,",
        "`giantcc` = giant-component CC suite).",
        "",
        "## Driver-verification status",
        "",
        "Queries with NO green row in any driver `CORRECTNESS_r*.json`",
        "yet (they sort to the front of `queries()` so the driver's",
        "next 50-query sample covers them — see",
        "`crypto_lakehouse_spark/queries/__init__.py:_reorder`):",
        "",
    ]
    if never_verified:
        lines += [f"- `{n}`" for n in never_verified]
    else:
        lines.append(
            "- (none — every registered query has a driver-green row)"
        )
    lines.append("")
    lines += [
        "### Green-age distribution",
        "",
        "Most recent driver-green round per query (the verified tail",
        "rotates OLDEST-first, so the lowest rounds here are what the",
        "driver's next 50-query sample re-verifies):",
        "",
        "| last green round | queries |",
        "|---|---|",
    ]
    by_round: dict[int, int] = {}
    for n in REGISTRY:
        if n in green_age:
            by_round[green_age[n]] = by_round.get(green_age[n], 0) + 1
    for rnd in sorted(by_round):
        lines.append(f"| r{rnd:02d} | {by_round[rnd]} |")
    lines.append("")
    stale = sorted(
        (n for n in REGISTRY if n in green_age),
        key=lambda n: green_age[n],
    )[:50]
    if stale:
        lines += [
            "Next re-verification window (50 stalest greens, in order):",
            "",
            ", ".join(f"`{n}` (r{green_age[n]:02d})" for n in stale),
            "",
        ]
    for fam in sorted(families):
        qs = families[fam]
        lines.append(f"## {fam} ({len(qs)})")
        lines.append("")
        lines.append("| query | impl | oracle | bench | ramp | tags |")
        lines.append("|---|---|---|---|---|---|")
        for name, q in qs:
            # spark_fn is the registry's conf-applying wrapper; the
            # implementation lives behind __wrapped__. A query made by
            # registry.sql_query has its code in registry.py: name the
            # module that declares it instead.
            impl = getattr(q.spark_fn, "__wrapped__", q.spark_fn)
            code = impl.__code__
            declared = sys.modules[impl.__module__].__file__
            if os.path.samefile(code.co_filename, declared):
                rel = os.path.relpath(code.co_filename, REPO)
                loc = f"`{rel}:{code.co_firstlineno}`"
            else:
                loc = f"`{os.path.relpath(declared, REPO)}`"
            oracle = "value" if q.oracle else "rows-only"
            bench = ("plan" if q.bench_fn else "yes") if q.bench else "no"
            ramps = "+".join(
                x
                for x, s in (
                    ("uniform", ramp),
                    ("zipf", skew),
                    ("giantcc", giant),
                )
                if name in s
            ) or "-"
            tags = " ".join(q.tags[1:]) or "-"
            lines.append(
                f"| `{name}` | {loc} | {oracle} | {bench} | {ramps} | {tags} |"
            )
        lines.append("")
    return "\n".join(lines) + "\n"


def write() -> str:
    out = os.path.join(REPO, "OPERATORS.md")
    with open(out, "w") as f:
        f.write(generate())
    return out


if __name__ == "__main__":
    print(write())
