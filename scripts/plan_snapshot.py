#!/usr/bin/env python3
"""Generate (or refresh) the plan-shape snapshot the regression gate
pins: one operator-count fingerprint per registry entry, written to
plans_snapshot.json at the repo root.

Run after any DELIBERATE plan change (new entry, join-strategy rework),
review the diff — every changed count is a physical-plan change a
reviewer should be able to explain — and commit the new snapshot.
tests/test_plan_hygiene.py fails on any entry whose live plan no longer
matches, so accidental regressions (broadcast -> sort-merge, a new
shuffle, a Python stage creeping into a JVM pipeline) can't land
silently.

Refresh gate: every entry whose fingerprint changed, or that is new, is
first compared with its DuckDB oracle at ``scripts/parity_sweep.py``'s
default scale (sf0.01). If any of them mismatches, the snapshot is left
as it was and the script exits 1, so a fingerprint is only refreshed
for a plan whose results have been re-verified.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SNAPSHOT_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "plans_snapshot.json",
)


def refresh(snap: dict[str, dict[str, int]], check, path: str = SNAPSHOT_PATH) -> int:
    """Write ``snap`` to ``path`` once ``check(name)`` — a parity_sweep
    record — is ok for every entry whose fingerprint differs from the one
    recorded at ``path``. Returns 0, or 1 with ``path`` untouched."""
    with open(path) as f:
        old = json.load(f)
    changed = sorted(n for n in snap if snap[n] != old.get(n))
    print(f"{len(changed)} changed plan fingerprints: {changed}", file=sys.stderr)
    bad = []
    for name in changed:
        rec = check(name)
        print(json.dumps(rec, default=str), flush=True)
        if not rec["ok"]:
            bad.append(name)
    if bad:
        print(f"oracle mismatch in {bad}; {path} not rewritten", file=sys.stderr)
        return 1
    with open(path, "w") as f:
        json.dump(snap, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {len(snap)} plan fingerprints to {path}")
    return 0


def main() -> int:
    import parity_sweep

    from mbta_etl_spark.plans.planmetrics import plan_text, shape_metrics
    from mbta_etl_spark.session import get_spark

    import __spark_entry__ as entrymod

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    spark = get_spark("plan-snapshot")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    snap: dict[str, dict[str, int]] = {}
    for name in sorted(qs):
        df = qs[name](spark, sf_dir)
        snap[name] = shape_metrics(plan_text(df))
        spark.catalog.clearCache()

    oracles = entrymod.oracle_sql()
    oracle_dir = parity_sweep.parse_args([]).sf_dir
    con = parity_sweep.oracle_db(oracle_dir)

    def check(name: str) -> dict:
        rec = parity_sweep.check_entry(
            spark, con, name, qs[name], oracles.get(name), oracle_dir
        )
        spark.catalog.clearCache()
        return rec

    return refresh(snap, check)


if __name__ == "__main__":
    raise SystemExit(main())
