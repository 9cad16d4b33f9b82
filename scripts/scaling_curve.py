#!/usr/bin/env python3
"""Measured scaling curves: run representative registry entries at every
available scale factor and report wall-clock growth vs data growth.

The point is evidence for the SCALE.md arguments: an operator claimed to
be 'one scan + map-side-combinable aggregate' should show wall growth
well below the data growth (fixed overheads amortize); anything
super-linear is a red flag to investigate. Spark side only (no oracle),
min over --reps runs per point, executed to the noop sink exactly like
bench.py.

Usage: python scripts/scaling_curve.py [--reps 2] [--only a,b,c]
Prints a markdown table; rows sorted by family.

Table-size context (rows per SF):
  events    1k / 10k / 100k   (100x across the range)
  lineitem  6k / 60k / 600k   (100x)
  documents 500 / 500 / 5k    (10x, only at the top step)
  embeddings 500 / 500 / 2k   (4x, only at the top step)
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# (entry, driving table) — chosen one per plan family, favoring entries
# on events/lineitem (the tables that actually scale 100x here)
DEFAULT_ENTRIES = [
    ("q12_count", "lineitem"),
    ("q16_pricing_summary", "lineitem"),
    ("q17_top_customers", "lineitem+orders+customer"),
    ("q31_topn_per_group", "lineitem"),
    ("q101_global_running_total", "events"),
    ("q102_equidepth_histogram", "lineitem"),
    ("q104_compress_consecutive", "events"),
    ("ts05_bucket_gapfill", "events"),
    ("ts38_rolling_median", "events"),
    ("j01_asof_attribution", "events"),
    ("v22_duplicate_rows", "all tables"),
    ("q15_hourly_rollup", "events"),
    ("d01_exact_dedup", "documents"),
    ("d04_minhash_lsh_pairs", "documents"),
    ("s01_cosine_topk", "embeddings"),
    ("t08_tfidf", "documents"),
]

SFS = ["0.001", "0.01", "0.1"]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--only", type=str, default=None)
    args = ap.parse_args()

    from bench import warm_up
    from mbta_etl_spark.session import get_spark

    import __spark_entry__ as entrymod

    spark = get_spark("scaling-curve")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    entries = DEFAULT_ENTRIES
    if args.only:
        keep = set(args.only.split(","))
        known = {n for n, _ in DEFAULT_ENTRIES}
        entries = [(n, t) for n, t in entries if n in keep]
        # names outside the curated list are allowed too — label the
        # driving table generically so any registry entry can be curved
        entries += [
            (n, "?") for n in sorted(keep - known) if n in qs
        ]
        unknown = sorted(keep - known - set(qs))
        if unknown:
            raise SystemExit(
                f"--only names not in the registry: {unknown} (typo?)"
            )

    warm_up(spark, entrymod.SF0001)  # SFS[0], the smallest factor

    rows = []
    for name, table in entries:
        walls = []
        for sf in SFS:
            best = float("inf")
            for _ in range(args.reps):
                t0 = time.perf_counter()
                qs[name](spark, f"/root/testdata/sf{sf}").write.format(
                    "noop"
                ).mode("overwrite").save()
                best = min(best, time.perf_counter() - t0)
            spark.catalog.clearCache()
            walls.append(best)
        g1 = walls[1] / walls[0] if walls[0] > 0 else float("nan")
        g2 = walls[2] / walls[1] if walls[1] > 0 else float("nan")
        rows.append((name, table, walls, g1, g2))
        print(
            f"# {name}: {walls[0]:.2f} / {walls[1]:.2f} / {walls[2]:.2f} s"
            f"  (x{g1:.1f}, x{g2:.1f})",
            file=sys.stderr,
        )

    print("| entry | driving table | sf0.001 | sf0.01 | sf0.1 |"
          " wall x (.001→.01) | wall x (.01→.1) |")
    print("|---|---|---|---|---|---|---|")
    for name, table, w, g1, g2 in rows:
        print(
            f"| {name} | {table} | {w[0]:.2f} | {w[1]:.2f} | {w[2]:.2f} |"
            f" {g1:.1f}x | {g2:.1f}x |"
        )


if __name__ == "__main__":
    main()
