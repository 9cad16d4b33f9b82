#!/usr/bin/env python3
"""Bench a subset of registry entries with bench.py's exact methodology
(noop sink, clearCache+gc between entries, one warmup) — for A/B
isolation during optimization rounds without running all 366 entries.

Usage:
    python scripts/bench_subset.py st01_... st02_... [--repeat N]

Prints one JSON line per repeat: {"queries": {...}, "total": ...}.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--repeat", type=int, default=1)
    ap.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
    )
    args = ap.parse_args()

    from bench import warm_up
    from mbta_etl_spark.plans import registry
    from mbta_etl_spark.session import get_spark

    spark = get_spark("bench-subset")
    spark.sparkContext.setLogLevel("ERROR")
    qs = registry.queries()
    unknown = [n for n in args.names if n not in qs]
    if unknown:
        sys.exit(f"unknown entries: {unknown}")

    warm_up(spark, args.sf_dir)

    for _ in range(args.repeat):
        timings: dict[str, float] = {}
        for name in args.names:
            spark.sparkContext.setJobDescription(f"bench_subset:{name}")
            t0 = time.perf_counter()
            df = qs[name](spark, args.sf_dir)
            df.write.format("noop").mode("overwrite").save()
            timings[name] = round(time.perf_counter() - t0, 4)
            spark.sparkContext.setJobDescription(None)
            spark.catalog.clearCache()
            del df
            gc.collect()
        print(
            json.dumps(
                {
                    "queries": timings,
                    "total": round(sum(timings.values()), 4),
                }
            ),
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
