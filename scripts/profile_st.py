#!/usr/bin/env python3
"""Profile where st-family entry time goes (guide §1): split each
entry's wall clock into (a) replay-log landing, (b) the streaming
query (start + awaitTermination), with the engine's own per-batch
durationMs breakdown from StreamingQuery.recentProgress, and (c) the
standing-table read-back + noop sink. Methodology matches bench.py
(noop sink, clearCache + gc between entries, warmup first).

Usage: python scripts/profile_st.py st02 st09 [--sf-dir DIR]
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
os.chdir(REPO)
sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("entries", nargs="+")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--repeat", type=int, default=1)
    args = ap.parse_args()

    from bench import warm_up
    from mbta_etl_spark.plans import registry
    from mbta_etl_spark.session import get_spark

    spark = get_spark("st-profile")
    spark.sparkContext.setLogLevel("ERROR")
    qs = registry.queries()

    warm_up(spark, args.sf_dir)

    # --- instrumentation ------------------------------------------------
    import mbta_etl_spark.streaming.replay as replay
    from pyspark.sql.streaming.query import StreamingQuery

    stats: dict[str, object] = {}

    orig_land = replay.land_replay_log

    def timed_land(df, in_dir, n_batches, split_col):
        t0 = time.perf_counter()
        orig_land(df, in_dir, n_batches, split_col)
        stats.setdefault("land_s", 0.0)
        stats["land_s"] += time.perf_counter() - t0

    replay.land_replay_log = timed_land
    # registry helpers import land_replay_log inside function bodies via
    # `from ... import`, so patch the module attr is enough only when the
    # import happens per call — which it does (imports are inside defs).

    orig_await = StreamingQuery.awaitTermination

    def timed_await(self, timeout=None):
        t0 = time.perf_counter()
        r = orig_await(self, timeout)
        stats.setdefault("await_s", 0.0)
        stats["await_s"] += time.perf_counter() - t0
        stats.setdefault("progress", []).extend(
            [
                p if isinstance(p, dict) else json.loads(str(p.json))
                for p in self.recentProgress
            ]
        )
        return r

    StreamingQuery.awaitTermination = timed_await

    from pyspark.sql.streaming.readwriter import DataStreamWriter

    orig_start = DataStreamWriter.start

    def timed_start(self, *a, **kw):
        t0 = time.perf_counter()
        q = orig_start(self, *a, **kw)
        stats.setdefault("start_s", 0.0)
        stats["start_s"] += time.perf_counter() - t0
        return q

    DataStreamWriter.start = timed_start

    names = []
    for e in args.entries:
        names.extend(
            n for n in sorted(qs) if n == e or n.startswith(e + "_")
        )

    for _ in range(args.repeat):
        for name in names:
            stats.clear()
            t0 = time.perf_counter()
            df = qs[name](spark, args.sf_dir)
            t_build = time.perf_counter() - t0
            df.write.format("noop").mode("overwrite").save()
            t_total = time.perf_counter() - t0
            land = stats.get("land_s", 0.0)
            qstart = stats.get("start_s", 0.0)
            qawait = stats.get("await_s", 0.0)
            prog = stats.get("progress", [])
            print(
                f"\n=== {name}: total {t_total:.2f}s  "
                f"(build {t_build:.2f}s incl land {land:.2f}s + "
                f"start {qstart:.2f}s + await {qawait:.2f}s; "
                f"readback+noop {t_total - t_build:.2f}s)"
            )
            if prog:
                keys = [
                    "addBatch", "getBatch", "latestOffset",
                    "queryPlanning", "walCommit", "commitOffsets",
                    "triggerExecution",
                ]
                tot = {k: 0 for k in keys}
                for p in prog:
                    d = p.get("durationMs", {})
                    for k in keys:
                        tot[k] += d.get(k, 0)
                print(
                    f"    batches={len(prog)} "
                    + " ".join(f"{k}={tot[k]}ms" for k in keys)
                )
                for p in prog:
                    d = p.get("durationMs", {})
                    rows = p.get("numInputRows", 0)
                    so = p.get("stateOperators", [])
                    st = (
                        f" stateRows={sum(s.get('numRowsTotal', 0) for s in so)}"
                        f" commitMs={sum(s.get('commitTimeMs', 0) for s in so)}"
                        if so
                        else ""
                    )
                    print(
                        f"      batch {p.get('batchId')}: rows={rows} "
                        f"trigger={d.get('triggerExecution', 0)}ms "
                        f"addBatch={d.get('addBatch', 0)}ms "
                        f"plan={d.get('queryPlanning', 0)}ms "
                        f"getBatch={d.get('getBatch', 0)}ms "
                        f"latest={d.get('latestOffset', 0)}ms "
                        f"wal={d.get('walCommit', 0)}ms "
                        f"commitOff={d.get('commitOffsets', 0)}ms" + st
                    )
            spark.catalog.clearCache()
            del df
            gc.collect()

    spark.stop()


if __name__ == "__main__":
    main()
