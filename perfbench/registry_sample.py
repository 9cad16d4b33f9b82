"""A seeded, one-per-family sample of the analytics registry as a workload.

The seed picks one entry from every family (the letters before the number
in an entry's name) out of ``CANDIDATES``, a few entries of matching cost
per family.  Matching costs keep the sample's total steady from seed to
seed, which a draw over whole families does not: one streaming entry
costs 3 to 12 s.

The protocol is ``bench.py``'s: each entry is built and run to completion
through the ``noop`` sink, and ``clearCache`` plus ``gc`` run between
entries outside the timed span.  The timed window runs whole rounds over
the entries.  The untimed warm pass collects
every sampled entry once, so first-touch cost lands in set-up; after the
timed window those rows are checked against the entry's ``oracle_sql()``
result on DuckDB under ``tests/test_parity.py``'s canonicalisation.
"""

from __future__ import annotations

import gc
import os
import random
import re
import time

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.001")
SF = 0.001
# one round's warm wall times at sf0.001 on 4 cores: from each family, a
# few cheap entries whose times lie within about 0.1 s of one another, so
# that a run fits the benchmark's time budget and the seed barely moves
# the total
CANDIDATES = {
    "c": ("c07_eval_sample", "c08_weighted_sample"),
    "d": ("d01_exact_dedup", "d17_dup_size_histogram"),
    "g": ("g03_degree_reciprocity", "g07_assortativity"),
    "j": ("j04_big_spenders_semi", "j07_salted_join", "j11_scd2_enrich"),
    "k": ("k01_kmeans_clusters", "k02_cluster_profile"),
    "m": ("m11_wav_decode", "m13_patch_grid"),
    "q": ("q01_top10_by_value", "q02_prefix_classify", "q07_orderstatus_counts"),
    "r": ("r01_incremental_rollup", "r02_sketch_rollup"),
    "s": ("s01_cosine_topk", "s10_int8_quant"),
    "src": ("src01_jsonl_roundtrip", "src12_orc_roundtrip"),
    "st": ("st09_stream_enrich_equiv",),
    "t": ("t05_bpe_tokens", "t19_readability"),
    "ts": ("ts01_locf", "ts07_downsample", "ts08_minmax_norm"),
    "v": ("v03_snapshot_diff", "v14_ordering_audit"),
}


def family(name: str) -> str:
    return re.match(r"[a-z]+", name).group(0)


def sample(seed: int) -> list[str]:
    rng = random.Random(seed)
    return [rng.choice(CANDIDATES[f]) for f in sorted(CANDIDATES)]


class RegistrySample:
    def __init__(self, seed: int) -> None:
        from mbta_etl_spark.plans import registry

        self.queries = registry.queries()
        self.entries = sample(seed)
        self.collected: dict[str, tuple | str] = {}
        self.warm_s: dict[str, float] = {}
        self.turn = 0

    def provenance(self) -> dict:
        return {"sf_dir": os.path.relpath(DATA), "sf": SF, "entries": self.entries,
                "warm_s_by_entry": self.warm_s}

    def warm(self, spark) -> None:
        """Collect every sampled entry once (this pays the first-touch
        cost bench.py's flagship warm-up pays); ``check`` compares the
        rows."""
        for name in self.entries:
            t0 = time.perf_counter()
            try:
                sdf = self.queries[name](spark, DATA)
                self.collected[name] = ([c.lower() for c in sdf.columns],
                                        [tuple(r) for r in sdf.collect()])
            except Exception as e:  # reported as a failed check
                self.collected[name] = f"{type(e).__name__}: {e}"[:300]
            self.warm_s[name] = time.perf_counter() - t0
            self.between()

    # the minimum over two rounds of each entry stands clear of a one-entry
    # stall
    min_rounds = 2

    @property
    def round_size(self) -> int:
        return len(self.entries)

    def next_input(self) -> str:
        """The next entry, round-robin: a pass here is one entry."""
        name = self.entries[self.turn % len(self.entries)]
        self.turn += 1
        return name

    def run_pass(self, spark, name, timed, tracer) -> None:
        timed(name, lambda: self.run_entry(spark, name, tracer))
        self.between()

    def run_entry(self, spark, name: str, tracer) -> None:
        if tracer is None or not tracer.enabled:
            self.queries[name](spark, DATA).write.format("noop").mode("overwrite").save()
            return
        from tracing import plan_ms

        with tracer.span("registry.build"), tracer.group("registry.build"):
            df = self.queries[name](spark, DATA)
        with tracer.span("registry.exec"), tracer.group("registry.exec"):
            tracer.add("registry.plan_ms", plan_ms(df))
            df.write.format("noop").mode("overwrite").save()

    def between(self) -> None:
        # bench.py: persisted intermediates of one entry must not crowd
        # the storage pool of the next; gc lets the ContextCleaner reap
        # localCheckpoint RDDs
        from pyspark.sql import SparkSession

        SparkSession.getActiveSession().catalog.clearCache()
        gc.collect()

    def check(self, spark) -> list[tuple[str, str | None]]:
        from mbta_etl_spark.plans import registry
        from tests.test_parity import _canon_rows, _duck

        oracles = registry.oracle_sql()
        con = _duck(DATA)
        results = []
        try:
            for name in self.entries:
                got = self.collected[name]
                if isinstance(got, str):
                    results.append((f"entry:{name}", got))
                    continue
                scols, srows = got
                res = con.execute(oracles[name])
                dcols = [d[0].lower() for d in res.description]
                drows = res.fetchall()
                if sorted(scols) != sorted(dcols):
                    err = f"columns {sorted(scols)} != oracle {sorted(dcols)}"
                elif _canon_rows(srows, scols) != _canon_rows(drows, dcols):
                    err = f"{len(srows)} rows differ from the oracle's {len(drows)}"
                else:
                    err = None
                results.append((f"entry:{name}", err))
        finally:
            con.close()
        return results
