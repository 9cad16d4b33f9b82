"""Which functions are wrapped as layers, and how the recorded ops,
spans and counters become the end-to-end and per-layer metrics.

Layers (this repository's modules): ``session``, ``sources.http_json``,
``pipeline.transform``, ``pipeline.load`` (``upsert_parquet`` →
``operators.core.latest_by_key`` + ``atomic_publish``),
``pipeline.vehicle_queries`` and ``plans.registry`` (whose entries call
``sources.tables.load_table``, ``operators.*`` and ``streaming.*``).
Inside Spark each query or entry splits into build (the Python call that
returns the DataFrame, with any job it launches), plan (Catalyst phases)
and exec (the action).

Per-layer ``.s`` and ``build_s``/``exec_s`` values are self times (span
minus child spans) per pass, averaged over the traced passes; counts are
per pass as well.  A layer the workload never calls reads 0.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from pipeline import QUERIES
from registry_sample import CANDIDATES, family

REGISTRY_COUNTERS = ("stages", "tasks", "executor_run_s", "shuffle_read_bytes",
                     "shuffle_write_bytes", "spill_bytes")


def install(tracer, spark, workload: str):
    """Wrap the layers' public functions where their callers look them up;
    returns the streaming listener (registry workload) or None."""
    from mbta_etl_spark.pipeline import etl, load
    from mbta_etl_spark.plans import llm_registry, registry
    from mbta_etl_spark.sources import http_json, tables

    tracer.wrap(etl, "run", "etl.run")
    tracer.wrap(http_json, "ingest_payload", "http_json.ingest_payload")
    tracer.wrap(etl, "transform", "transform.transform")
    tracer.wrap(etl, "upsert_parquet", "load.upsert_parquet", group="load")
    tracer.wrap(load, "latest_by_key", "load.latest_by_key")
    tracer.wrap(load, "atomic_publish", "load.atomic_publish")
    for module in (tables, registry, llm_registry):
        tracer.wrap(module, "load_table", "tables.load_table",
                    count="tables.load_table.calls")
    if workload != "registry_sample":
        return None
    from tracing import make_stream_listener

    return make_stream_listener(spark)


def uninstall(tracer, spark, listener) -> None:
    tracer.unwrap()
    if listener is not None:
        spark.streams.removeListener(listener)


def _passes(ops, lo: int, hi: int | None = None):
    by_pass = defaultdict(list)
    for p, name, s in ops:
        if p >= lo and (hi is None or p < hi):
            by_pass[p].append((name, s))
    return by_pass


def pass_seconds(by_pass) -> float:
    """The sum, over the operations of one pass (a refresh cycle's poll and
    seven queries, or every sampled registry entry), of each operation's
    fastest time in the window: the repository's noise rule, keep the
    minimum of repeated runs, applied per operation."""
    return sum(min(v) for v in _by_name(by_pass).values())


def rounds(by_pass) -> float:
    """How many times each operation ran, on average."""
    by_name = _by_name(by_pass)
    return sum(len(v) for v in by_name.values()) / max(1, len(by_name))


def _by_name(by_pass) -> dict[str, list[float]]:
    out = defaultdict(list)
    for ops in by_pass.values():
        for name, s in ops:
            out[name].append(s)
    return dict(out)


def _tail(values: list[float]) -> dict:
    """The highest percentile with at least ten samples beyond it."""
    n = len(values)
    if n < 11:
        return {"value": None, "pct": None, "n": n}
    return {"value": sorted(values)[n - 11], "pct": round(100.0 * (n - 10) / n, 2), "n": n}


def end_to_end(workload: str, ops, setups, warm_s: float, peak_rss: int, lo: int,
               hi=None) -> dict:
    by_pass = _passes(ops, lo, hi)
    op_s = [s for v in by_pass.values() for _, s in v]
    tail = _tail(op_s)
    out = {
        "setup_s": statistics.median(setups) + warm_s,
        "setup_reps_s": setups,
        "warm_pass_s": warm_s,
        "pass_s": pass_seconds(by_pass),
        "rounds": rounds(by_pass),
        "op_s_p50": statistics.median(op_s),
        "op_s_tail": tail,
        "op_s_by_name": _by_name(by_pass),
        "peak_rss_mb": peak_rss / 2**20,
    }
    if workload == "registry_sample":
        out.update(registry_s=out["pass_s"], entry_s_p50=out["op_s_p50"],
                   entry_s_tail=tail)
        return out
    cycles = [sum(s for _, s in v) for v in by_pass.values()]
    polls = [s for v in by_pass.values() for n, s in v if n == "poll"]
    reads = [sum(s for n, s in v if n != "poll") for v in by_pass.values()]
    out.update(cycle_s_p50=statistics.median(cycles), cycle_s_tail=_tail(cycles),
               poll_s_p50=statistics.median(polls), poll_s_tail=_tail(polls),
               read_s_p50=statistics.median(reads))
    return out


def per_layer(workload: str, tracer, listener, ops, untraced_passes: int,
              session_s: list[float]) -> dict:
    traced = _passes(ops, untraced_passes)
    n = rounds(traced) or 1
    self_s = tracer.self_times()
    c = tracer.counts

    def per_pass(value: float) -> float:
        return value / n

    m: dict[str, tuple[float, str]] = {
        "session.start_s": (statistics.median(session_s), "s"),
        "http_json.ingest_payload.s": (per_pass(self_s["http_json.ingest_payload"]), "s"),
        "http_json.ingest_payload.rows": (per_pass(c["http_json.ingest_payload.rows"]), "count"),
        "transform.build_s": (per_pass(self_s["transform.transform"]), "s"),
        "transform.reject_ratio": (
            1 - c["transform.rows_out"] / c["transform.rows_in"] if c["transform.rows_in"] else 0.0,
            "ratio"),
        "etl.run.s": (per_pass(self_s["etl.run"]), "s"),
        "load.upsert_parquet.s": (per_pass(self_s["load.upsert_parquet"]), "s"),
        "load.latest_by_key.build_s": (per_pass(self_s["load.latest_by_key"]), "s"),
        "load.atomic_publish.s": (per_pass(self_s["load.atomic_publish"]), "s"),
        "load.jobs": (per_pass(c["load.jobs"]), "count"),
        "load.tasks": (per_pass(c["load.tasks"]), "count"),
        "load.executor_run_s": (per_pass(c["load.executor_run_s"]), "s"),
        "load.shuffle_write_bytes": (per_pass(c["load.shuffle_write_bytes"]), "bytes"),
        "load.files_written": (per_pass(c["load.files_written"]), "count"),
        "load.rows_written_per_row_in": (
            c["load.output_rows"] / c["transform.rows_in"] if c["transform.rows_in"] else 0.0,
            "ratio"),
        "load.bytes_written_per_row_in": (
            c["load.output_bytes"] / c["transform.rows_in"] if c["transform.rows_in"] else 0.0,
            "bytes"),
        "vehicle_queries.read_parquet.s": (per_pass(self_s["vehicle_queries.read_parquet"]), "s"),
    }
    for q in QUERIES:
        base = f"vehicle_queries.{q}"
        m[f"{base}.build_s"] = (per_pass(self_s[f"{base}.build"]), "s")
        m[f"{base}.build_jobs"] = (per_pass(c[f"{base}.build.jobs"]), "count")
        m[f"{base}.plan_ms"] = (per_pass(c[f"{base}.plan_ms"]), "ms")
        m[f"{base}.exec_s"] = (per_pass(self_s[f"{base}.exec"]), "s")
        m[f"{base}.exec_jobs"] = (per_pass(c[f"{base}.exec.jobs"]), "count")
    m.update({
        "registry.build_s": (per_pass(self_s["registry.build"]), "s"),
        "registry.build_jobs": (per_pass(c["registry.build.jobs"]), "count"),
        "registry.plan_ms": (per_pass(c["registry.plan_ms"]), "ms"),
        "registry.exec_s": (per_pass(self_s["registry.exec"]), "s"),
        "registry.exec_jobs": (per_pass(c["registry.exec.jobs"]), "count"),
    })
    for k in REGISTRY_COUNTERS:
        unit = "s" if k.endswith("_s") else ("bytes" if k.endswith("bytes") else "count")
        m[f"registry.{k}"] = (per_pass(c[f"registry.build.{k}"] + c[f"registry.exec.{k}"]), unit)
    fam_s = defaultdict(float)
    if workload == "registry_sample":
        for v in traced.values():
            for name, s in v:
                fam_s[family(name)] += s
    for f in sorted(CANDIDATES):
        m[f"registry.family.{f}.s"] = (per_pass(fam_s[f]), "s")
    batch_ms = listener.batch_ms if listener is not None else []
    m.update({
        "tables.load_table.calls": (per_pass(c["tables.load_table.calls"]), "count"),
        "tables.load_table.s": (per_pass(self_s["tables.load_table"]), "s"),
        "streaming.batches": (per_pass(len(batch_ms)), "count"),
        "streaming.batch_ms_p50": (statistics.median(batch_ms) if batch_ms else 0.0, "ms"),
        "streaming.input_rows": (per_pass(listener.input_rows if listener else 0), "count"),
    })
    # the layer spans account for the ops' wall time: only the op span's
    # own self time (the harness around the call) is unattributed
    op_total = sum(s.seconds for s in tracer.spans if s.name == "op")
    m["trace.attributed_frac"] = (1 - self_s["op"] / op_total if op_total else 0.0, "ratio")
    untraced = _passes(ops, 0, untraced_passes)
    m["trace.overhead_frac"] = (
        pass_seconds(traced) / pass_seconds(untraced) - 1, "ratio")
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}
