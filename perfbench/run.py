#!/usr/bin/env python3
"""Benchmark of the paper's poll → publish → query cycle and of a registry
sample, timed end to end and, in a separate traced run, layer by layer.

Run from the repository root:

    python3 perfbench/run.py --workload deep_table --seed 1 --seconds 10 --trace 0

Workloads (one process, a closed loop with one client, ``local[<cores>]``):

- ``deep_table``: 2 500-vehicle snapshots upserted into a table seeded with
  50 000 historic ids, so every pipeline layer runs and the rewrite of the
  whole table on each poll shows.
- ``registry_sample``: one seeded entry per family of
  ``plans.registry.queries()`` on the sf0.001 tables in ``perfbench/data``.
- ``live_poll``: the paper's own traffic, a 500-vehicle fleet into a table
  that holds little more than the fleet.  Not in ``BENCHMARK.json``: two
  workloads fill the run-time budget.  Run it by hand to compare write
  amplification with ``deep_table``.

An operation is one call into the program: a poll (``etl.run``) or one CLI
query, or one registry entry.  A round is one refresh cycle (a poll and
the seven queries) or one run over every sampled entry.

``setup_s`` is the median of three session starts (the first launches the
JVM) plus the input seeding and one untimed warm round.  The timed window
then runs whole rounds, at least the workload's minimum, until
``--seconds`` have passed.  ``pass_cpu_s`` is the CPU time of this process
and its descendants (the JVM and the Python workers) per round.  The wall
time of a round (``pass_s``, in the report line) is not gated: on a shared
host it moves with the CPU time other guests steal, CPU time much less.

The last line of stdout is one JSON object ``{"correct", "attempted",
"failed", "metrics"}``.  With ``--trace 0`` the metrics are the end-to-end
ones of ``BENCHMARK.json``; with ``--trace 1`` they are the per-layer
ones.  The line before it is a report with the workload's own metric
names, sample counts, failures by name and the provenance of the run.
Any failed operation or correctness mismatch makes the exit code 1.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("live_poll", "deep_table", "registry_sample")
SETUP_REPS = 3
LIVE_FLEET, DEEP_FLEET, DEEP_HISTORIC = 500, 2_500, 50_000


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(root: str, work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``,
    and put the package (and the protobuf runtime the stateful streaming
    tier needs) on the Python workers' import path.

    The JVM runs with the C1 JIT tier only.  A run lives about a minute;
    under the default tiered JIT, C2 compilations take about a third of
    the JVM's CPU in that minute and compete with the measured work for
    the cores, which made the same pass vary by a fifth from run to run.
    C1 finishes compiling during the warm pass."""
    from mbta_etl_spark.protoshim import SDK_PROTOBUF_PATH, VERSION_CHECK_ESCAPE_ENV

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    paths = [root]
    try:
        import google.protobuf  # noqa: F401
    except ImportError:
        if os.path.isdir(SDK_PROTOBUF_PATH):
            sys.path.append(SDK_PROTOBUF_PATH)
            paths.append(SDK_PROTOBUF_PATH)
            os.environ.setdefault(VERSION_CHECK_ESCAPE_ENV, "true")
    os.environ.update({
        "TZ": "UTC",
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(paths + [os.environ.get("PYTHONPATH", "")]).rstrip(os.pathsep),
        "SPARK_GRAFT_CPUS": str(os.cpu_count()),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_LOCAL_DIR": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_SCRATCH_DIR": os.path.join(work, "scratch"),
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:TieredStopAtLevel=1'"
            " --conf spark.ui.showConsoleProgress=false"
            f" --conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"
            " pyspark-shell"),
    })
    time.tzset()


def start_session():
    from mbta_etl_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class Runner:
    """Set-up, measuring window and correctness pass of one workload."""

    def __init__(self, args, work: str) -> None:
        self.args = args
        self.work = work
        self.ops: list[tuple[int, str, float]] = []  # (pass, op, seconds)
        self.failures: list[tuple[str, str]] = []
        self.attempted = 0
        self.cpu_s = 0.0  # CPU seconds of the process tree in passes
        self.steal_s = 0.0  # host steal seconds in passes
        self.rounds = 0.0

    def make_workload(self):
        a = self.args
        if a.workload == "registry_sample":
            from registry_sample import RegistrySample

            return RegistrySample(a.seed)
        from pipeline import Pipeline

        if a.workload == "live_poll":
            return Pipeline(a.seed, LIVE_FLEET, 0, self.work)
        return Pipeline(a.seed, DEEP_FLEET, DEEP_HISTORIC, self.work)

    def timed(self, pass_no: int, tracer):
        def run(name: str, fn):
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                with tracer.span("op"):
                    out = fn()
            except Exception as e:  # a failed op is reported, never dropped
                self.failures.append((name, f"{type(e).__name__}: {e}"[:300]))
                return None
            finally:
                self.ops.append((pass_no, name, time.perf_counter() - t0))
            return out
        return run

    def window(self, wl, spark, tracer, seconds: float, first_pass: int,
               min_rounds: int) -> int:
        """Run whole rounds of ``wl.round_size`` passes until ``seconds``
        have passed and ``min_rounds`` rounds ran; returns the number of
        passes run."""
        from tracing import host_steal_s, tree_cpu_s

        deadline = time.perf_counter() + seconds
        p = first_pass
        while True:
            inp = wl.next_input()
            c0, s0 = tree_cpu_s(os.getpid()), host_steal_s()
            with tracer.span("pass"):
                wl.run_pass(spark, inp, self.timed(p, tracer), tracer)
            self.cpu_s += tree_cpu_s(os.getpid()) - c0
            self.steal_s += host_steal_s() - s0
            self.rounds += 1 / wl.round_size
            p += 1
            done, rest = divmod(p - first_pass, wl.round_size)
            if not rest and done >= min_rounds and time.perf_counter() >= deadline:
                return p - first_pass


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "mbta_etl_spark", "__init__.py")):
        print("perfbench: run from the repository root (mbta_etl_spark/ not found)",
              file=sys.stderr)
        return 2
    sys.path[:0] = [root, HERE]
    work = os.path.join(root, ".perfbench_work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        prepare_env(root, work)
        return measure(args, root, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it


def measure(args, root: str, work: str) -> int:
    import layers
    from tracing import RssSampler, Tracer

    runner = Runner(args, work)
    spark = None
    with RssSampler() as rss:
        try:
            wl = runner.make_workload()
            # set-up = the median of SETUP_REPS session starts (the first
            # also launches the JVM), plus the input seeding and one untimed
            # warm pass that pays the first-touch cost
            setups = []
            for _ in range(SETUP_REPS):
                t0 = time.perf_counter()
                if spark is not None:
                    spark.stop()
                spark = start_session()
                setups.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            wl.warm(spark)
            warm_s = time.perf_counter() - t0

            untraced = Tracer(spark, False)
            if args.trace:
                # an untraced round, then the traced rest: the difference is
                # the tracing overhead
                n0 = runner.window(wl, spark, untraced, args.seconds / 3, 0, 1)
                tracer = Tracer(spark, True)
                listener = layers.install(tracer, spark, args.workload)
                try:
                    runner.window(wl, spark, tracer, args.seconds * 2 / 3, n0, 1)
                finally:
                    layers.uninstall(tracer, spark, listener)
            else:
                tracer, listener, n0 = None, None, 0
                runner.window(wl, spark, untraced, args.seconds, 0, wl.min_rounds)
            measured_ops = len(runner.ops)
            measured_failures = len(runner.failures)

            t0 = time.perf_counter()
            checks = wl.check(spark)
            check_s = time.perf_counter() - t0
        finally:
            if spark is not None:
                stop_jvm(spark)

    for name, err in checks:
        runner.attempted += 1
        if err is not None:
            runner.failures.append((name, err))
    if args.trace:
        report = layers.end_to_end(args.workload, runner.ops, setups, warm_s, rss.peak, 0, n0)
        report["traced"] = layers.end_to_end(args.workload, runner.ops, setups, warm_s, rss.peak, n0)
    else:
        report = layers.end_to_end(args.workload, runner.ops, setups, warm_s, rss.peak, 0)
    report.update(
        workload=args.workload,
        failed_frac=len(runner.failures) / runner.attempted,
        failed_base=f"{len(runner.failures)} of {runner.attempted} operations "
                    f"({measured_ops} timed, {len(checks)} checks)",
        failures=runner.failures,
        timed_failures=measured_failures,
        check_s=check_s,
        pass_cpu_s=runner.cpu_s / runner.rounds,
        host_steal_s=runner.steal_s,
        provenance=provenance(args, root, wl),
    )
    if args.trace:
        metrics = layers.per_layer(args.workload, tracer, listener, runner.ops, n0,
                                   setups)
    else:
        metrics = {m["name"]: {"value": report[m["name"]], "unit": m["unit"]}
                   for m in load_spec()["end_to_end"]}
    print(json.dumps(report, default=str))
    print(json.dumps({"correct": not runner.failures, "attempted": runner.attempted,
                      "failed": len(runner.failures), "metrics": metrics}))
    return 1 if runner.failures else 0


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def load_spec() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def provenance(args, root: str, wl) -> dict:
    import pyspark

    try:
        # a checkout that is not a repository of its own has no commit
        env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(root))
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, text=True, env=env,
                                capture_output=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    return {"cores": os.cpu_count(), "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "setup_reps": SETUP_REPS,
            "spark": pyspark.__version__, "python": platform.python_version(),
            "commit": commit, **wl.provenance()}


if __name__ == "__main__":
    sys.exit(main())
