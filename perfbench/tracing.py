"""Spans, Spark counters and memory sampling for the benchmark.

Everything here observes the program from outside: layer functions are
wrapped by replacing the module attribute their callers look up, and
Spark's own bookkeeping is read through public status APIs.

- ``Tracer.span`` / ``Tracer.wrap`` record spans (name, start, end,
  parent).  A span's self time is its duration minus its children's.
- ``Tracer.group`` runs a block under a fresh Spark job group and reads
  back, from ``statusTracker`` and ``statusStore``, the jobs, stages,
  tasks, executor run time, shuffle, spill and output of that block.
- ``StreamProgress`` is a ``StreamingQueryListener`` that keeps the
  progress of every micro-batch.
- ``RssSampler`` sums the resident memory of this process and all of its
  descendants (the JVM and the Python workers) and keeps the peak.
"""

from __future__ import annotations

import contextlib
import os
import threading
import time
from collections import defaultdict

COUNTERS = ("jobs", "stages", "tasks", "executor_run_s", "shuffle_read_bytes",
            "shuffle_write_bytes", "spill_bytes", "output_bytes", "output_rows")


class Span:
    __slots__ = ("name", "start", "end", "parent", "child_s")

    def __init__(self, name: str, parent: "Span | None") -> None:
        self.name = name
        self.parent = parent
        self.start = time.perf_counter()
        self.end = self.start
        self.child_s = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.seconds - self.child_s


class Tracer:
    """Span recorder.  A disabled tracer records nothing and wraps
    nothing, so the untraced run executes the program unchanged."""

    def __init__(self, spark, enabled: bool) -> None:
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._stack: list[Span] = []
        self._groups = 0
        self._patched: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        s = Span(name, self._stack[-1] if self._stack else None)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if s.parent is not None:
                s.parent.child_s += s.seconds
            self.spans.append(s)

    def add(self, key: str, value: float) -> None:
        if self.enabled:
            self.counts[key] += value

    @contextlib.contextmanager
    def group(self, prefix: str):
        """Run the block under a fresh Spark job group and add its Spark
        counters to ``counts`` under ``prefix``."""
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        self._groups += 1
        gid = f"perfbench-{self._groups}"
        outer = sc.getLocalProperty("spark.jobGroup.id")
        sc.setJobGroup(gid, prefix)
        try:
            yield
        finally:
            if outer is None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            else:
                sc.setJobGroup(outer, outer)
            for k, v in spark_counters(sc, gid).items():
                self.counts[f"{prefix}.{k}"] += v

    def wrap(self, module, attr: str, name: str, group: str | None = None,
             count: str | None = None) -> None:
        """Replace ``module.attr`` by a spanned (with ``group``, also
        job-grouped; with ``count``, also counted) version until
        ``unwrap``."""
        if not self.enabled:
            return
        fn = getattr(module, attr)
        tracer = self

        def spanned(*a, **kw):
            if count is not None:
                tracer.counts[count] += 1
            with tracer.span(name):
                if group is None:
                    return fn(*a, **kw)
                with tracer.group(group):
                    return fn(*a, **kw)

        self._patched.append((module, attr, fn))
        setattr(module, attr, spanned)

    def unwrap(self) -> None:
        for module, attr, fn in reversed(self._patched):
            setattr(module, attr, fn)
        self._patched.clear()

    def self_times(self) -> dict[str, float]:
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s.name] += s.self_s
        return out


def spark_counters(sc, group_id: str) -> dict[str, float]:
    """Jobs, stages, tasks and stage metrics of one job group, read from
    Spark's status store (available with the UI disabled)."""
    tracker = sc.statusTracker()
    job_ids = tracker.getJobIdsForGroup(group_id)
    stage_ids = set()
    for j in job_ids:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    out = dict.fromkeys(COUNTERS, 0.0)
    out["jobs"] = float(len(job_ids))
    store = sc._jsc.sc().statusStore()
    no_status = sc._jvm.java.util.ArrayList()
    no_quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)
    for sid in stage_ids:
        attempts = store.stageData(sid, False, no_status, False, no_quantiles)
        for i in range(attempts.size()):
            d = attempts.apply(i)
            if d.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += d.numTasks()
            out["executor_run_s"] += d.executorRunTime() / 1000.0
            out["shuffle_read_bytes"] += d.shuffleReadBytes()
            out["shuffle_write_bytes"] += d.shuffleWriteBytes()
            out["spill_bytes"] += d.memoryBytesSpilled() + d.diskBytesSpilled()
            out["output_bytes"] += d.outputBytes()
            out["output_rows"] += d.outputRecords()
    return out


def plan_ms(df) -> float:
    """Force the DataFrame's physical plan and return the Catalyst phase
    time (analysis, optimization, planning) its QueryExecution tracked."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    total = 0
    it = phases.iterator()
    while it.hasNext():
        total += it.next()._2().durationMs()
    return float(total)


def make_stream_listener(spark):
    """A ``StreamingQueryListener`` that records every batch's duration
    and input rows; registered on ``spark.streams``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class StreamProgress(StreamingQueryListener):
        def __init__(self) -> None:
            self.batch_ms: list[float] = []
            self.input_rows = 0

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = event.progress
            self.batch_ms.append(float(p.durationMs.get("triggerExecution", 0)))
            self.input_rows += int(p.numInputRows)

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    listener = StreamProgress()
    spark.streams.addListener(listener)
    return listener


def _stat_fields(pid: int) -> list[str] | None:
    """The fields of ``/proc/<pid>/stat`` after the command name."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:  # the process ended meanwhile
        return None
    return stat[stat.rindex(")") + 2:].split()


def _tree(root: int) -> list[int]:
    """``root`` and all of its live descendants."""
    children: dict[int, list[int]] = defaultdict(list)
    for name in os.listdir("/proc"):
        if name.isdigit() and (fields := _stat_fields(int(name))) is not None:
            children[int(fields[1])].append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """User plus system CPU seconds of ``root`` and its live descendants."""
    ticks = 0
    for pid in _tree(root):
        if (fields := _stat_fields(pid)) is not None:
            ticks += int(fields[11]) + int(fields[12])
    return ticks / os.sysconf("SC_CLK_TCK")


def host_steal_s() -> float:
    """CPU seconds the hypervisor gave to other guests, host-wide."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and all of its live descendants."""
    total = 0
    for pid in _tree(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1])
        except OSError:
            continue
    return total * os.sysconf("SC_PAGE_SIZE")


class RssSampler:
    """Background thread keeping the peak resident size of the process
    tree rooted at this process."""

    def __init__(self, interval_s: float = 0.25) -> None:
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while True:
            self.peak = max(self.peak, tree_rss_bytes(root))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
