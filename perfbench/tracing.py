"""Spans around the library's public entry points, and per-query Spark
metrics read from Spark's status store.

The benchmark records spans from its own files: ``Tracer.install`` wraps a
fixed set of public functions and methods of ``graphframes_spark`` for the
duration of a traced pass and ``uninstall`` restores them, so untraced
passes run the library untouched. A layer's self time is its span time
minus the time of its child spans.

Spark-side numbers come from ``AppStatusStore`` via py4j, for the jobs of
the query's job group: job count and intervals, stages (and how many were
skipped), executor run/CPU/GC time, shuffle and spill bytes, and the worst
stage's straggler ratio (max over median task run time).
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

#: span name -> per-layer metric holding its summed self time
SPAN_METRICS = {
    "lib.call": "lib.call_s",
    "sink": "sink_s",
    "pregel.run": "pregel.run_s",
    "harness.checkpoint": "harness.checkpoint_s",
    "graphframe.build": "graphframe.build_s",
    "motif.find": "motif.find_s",
    "datapipe.call": "datapipe.call_s",
}
COUNTERS = (
    "pregel.supersteps",
    "harness.iterations",
    "harness.checkpoint_calls",
    "harness.persist_calls",
)
SPARK_METRICS = (
    "spark.jobs",
    "spark.stages",
    "spark.stages_skipped",
    "spark.task_run_s",
    "spark.task_cpu_s",
    "spark.gc_s",
    "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes",
    "spark.spill_bytes",
    "spark.straggler_ratio",
)
#: a stage enters the straggler ratio only with this many tasks and a
#: median task run time of at least this many milliseconds
_STRAGGLER_MIN_TASKS = 2
_STRAGGLER_MIN_MEDIAN_MS = 10.0


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int = -1
    child_s: float = 0.0

    @property
    def self_s(self) -> float:
        return (self.end - self.start) - self.child_s


@dataclass
class QueryTrace:
    """Everything recorded for one traced query execution."""

    query: str
    wall_s: float = 0.0
    spans: list[Span] = field(default_factory=list)
    counters: dict[str, float] = field(default_factory=dict)
    spark: dict[str, float] = field(default_factory=dict)
    job_intervals: list[tuple[float, float]] = field(default_factory=list)
    leaked_rdds: int = 0

    def layer_metrics(self) -> dict[str, float]:
        out = {m: 0.0 for m in SPAN_METRICS.values()}
        for s in self.spans:
            out[SPAN_METRICS[s.name]] += s.self_s
        out.update({c: float(self.counters.get(c, 0)) for c in COUNTERS})
        out.update(self.spark)
        out["driver.outside_job_s"] = max(self.wall_s - _union_length(self.job_intervals), 0.0)
        out["cache.leaked_rdds"] = float(self.leaked_rdds)
        out["query_s"] = self.wall_s
        return out


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    """Span recorder plus the patches that feed it. One per benchmark run."""

    def __init__(self) -> None:
        self.current: QueryTrace | None = None
        self._stack: list[int] = []
        self._saved: list[tuple[object, str, object]] = []

    # ---------------------------------------------------------------- spans

    @contextmanager
    def span(self, name: str):
        q = self.current
        if q is None:
            yield
            return
        s = Span(name, time.perf_counter(), parent=self._stack[-1] if self._stack else -1)
        q.spans.append(s)
        self._stack.append(len(q.spans) - 1)
        try:
            yield
        finally:
            self._stack.pop()
            s.end = time.perf_counter()
            if s.parent >= 0:
                q.spans[s.parent].child_s += s.end - s.start

    def count(self, name: str, n: float = 1) -> None:
        if self.current is not None:
            self.current.counters[name] = self.current.counters.get(name, 0) + n

    # -------------------------------------------------------------- patches

    def _patch(self, owner: object, attr: str, wrapper) -> None:
        orig = getattr(owner, attr)
        self._saved.append((owner, attr, orig))
        setattr(owner, attr, functools.wraps(orig)(wrapper(orig)))

    def _spanned(self, span: str, counter: str | None = None):
        def wrapper(orig):
            def inner(*args, **kwargs):
                if counter:
                    self.count(counter)
                with self.span(span):
                    return orig(*args, **kwargs)

            return inner

        return wrapper

    def _counted(self, counter: str):
        def wrapper(orig):
            def inner(*args, **kwargs):
                self.count(counter)
                return orig(*args, **kwargs)

            return inner

        return wrapper

    def install(self) -> None:
        """Wrap the library's public entry points (idempotent)."""
        if self._saved:
            return
        import graphframes_spark.datapipe as datapipe
        from graphframes_spark import pregel as pregel_mod
        from graphframes_spark.graphframe import GraphFrame
        from graphframes_spark.harness import IterationHarness

        def pregel_run(orig):
            def inner(p, *args, **kwargs):
                with self.span("pregel.run"):
                    out = orig(p, *args, **kwargs)
                self.count("pregel.supersteps", len(pregel_mod.LAST_RUN_SUPERSTEP_SECONDS))
                return out

            return inner

        def iterations(orig):
            def inner(h, max_iter):
                for i in orig(h, max_iter):
                    self.count("harness.iterations")
                    yield i

            return inner

        self._patch(pregel_mod.Pregel, "run", pregel_run)
        self._patch(IterationHarness, "iterations", iterations)
        self._patch(IterationHarness, "checkpoint",
                    self._spanned("harness.checkpoint", "harness.checkpoint_calls"))
        for method in ("persist", "pin"):
            self._patch(IterationHarness, method, self._counted("harness.persist_calls"))
        self._patch(GraphFrame, "__init__", self._spanned("graphframe.build"))
        self._patch(GraphFrame, "find", self._spanned("motif.find"))
        self._patch(datapipe, "exact_dedup", self._spanned("datapipe.call"))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._saved):
            setattr(owner, attr, orig)
        self._saved = []


class SparkStatus:
    """Reads job/stage metrics for one job group from the status store."""

    def __init__(self, spark: SparkSession) -> None:
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self._store = self._jsc.statusStore()
        gw, jvm = self._sc._gateway, self._sc._jvm
        self._quantiles = gw.new_array(jvm.double, 2)
        self._quantiles[0] = 0.5
        self._quantiles[1] = 1.0

    def persistent_rdds(self) -> int:
        return int(self._sc._jsc.getPersistentRDDs().size())

    def drop_persistent_rdds(self) -> None:
        """Unpersist every RDD still cached (results the library returns
        persisted), so each query starts from an empty cache."""
        for rdd in list(self._sc._jsc.getPersistentRDDs().values()):
            rdd.unpersist(False)

    def collect(self, group: str) -> tuple[dict[str, float], list[tuple[float, float]]]:
        self._jsc.listenerBus().waitUntilEmpty(30_000)
        m = {k: 0.0 for k in SPARK_METRICS}
        intervals = []
        for jid in self._sc.statusTracker().getJobIdsForGroup(group):
            jd = self._store.job(jid)
            m["spark.jobs"] += 1
            if jd.submissionTime().isDefined() and jd.completionTime().isDefined():
                intervals.append((
                    jd.submissionTime().get().getTime() / 1000.0,
                    jd.completionTime().get().getTime() / 1000.0,
                ))
            it = jd.stageIds().iterator()
            while it.hasNext():
                self._add_stage(int(it.next()), m)
        return m, intervals

    def _add_stage(self, stage_id: int, m: dict[str, float]) -> None:
        m["spark.stages"] += 1
        try:
            sd = self._store.lastStageAttempt(stage_id)
        except Exception:  # py4j error: a stage that never ran has no entry
            m["spark.stages_skipped"] += 1
            return
        if sd.status().toString() == "SKIPPED":
            m["spark.stages_skipped"] += 1
            return
        m["spark.task_run_s"] += sd.executorRunTime() / 1e3
        m["spark.task_cpu_s"] += sd.executorCpuTime() / 1e9
        m["spark.gc_s"] += sd.jvmGcTime() / 1e3
        m["spark.shuffle_read_bytes"] += sd.shuffleReadBytes()
        m["spark.shuffle_write_bytes"] += sd.shuffleWriteBytes()
        m["spark.spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        if sd.numTasks() >= _STRAGGLER_MIN_TASKS:
            summary = self._store.taskSummary(stage_id, sd.attemptId(), self._quantiles)
            if summary.isDefined():
                run = summary.get().executorRunTime()
                median, worst = run.apply(0), run.apply(1)
                if median >= _STRAGGLER_MIN_MEDIAN_MS:
                    m["spark.straggler_ratio"] = max(m["spark.straggler_ratio"], worst / median)
