"""Per-action profiler for one or more queries() entries.

Wraps the DataFrame action surface (``ACTIONS``) and records each
OUTERMOST action: Spark 4's ``first()`` runs ``head()`` → ``take()`` →
``collect()``, so only the call the caller made is timed, and the summed
action time never exceeds the wall. Each action runs in its own job group,
so the Spark jobs and stages it started are read back from the status
tracker, and the generated classes Janino compiled during it come from
``CodegenMetrics``. Each action also keeps its executed-plan string, taken
after the timer stops: checkpoints cut lineage, so an iterative
algorithm's in-loop plans are only visible here, never in the returned
DataFrame's plan (``tools/audit_object_hash.py`` and ``dump_plans.py``
read them). Runs each query end-to-end (cold then warm) and prints every
action sorted by duration — the direct answer to "where do this query's
seconds go".

Usage: python tools/profile_actions.py <query[,query...]> [sf_dir] [repeats]
(``SPARK_GRAFT_CPUS`` sets the local cores; default: the cores this
process may run on).
"""

from __future__ import annotations

import os
import sys
import time
import traceback
import uuid
from dataclasses import dataclass

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

try:  # Spark 4: sessions build the classic subclass, which overrides actions
    from pyspark.sql.classic.dataframe import DataFrame
except ImportError:  # pragma: no cover
    from pyspark.sql import DataFrame

ACTIONS = (
    "count", "first", "head", "take", "collect", "toPandas", "isEmpty",
    "foreach", "foreachPartition", "localCheckpoint", "checkpoint",
)
_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description")


@dataclass
class Action:
    method: str
    where: str
    seconds: float
    group: str
    classes: int
    plan: str
    jobs: int = 0
    stages: int = 0


def _caller() -> str:
    frames = [
        f
        for f in traceback.extract_stack()
        if "/graphframes_spark/" in f.filename or "__spark_entry__" in f.filename
    ]
    return f"{os.path.basename(frames[-1].filename)}:{frames[-1].lineno}" if frames else "?"


def _executed_plan(df) -> str:
    """An AQE plan that has run prints its final and its initial plan."""
    try:
        return df._jdf.queryExecution().executedPlan().toString()
    except Exception:  # streaming frames have no batch plan
        return ""


class ActionProfiler:
    """Records the outermost DataFrame actions run while installed::

        with ActionProfiler(spark) as prof:
            df.first()
        prof.resolve()  # fills in jobs and stages
        prof.events     # [Action(method="first", jobs=1, ...)]
        prof.plans      # each action's executed plan, in order
    """

    def __init__(self, spark) -> None:
        self._spark, self._sc = spark, spark.sparkContext
        self._codegen = self._sc._jvm.org.apache.spark.metrics.source.CodegenMetrics
        self.events: list[Action] = []
        # job groups are per session: a fresh prefix keeps another
        # profiler's jobs out of this one's groups
        self._prefix = f"profile_actions-{uuid.uuid4().hex[:8]}"
        self._saved: dict[str, object] = {}
        self._depth = 0

    def _compiled(self) -> int:
        return int(self._codegen.METRIC_COMPILATION_TIME().getCount())

    def _wrap(self, meth: str):
        orig = getattr(DataFrame, meth)
        prof, sc = self, self._sc

        def timed(df, *a, **kw):
            if prof._depth:
                return orig(df, *a, **kw)
            prof._depth += 1
            where = _caller()
            group = f"{prof._prefix}-{len(prof.events)}"
            saved = [sc.getLocalProperty(p) for p in _GROUP_PROPS]
            sc.setJobGroup(group, f"{meth} at {where}")
            compiled = prof._compiled()
            t0 = time.perf_counter()
            try:
                return orig(df, *a, **kw)
            finally:
                seconds = time.perf_counter() - t0
                classes = prof._compiled() - compiled
                for p, v in zip(_GROUP_PROPS, saved):
                    sc.setLocalProperty(p, v)
                plan = _executed_plan(df)
                prof.events.append(Action(meth, where, seconds, group, classes, plan))
                prof._depth -= 1

        return timed

    def __enter__(self) -> "ActionProfiler":
        for meth in ACTIONS:
            self._saved[meth] = getattr(DataFrame, meth)
            setattr(DataFrame, meth, self._wrap(meth))
        return self

    def __exit__(self, *exc) -> None:
        for meth, orig in self._saved.items():
            setattr(DataFrame, meth, orig)
        self._saved = {}

    @property
    def plans(self) -> list[str]:
        return [e.plan for e in self.events]

    def resolve(self) -> None:
        """Read each action's jobs and stages (skipped ones included)
        from the status store, counted as the benchmark's traced runs
        count them."""
        from perfbench.tracing import SparkStatus

        status = SparkStatus(self._spark)
        for e in self.events:
            m, _ = status.collect(e.group)
            e.jobs, e.stages = int(m["spark.jobs"]), int(m["spark.stages"])


def main() -> None:
    import bench

    names = sys.argv[1].split(",")
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    repeats = int(sys.argv[3]) if len(sys.argv) > 3 else 2

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    spark = bench.build_session(cpus)
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry

    for name in names:
        fn = entry.queries()[name]
        for rep in range(repeats):
            with ActionProfiler(spark) as prof:
                t0 = time.perf_counter()
                df = fn(spark, sf_dir)
                t_build = time.perf_counter() - t0
                t1 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                t_write = time.perf_counter() - t1
                total = time.perf_counter() - t0
            prof.resolve()
            events = prof.events
            print(f"\n=== {name} rep {rep}: total {total:.2f}s "
                  f"(build+actions {t_build:.2f}s, final noop write {t_write:.2f}s)",
                  flush=True)
            print(f"    {len(events)} actions, {sum(e.seconds for e in events):.2f}s "
                  f"accounted, {sum(e.jobs for e in events)} jobs, "
                  f"{sum(e.stages for e in events)} stages, "
                  f"{sum(e.classes for e in events)} classes compiled")
            print(f"    {'seconds':>8s}  {'action':16s} {'jobs':>4s} {'stages':>6s} "
                  f"{'classes':>7s}  caller")
            for e in sorted(events, key=lambda e: e.seconds, reverse=True)[:25]:
                print(f"    {e.seconds:7.3f}s  {e.method:16s} {e.jobs:4d} {e.stages:6d} "
                      f"{e.classes:7d}  {e.where}")


if __name__ == "__main__":
    main()
