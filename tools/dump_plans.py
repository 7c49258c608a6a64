"""Dump the physical-plan evidence for named registry queries.

For each query this writes ``<outdir>/<query><suffix>.txt`` containing:

1. the final returned DataFrame's ``.explain("formatted")`` output, and
2. the executed plan of every action the query ran while building that
   DataFrame (checkpoints cut lineage, so for iterative algorithms the
   in-loop plans are where the shuffle/join structure actually lives —
   same capture approach as tools/audit_object_hash.py).

Usage:
    python tools/dump_plans.py <outdir> <suffix> <query> [query ...]

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
SPARK_GRAFT_CPUS (default: the cores this process may run on) — session
built by ``bench.build_session`` (heap sized to the host) so the plans
match what the bench measures.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))


class PlanCapture:
    """Record the executed plan of every DataFrame action (see
    tools/audit_object_hash.py for rationale)."""

    ACTION_METHODS = (
        "collect",
        "count",
        "first",
        "head",
        "take",
        "toPandas",
        "localCheckpoint",
        "checkpoint",
        "foreach",
        "foreachPartition",
    )

    def __init__(self):
        self.plans: list[str] = []
        self._saved = {}

    def __enter__(self):
        try:  # Spark 4: sessions build the classic subclass, which
            # overrides the action methods — patch the subclass or the
            # wrappers never fire (same fix as tools/profile_actions.py)
            from pyspark.sql.classic.dataframe import DataFrame
        except ImportError:  # pragma: no cover
            from pyspark.sql import DataFrame

        self._cls = DataFrame
        capture = self

        def wrap(name, orig):
            def patched(df_self, *a, **kw):
                try:
                    capture.plans.append(
                        df_self._jdf.queryExecution().executedPlan().toString()
                    )
                except Exception:
                    pass
                return orig(df_self, *a, **kw)

            return patched

        for name in self.ACTION_METHODS:
            orig = getattr(DataFrame, name, None)
            if orig is None:
                continue
            self._saved[name] = orig
            setattr(DataFrame, name, wrap(name, orig))
        return self

    def __exit__(self, *exc):
        for name, orig in self._saved.items():
            setattr(self._cls, name, orig)
        return False


def main() -> None:
    outdir, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    os.makedirs(outdir, exist_ok=True)

    import bench

    spark = bench.build_session(CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir("/tmp/dump_plans_ckpt")
    # knob-gated variants: DUMP_PLANS_CONF="k=v,k=v" (keys get the
    # spark.graphframes_spark. prefix if unqualified)
    for kv in filter(None, os.environ.get("DUMP_PLANS_CONF", "").split(",")):
        k, v = kv.split("=", 1)
        if not k.startswith("spark."):
            k = "spark.graphframes_spark." + k
        spark.conf.set(k, v)

    import __spark_entry__ as entry

    registry = entry.queries()
    for name in names:
        fn = registry[name]
        spark.sparkContext.setJobDescription(f"dump_plans:{name}")
        with PlanCapture() as cap:
            df = fn(spark, SF_DIR)
            final = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        path = os.path.join(outdir, f"{name}{suffix}.txt")
        with open(path, "w") as f:
            f.write(f"== {name} @ {SF_DIR} — final DataFrame explain(formatted) ==\n\n")
            f.write(final)
            f.write(
                f"\n\n== in-loop executed plans ({len(cap.plans)} actions captured "
                "during construction; checkpoints cut lineage, so the iterative "
                "structure lives here) ==\n"
            )
            for i, p in enumerate(cap.plans[:30]):
                f.write(f"\n-- action {i} --\n{p}\n")
            if len(cap.plans) > 30:
                f.write(
                    f"\n-- {len(cap.plans) - 30} further in-loop plans elided "
                    "(steady-state supersteps repeat the same shape) --\n"
                )
        print(f"wrote {path} ({len(cap.plans)} in-loop plans)")

    spark.stop()


if __name__ == "__main__":
    main()
