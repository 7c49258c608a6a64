"""Dump the physical-plan evidence for named registry queries.

For each query this writes ``<outdir>/<query><suffix>.txt`` containing:

1. the final returned DataFrame's ``.explain("formatted")`` output, and
2. the executed plan of every action the query ran while building that
   DataFrame, as ``tools/profile_actions.ActionProfiler`` records them
   (checkpoints cut lineage, so for iterative algorithms the in-loop
   plans are where the shuffle/join structure actually lives).

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

from tools.profile_actions import ActionProfiler  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))


def main() -> None:
    outdir, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    os.makedirs(outdir, exist_ok=True)

    import bench

    spark = bench.build_session(CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir("/tmp/dump_plans_ckpt")

    import __spark_entry__ as entry

    registry = entry.queries()
    for name in names:
        fn = registry[name]
        with ActionProfiler(spark) as prof:
            df = fn(spark, SF_DIR)
        final = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        plans = prof.plans
        path = os.path.join(outdir, f"{name}{suffix}.txt")
        with open(path, "w") as f:
            f.write(f"== {name} @ {SF_DIR} — final DataFrame explain(formatted) ==\n\n")
            f.write(final)
            f.write(
                f"\n\n== in-loop executed plans ({len(plans)} actions captured "
                "during construction; checkpoints cut lineage, so the iterative "
                "structure lives here) ==\n"
            )
            for i, p in enumerate(plans[:30]):
                f.write(f"\n-- action {i} --\n{p}\n")
            if len(plans) > 30:
                f.write(
                    f"\n-- {len(plans) - 30} further in-loop plans elided "
                    "(steady-state supersteps repeat the same shape) --\n"
                )
        print(f"wrote {path} ({len(plans)} in-loop plans)")

    spark.stop()


if __name__ == "__main__":
    main()
