"""At-scale measurements on the LDBC-shaped graph for graph operators
outside bench_ldbc.py's wcc/cdlp/shortest_paths/pagerank set.

Modes:
  scc      — interleaved A/B of spark.graphframes_spark.scc.trim
             (fused vs legacy) via strongly_connected_components(maxIter=10)
  pic      — interleaved A/B of spark.graphframes_spark.pic.materialize
             (edges vs legacy) via deterministic PIC (k=4, unit weights)
  louvain  — plain rung measurement, for the scaling exponent vs a
             lower rung

Usage: python tools/bench_graph_rung_ab.py <mode> [out.json]
Env: SPARK_GRAFT_CPUS (32), RUNG_SCALE (10.0 — multiple of wiki-Talk),
RUNG_PAIRS (2), RUNG_MEM (48g), RUNG_WARMUP (0/1, default 1).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

import bench_ldbc  # noqa: E402
from bench import LoadMonitor  # noqa: E402

KNOBS = {
    "scc": ("scc.trim", "fused", "legacy"),
    "pic": ("pic.materialize", "edges", "legacy"),
    "louvain": (None, None, None),
}


def main() -> None:
    mode = sys.argv[1]
    out_path = sys.argv[2] if len(sys.argv) > 2 else None
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    scale = float(os.environ.get("RUNG_SCALE", "10"))
    pairs = int(os.environ.get("RUNG_PAIRS", "2"))
    os.environ.setdefault("SPARK_GRAFT_LDBC_MEM", os.environ.get("RUNG_MEM", "48g"))
    warmup = os.environ.get("RUNG_WARMUP", "1") == "1"

    spark = bench_ldbc.build_session(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    from graphframes_spark import GraphFrame
    from graphframes_spark.lib.louvain import louvain
    from graphframes_spark.lib.pic import power_iteration_clustering
    from graphframes_spark.lib.scc import strongly_connected_components

    work = tempfile.mkdtemp(prefix="graph_rung_")
    bench_ldbc.generate_graph(spark, work, scale)
    v = spark.read.parquet(f"{work}/vertices")
    e = spark.read.parquet(f"{work}/edges")
    n_edges = e.count()

    if mode == "scc":
        g = GraphFrame(v, e)
        fn = lambda: strongly_connected_components(g, max_iter=10)  # noqa: E731
    elif mode == "pic":
        # unit-weight affinity on the undirected LDBC shape
        g = GraphFrame(v, e.withColumn("w", F.lit(1.0)))
        fn = lambda: power_iteration_clustering(  # noqa: E731
            g, k=4, max_iter=10, weight_col="w", deterministic=True
        )
    elif mode == "louvain":
        g = GraphFrame(v, e)
        fn = lambda: louvain(g, max_passes=2, max_rounds_per_pass=6)  # noqa: E731
    else:
        raise SystemExit(f"unknown mode {mode!r}")

    key, arm_a, arm_b = KNOBS[mode]
    monitor = LoadMonitor(spark)

    def run_once(val):
        if key is not None:
            spark.conf.set("spark.graphframes_spark." + key, val)
        spark.sparkContext.setJobDescription(f"rung:{mode}:{val}")
        tok = monitor.start()
        t0 = time.perf_counter()
        fn().write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0, monitor.finish(tok)

    report: dict = {
        "mode": mode,
        "scale": scale,
        "edges_distinct": n_edges,
        "cpus": cpus,
    }
    if key is None:
        passes, loads = [], []
        n = pairs + (1 if warmup else 0)
        for i in range(n):
            dt, ld = run_once(None)
            print(f"# pass {i}: {dt:.1f}s (steal {ld['steal_cores']})", file=sys.stderr)
            if warmup and i == 0:
                continue
            passes.append(round(dt, 3))
            loads.append(ld)
        report.update({"passes": passes, "median_s": round(statistics.median(passes), 3),
                       "load_context": loads})
    else:
        if warmup:
            for val in (arm_a, arm_b):
                dt, _ = run_once(val)
                print(f"# warmup {val}: {dt:.1f}s", file=sys.stderr)
        samples = {arm_a: [], arm_b: []}
        loads = []
        for i in range(pairs):
            for val in (arm_a, arm_b):
                dt, ld = run_once(val)
                samples[val].append(round(dt, 3))
                loads.append({"arm": val, **ld})
                print(f"# pair {i} {val}: {dt:.1f}s (steal {ld['steal_cores']})", file=sys.stderr)
        med_a = statistics.median(samples[arm_a])
        med_b = statistics.median(samples[arm_b])
        report.update({
            "conf_key": "spark.graphframes_spark." + key,
            "arm_a": arm_a, "arm_b": arm_b,
            "a_median_s": round(med_a, 3), "b_median_s": round(med_b, 3),
            "median_improvement_pct": round(100.0 * (med_b - med_a) / med_b, 1),
            "per_pair_improvement_pct": [
                round(100.0 * (b - a) / b, 1)
                for a, b in zip(samples[arm_a], samples[arm_b])
            ],
            "samples": samples, "load_context": loads,
        })
    print(json.dumps(report))
    if out_path:
        with open(out_path, "w") as f:
            json.dump(report, f, indent=1)
    import shutil

    shutil.rmtree(work, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
