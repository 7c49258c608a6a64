"""Generic interleaved A/B for a conf-knob-gated implementation change.

One session, one warmup of each arm, then N paired reps strictly
alternated (A,B,A,B,...) so ambient load — including hypervisor steal —
hits both arms equally; reports per-arm median, the per-pair delta
distribution, and bench.py's load context.

Usage:
    python tools/bench_knob_ab.py <query> <conf_key> <valA> <valB> [reps] [out.json]

conf_key is relative to the spark.graphframes_spark. prefix,
e.g. ``scc.trim``. valA is the candidate, valB the baseline.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entry_mod  # noqa: E402
from bench import LoadMonitor, build_session  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
PREFIX = "spark.graphframes_spark."


def main() -> None:
    query, key, val_a, val_b = sys.argv[1:5]
    reps = int(sys.argv[5]) if len(sys.argv) > 5 else 7
    out_path = sys.argv[6] if len(sys.argv) > 6 else None

    spark = build_session(int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    spark.sparkContext.setLogLevel("ERROR")
    monitor = LoadMonitor(spark)
    fn = entry_mod.queries()[query]

    def run_once(val: str):
        spark.conf.set(PREFIX + key, val)
        spark.sparkContext.setJobDescription(f"ab:{query}:{key}={val}")
        tok = monitor.start()
        start = time.perf_counter()
        fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        dur = time.perf_counter() - start
        return dur, monitor.finish(tok)

    for val in (val_a, val_b):  # warmup both arms
        run_once(val)

    samples = {val_a: [], val_b: []}
    loads = []
    for _ in range(reps):
        for val in (val_a, val_b):
            dur, ld = run_once(val)
            samples[val].append(dur)
            loads.append({"arm": val, **ld})

    med_a = statistics.median(samples[val_a])
    med_b = statistics.median(samples[val_b])
    pair_pct = [
        round(100.0 * (b - a) / b, 1)
        for a, b in zip(samples[val_a], samples[val_b])
    ]
    report = {
        "query": query,
        "conf_key": PREFIX + key,
        "arm_a": val_a,
        "arm_b": val_b,
        "sf_dir": SF_DIR,
        "reps": reps,
        "a_median_s": round(med_a, 3),
        "b_median_s": round(med_b, 3),
        "median_improvement_pct": round(100.0 * (med_b - med_a) / med_b, 1),
        "per_pair_improvement_pct": pair_pct,
        "a_samples": [round(s, 3) for s in samples[val_a]],
        "b_samples": [round(s, 3) for s in samples[val_b]],
        "load_context": loads,
    }
    print(json.dumps(report))
    if out_path:
        with open(out_path, "w") as f:
            json.dump(report, f, indent=1)
    spark.stop()


if __name__ == "__main__":
    main()
