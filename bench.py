"""Benchmark harness: times the headline queries at a given scale factor.

Protocol mirrors the reference's JMH shape
(/root/reference/benchmarks/.../LDBCBenchmarkSuite.scala:29-58): one
warmup pass over every query, then N measured repeats, noop sink, AQE on,
local checkpoints, shuffle partitions sized to cores. Repeats are
INTERLEAVED (round-robin over the whole query list, not back-to-back per
query) and the reported time is the per-query MEDIAN with min/max spread —
back-to-back means + a noisy sandbox cannot distinguish a real regression
from a transient load spike (this bit round 3: a 39% phantom regression).

Env knobs: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
SPARK_GRAFT_CPUS (default 32), SPARK_GRAFT_WARMUP (default 1),
SPARK_GRAFT_REPEATS (default 3), SPARK_GRAFT_MAX_RETRIES (default 3,
per query; 0 disables weather retries).

Weather-proofing (round 12): round 11's driver run was destroyed by
mid-run hypervisor steal (steal_cores_max 5.18, cotenant_cores_max
12.02 recorded in BENCH_r11.json itself) — 64/68 "regressions" on
mostly-untouched code. The monitor that convicted that run now ACTS on
what it measures: any sample whose window shows steal_cores > 0.4 or
cotenant_cores > 1.0 is marked contaminated, and after the normal
repeats each query re-samples (bounded by SPARK_GRAFT_MAX_RETRIES)
until it holds >= 2 clean samples. The reported median prefers clean
samples; queries that exhaust the retry budget are listed in
``contaminated_queries`` in the output JSON so the comparison layer can
discount them. The timed action (noop sink), interleaving, env-var
contract and the one-line JSON are unchanged — additions only.

Prints ONE JSON line of at most 1900 chars:
{"metric": ..., "value": <total sec>, "unit": "sec", "queries": {...},
 "load": {...}, "contaminated_queries": [...], "sf": ...}
plus ``queries_omitted`` (names of the queries the line has no room for)
when it must shrink; the full result goes to ``bench_full_latest.json``.
"""

from __future__ import annotations

import json
import os
import sys
import time

from pyspark.sql import SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import __spark_entry__ as entry_mod

HEADLINE = [
    # round-1 set (kept stable for round-over-round comparison)
    "degrees",
    "motif_two_hop",
    "motif_negation",
    "motif_var_length",
    "triangle_count",
    "connected_components",
    "shortest_paths",
    "label_propagation",
    "pagerank",
    "aggregate_messages",
    "bfs",
    # round-2 graph tier
    "kcore",
    "scc",
    "cycles",
    "ppr",
    "pg_projection",
    "pg_copurchase",
    # round-2 LLM-data-pipeline tier
    "dp_token_counts",
    "dp_quality",
    "dp_minhash_dedup",
    "dp_simhash_pairs",
    "dp_ann_topk",
    # round-4 additions
    "sssp",
    "hits",
    "link_prediction",
    "clustering_coefficient",
    "ktruss",
    "sample_subgraph",
    "degree_distribution",
    "dp_balanced_sample",
    "dp_source_rollup",
    # round-4 metrics/centrality/text additions
    "betweenness",
    "assortativity",
    "dp_tfidf",
    "dp_quantize",
    # round-4 late additions
    "katz",
    "transitivity",
    "louvain_copurchase",
    "dp_profile",
    "seeded_lpa",
    "wl_labels",
    "dp_stream_degrees",
    "dp_dedup_corpus",
    "dp_boilerplate",
    "negative_edges",
    "split_edges",
    # round-4 final additions
    "eigenvector",
    "group_edges",
    "triad_census",
    "dp_dup_spans",
    "dp_word_freq",
    "dp_temp_sample",
    "dp_bloom_decontam",
    "dp_cross_dedup",
    "dp_remove_spans",
    "dp_funnel",
    "dp_retention",
    "dp_lm_score",
    # round-6 additions
    "hash2vec",
    "svdpp_full",
    "dp_stream_contamination",
    "dp_stream_near_dup",
    # round-7 additions
    "cc_skew_broadcast",
    "random_walks_det",
    "cc_incremental",
    # round-8 addition (newly deterministic/oracled walk engine).
    # q_mis deliberately stays OUT of the headline: its perfect-matching
    # construction needs ~log2(n_pairs) ≈ 17 sequential MIS rounds by
    # design (a correctness stress, not a perf-representative op) and
    # would dominate the total at ~26s.
    "random_walks",
    # round-8 second-session additions (deterministic PIC power iteration
    # and the hash-seeded-medoid IVF quantizer — both newly full-oracled)
    "pic",
    "dp_ivf_topk",
    # round-11 additions: string-id incremental CC (label-domain
    # delta-update) and the HLL-sketch neighborhood function
    "cc_incremental_string",
    "hyperball",
]


#: share of the host's memory given to the driver heap (as perfbench does)
HEAP_SHARE = 0.25
#: jobs and stages the status store keeps, so that a per-query read sees
#: all of them (louvain_copurchase runs 355 stages, sssp 249; a limit of
#: 100 evicted their early stages before the query finished)
RETAINED = 100_000


def host_heap_mb() -> int:
    """A quarter of MemTotal: local mode runs every executor thread in the
    driver JVM, and a fixed heap larger than the host would let the JVM
    grow past physical memory instead of collecting."""
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(int(line.split()[1]) / 1024 * HEAP_SHARE)
    raise RuntimeError("no MemTotal in /proc/meminfo")


def build_session(cpus: int) -> SparkSession:
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("graphframes_spark-bench")
        # local mode runs all executor threads inside the driver JVM; the
        # 1g default heap OOMs at sf0.1 (plan-string rendering alone can
        # exhaust it on deep iterative plans)
        .config("spark.driver.memory", f"{host_heap_mb()}m")
        # the SQL status store retains 1000 executions even with the UI
        # off; deep iterative plans carry thousands of metrics each, so
        # a 62-query run would pin GBs of dead SQLPlanMetric arrays.
        # (No forced periodic GC here: System.gc() on a large heap is a
        # multi-second STW pause that lands inside measured queries —
        # A/B'd at +16% on pagerank.)
        .config("spark.sql.ui.retainedExecutions", "16")
        .config("spark.ui.retainedJobs", str(RETAINED))
        .config("spark.ui.retainedStages", str(RETAINED))
        .config("spark.sql.maxPlanStringLength", str(4 * 1024 * 1024))
        .config("spark.sql.shuffle.partitions", str(2 * cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )


def _read_proc_stat() -> tuple[float, float, float]:
    """(total_jiffies, busy_jiffies, steal_jiffies) machine-wide from
    /proc/stat line 1. ``steal`` is CPU the hypervisor gave to another
    guest while this VM wanted it — co-tenancy at the HOST level, which
    loadavg and the in-VM busy split cannot see (round 11: idle-machine
    benches still showed sporadic 2-4x query outliers; cumulative steal
    was ~25% of user time over the session)."""
    with open("/proc/stat") as fh:
        parts = fh.readline().split()[1:]
    vals = [float(x) for x in parts]
    total = sum(vals)
    idle = vals[3] + (vals[4] if len(vals) > 4 else 0.0)  # idle + iowait
    steal = vals[7] if len(vals) > 7 else 0.0
    return total, total - idle, steal


def _read_pid_jiffies(pid: int) -> float:
    """utime+stime jiffies of one process (its threads included)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            parts = fh.read().rsplit(")", 1)[1].split()
        return float(parts[11]) + float(parts[12])  # fields 14,15 (utime,stime)
    except OSError:
        return 0.0


def _jvm_pid(spark: SparkSession) -> int:
    try:
        return int(
            spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        )
    except Exception:
        return 0


class LoadMonitor:
    """Per-query load context (round-11: the +8.4% round-10 headline drift
    was uninterpretable without it). Splits machine-wide busy CPU during
    each measured query into this benchmark's own usage (the Spark JVM +
    this Python driver) and everything else — `cotenant_cores` > ~1 core
    during a measurement window means the number was taken under external
    load and round-over-round deltas need the paired protocol, not a raw
    comparison."""

    def __init__(self, spark: SparkSession) -> None:
        self._pids = [p for p in (_jvm_pid(spark), os.getpid()) if p]
        self._clk = os.sysconf("SC_CLK_TCK")
        self._ncpu = os.cpu_count() or 1

    def start(self) -> tuple:
        total, busy, steal = _read_proc_stat()
        return (total, busy, steal, sum(_read_pid_jiffies(p) for p in self._pids))

    def finish(self, token: tuple) -> dict:
        t0, b0, st0, s0 = token
        total, busy, steal = _read_proc_stat()
        self_j = sum(_read_pid_jiffies(p) for p in self._pids)
        dt = max(total - t0, 1e-9) / self._ncpu  # jiffies -> per-cpu ticks
        busy_cores = (busy - b0) / dt
        self_cores = (self_j - s0) / dt
        return {
            "load1": round(os.getloadavg()[0], 2),
            "busy_cores": round(busy_cores, 2),
            "self_cores": round(self_cores, 2),
            "cotenant_cores": round(max(busy_cores - self_cores, 0.0), 2),
            "steal_cores": round((steal - st0) / dt, 2),
        }


def run_query(spark: SparkSession, name: str, sf_dir: str) -> float:
    fn = entry_mod.queries()[name]
    start = time.perf_counter()
    df = fn(spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - start


# A measurement window is contaminated when the hypervisor stole this
# much CPU or other processes burned this much during it (r11 quiet
# records: steal_median 0.0 / max 0.3 — 0.4 clears honest jitter; the
# contaminated driver run peaked at 5.18 steal / 12.02 cotenant cores).
STEAL_THRESHOLD = 0.4
COTENANT_THRESHOLD = 1.0
#: clean samples each query should hold before the median is trusted
CLEAN_TARGET = 2


def _is_clean(ctx: dict) -> bool:
    return (
        ctx["steal_cores"] <= STEAL_THRESHOLD
        and ctx["cotenant_cores"] <= COTENANT_THRESHOLD
    )


#: the stdout line must stay under a 2000-char stdout-tail capture
LINE_LIMIT = 1900
#: queries the line keeps by time when all of them do not fit
KEEP_SLOWEST = 40


def compact_line(compact: dict, timings: dict[str, float]) -> str:
    """``compact`` as one JSON line of at most LINE_LIMIT chars.

    When every query does not fit, the line keeps the KEEP_SLOWEST
    slowest (fewer, if even those do not fit) and names every other
    query key in ``queries_omitted``: a query never drops silently."""
    line = json.dumps(compact)
    ranked = sorted(timings, key=lambda k: -timings[k])
    keep = KEEP_SLOWEST
    while len(line) > LINE_LIMIT and keep >= 0:
        compact["queries"] = {k: round(timings[k], 2) for k in ranked[:keep]}
        compact["queries_omitted"] = ranked[keep:]
        line = json.dumps(compact)
        keep -= 1
    return line


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    warmup = int(os.environ.get("SPARK_GRAFT_WARMUP", "1"))
    repeats = int(os.environ.get("SPARK_GRAFT_REPEATS", "3"))
    max_retries = int(os.environ.get("SPARK_GRAFT_MAX_RETRIES", "3"))
    names = sys.argv[1:] or HEADLINE

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = build_session(cpus)
    spark.sparkContext.setLogLevel("ERROR")

    from graphframes_spark import pregel as pregel_mod

    for _ in range(warmup):
        for name in names:
            run_query(spark, name, sf_dir)

    monitor = LoadMonitor(spark)
    samples: dict[str, list[float]] = {name: [] for name in names}
    load_ctx: dict[str, list[dict]] = {name: [] for name in names}
    supersteps: dict[str, list[float]] = {}
    for rep in range(repeats):
        for name in names:
            pregel_mod.LAST_RUN_SUPERSTEP_SECONDS.clear()
            tok = monitor.start()
            samples[name].append(run_query(spark, name, sf_dir))
            load_ctx[name].append(monitor.finish(tok))
            if pregel_mod.LAST_RUN_SUPERSTEP_SECONDS:
                supersteps[name] = [
                    round(s, 3) for s in pregel_mod.LAST_RUN_SUPERSTEP_SECONDS
                ]
        print(f"# rep {rep + 1}/{repeats} done", file=sys.stderr)

    # ---- weather retries: re-sample queries whose windows were contaminated
    # (round-robin so a transient load burst doesn't eat one query's whole
    # retry budget; each query bounded by max_retries extra samples)
    clean_target = min(CLEAN_TARGET, repeats) if repeats else 0
    retries: dict[str, int] = {name: 0 for name in names}
    for _retry_pass in range(max_retries):
        needy = [
            name
            for name in names
            if sum(_is_clean(c) for c in load_ctx[name]) < clean_target
            and retries[name] < max_retries
        ]
        if not needy:
            break
        print(
            f"# weather retry pass: {len(needy)} contaminated queries",
            file=sys.stderr,
        )
        for name in needy:
            retries[name] += 1
            pregel_mod.LAST_RUN_SUPERSTEP_SECONDS.clear()
            tok = monitor.start()
            samples[name].append(run_query(spark, name, sf_dir))
            load_ctx[name].append(monitor.finish(tok))
            if pregel_mod.LAST_RUN_SUPERSTEP_SECONDS:
                supersteps[name] = [
                    round(s, 3) for s in pregel_mod.LAST_RUN_SUPERSTEP_SECONDS
                ]

    timings: dict[str, float] = {}
    spread: dict[str, list[float]] = {}
    contaminated: list[str] = []
    for name in names:
        clean = [
            s for s, c in zip(samples[name], load_ctx[name]) if _is_clean(c)
        ]
        if len(clean) < clean_target:
            contaminated.append(name)
        # median over clean samples when any exist (the whole point of the
        # retries); all samples only when every window was contaminated
        reps = sorted(clean or samples[name])
        mid = len(reps) // 2
        median = reps[mid] if len(reps) % 2 else (reps[mid - 1] + reps[mid]) / 2
        timings[name] = round(median, 3)
        all_sorted = sorted(samples[name])
        spread[name] = [round(all_sorted[0], 3), round(all_sorted[-1], 3)]
        flag = " CONTAMINATED" if name in contaminated else ""
        print(
            f"# {name}: median {timings[name]}s "
            f"(min {spread[name][0]} max {spread[name][1]}, "
            f"{len(clean)}/{len(samples[name])} clean){flag}",
            file=sys.stderr,
        )

    total = round(sum(timings.values()), 3)
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    # run-level load summary for the compact stdout line: median over all
    # per-query measurement windows — a single number that says whether
    # this suite ran quiet (cotenant_cores ~0) or contended
    all_ctx = [c for per_q in load_ctx.values() for c in per_q]

    def _median(vals: list[float]) -> float:
        vs = sorted(vals)
        mid = len(vs) // 2
        return vs[mid] if len(vs) % 2 else (vs[mid - 1] + vs[mid]) / 2

    load_summary = {
        "load1_median": round(_median([c["load1"] for c in all_ctx]), 2),
        "load1_max": round(max(c["load1"] for c in all_ctx), 2),
        "cotenant_cores_median": round(
            _median([c["cotenant_cores"] for c in all_ctx]), 2
        ),
        "cotenant_cores_max": round(
            max(c["cotenant_cores"] for c in all_ctx), 2
        ),
        "steal_cores_median": round(
            _median([c["steal_cores"] for c in all_ctx]), 2
        ),
        "steal_cores_max": round(max(c["steal_cores"] for c in all_ctx), 2),
    }
    # Full detail (spread, superstep traces, raw samples) goes to a
    # sidecar file; the stdout line must stay well under the driver's
    # 2000-char stdout-tail capture or BENCH_r{N}.json ends up with a
    # truncated, unparseable tail (this bit rounds 4-5: parsed=null).
    full = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "spread": spread,
        "supersteps": supersteps,
        "samples": {k: [round(x, 3) for x in v] for k, v in samples.items()},
        "load": load_summary,
        "load_per_query": load_ctx,
        "contaminated_queries": contaminated,
        "weather_retries": {k: v for k, v in retries.items() if v},
        "sf": sf_val,
    }
    sidecar = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "bench_full_latest.json"
    )
    with open(sidecar, "w") as fh:
        json.dump(full, fh, indent=1)
    compact = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": {k: round(v, 2) for k, v in timings.items()},
        "load": load_summary,
        "contaminated_queries": contaminated,
        "sf": sf_val,
    }
    print(compact_line(compact, timings))


if __name__ == "__main__":
    main()
