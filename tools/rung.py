"""Scale rungs: time graph or corpus operators at one or more input
scales and report each operator's scaling exponent.

Usage: python tools/rung.py {graph|corpus} <scale[,scale...]> <op> [op ...] [--passes N]

Per scale, the seeded input is written to parquet outside timing, then
every op runs 1 warmup and N measured passes (the reference's JMH shape,
benchmarks/.../LDBCBenchmarkSuite.scala:29-160) into a noop sink, each
inside a ``bench.LoadMonitor`` window; Pregel-backed ops also keep
``pregel.LAST_RUN_SUPERSTEP_SECONDS`` per pass. graph scale 1 = wiki-Talk
size (2.39M vertices / 5.02M edges); corpus scale 1 = 50,000 documents.
Prints ONE JSON line: per op and scale the passes, min and median, and
per op ``alpha = log(t_hi / t_lo) / log(E_hi / E_lo)`` on the min between
adjacent scales (E = distinct edges or documents). SPARK_GRAFT_CPUS sets
the local cores (default: the affinity mask) of ``bench.build_session``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import time
from types import SimpleNamespace

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from bench import LoadMonitor  # noqa: E402
from graphframes_spark import GraphFrame  # noqa: E402
from graphframes_spark import datapipe as dp  # noqa: E402
from graphframes_spark import pregel as pregel_mod  # noqa: E402

WIKI_TALK_V = 2_394_385
WIKI_TALK_E = 5_021_410
CDLP_ITERS = 10  # benchmarks/.../LDBCBenchmarkSuite.scala:137-147
BASE_DOCS = 50_000
VOCAB = 30_000
DOC_TOKENS = 64


def generate_graph(spark: SparkSession, out_dir: str, scale: float) -> None:
    """Deterministic wiki-Talk-shaped graph written to parquet.

    Endpoints are sampled with density ∝ rank^(-2/3) (u³ inverse
    transform): vertex 0 collects ~0.75% of all edge ends (~75k degree
    at full scale) — the hub skew the reference's CC/CDLP claims are
    about. Self-loops dropped, multi-edges deduped (Graphalytics graphs
    are simple)."""
    n_v = max(int(WIKI_TALK_V * scale), 100)
    n_e = max(int(WIKI_TALK_E * scale), 200)

    def endpoint(salt: int):
        u = (
            F.pmod(F.xxhash64(F.col("id"), F.lit(salt)), F.lit(1_000_000_007))
            / F.lit(1_000_000_007.0)
        )
        return F.floor(F.lit(float(n_v)) * u * u * u).cast("long")

    edges = (
        spark.range(n_e)
        .select(endpoint(1).alias("src"), endpoint(2).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    vertices = spark.range(n_v).select(F.col("id"))
    edges.write.mode("overwrite").parquet(f"{out_dir}/edges")
    vertices.write.mode("overwrite").parquet(f"{out_dir}/vertices")


def generate_corpus(spark: SparkSession, out_path: str, n_docs: int) -> None:
    """Deterministic corpus: doc i's tokens are w<h> for 64 seeded
    hashes (Zipf-ish skew via squaring the uniform, so common words
    exist and shingle posting lists have realistic hot keys).

    Duplicate structure: docs with i % 10 == 7 replay doc i-7's content
    (exact dup); docs with i % 20 == 4 replay doc i-4 with token 0
    replaced (near dup, Jaccard ~ 0.97 on 3-gram shingles)."""
    base = F.when(F.col("id") % 10 == 7, F.col("id") - 7).otherwise(
        F.when(F.col("id") % 20 == 4, F.col("id") - 4).otherwise(F.col("id"))
    )
    near = F.col("id") % 20 == 4

    def word(i: int):
        u = (
            F.pmod(F.xxhash64(F.col("_base"), F.lit(i)), F.lit(1_000_000_007))
            / F.lit(1_000_000_007.0)
        )
        return F.concat(
            F.lit("w"), F.floor(F.lit(float(VOCAB)) * u * u).cast("long")
        )

    docs = (
        spark.range(n_docs)
        .withColumn("_base", base)
        .withColumn("_near", near)
        .select(
            F.col("id").alias("doc_id"),
            F.concat_ws(
                " ",
                F.when(F.col("_near"), F.lit("subst")).otherwise(word(0)),
                *[word(i) for i in range(1, DOC_TOKENS)],
            ).alias("text"),
        )
    )
    docs.write.mode("overwrite").parquet(out_path)


def graph_input(spark: SparkSession, path: str, scale: float):
    generate_graph(spark, path, scale)
    v, e = spark.read.parquet(f"{path}/vertices"), spark.read.parquet(f"{path}/edges")
    n_v = max(int(WIKI_TALK_V * scale), 100)
    # betweenness: the hub plus 7 ids spread over the rank range, so every
    # scale samples the same number of sources
    sources = [0] + [int(n_v * f) for f in (0.01, 0.05, 0.1, 0.25, 0.5, 0.75, 0.9)]
    unit = GraphFrame(v, e.withColumn("w", F.lit(1.0)))  # PIC's affinity
    return e.count(), SimpleNamespace(g=GraphFrame(v, e), unit=unit, sources=sources)


def corpus_input(spark: SparkSession, path: str, scale: float):
    generate_corpus(spark, path, int(BASE_DOCS * scale))
    docs = spark.read.parquet(path)
    return int(BASE_DOCS * scale), SimpleNamespace(docs=docs)


MINHASH = dict(id_col="doc_id", num_perm=32, num_bands=8, threshold=0.8)
OPS = {
    "graph": {
        "wcc": lambda x: x.g.connectedComponents(),
        "cdlp": lambda x: x.g.labelPropagation(maxIter=CDLP_ITERS),
        # landmark = the hub, the hardest single-landmark BFS
        "shortest_paths": lambda x: x.g.shortestPaths(landmarks=[0], isDirected=False),
        "pagerank": lambda x: x.g.pageRank(resetProbability=0.15, maxIter=10).vertices,
        "scc": lambda x: x.g.stronglyConnectedComponents(maxIter=10),
        "pic": lambda x: x.unit.powerIterationClustering(
            k=4, maxIter=10, weightCol="w", deterministic=True
        ),
        "louvain": lambda x: x.g.louvain(maxPasses=2, maxRoundsPerPass=6),
        "betweenness": lambda x: x.g.betweennessCentrality(x.sources, maxDepth=8),
    },
    "corpus": {
        "scan_quality": lambda x: dp.with_quality_scores(x.docs),
        "exact_dedup": lambda x: dp.dedup_corpus(x.docs, method="exact"),
        "minhash_dedup": lambda x: dp.minhash_lsh_dedup(x.docs, **MINHASH),
        "simhash_pairs": lambda x: dp.simhash_pairs(x.docs, id_col="doc_id", max_hamming=3),
        # against a 1% benchmark slice
        "bloom_decontam": lambda x: dp.decontaminate(
            x.docs, x.docs.filter(F.col("doc_id") % 100 == 0),
            n=3, min_shared=2, num_bits=1 << 22, num_hashes=4,
        ),
        "cross_dedup": lambda x: dp.cross_corpus_dedup(
            x.docs.filter(F.col("doc_id") % 5 == 0), x.docs.filter(F.col("doc_id") % 5 != 0),
            method="exact",
        ),
        # the one-call near-dup capstone: banding + exact-Jaccard verify +
        # CC grouping + keep-best window
        "neardup_corpus": lambda x: dp.dedup_corpus(x.docs, method="minhash", **MINHASH),
    },
}
INPUTS = {"graph": graph_input, "corpus": corpus_input}


def run(spark: SparkSession, kind: str, scales: list[float], ops: list[str],
        passes: int = 2) -> dict:
    monitor = LoadMonitor(spark)
    cells: dict[str, dict[str, dict]] = {op: {} for op in ops}
    sizes: dict[str, int] = {}
    work = tempfile.mkdtemp(prefix="rung_")
    try:
        for scale in sorted(scales):
            key = f"{scale:g}"
            sizes[key], x = INPUTS[kind](spark, f"{work}/{key}", scale)
            for it in range(1 + passes):  # pass 0 = warmup
                for op in ops:
                    pregel_mod.LAST_RUN_SUPERSTEP_SECONDS.clear()
                    tok = monitor.start()
                    t0 = time.perf_counter()
                    OPS[kind][op](x).write.format("noop").mode("overwrite").save()
                    dt, load = round(time.perf_counter() - t0, 3), monitor.finish(tok)
                    print(f"# {op} @{key} pass {it}{'' if it else ' (warmup)'}: {dt}s "
                          f"(cotenant {load['cotenant_cores']})", file=sys.stderr)
                    if not it:
                        continue
                    cell = cells[op].setdefault(key, {"passes": [], "load": []})
                    cell["passes"].append(dt)
                    cell["load"].append(load)
                    if pregel_mod.LAST_RUN_SUPERSTEP_SECONDS:
                        cell.setdefault("supersteps", []).append(
                            [round(s, 3) for s in pregel_mod.LAST_RUN_SUPERSTEP_SECONDS]
                        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    alpha: dict[str, dict[str, float]] = {}
    for op, by_scale in cells.items():
        for cell in by_scale.values():
            cell["min_s"] = min(cell["passes"])
            cell["median_s"] = round(statistics.median(cell["passes"]), 3)
        for lo, hi in zip(by_scale, list(by_scale)[1:]):
            t_lo, t_hi = by_scale[lo]["min_s"], by_scale[hi]["min_s"]
            if t_lo > 0 and sizes[hi] != sizes[lo]:
                alpha.setdefault(op, {})[f"{lo}->{hi}"] = round(
                    math.log(t_hi / t_lo) / math.log(sizes[hi] / sizes[lo]), 3
                )
    return {"kind": kind, "cpus": spark.sparkContext.defaultParallelism,
            "passes": passes, "size": sizes, "ops": cells, "alpha": alpha}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("kind", choices=sorted(OPS))
    ap.add_argument("scales", type=lambda s: [float(x) for x in s.split(",")])
    ap.add_argument("ops", nargs="+")
    ap.add_argument("--passes", type=int, default=2)
    args = ap.parse_args()
    unknown = sorted(set(args.ops) - set(OPS[args.kind]))
    if unknown:  # before paying for a session or an input
        ap.error(f"unknown {args.kind} op(s) {unknown}; valid: {', '.join(OPS[args.kind])}")

    import bench

    spark = bench.build_session(int(os.environ.get("SPARK_GRAFT_CPUS",
                                                   len(os.sched_getaffinity(0)))))
    spark.sparkContext.setLogLevel("ERROR")
    try:
        print(json.dumps(run(spark, args.kind, args.scales, args.ops, args.passes)))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
