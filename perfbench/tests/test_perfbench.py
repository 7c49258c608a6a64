"""Tests for the benchmark itself (not the library).

Run from the repository root:  python -m pytest perfbench/tests -q
The Spark tests use the tiny input sizes (sf0.001 tables, 2k-vertex graph).
"""

from __future__ import annotations

import functools
import hashlib
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH_DIR)
sys.path[:0] = [BENCH_DIR, ROOT]

import inputs  # noqa: E402
import reference  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


def test_same_seed_same_edges_and_other_seed_differs():
    a = inputs.edge_checksum(*inputs.skewed_graph(5_000, 25_000, seed=7))
    b = inputs.edge_checksum(*inputs.skewed_graph(5_000, 25_000, seed=7))
    c = inputs.edge_checksum(*inputs.skewed_graph(5_000, 25_000, seed=8))
    assert a == b
    assert a != c


def test_skewed_graph_is_simple_and_hub_heavy():
    src, dst = inputs.skewed_graph(5_000, 25_000, seed=1)
    assert (src != dst).all()
    assert len(set(zip(src.tolist(), dst.tolist()))) == len(src)
    degree = [0] * 5_000
    for v in list(src) + list(dst):
        degree[v] += 1
    assert degree[0] == max(degree)
    assert degree[0] > 20 * (2 * len(src) / 5_000)


def frame_checksum(df) -> str:
    """Order-insensitive checksum of a pandas frame."""
    import pandas as pd

    canon = df[sorted(df.columns)].sort_values(sorted(df.columns), ignore_index=True)
    return hashlib.sha256(pd.util.hash_pandas_object(canon, index=False).values.tobytes()).hexdigest()


def test_tables_are_deterministic_per_seed(tmp_path):
    import pandas as pd

    def checksums(seed, name):
        out = tmp_path / name
        inputs.write_tpch_tables(str(out), 0.001, seed)
        return {t: frame_checksum(pd.read_parquet(out / f"{t}.parquet"))
                for t in ("orders", "events", "documents")}

    assert checksums(3, "a") == checksums(3, "b")
    assert checksums(3, "a") != checksums(4, "c")


def test_pagerank_reference_matches_a_plain_loop():
    src, dst = inputs.skewed_graph(300, 1_500, seed=2)
    n = 300
    out_deg = [0] * n
    for s in src:
        out_deg[s] += 1
    rank = [1.0 / n] * n
    for _ in range(4):
        nxt = [0.15 / n] * n
        for s, d in zip(src, dst):
            nxt[d] += 0.85 * rank[s] / out_deg[s]
        rank = nxt
    assert reference.pagerank(n, src, dst, 0.15, 4) == pytest.approx(rank, rel=1e-12)


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    import run

    work = str(tmp_path_factory.mktemp("spark"))
    session = run.build_session(work, cores=2, heap_mb=1024)
    yield session
    run.stop_session(session)


def test_traced_and_untraced_outputs_are_identical(spark, tmp_path):
    import workloads
    from tracing import QueryTrace, Tracer

    tracer = Tracer()
    for wl in workloads.WORKLOADS.values():
        prepared = wl.prepare(spark, str(tmp_path / wl.name), workloads.TINY, 5)
        try:
            for q in wl.queries:
                plain = frame_checksum(prepared.run(q).toPandas())
                tracer.install()
                tracer.current = QueryTrace(q)
                try:
                    with tracer.span("lib.call"):
                        traced = frame_checksum(prepared.run(q).toPandas())
                    spans = {s.name for s in tracer.current.spans}
                finally:
                    tracer.current = None
                    tracer.uninstall()
                assert traced == plain, q
                assert "lib.call" in spans
        finally:
            prepared.close()
    # uninstall restored the library's own functions
    from graphframes_spark import pregel

    assert not hasattr(pregel.Pregel.run, "__wrapped__")


def _run_bench_proc(workload: str, trace: int) -> subprocess.CompletedProcess:
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH_DIR, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace), "--tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return proc


def _run_bench(workload: str, trace: int) -> dict:
    return json.loads(_run_bench_proc(workload, trace).stdout.strip().splitlines()[-1])


@functools.lru_cache(maxsize=None)
def _traced_stdout(workload: str) -> tuple[str, ...]:
    return tuple(_run_bench_proc(workload, trace=1).stdout.strip().splitlines())


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_tiny_run_is_correct_and_reports_every_end_to_end_metric(workload):
    result = _run_bench(workload, trace=0)
    assert sorted(result) == ["attempted", "correct", "failed", "metrics"]
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 2
    declared = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == declared
    assert all(v["value"] > 0 for v in result["metrics"].values())


#: per-layer metrics that read exactly 0, because the workload does not run
#: that query or layer
NOT_RUN = {
    "graph_iter_sf01": {"query_s.pagerank", "pregel.run_s", "pregel.supersteps"},
    "graph_iter_skewed": {
        "query_s.cc_incremental", "query_s.motif_negation", "query_s.dp_exact_dedup",
        "motif.find_s", "datapipe.call_s",
        "harness.checkpoint_calls", "harness.checkpoint_s", "harness.persist_calls",
    },
}
#: per-layer metrics a correct tiny run may read as 0: the failure fraction,
#: and spill, stragglers and GC, which the tiny inputs are too small to cause
MAY_BE_ZERO = {"ops_failed_frac", "spark.spill_bytes", "spark.straggler_ratio", "spark.gc_s"}


@pytest.mark.parametrize("workload", sorted(NOT_RUN))
def test_traced_run_reports_every_per_layer_metric(workload):
    result = json.loads(_traced_stdout(workload)[-1])
    assert result["correct"] is True
    declared = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == declared
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert m["ops_failed_frac"] == 0
    for name, value in m.items():
        if name in NOT_RUN[workload]:
            assert value == 0, name
        elif name in MAY_BE_ZERO:
            assert value >= 0, name
        elif name != "trace.overhead_s":
            assert value > 0, name


@pytest.mark.parametrize("workload", sorted(NOT_RUN))
def test_tracing_overhead_is_not_negative_on_a_quiet_run(workload):
    """The overhead is mean traced minus mean untraced pass_s over
    ABBA-BAAB-ordered passes; on a run the load monitor found quiet it is
    not negative."""
    lines = _traced_stdout(workload)
    if any(line.startswith("# pass") and line.endswith("NOISY") for line in lines):
        pytest.skip("a pass ran under co-tenant load or steal")
    overhead = json.loads(lines[-1])["metrics"]["trace.overhead_s"]["value"]
    assert overhead >= 0


def test_fails_without_the_library(tmp_path):
    """In a directory holding only the benchmark, the run exits non-zero
    without printing a result."""
    shutil.copytree(BENCH_DIR, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "graph_iter_sf01", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
