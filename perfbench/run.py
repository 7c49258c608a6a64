"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload graph_iter_sf01 --seed 1 --seconds 15 --trace 0

One client in a closed loop: a single Python process issues the workload's
queries one after another on ``local[<cores>]`` and writes each result to
Spark's noop sink. After set-up (session start, seeded input generation
repeated ``INPUT_REPEATS`` times, and a warmup pass whose collected outputs
go through the correctness gate) timed passes run until ``--seconds`` is
spent and at least ``MIN_PASSES`` have run. The seed generates the input and
permutes the query order of every pass.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs untraced
and traced passes in ABBA-BAAB order (whole blocks of eight, at least one)
and reports the per-layer metrics of the traced passes, the per-query times
of the untraced ones, the tracing overhead (mean traced minus mean untraced
``pass_s``), and writes every span to
``.perfbench_out/spans_<workload>_seed<seed>.json``.
Metric names and units come from ``BENCHMARK.json``.

``--sf-dir DIR`` reads the sf workload's tables from DIR instead of
generating them, to compare the generated tables with a reference copy.

The last stdout line is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``; the lines above it (prefixed
``#``) give the per-query times, load context and per-query layers.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import resource
import shutil
import statistics
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# the library, __spark_entry__, bench.py and tools/ live at the checkout root
sys.path.insert(0, ROOT)

import tracing  # noqa: E402
import workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)

#: input set-ups per run; ``setup.input_s`` is their median
INPUT_REPEATS = 3
#: fewest untraced timed passes in a run; ``pass_s`` is their median
MIN_PASSES = 3
#: pass kinds of one block in a traced run (True = traced): ABBA then
#: BAAB, so a drift in pass time that is linear or quadratic in the pass
#: index cancels out of the traced-minus-untraced mean
ABBA_BAAB = (False, True, True, False, True, False, False, True)
#: share of MemTotal given to the driver heap (local mode: executors too)
HEAP_SHARE = 0.25
#: status-store retention: far above the jobs/stages one run creates, so
#: nothing of a query is evicted before it is read
RETAINED = 100_000


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def host_heap_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(int(line.split()[1]) / 1024 * HEAP_SHARE)
    raise RuntimeError("no MemTotal in /proc/meminfo")


def build_session(work_dir: str, cores: int, heap_mb: int):
    from pyspark.sql import SparkSession

    local = os.path.join(work_dir, "spark-local")
    os.makedirs(local, exist_ok=True)
    # spill, shuffle, JVM and Python temp files stay inside the work
    # directory; the JVMs keep no perf-data files in the system temp dir
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = local
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    tempfile.tempdir = local
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("graphframes_spark-perfbench")
        .config("spark.driver.memory", f"{heap_mb}m")
        # fixed heap and young generation: resizing them on demand makes
        # peak RSS depend on GC timing rather than on the workload
        .config("spark.driver.extraJavaOptions",
                f"-Xms{heap_mb}m -Xmn{heap_mb // 4}m -XX:-UsePerfData -Djava.io.tmpdir={local}")
        .config("spark.local.dir", local)
        .config("spark.sql.warehouse.dir", os.path.join(work_dir, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(2 * cores))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.retainedJobs", str(RETAINED))
        .config("spark.ui.retainedStages", str(RETAINED))
        .config("spark.ui.retainedTasks", str(RETAINED))
        .config("spark.sql.ui.retainedExecutions", "16")
        .config("spark.sql.maxPlanStringLength", str(4 * 1024 * 1024))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


class Runner:
    """One benchmark run: session, input, gate, timed passes."""

    def __init__(self, args: argparse.Namespace) -> None:
        import bench

        self.args = args
        self.workload = workloads.WORKLOADS[args.workload]
        self.size = workloads.TINY if args.tiny else workloads.FULL
        self.rng = random.Random(args.seed)
        self.cores = host_cores()
        self.heap_mb = host_heap_mb()
        self.work_dir = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
        self.bench = bench
        self.tracer = tracing.Tracer()
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.setup: dict[str, float] = {}
        self.check_s = 0.0

    # ---------------------------------------------------------------- set-up

    def start(self) -> None:
        t0 = time.perf_counter()
        self.spark = build_session(self.work_dir, self.cores, self.heap_mb)
        self.setup["setup.session_s"] = time.perf_counter() - t0
        self.status = tracing.SparkStatus(self.spark)
        self.monitor = self.bench.LoadMonitor(self.spark)
        self.jvm_pid = int(self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
        input_times = []
        self.prepared = None
        for _ in range(INPUT_REPEATS):
            if self.prepared is not None:
                self.prepared.close()
            t0 = time.perf_counter()
            self.prepared = self.workload.prepare(
                self.spark, self.work_dir, self.size, self.args.seed, self.args.sf_dir
            )
            input_times.append(time.perf_counter() - t0)
        self.setup["setup.input_s"] = statistics.median(input_times)

    def gate_pass(self) -> None:
        """Warmup pass: every query once, output collected and checked."""
        walls = []
        for q in self._order():
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                out = self.prepared.run(q).toPandas()
            except Exception as ex:
                self._fail(q, f"raised {type(ex).__name__}: {ex}")
                continue
            finally:
                walls.append(time.perf_counter() - t0)
                self._clear_cache()
            t1 = time.perf_counter()
            try:
                problem = self.prepared.check(q, out)
            except Exception as ex:
                problem = f"check raised {type(ex).__name__}: {ex}"
            self.check_s += time.perf_counter() - t1
            if problem:
                self._fail(q, problem)
        self.setup["setup.warmup_s"] = sum(walls)

    # ---------------------------------------------------------------- passes

    def _order(self) -> list[str]:
        order = list(self.workload.queries)
        self.rng.shuffle(order)
        return order

    def _fail(self, query: str, reason: str) -> None:
        self.failed += 1
        self.failures.append(f"{query}: {reason}")
        print(f"# FAIL {query}: {reason}", file=sys.stderr)

    def _clear_cache(self) -> None:
        # results the library returns persisted would otherwise be reused
        # by the next pass's identical plans, or pile up across passes
        self.spark.catalog.clearCache()
        self.status.drop_persistent_rdds()

    def run_pass(self, index: int, traced: bool) -> dict:
        """One pass over the workload's queries. ``walls`` holds each
        query's wall time; ``pass_s`` sums, per query, that wall time plus
        the tracing's own work for the query (job group, spans, status
        store reads), so traced minus untraced ``pass_s`` is the tracing
        overhead."""
        sc = self.spark.sparkContext
        if traced:
            self.tracer.install()
        token = self.monitor.start()
        walls: dict[str, float] = {}
        pass_s = 0.0
        traces: list[tracing.QueryTrace] = []
        try:
            for q in self._order():
                self.attempted += 1
                group = f"perfbench-{index}-{q}"
                t_query = time.perf_counter()
                if traced:
                    qt = tracing.QueryTrace(q)
                    self.tracer.current = qt
                    sc.setJobGroup(group, q)
                    rdds_before = self.status.persistent_rdds()
                start_epoch = time.time()
                t0 = time.perf_counter()
                try:
                    with self.tracer.span("lib.call"):
                        df = self.prepared.run(q)
                    with self.tracer.span("sink"):
                        df.write.format("noop").mode("overwrite").save()
                except Exception:
                    self._fail(q, traceback.format_exc(limit=3).strip().splitlines()[-1])
                walls[q] = time.perf_counter() - t0
                if traced:
                    self.tracer.current = None
                    qt.wall_s = walls[q]
                    qt.leaked_rdds = self.status.persistent_rdds() - rdds_before
                    qt.spark, intervals = self.status.collect(group)
                    end_epoch = start_epoch + walls[q]
                    qt.job_intervals = [
                        (max(s, start_epoch), min(e, end_epoch)) for s, e in intervals if e > start_epoch
                    ]
                    traces.append(qt)
                    sc.setLocalProperty("spark.jobGroup.id", None)
                pass_s += time.perf_counter() - t_query
                self._clear_cache()
        finally:
            self.tracer.current = None
            if traced:
                self.tracer.uninstall()
        load = self.monitor.finish(token)
        load["noisy"] = not self.bench._is_clean(load)
        return {"traced": traced, "walls": walls, "pass_s": pass_s,
                "tracing_s": pass_s - sum(walls.values()), "load": load, "traces": traces}

    def timed_passes(self) -> list[dict]:
        """Closed loop until ``--seconds`` is spent and at least
        ``MIN_PASSES`` passes ran; with tracing, whole ABBA-BAAB blocks."""
        passes: list[dict] = []
        block = ABBA_BAAB if self.args.trace else (False,)
        t0 = time.perf_counter()
        while True:
            traced = block[len(passes) % len(block)]
            passes.append(self.run_pass(len(passes), traced))
            if (
                time.perf_counter() - t0 >= self.args.seconds
                and len(passes) >= MIN_PASSES
                and len(passes) % len(block) == 0
            ):
                return passes

    def peak_rss_mb(self) -> float:
        py = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
        return vm_hwm_mb(self.jvm_pid) + py

    def close(self) -> None:
        if getattr(self, "prepared", None) is not None:
            self.prepared.close()
        if getattr(self, "spark", None) is not None:
            stop_session(self.spark)
        shutil.rmtree(self.work_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(self.work_dir))
        except OSError:  # another run's directory is still there
            pass


# ------------------------------------------------------------------ reporting


def _clean_median(passes: list[dict], key) -> float:
    """Median over passes the load monitor found quiet; over all passes
    when none was."""
    chosen = [p for p in passes if not p["load"]["noisy"]] or passes
    return statistics.median(key(p) for p in chosen)


def layer_totals(traces) -> dict[str, float]:
    totals: dict[str, float] = {}
    for qt in traces:
        for k, v in qt.layer_metrics().items():
            if k == "spark.straggler_ratio":
                totals[k] = max(totals.get(k, 0.0), v)
            else:
                totals[k] = totals.get(k, 0.0) + v
    return totals


def query_medians(passes: list[dict]) -> dict[str, float]:
    """``query_s.<query>`` for every query of every workload: the median
    wall time over the given passes, 0 for queries this workload does not
    run."""
    out = {}
    for wl in workloads.WORKLOADS.values():
        for q in wl.queries:
            samples = [p["walls"][q] for p in passes if q in p["walls"]]
            out[f"query_s.{q}"] = statistics.median(samples) if samples else 0.0
    return out


def per_layer_metrics(runner: Runner, passes: list[dict]) -> dict[str, float]:
    traced = [p for p in passes if p["traced"]]
    plain = [p for p in passes if not p["traced"]]
    per_pass = [layer_totals(p["traces"]) for p in traced]
    names = per_pass[0].keys()
    m = {k: statistics.median(t[k] for t in per_pass) for k in names}
    traced_s = statistics.median(p["pass_s"] for p in traced)
    plain_s = statistics.median(p["pass_s"] for p in plain)
    stages = m.pop("spark.stages_skipped")
    m["spark.stages_skipped_frac"] = stages / m["spark.stages"] if m["spark.stages"] else 0.0
    m.pop("query_s")
    m["trace.pass_s"] = traced_s
    m["trace.overhead_s"] = (statistics.fmean(p["pass_s"] for p in traced)
                             - statistics.fmean(p["pass_s"] for p in plain))
    # shares of the untraced pass, the end-to-end pass_s
    m["driver.outside_job_frac"] = m["driver.outside_job_s"] / plain_s
    m["spark.task_run_per_core_frac"] = m["spark.task_run_s"] / runner.cores / plain_s
    m["ops_failed_frac"] = runner.failed / runner.attempted
    m.update(query_medians(plain))
    m.update(runner.setup)
    return m


def write_spans(runner: Runner, passes: list[dict]) -> str:
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"spans_{runner.args.workload}_seed{runner.args.seed}.json")
    doc = []
    for i, p in enumerate(passes):
        if not p["traced"]:
            continue
        for qt in p["traces"]:
            doc.append({
                "pass": i,
                "query": qt.query,
                "layers": qt.layer_metrics(),
                "job_intervals": qt.job_intervals,
                "spans": [
                    {"name": s.name, "start": s.start, "end": s.end, "parent": s.parent,
                     "self_s": s.self_s}
                    for s in qt.spans
                ],
            })
    with open(path, "w") as fh:
        json.dump(doc, fh, indent=1)
    return path


def declared(kind: str, values: dict[str, float]) -> dict[str, dict]:
    """The ``BENCHMARK.json`` metrics of one kind, with their units."""
    return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in SPEC[kind]}


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true",
                   help="sf0.001 tables and a 2k-vertex graph (smoke tests)")
    p.add_argument("--sf-dir",
                   help="read the sf tables from this directory instead of generating them")
    return p.parse_args(argv)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    # fail before starting Spark when the library is missing
    import graphframes_spark  # noqa: F401

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}",
              file=sys.stderr)
        return 2
    if args.sf_dir and not workloads.WORKLOADS[args.workload].reads_sf_tables:
        print(f"--sf-dir applies to workloads on sf tables, not {args.workload}", file=sys.stderr)
        return 2
    runner = Runner(args)
    try:
        runner.start()
        runner.gate_pass()
        passes = runner.timed_passes()
        peak = runner.peak_rss_mb()
        spans_path = write_spans(runner, passes) if args.trace else None
    finally:
        runner.close()

    setup_s = sum(runner.setup.values())
    plain = [p for p in passes if not p["traced"]]
    print(f"# workload {args.workload} seed {args.seed} cores {runner.cores} "
          f"heap_mb {runner.heap_mb} input {json.dumps(runner.prepared.size)}")
    print(f"# setup {json.dumps({k: round(v, 4) for k, v in runner.setup.items()})} "
          f"gate_check_s {runner.check_s:.3f}")
    for q in runner.workload.queries:
        samples = [p["walls"][q] for p in plain if q in p["walls"]]
        print(f"# query_s.{q} {statistics.median(samples):.4f} s (n={len(samples)})")
    for i, p in enumerate(passes):
        flag = " NOISY" if p["load"]["noisy"] else ""
        print(f"# pass {i} {'traced' if p['traced'] else 'untraced'} {p['pass_s']:.4f} s "
              f"(tracing {p['tracing_s']:.4f} s) load {json.dumps(p['load'])}{flag}")
    print(f"# ops_failed_frac {runner.failed / runner.attempted:.4f} "
          f"({runner.failed}/{runner.attempted})")
    for f in runner.failures:
        print(f"# failure {f}")

    if args.trace:
        metrics = per_layer_metrics(runner, passes)
        for p in passes:
            for qt in p["traces"]:
                layers = {k: round(v, 4) for k, v in qt.layer_metrics().items()}
                print(f"# layers {qt.query} {json.dumps(layers)}")
        print(f"# spans written to {os.path.relpath(spans_path, ROOT)}")
        result = declared("per_layer", metrics)
    else:
        result = declared("end_to_end", {
            "setup_s": setup_s,
            "pass_s": _clean_median(plain, lambda p: p["pass_s"]),
            "peak_rss_mb": peak,
        })
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": result,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
