"""The benchmark's workloads: which queries run, on which seeded input, and
how each query's output is checked.

- ``graph_iter_sf01``: queries from ``__spark_entry__`` on sf0.1-sized
  TPC-H-ish tables, checked against their DuckDB oracles: the iterative
  cc_incremental and the single-pass motif_negation and dp_exact_dedup,
  whose wall time is mostly Spark's per-job and planning floor.
- ``graph_iter_skewed``: PageRank on a hub-skewed synthetic graph large
  enough that executor task time is most of the wall, checked against the
  numpy power iteration in ``reference.py``.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Callable

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

import inputs
import reference

SF_TABLES = ("customer", "orders", "events", "documents")
SKEWED_PR_ITERS = 2
SKEWED_RESET = 0.15
PR_RTOL = 1e-9


@dataclass(frozen=True)
class Size:
    sf: float
    graph_vertices: int
    graph_edges: int


FULL = Size(sf=0.1, graph_vertices=400_000, graph_edges=2_600_000)
TINY = Size(sf=0.001, graph_vertices=2_000, graph_edges=10_000)


class Prepared:
    """A workload's generated input plus how to run and check its queries."""

    size: dict[str, int]

    def run(self, query: str) -> DataFrame:
        raise NotImplementedError

    def check(self, query: str, out: pd.DataFrame) -> str | None:
        """None when ``out`` is correct, else a one-line reason."""
        raise NotImplementedError

    def close(self) -> None:
        pass


class SfTables(Prepared):
    """TPC-H-ish tables read by ``__spark_entry__.queries()``; outputs are
    compared with ``entry_oracles.oracle_sql()`` run in DuckDB, through
    the same canonicalisation as ``tools/check_oracles.py``."""

    def __init__(
        self, spark: SparkSession, work_dir: str, size: Size, seed: int, sf_dir: str | None = None
    ) -> None:
        import __spark_entry__ as entry

        self._spark = spark
        if sf_dir:
            self._dir = os.path.abspath(sf_dir)
            self.size = {t: pq.ParquetFile(f"{self._dir}/{t}.parquet").metadata.num_rows
                         for t in SF_TABLES}
        else:
            self._dir = os.path.join(work_dir, "sf")
            self.size = inputs.write_tpch_tables(self._dir, size.sf, seed)
        self._queries = entry.queries()
        self._con = None

    def run(self, query: str) -> DataFrame:
        return self._queries[query](self._spark, self._dir)

    def check(self, query: str, out: pd.DataFrame) -> str | None:
        import duckdb
        from tools.check_oracles import canonicalize_pair

        import entry_oracles

        if self._con is None:
            self._con = duckdb.connect()
            for t in SF_TABLES:
                self._con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM '{self._dir}/{t}.parquet'"
                )
        expected = self._con.execute(entry_oracles.oracle_sql()[query]).df()
        s, o, problems = canonicalize_pair(out, expected)
        if problems:
            return "; ".join(problems)
        if list(s.columns) != list(o.columns):
            return f"columns {list(s.columns)} vs {list(o.columns)}"
        if len(s) != len(o):
            return f"rows {len(s)} vs {len(o)}"
        try:
            pd.testing.assert_frame_equal(s, o, check_dtype=False, check_exact=False, rtol=0, atol=0)
        except AssertionError as ex:
            return f"values differ: {str(ex).splitlines()[0][:200]}"
        return None

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None


class SkewedGraph(Prepared):
    """The hub-skewed synthetic graph, read back from parquet by Spark."""

    def __init__(
        self, spark: SparkSession, work_dir: str, size: Size, seed: int, sf_dir: None = None
    ) -> None:
        from graphframes_spark import GraphFrame

        self._n = size.graph_vertices
        self.src, self.dst = inputs.skewed_graph(size.graph_vertices, size.graph_edges, seed)
        out = os.path.join(work_dir, "graph")
        inputs.write_skewed_graph(out, self.src, self.dst, self._n)
        v = spark.read.parquet(os.path.join(out, "vertices.parquet"))
        e = spark.read.parquet(os.path.join(out, "edges.parquet"))
        self.graph = GraphFrame(v, e)
        self.size = {"vertices": self._n, "edges": len(self.src)}

    def run(self, query: str) -> DataFrame:
        if query != "pagerank":
            raise KeyError(query)
        pr = self.graph.pageRank(resetProbability=SKEWED_RESET, maxIter=SKEWED_PR_ITERS)
        return pr.vertices.select("id", "pagerank")

    def check(self, query: str, out: pd.DataFrame) -> str | None:
        if len(out) != self._n or out["id"].nunique() != self._n:
            return f"rows {len(out)} for {self._n} vertices"
        out = out.sort_values("id")
        if not np.array_equal(out["id"].to_numpy(), np.arange(self._n)):
            return "vertex ids differ"
        expected = reference.pagerank(self._n, self.src, self.dst, SKEWED_RESET, SKEWED_PR_ITERS)
        value = out["pagerank"].to_numpy()
        if not np.allclose(value, expected, rtol=PR_RTOL, atol=0.0):
            worst = np.max(np.abs(value - expected) / expected)
            return f"pagerank off by up to {worst:.3g} relative"
        return None


@dataclass(frozen=True)
class Workload:
    name: str
    queries: tuple[str, ...]
    prepare: Callable[[SparkSession, str, Size, int, str | None], Prepared]

    @property
    def reads_sf_tables(self) -> bool:
        return self.prepare is SfTables


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "graph_iter_sf01",
            ("cc_incremental", "motif_negation", "dp_exact_dedup"),
            SfTables,
        ),
        Workload("graph_iter_skewed", ("pagerank",), SkewedGraph),
    )
}
