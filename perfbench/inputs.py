"""Seeded input generators for the benchmark workloads.

Everything here is plain numpy written to parquet with pyarrow, so
inputs are built without Spark and the same seed always yields the same
bytes. Two kinds of input:

- ``write_tpch_tables``: the TPC-H-ish tables (customer, orders, events,
  documents) that ``__spark_entry__.queries()`` and the DuckDB oracles in
  ``entry_oracles.oracle_sql()`` read for the sf workload. Row counts
  follow the repository's testdata scale factors (sf0.1: 15k customers,
  150k orders, 100k events, 5k documents).
- ``skewed_graph``: a scale-free directed graph whose endpoints are drawn
  with the ``floor(V * u**3)`` hub-skewed recipe of ``bench_ldbc``; the
  uniforms come from a splitmix64 hash of the edge id salted with the seed.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_MASK64 = np.uint64(0xFFFFFFFFFFFFFFFF)


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorised splitmix64 finaliser over uint64 (wrapping arithmetic)."""
    with np.errstate(over="ignore"):
        z = x + np.uint64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return (z ^ (z >> np.uint64(31))) & _MASK64


def _unit_uniform(ids: np.ndarray, salt: int) -> np.ndarray:
    """Uniform [0, 1) doubles: a splitmix64 hash of ``ids`` salted with
    ``salt`` (top 53 bits)."""
    salted = ids.astype(np.uint64) ^ _splitmix64(np.array([salt], dtype=np.uint64))
    return (_splitmix64(salted) >> np.uint64(11)).astype(np.float64) / float(1 << 53)


def skewed_graph(num_vertices: int, num_edges: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """Directed simple graph (no self-loops, no multi-edges) with hub skew.

    Endpoint density is proportional to rank**(-2/3): vertex 0 receives
    about ``num_vertices**(-1/3)`` of all edge ends. Returns ``(src, dst)``
    int64 arrays sorted by (src, dst).
    """
    ids = np.arange(num_edges, dtype=np.uint64)
    n = float(num_vertices)
    src = np.floor(n * _unit_uniform(2 * ids, seed) ** 3).astype(np.int64)
    dst = np.floor(n * _unit_uniform(2 * ids + np.uint64(1), seed) ** 3).astype(np.int64)
    keep = src != dst
    key = np.unique(src[keep] * num_vertices + dst[keep])
    return key // num_vertices, key % num_vertices


def edge_checksum(src: np.ndarray, dst: np.ndarray) -> str:
    """Order-sensitive sha256 of an edge list (callers pass sorted edges)."""
    h = hashlib.sha256()
    h.update(np.ascontiguousarray(src, dtype="<i8").tobytes())
    h.update(np.ascontiguousarray(dst, dtype="<i8").tobytes())
    return h.hexdigest()


def write_skewed_graph(out_dir: str, src: np.ndarray, dst: np.ndarray, num_vertices: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(
        pa.table({"id": np.arange(num_vertices, dtype=np.int64)}),
        os.path.join(out_dir, "vertices.parquet"),
    )
    pq.write_table(pa.table({"src": src, "dst": dst}), os.path.join(out_dir, "edges.parquet"))


# ------------------------------------------------------------ TPC-H-ish tables
#
# Distributions measured on the repository's sf0.1 testdata (see README,
# "Generated tables against the testdata"): o_custkey uniform over the
# customers (all but one of 15k customers have orders, 10 on average);
# events in timestamp order with event_id ascending, spread uniformly over
# 1.5k users across 30 days; documents of 10-100 words drawn uniformly from
# a 30-word vocabulary, 5% of them marked " dup" (a few of those repeat an
# earlier text), language en 41% and de/es/fr/zh about 15% each, and
# n_chars the text length.

_LANGS = np.array(["en", "zh", "es", "fr", "de"])
_LANG_SHARE = np.array([0.412, 0.151, 0.149, 0.148, 0.140])
_VOCAB = np.array(
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window".split()
)
_DUP_SHARE = 0.05
_DUP_COPY_SHARE = 0.03
_EPOCH_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
_MONTH_US = 30 * 86_400 * 1_000_000


def _write(out_dir: str, name: str, columns: dict) -> None:
    pq.write_table(pa.table(columns), os.path.join(out_dir, f"{name}.parquet"))


def _documents(rng: np.random.Generator, n_docs: int) -> list[str]:
    texts = [
        " ".join(_VOCAB[rng.integers(len(_VOCAB), size=int(k))])
        for k in rng.integers(10, 101, size=n_docs)
    ]
    for i in np.flatnonzero(rng.random(n_docs) < _DUP_SHARE):
        if i > 0 and rng.random() < _DUP_COPY_SHARE:
            texts[i] = texts[int(rng.integers(i))]
        if not texts[i].endswith(" dup"):
            texts[i] += " dup"
    return texts


def write_tpch_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write the columns the sf workload's queries and oracles read, with
    the repository testdata's row counts and key distributions per scale
    factor; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * sf), 10)
    n_ord = max(int(1_500_000 * sf), 100)
    n_users = max(int(15_000 * sf), 5)
    n_events = max(int(1_000_000 * sf), 50)
    n_docs = max(int(50_000 * sf), 50)

    _write(out_dir, "customer", {"c_custkey": np.arange(n_cust, dtype=np.int64)})
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(n_cust, size=n_ord).astype(np.int64),
        "o_totalprice": np.round(rng.uniform(1_000.0, 500_000.0, n_ord), 2),
    })
    # distinct microsecond timestamps, so the (ts, event_id) order is total
    ts = _EPOCH_US + np.sort(rng.choice(_MONTH_US, size=n_events, replace=False))
    _write(out_dir, "events", {
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": rng.integers(n_users, size=n_events).astype(np.int64),
    })
    texts = _documents(rng, n_docs)
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": _LANGS[rng.choice(len(_LANGS), size=n_docs, p=_LANG_SHARE / _LANG_SHARE.sum())],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    return {"customer": n_cust, "orders": n_ord, "events": n_events, "documents": n_docs}
