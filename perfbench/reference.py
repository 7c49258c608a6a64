"""numpy reference for the synthetic-graph workload's correctness gate:
PageRank by power iteration, with the semantics of the library call it
checks."""

from __future__ import annotations

import numpy as np


def pagerank(
    num_vertices: int, src: np.ndarray, dst: np.ndarray, reset: float, iterations: int
) -> np.ndarray:
    """``GraphFrame.pageRank(resetProbability=reset, maxIter=iterations)``:
    ranks start at 1/n; each iteration every vertex gets reset/n plus
    (1 - reset) times the rank its in-neighbours spread over their
    out-edges. Rank held by vertices without out-edges is not
    redistributed."""
    n = num_vertices
    out_deg = np.bincount(src, minlength=n).astype(np.float64)
    rank = np.full(n, 1.0 / n)
    for _ in range(iterations):
        share = rank[src] / out_deg[src]
        rank = reset / n + (1.0 - reset) * np.bincount(dst, weights=share, minlength=n)
    return rank

