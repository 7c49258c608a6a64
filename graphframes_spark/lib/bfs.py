"""Breadth-first search: globally-shortest paths between two vertex sets.

Semantics follow the reference
(/root/reference/core/src/main/scala/org/graphframes/lib/BFS.scala:83-231):
grow a path-join one hop at a time, probing each hop for a match of the
target expression; return the first (shortest) hop's full
paths with columns ``from, e0, v1, e1, ..., to`` (each a struct). Paths
are non-backtracking (no vertex repeated within a path).

Instead of rewriting the from/to expressions against nested structs (the
reference uses a Catalyst shim), we evaluate them once on the vertex table
and semi-join the frontier against the matching id sets — same results,
public API only.
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Optional, Union

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from graphframes_spark.util import ID, nest_as_col

if TYPE_CHECKING:
    from graphframes_spark.graphframe import GraphFrame


def bfs(
    graph: "GraphFrame",
    from_expr: Union[str, Column],
    to_expr: Union[str, Column],
    edge_filter: Optional[Union[str, Column]] = None,
    max_path_length: int = 10,
) -> DataFrame:
    from pyspark.sql import Observation

    from graphframes_spark.pregel import _observed_count

    v = graph.vertices
    from_df = v.filter(from_expr)
    to_df = v.filter(to_expr)
    # the three seed probes (any from, any to, any vertex matching both)
    # are answered by ONE aggregate pass
    from_col = F.expr(from_expr) if isinstance(from_expr, str) else from_expr
    to_col = F.expr(to_expr) if isinstance(to_expr, str) else to_expr
    seed = v.select(
        F.count_if(from_col).alias("_nf"),
        F.count_if(to_col).alias("_nt"),
        F.count_if(from_col & to_col).alias("_nb"),
    ).first()
    if not seed or not seed["_nf"] or not seed["_nt"]:
        return v.limit(0)

    if seed["_nb"]:
        from_equals_to = from_df.filter(to_expr)
        return from_equals_to.select(
            nest_as_col(from_equals_to, "from"), nest_as_col(from_equals_to, "to")
        )

    g2 = graph.filterEdges(edge_filter) if edge_filter is not None else graph
    a2b = g2.find("(a)-[e]->(b)")

    from_ids = from_df.select(F.col(ID).alias("_from_id"))
    to_ids = to_df.select(F.col(ID).alias("_to_id"))

    paths: Optional[DataFrame] = None
    found: Optional[DataFrame] = None

    for hop in range(max_path_length):
        next_vertex = f"v{hop + 1}"
        next_edge = f"e{hop}"
        if hop == 0:
            paths = (
                a2b.join(from_ids, a2b["a"][ID] == F.col("_from_id"), "left_semi")
                .filter(F.col("a")[ID] != F.col("b")[ID])
                .withColumnRenamed("a", "from")
                .withColumnRenamed("e", next_edge)
                .withColumnRenamed("b", next_vertex)
            )
        else:
            prev_vertex = f"v{hop}"
            next_links = (
                a2b.withColumnRenamed("a", prev_vertex)
                .withColumnRenamed("e", next_edge)
                .withColumnRenamed("b", next_vertex)
            )
            joined = paths.join(
                next_links,
                paths[prev_vertex][ID] == next_links[prev_vertex][ID],
            ).drop(paths[prev_vertex])
            # non-backtracking: the new vertex differs from all previous ones
            check = joined["from"][ID] != joined[next_vertex][ID]
            for i in range(1, hop + 1):
                check = check & (joined[f"v{i}"][ID] != joined[next_vertex][ID])
            paths = joined.filter(check)

        # ONE action per hop: the target-set membership is attached as a
        # flag via a left-outer join (vertex ids are unique, so row counts
        # are untouched) and counted by an Observation riding the eager
        # checkpoint's materialization job
        obs = Observation()
        tagged = (
            paths.join(
                to_ids.withColumn("_bfs_hit", F.lit(1)),
                paths[next_vertex][ID] == F.col("_to_id"),
                "left_outer",
            )
            .drop("_to_id")
            .observe(obs, F.count(F.col("_bfs_hit")).alias("hits"))
        )
        tagged = tagged.localCheckpoint(eager=True)
        if _observed_count(obs, "hits") > 0:
            found = tagged.filter(F.col("_bfs_hit").isNotNull()).drop(
                "_bfs_hit"
            ).withColumnRenamed(next_vertex, "to")
            break
        paths = tagged.drop("_bfs_hit")

    if found is None:
        return v.limit(0)

    def rank(c: str) -> float:
        if c == "from":
            return 0.0
        if c == "to":
            return float("inf")
        if c.startswith("e"):
            return 0.6 + int(c[1:])
        return 0.3 + int(c[1:])

    ordered = sorted(found.columns, key=rank)
    return found.select(*ordered)
