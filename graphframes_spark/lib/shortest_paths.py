"""Landmark shortest paths: hop counts (``shortestPaths``) and weighted
distances (``shortestPathsWeighted``) from one relaxation loop.

Semantics follow the reference
(/root/reference/core/src/main/scala/org/graphframes/lib/ShortestPaths.scala:131-253):
``distances`` per vertex maps each reachable landmark to the distance
from the vertex to it *along* edge direction; undirected mode also
relaxes the reverse direction. Unreached landmarks are absent from the
map. Hop counts are ``map<idType, int>``; weighted distances (the
reference documents weighted SSSP only as a Pregel recipe,
docs/src/04-user-guide/10-pregel.md:46) are ``map<idType, double>``.

Hub width: the reference aggregates ``reduce(collect_list(map), ...)``
per vertex (ShortestPaths.scala:183-185) — a hub with 10^7 in-neighbors
materializes a 10^7-element array of maps in one row. Here state is the
*normalized* relation ``(id, landmark, dist)``; each hop is

    frontier ⋈ edges → (id, landmark, dist + w)
    → groupBy(id, landmark).min(dist)          (partial-aggregatable)
    → anti-join vs. state: drop unless strictly cheaper than every
      earlier row of the key
    → state := plain union of checkpointed batches

so per-row width is constant and every aggregate has a map-side
combine. The final ``collect_list`` groups at most |landmarks| entries
per vertex — bounded, not degree-sized.

First-touch finality: with unit weights every earlier row of a key has
a hop count ≤ the candidate's, so the anti-join keeps exactly the
first-touch pairs, each key enters the state once, and the frontier
empties after the longest shortest path. A weighted key may improve on
a later hop (a longer-hop path can be cheaper), leaving superseded rows
that the final per-key ``min`` drops.

Negative-cycle cap: with non-negative weights the loop stops when the
frontier empties. Negative edges are tolerated on DAGs, but a reachable
negative cycle has no defined answer; ``max_iter`` turns it into a
bounded best-effort instead of an infinite loop.
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Any, Optional, Sequence

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

from graphframes_spark.harness import IterationHarness
from graphframes_spark.util import DST, ID, SRC, GraphFramesError

if TYPE_CHECKING:
    from graphframes_spark.graphframe import GraphFrame

DISTANCE_ID = "distances"
LANDMARK = "_landmark"
DIST = "_dist"
WEIGHT = "_weight"
# (id, landmark, dist) rows: 100k is a few MB, inside Spark's default
# 10 MB broadcast threshold
BROADCAST_FRONTIER_ROWS = 100_000


def _small_broadcast(frontier: DataFrame, n_rows: int) -> DataFrame:
    # a checkpoint keeps the size estimate of the plan it cut, which the
    # candidate join inflates hop over hop, so unhinted the planner
    # broadcasts the whole edge relation every hop; the row count is exact
    return F.broadcast(frontier) if n_rows <= BROADCAST_FRONTIER_ROWS else frontier


def shortest_paths(
    graph: "GraphFrame", landmarks: Sequence[Any], is_directed: bool = True
) -> DataFrame:
    """DF[<vertex columns>, distances: map<idType, int>] of hop counts."""
    if not landmarks:
        raise GraphFramesError("shortestPaths requires a non-empty landmark list")
    # hop counts converge within |V| hops; the frontier empties long
    # before on real graphs
    return _landmark_distances(graph, landmarks, F.lit(1), is_directed, 2_000_000_000)


def shortest_paths_weighted(
    graph: "GraphFrame",
    landmarks: Sequence[Any],
    weight_col: Optional[str] = "weight",
    is_directed: bool = True,
    max_iter: int = 100,
) -> DataFrame:
    """DF[<vertex columns>, distances: map<idType, double>].

    ``weight_col=None`` (or a column absent from the edges) falls back
    to unit weights — then this computes hop counts as doubles and the
    unweighted ``shortestPaths`` is the cheaper choice."""
    if not landmarks:
        raise GraphFramesError("shortestPathsWeighted requires a non-empty landmark list")
    if max_iter < 1:
        raise GraphFramesError("maxIter must be >= 1")
    w = (
        F.col(weight_col).cast("double")
        if weight_col is not None and weight_col in graph.edges.columns
        else F.lit(1.0)
    )
    return _landmark_distances(graph, landmarks, w, is_directed, max_iter)


def _landmark_distances(
    graph: "GraphFrame",
    landmarks: Sequence[Any],
    weight: Column,
    is_directed: bool,
    max_iter: int,
) -> DataFrame:
    from graphframes_spark.pregel import _observed_count

    harness = IterationHarness(graph.spark, checkpoint_interval=1)
    edges = graph.edges.select(SRC, DST, weight.alias(WEIGHT))
    # a message travels landmark-ward against edge direction: frontier
    # vertex f improves u by w(u -> f) for every edge u -> f
    prop = edges.select(
        F.col(DST).alias("_from"), F.col(SRC).alias("_to"), F.col(WEIGHT)
    )
    if not is_directed:
        prop = prop.unionByName(
            edges.select(
                F.col(SRC).alias("_from"), F.col(DST).alias("_to"), F.col(WEIGHT)
            )
        )
    # parallel edges: only the lightest can ever win a relaxation
    prop = harness.pin(
        prop.groupBy("_from", "_to")
        .agg(F.min(WEIGHT).alias(WEIGHT))
        .repartition(F.col("_from"))
    )
    dist_type = prop.schema[WEIGHT].dataType
    map_type = T.MapType(graph.vertices.schema[ID].dataType, dist_type)

    state = (
        graph.vertices.select(ID)
        .filter(F.col(ID).isin(list(landmarks)))
        .select(
            F.col(ID), F.col(ID).alias(LANDMARK), F.lit(0).cast(dist_type).alias(DIST)
        )
    )
    state = harness.checkpoint(state, eager=True)
    frontier = _small_broadcast(state, len(landmarks))

    for _ in harness.iterations(max_iter):
        candidates = (
            prop.join(frontier, prop["_from"] == frontier[ID])
            .select(
                F.col("_to").alias(ID),
                F.col(LANDMARK),
                (F.col(DIST) + F.col(WEIGHT)).alias(DIST),
            )
            .groupBy(ID, LANDMARK)
            .agg(F.min(DIST).alias(DIST))
        )
        # `state` contains the very checkpointed batch the candidate
        # lineage was derived from (frontier), so this anti-join is a
        # self-join on shared attribute ids; renaming the build side
        # mints fresh exprIds (an Alias always does), so the analyzer
        # never has to deduplicate anything
        old = state.select(
            F.col(ID).alias("_old_id"),
            F.col(LANDMARK).alias("_old_lm"),
            F.col(DIST).alias("_old_dist"),
        )
        improved = candidates.join(
            old,
            (candidates[ID] == old["_old_id"])
            & (candidates[LANDMARK] == old["_old_lm"])
            & (old["_old_dist"] <= candidates[DIST]),
            how="left_anti",
        )
        # eager checkpoint (not persist): the frontier chains hop to hop,
        # so an unbroken lineage grows one join+agg per hop and blows up
        # driver plan handling on long chains. The emptiness probe rides
        # the checkpoint's materialization job instead of a second
        # isEmpty action per hop.
        obs = Observation()
        improved = improved.observe(obs, F.count(F.lit(1)).alias("cnt"))
        improved = harness.checkpoint(improved, eager=True)
        n_improved = _observed_count(obs, "cnt")
        if n_improved == 0:
            break
        # every batch is already checkpointed, so the union tree's plan
        # depth grows by one cheap node per hop, with no per-hop state
        # re-aggregation shuffle
        state = state.unionByName(improved)
        # consolidate periodically: an ever-wider union makes each hop's
        # analysis and anti-join scan O(hops), O(hops^2) over the loop
        if harness.iteration % 8 == 0:
            state = harness.checkpoint(state, eager=True)
        frontier = _small_broadcast(improved, n_improved)
        harness.rotate()

    # one repartition on id serves both aggregates: (id, landmark)
    # groups are clustered by id, so neither adds an exchange
    result = (
        state.repartition(F.col(ID))
        .groupBy(ID, LANDMARK)
        .agg(F.min(DIST).alias(DIST))
        .groupBy(ID)
        .agg(
            F.map_from_entries(
                F.array_sort(F.collect_list(F.struct(F.col(LANDMARK), F.col(DIST))))
            ).alias(DISTANCE_ID)
        )
    )
    # the seed batch is graph.vertices filtered then checkpointed, and
    # localCheckpoint keeps attribute ids — rename the result's id so
    # this join never pairs two leaves sharing the vertices' exprIds
    res = result.select(F.col(ID).alias("_sp_res_id"), F.col(DISTANCE_ID))
    out = (
        graph.vertices.join(
            res, graph.vertices[ID] == res["_sp_res_id"], how="left_outer"
        )
        .drop("_sp_res_id")
        .withColumn(
            DISTANCE_ID,
            F.coalesce(F.col(DISTANCE_ID), F.create_map().cast(map_type)),
        )
    )
    return harness.finish(out)
