"""Louvain community detection (Blondel et al. 2008), Spark-first.

Beyond-reference: the reference's only community operators are label
propagation (CDLP) and connected components; Louvain is the standard
modularity-maximizing upgrade a graph-analytics user expects next.

Distributed design (synchronous local moving + contraction):

- **Local moving** runs in synchronized rounds. Every vertex scores all
  candidate communities (its neighbors' plus its own) with the standard
  Louvain gain ``k_{i,c} − k_i·Σ_tot(c∖i)/(2m)`` and picks the best by
  one hash aggregation — ``min(struct(-gain, stay-bit, community))``
  gives the argmax with deterministic stay-on-tie then smallest-id
  tie-breaks, no window, fully partial-aggregatable (hub vertices never
  materialize a candidate list). To avoid the classic synchronous-swap
  oscillation (two vertices exchanging communities forever) moves are
  direction-gated per round — even rounds may only move to a lower
  community id, odd rounds to a higher one (the Sotera DGA distributed
  Louvain rule), so a would-be swapping pair is split across rounds and
  settles after the first one-sided move.
- **Contraction** collapses each community to a supervertex: one
  aggregation of the canonical undirected edge list keyed on the
  endpoint communities; intra-community weight becomes a self-loop.
  Passes repeat on the contracted graph until it stops shrinking.
- **Labels** are finally re-anchored to ``min(original member id)`` per
  community, so the output is stable across runs and platforms.

Scale posture (round-11 plan, A/B-measured 11.6% over the round-10 one
on louvain_copurchase at sf0.1 — BENCH_louvain_ab_r11.json): each round
is one adjacency⋈assignment join whose edge side is persisted
PRE-PARTITIONED on the join key (the exchange survives the cache, so
only the vertex-sized state reshuffles per round), one (vertex,
candidate-community) aggregation, a Σ_tot hash aggregate of the state,
and one community-keyed join (the stay option is resolved inside the
decide aggregate, with a closed-form fallback when a vertex's own
community is absent from its neighbors).
Each pass shrinks the graph, so later passes are near-free. State is
local-checkpointed per round to keep lineage flat — the per-round state
is referenced three times per round, so lazy lineage would grow the
logical tree 3^rounds. No driver-side data beyond the 1-row convergence
counter.

Weighted-graph semantics: ``2m = Σ_i k_i`` with ``k_i`` the weighted
degree (self-loops counting twice, the standard convention), so the
contracted passes optimize exactly the original graph's modularity.
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphframes_spark.util import DST, ID, SRC, GraphFramesError

if TYPE_CHECKING:
    from graphframes_spark.graphframe import GraphFrame

COMMUNITY = "community"


def _canonical_edges(graph: "GraphFrame", weight_col: Optional[str]) -> DataFrame:
    """DF[a, b, w] with a <= b: undirected weight per vertex pair.

    Parallel directed edges (u->v and v->u, and duplicates) sum their
    weights into the single canonical row; self-loops are kept (they
    carry intra-community weight for contracted passes and count twice
    in the degree, per convention).
    """
    w = (
        F.col(weight_col).cast("double")
        if weight_col is not None
        else F.lit(1.0)
    )
    e = graph.edges.select(
        F.least(F.col(SRC), F.col(DST)).alias("a"),
        F.greatest(F.col(SRC), F.col(DST)).alias("b"),
        w.alias("w"),
    )
    return e.groupBy("a", "b").agg(F.sum("w").alias("w"))


def _weighted_degrees(cedges: DataFrame) -> DataFrame:
    """DF[id, k]: k_i = Σ_{j≠i} w_ij + 2·w_ii (self-loops twice)."""
    ends = cedges.select(
        F.explode(F.array("a", "b")).alias(ID), F.col("w")
    )
    return ends.groupBy(ID).agg(F.sum("w").alias("k"))


def _local_moving(
    cedges: DataFrame,
    vertices: DataFrame,
    m: float,
    max_rounds: int,
) -> tuple[DataFrame, int]:
    """One Louvain phase-1 on the canonical edge list (round-11 plan).

    Returns (assignment DF[id, community], rounds_with_moves). Community
    ids are vertex ids (each vertex starts in its own singleton).

    Decisions follow the contract the DuckDB oracle replays bit-exactly
    (same gains, stay-on-tie/min-id tie-breaks, alternating direction
    gate); the plan keeps the working set small:

    - **Stay gain without a candidate row.** The per-u aggregation keeps
      ``max(gain) where c == own`` alongside the best move candidate, and
      vertices whose own community is absent from their neighbors fall
      back to the closed form ``0 − k_u·(tot_own − k_u)/2m`` (the k_uc=0
      stay row). Move-vs-stay then compares strictly (ties stay), which is
      the ``(−gain, stay-bit, c)`` struct-min order.
    - **No per-round vertex-sized k⋈assignment join for Σ_tot.** The loop
      state carries ``k`` alongside the community (DF[id, community, k],
      one checkpoint per round), so sigma is a single map-side
      partial-aggregatable hash aggregate of the checkpointed state — and
      both of its consumers shuffle it on the same key, so the exchange is
      planned once and reused.
    - **Stationary vertices leave the loop after round 1.** A vertex with
      no non-self-loop incident edge can never move and is invisible to
      every other vertex's candidate set (its singleton community is
      never a neighbor community). It never appears in the per-round
      aggregate (which is driven by the adjacency), so from round 2 on
      the loop state is naturally the edge-incident vertices only; the
      stationary rest is recovered with one anti-join at the end.
    """
    from pyspark.storagelevel import StorageLevel

    two_m = 2.0 * m
    k = (
        vertices.select(ID)
        .join(_weighted_degrees(cedges), on=ID, how="left")
        .select(ID, F.coalesce(F.col("k"), F.lit(0.0)).alias("k"))
    )
    nonloop = cedges.filter(F.col("a") != F.col("b"))
    # adj is persisted (not localCheckpointed) and pre-partitioned on the
    # per-round join key: the cache manager substitutes an InMemoryRelation
    # that CARRIES outputPartitioning — a checkpoint's ExistingRDD scan
    # does not — so every round's adjacency⋈state join skips the
    # edge-sized exchange. Safe here because adj is built ONCE per pass
    # (shallow logical plan, linear growth per round); the per-round STATE
    # must stay localCheckpoint-based — each round references it three
    # times (sigma, vstate, the adjacency join), so a lazy lineage would
    # grow the logical tree 3^rounds.
    adj = (
        nonloop.select(F.col("a").alias("u"), F.col("b").alias("v"), "w")
        .unionByName(
            nonloop.select(F.col("b").alias("u"), F.col("a").alias("v"), "w")
        )
        .repartition(F.col("v"))
        .persist(StorageLevel.MEMORY_AND_DISK_DESER)
    )
    # round-1 state covers ALL vertices; stationary ones contribute only
    # never-referenced singleton rows to sigma and drop out of the state
    # after round 1 (the decide aggregate is adjacency-driven)
    st = (
        k.select(F.col(ID), F.col(ID).alias(COMMUNITY), F.col("k"))
        .localCheckpoint(eager=True)
    )

    from pyspark.sql import Observation

    moves_happened = 0
    for rnd in range(max_rounds):
        sigma = (
            st.groupBy(F.col(COMMUNITY).alias("c")).agg(F.sum("k").alias("tot"))
        )
        # per-vertex frame carrying everything the decide step needs:
        # own community, weighted degree, own community's Σ_tot
        vstate = st.join(
            sigma, st[COMMUNITY] == sigma["c"]
        ).select(
            F.col(ID).alias("u"),
            F.col(COMMUNITY).alias("own"),
            F.col("k").alias("k_u"),
            F.col("tot").alias("tot_own"),
        )
        # neighbor-community attachment k_{u,c}
        nbr = (
            adj.join(
                st.select(F.col(ID).alias("v"), F.col(COMMUNITY).alias("c")),
                on="v",
            )
            .groupBy("u", "c")
            .agg(F.sum("w").alias("k_uc"))
        )
        # the gain expression mirrors the oracle operation order
        # exactly: k_uc − k_u·(tot − [c==own]·k_u)/2m, one multiply, one
        # divide — bit-identical decisions on integer-valued doubles
        scored = (
            nbr.join(sigma, on="c")
            .join(vstate, on="u")
            .withColumn(
                "gain",
                F.col("k_uc")
                - F.col("k_u")
                * (
                    F.col("tot")
                    - F.when(F.col("c") == F.col("own"), F.col("k_u")).otherwise(
                        F.lit(0.0)
                    )
                )
                / F.lit(two_m),
            )
        )
        # grouped by u alone: the preceding join-on-u already hash-
        # partitioned scored by u, which satisfies this clustering — no
        # exchange before the aggregate. own/k_u/tot_own are constant
        # within a u-group; max() carries them deterministically.
        aggd = scored.groupBy("u").agg(
            F.min(
                F.when(
                    F.col("c") != F.col("own"),
                    F.struct((-F.col("gain")).alias("ng"), F.col("c").alias("c")),
                )
            ).alias("bm"),
            F.max(
                F.when(F.col("c") == F.col("own"), F.col("gain"))
            ).alias("sg"),
            F.max("own").alias("own"),
            F.max("k_u").alias("k_u"),
            F.max("tot_own").alias("tot_own"),
        )
        stay_gain = F.coalesce(
            F.col("sg"),
            F.lit(0.0)
            - F.col("k_u") * (F.col("tot_own") - F.col("k_u")) / F.lit(two_m),
        )
        # oscillation guard (Sotera DGA rule), applied to the single best
        # move candidate — a gate-blocked best move falls back to stay,
        # never to the runner-up (oracle semantics)
        if rnd % 2 == 0:
            allowed = F.col("bm").getField("c") < F.col("own")
        else:
            allowed = F.col("bm").getField("c") > F.col("own")
        mv = (
            F.col("bm").isNotNull()
            & ((-F.col("bm").getField("ng")) > stay_gain)
            & allowed
        )
        new_comm = F.when(mv, F.col("bm").getField("c")).otherwise(F.col("own"))
        decided = aggd.select(
            F.col("u").alias(ID),
            new_comm.alias(COMMUNITY),
            F.col("k_u").alias("k"),
            mv.alias("_moved"),
        )
        obs = Observation()
        decided = decided.observe(obs, F.count_if(F.col("_moved")).alias("n"))
        # one action per round (the Observation rides the checkpoint)
        decided = decided.localCheckpoint(eager=True)
        moved = obs.get.get("n", 0)
        st = decided.drop("_moved")
        if moved == 0:
            break
        moves_happened += 1
    # the checkpointed final state fully backs the returned assignment
    adj.unpersist()
    loop_asg = st.select(ID, COMMUNITY)
    stationary = vertices.select(ID).join(
        loop_asg.select(ID), on=ID, how="left_anti"
    ).select(F.col(ID), F.col(ID).alias(COMMUNITY))
    return loop_asg.unionByName(stationary), moves_happened


def contract(
    graph: "GraphFrame",
    assignment: DataFrame,
    community_col: str = COMMUNITY,
    weight_col: Optional[str] = None,
) -> "GraphFrame":
    """Quotient graph under a partition — one supervertex per community,
    edges aggregated by endpoint communities.

    ``assignment`` is DF[id, <community_col>] (connectedComponents,
    labelPropagation, or louvain output). Returns a GraphFrame whose
    vertices are DF[id, n_members] (id = the community label) and whose
    edges are DF[src, dst, weight] with ``src <= dst`` canonical
    orientation; intra-community mass appears as a self-loop. The
    summary a 100 TB pipeline renders instead of the raw graph: two
    edge-keyed joins + one aggregation, all partial-aggregatable.
    """
    from graphframes_spark.graphframe import GraphFrame

    if community_col not in assignment.columns:
        raise GraphFramesError(
            f"assignment is missing community column {community_col!r}"
        )
    cedges = _canonical_edges(graph, weight_col)
    a_map = assignment.select(
        F.col(ID).alias("a"), F.col(community_col).alias("ca")
    )
    b_map = assignment.select(
        F.col(ID).alias("b"), F.col(community_col).alias("cb")
    )
    # left joins + coalesce: an endpoint absent from the assignment
    # keeps its own id as a singleton community (mirrors the vertex side)
    ca = F.coalesce(F.col("ca"), F.col("a"))
    cb = F.coalesce(F.col("cb"), F.col("b"))
    edges = (
        cedges.join(a_map, on="a", how="left")
        .join(b_map, on="b", how="left")
        .select(
            F.least(ca, cb).alias(SRC),
            F.greatest(ca, cb).alias(DST),
            "w",
        )
        .groupBy(SRC, DST)
        .agg(F.sum("w").alias("weight"))
    )
    vertices = (
        graph.vertices.select(ID)
        .join(assignment.select(ID, community_col), on=ID, how="left")
        .select(F.coalesce(F.col(community_col), F.col(ID)).alias(ID))
        .groupBy(ID)
        .agg(F.count(F.lit(1)).alias("n_members"))
    )
    return GraphFrame(vertices, edges)


def louvain(
    graph: "GraphFrame",
    max_passes: int = 3,
    max_rounds_per_pass: int = 10,
    weight_col: Optional[str] = None,
) -> DataFrame:
    """Louvain modularity communities — DF[id, community] over every
    vertex, ``community`` = the smallest member id (stable labels).

    ``max_passes`` bounds the contraction hierarchy depth;
    ``max_rounds_per_pass`` bounds the synchronized local-moving rounds.
    ``weight_col`` selects an edge weight column (default: every edge
    weighs 1; parallel edges sum).
    """
    if max_passes < 1:
        raise GraphFramesError(f"louvain maxPasses must be >= 1, got {max_passes}")
    if max_rounds_per_pass < 1:
        raise GraphFramesError(
            f"louvain maxRoundsPerPass must be >= 1, got {max_rounds_per_pass}"
        )
    if weight_col is not None and weight_col not in graph.edges.columns:
        raise GraphFramesError(f"edges have no weight column {weight_col!r}")

    cedges = _canonical_edges(graph, weight_col).localCheckpoint(eager=True)
    m = cedges.agg(F.sum("w")).collect()[0][0]
    vertices = graph.vertices.select(ID)
    if m is None or m <= 0.0:
        # edge-free graph: every vertex is its own community
        return vertices.select(F.col(ID), F.col(ID).alias(COMMUNITY))

    # total: original id -> current supervertex id
    total = vertices.select(F.col(ID), F.col(ID).alias("_sv"))
    level_vertices = vertices
    level_count = None  # lazily counted; carried across passes
    for _ in range(max_passes):
        asg, moves = _local_moving(
            cedges, level_vertices, m, max_rounds_per_pass
        )
        total = (
            total.join(
                asg.select(F.col(ID).alias("_sv"), F.col(COMMUNITY)), on="_sv"
            )
            .select(F.col(ID), F.col(COMMUNITY).alias("_sv"))
            .localCheckpoint(eager=True)
        )
        if moves == 0:
            break
        # contract: communities become vertices; weights aggregate;
        # intra-community mass becomes a self-loop
        a_map = asg.select(F.col(ID).alias("a"), F.col(COMMUNITY).alias("ca"))
        b_map = asg.select(F.col(ID).alias("b"), F.col(COMMUNITY).alias("cb"))
        contracted = (
            cedges.join(a_map, on="a")
            .join(b_map, on="b")
            .select(
                F.least(F.col("ca"), F.col("cb")).alias("a"),
                F.greatest(F.col("ca"), F.col("cb")).alias("b"),
                "w",
            )
            .groupBy("a", "b")
            .agg(F.sum("w").alias("w"))
            .localCheckpoint(eager=True)
        )
        new_vertices = asg.select(F.col(COMMUNITY).alias(ID)).distinct()
        if level_count is None:
            level_count = level_vertices.count()
        new_count = new_vertices.count()
        shrunk = new_count < level_count
        cedges, level_vertices, level_count = contracted, new_vertices, new_count
        if not shrunk:
            break

    # stable labels: min original member id per final supervertex
    stable = total.groupBy("_sv").agg(F.min(ID).alias(COMMUNITY))
    return total.join(stable, on="_sv").select(F.col(ID), F.col(COMMUNITY))
