"""HyperBall: approximate per-vertex neighborhood function via HLL
sketches (Boldi, Rosa & Vigna, "HyperANF / HyperBall", WWW 2011 /
arXiv:1308.2144).

Beyond-reference: the reference library has no neighborhood-function /
effective-diameter operator (its only distance operator is exact
``shortestPaths`` to enumerated landmarks — graphx/lib/
ShortestPaths.scala:30-70 — which cannot answer "how big is the
t-neighborhood of EVERY vertex" at scale). HyperBall is the standard
way to get reachable-set sizes, effective diameter, and
closeness-style statistics on graphs where exact all-pairs anything is
impossible: per-vertex state is ONE fixed-size HLL sketch
(2^lgConfigK registers, ~KB), updated with a union — associative,
commutative, idempotent — so every step is a partial-aggregatable
hash aggregate and hub vertices cannot blow up executor memory.

Iteration t computes ``B_t(v) = {v} ∪ ⋃_{(v,w)∈E} B_{t-1}(w)`` —
entirely with Spark's built-in datasketches HLL expressions
(``hll_sketch_agg`` / ``hll_union_agg`` / ``hll_sketch_estimate``),
JVM-side, no UDFs:

1. neighbor and self union: edges plus one (v, v) self-loop per vertex
   ⋈ state on dst, ``hll_union_agg`` by src — ONE shuffle whose
   per-group state is the fixed-size sketch;
2. per-round ``localCheckpoint`` (the state feeds both next-round
   consumers), with the convergence probe (sum of estimates is
   monotone non-decreasing and strictly grows until every ball is
   complete) riding the checkpoint via ``Observation`` — zero extra
   actions, early exit at the true diameter.

Scale posture: state is |V| rows × ~2^lgConfigK bytes regardless of
edge skew or ball size; each round is one edge⋈state join + one
sketch-merging aggregate — the same shuffle shape as a Pregel
superstep. Estimates: datasketches HLL is EXACT while a sketch is
still in coupon (list/set) mode — small neighborhoods at any graph
size, which is what the chain-fixture oracle pins — and within
~1.6%/sqrt(2^lgConfigK) beyond.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphframes_spark.util import DST, ID, SRC, GraphFramesError

if TYPE_CHECKING:
    from graphframes_spark.graphframe import GraphFrame


def hyperball(
    graph: "GraphFrame",
    max_hops: int = 10,
    lg_config_k: int = 12,
    is_directed: bool = True,
) -> DataFrame:
    """DF[id, hops: int, reach: long] — for every vertex, the estimated
    number of DISTINCT vertices reachable within ``hops`` ≤ ``max_hops``
    out-edge steps (including itself), one row per hop level: the full
    per-vertex neighborhood-function curve. Stops early (emitting no
    further levels) once every ball is complete, so ``max(hops)`` in the
    output is min(max_hops, graph diameter + 1).

    ``is_directed=False`` symmetrizes edges first (balls grow along
    either direction). ``lg_config_k`` sizes the HLL sketches
    (4..21; 12 ≈ 1.6% relative standard error, exact below the coupon
    capacity).

    Precondition: every edge endpoint must appear in ``graph.vertices``
    (the standard GraphFrame integrity contract — check with
    ``validate()``). Per-hop state is keyed on edge src values, so an
    src id absent from the vertex table would get a row of its own, with
    a ball missing itself.

    State checkpointing follows the engine-wide policy: local
    checkpoints by default, reliable checkpoints (executor-readable
    dir) when ``spark.graphframes.useLocalCheckpoints=false`` — same
    knob as Pregel.
    """
    if max_hops < 1:
        raise GraphFramesError(f"hyperball maxHops must be >= 1, got {max_hops}")
    if not 4 <= lg_config_k <= 21:
        raise GraphFramesError(
            f"hyperball lgConfigK must be in [4, 21], got {lg_config_k}"
        )
    from pyspark.sql import Observation

    from graphframes_spark.harness import IterationHarness

    # checkpoint-policy holder only (interval 1: every hop's state is both
    # the probe carrier and a two-consumer input, so it always materializes)
    harness = IterationHarness(graph.spark, checkpoint_interval=1)

    # the self-union B_t(v) ⊇ B_{t-1}(v) is delivered through an appended
    # (v, v) self-loop edge, so each hop is ONE join + ONE sketch-merging
    # aggregate (HLL union is order- and duplicate-insensitive: coupon
    # mode is a hash set, dense mode a per-register max)
    edges = graph.edges.select(SRC, DST).filter(F.col(SRC) != F.col(DST))
    if not is_directed:
        edges = edges.unionByName(
            graph.edges.select(
                F.col(DST).alias(SRC), F.col(SRC).alias(DST)
            ).filter(F.col(SRC) != F.col(DST))
        )
    edges = edges.distinct().unionByName(
        graph.vertices.select(F.col(ID).alias(SRC), F.col(ID).alias(DST))
    )
    edges = harness.checkpoint(edges, eager=True)

    # B_0 = {v}: one trivial group per vertex builds the singleton sketch.
    # Its total seeds the convergence probe so a hop that changes nothing
    # (already-complete balls) is detected immediately — the emitted
    # levels are exactly 1..min(max_hops, completion_hop + 1).
    obs0 = Observation()
    state = (
        graph.vertices.groupBy(ID)
        .agg(F.hll_sketch_agg(F.col(ID), F.lit(lg_config_k)).alias("_sk"))
        .observe(
            obs0, F.sum(F.hll_sketch_estimate(F.col("_sk"))).alias("_total")
        )
    )
    state = harness.checkpoint(state, eager=True)
    levels: list[DataFrame] = []
    prev_total = obs0.get.get("_total", 0)
    for hop in range(1, max_hops + 1):
        nbr = (
            edges.join(
                state.select(F.col(ID).alias(DST), F.col("_sk").alias("_nsk")),
                on=DST,
            )
            .groupBy(F.col(SRC).alias(ID))
            .agg(F.hll_union_agg(F.col("_nsk")).alias("_nsk"))
        )
        obs = Observation()
        # the (v, v) self-loop already merged B_{t-1}(v) into the
        # aggregate, and it guarantees one group per vertex
        state = nbr.select(ID, F.col("_nsk").alias("_sk")).observe(
            obs, F.sum(F.hll_sketch_estimate(F.col("_sk"))).alias("_total")
        )
        state = harness.checkpoint(state, eager=True)
        total = obs.get.get("_total", 0)
        levels.append(
            state.select(
                ID,
                F.lit(hop).alias("hops"),
                F.hll_sketch_estimate(F.col("_sk")).alias("reach"),
            )
        )
        if total == prev_total:
            # every ball is complete: the sum of estimates is a pure
            # function of the sketches, which only grow — equality means
            # no sketch changed this round
            break
        prev_total = total

    out = levels[0]
    for lv in levels[1:]:
        out = out.unionByName(lv)
    return out


def effective_diameter(
    graph: "GraphFrame",
    quantile: float = 0.9,
    max_hops: int = 20,
    lg_config_k: int = 12,
    is_directed: bool = True,
) -> DataFrame:
    """One-row DF[effective_diameter: int, neighborhood_pairs: long] —
    the smallest hop count t at which the neighborhood function
    N(t) = Σ_v |B(v, t)| reaches ``quantile`` × N(t_max) (the classic
    90%-effective-diameter when quantile=0.9), plus N(t_max) itself.
    Runs :func:`hyperball` once and aggregates the curve."""
    if not 0.0 < quantile <= 1.0:
        raise GraphFramesError(
            f"effective_diameter quantile must be in (0, 1], got {quantile}"
        )
    curve = (
        hyperball(graph, max_hops, lg_config_k, is_directed)
        .groupBy("hops")
        .agg(F.sum("reach").alias("n_t"))
    )
    final = curve.agg(F.max("n_t").alias("n_max"))
    return (
        curve.crossJoin(final)  # 1-row broadcast, not a data x data join
        .filter(F.col("n_t") >= F.lit(quantile) * F.col("n_max"))
        .agg(
            F.min("hops").alias("effective_diameter"),
            F.max(F.col("n_max")).alias("neighborhood_pairs"),
        )
    )
