"""Maximal independent set (randomized, Ghaffari 2016).

Semantics follow the reference
(/root/reference/core/src/main/scala/org/graphframes/lib/MaximalIndependentSet.scala:36-225):
every vertex keeps a marking probability p (init 1/2); per round the
effective degree is the sum of neighbor probabilities; p halves when the
effective degree is >= 2, else doubles (capped at 1/2); a vertex
nominates itself with probability p, joins the MIS when no neighbor is
simultaneously nominated, and then leaves the arena together with its
neighbors. Vertices with no remaining neighbors join outright.

Nomination draws are a pure md5 hash of (seed, round, id) (``_det_draw``)
rather than the reference's ``rand()``: the result is a *maximal* (not
maximum) independent set that depends only on the graph and the seed —
stable under task retry, speculative execution and AQE stage
re-execution, so AQE stays on (the reference disables it around
``rand()``, MaximalIndependentSet.scala:104-107).

Scale notes: each round is two join+agg passes over the shrinking edge
set plus anti-joins to remove settled vertices; the MIS accumulator is
eagerly checkpointed every round (matching the reference) so lineage
never grows.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphframes_spark.harness import IterationHarness
from graphframes_spark.util import DST, ID, SRC

if TYPE_CHECKING:
    from graphframes_spark.graphframe import GraphFrame

PROB = "prob"
EFF_DEG = "effectiveDegree"
NOMINATED = "isNominated"
HAS_NOMINATED_NBR = "notJoinMIS"
IS_MIS = "isMIS"


def _det_draw(iteration: int, seed: int):
    """Deterministic uniform draw in [0, 1) from (seed, round, id): first
    12 hex chars of md5 over 16^12 — the engine-wide cross-engine random
    primitive (see datapipe/sampling.py ``sample_rank``). Unlike
    ``rand()``, a task retry or AQE stage re-execution re-computes the
    IDENTICAL value, and an external system (or the DuckDB oracle:
    ``('0x' || substr(md5(concat_ws(chr(31), ...)), 1, 12))::BIGINT``)
    can replay the nomination sequence bit-for-bit."""
    return F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "\x1f",
                    F.lit(str(seed)),
                    F.lit(str(iteration)),
                    F.col(ID).cast("string"),
                )
            ),
            1,
            12,
        ),
        16,
        10,
    ).cast("double") / F.lit(float(16**12))


def maximal_independent_set(
    graph: "GraphFrame", seed: int = 42, max_iter: int = 100
) -> DataFrame:
    """IDs of a maximal independent set: DF[id]. Each round's nomination
    draw is ``_det_draw(round, seed)``, so the output is a fixed function
    of the graph and ``seed``."""
    harness = IterationHarness(graph.spark, checkpoint_interval=1)

    vertices = harness.pin(
        graph.vertices.select(F.col(ID), F.lit(0.5).cast("double").alias(PROB))
    )
    # undirected, deduplicated, loop-free arena edges
    edges = harness.pin(
        graph.edges.select(SRC, DST)
        .union(
            graph.edges.select(F.col(DST).alias(SRC), F.col(SRC).alias(DST))
        )
        .filter(F.col(SRC) != F.col(DST))
        .distinct()
    )

    mis_df = graph.vertices.select(F.col(ID), F.lit(False).alias(IS_MIS))

    for iteration in harness.iterations(max_iter):
        draw = _det_draw(iteration, seed)
        effective_degrees = (
            edges.join(vertices, vertices[ID] == edges[DST])
            .groupBy(SRC)
            .agg(F.sum(F.col(PROB)).alias(EFF_DEG))
        )

        # p update + nomination draw
        probs = harness.persist(
            vertices.join(effective_degrees, vertices[ID] == F.col(SRC))
            .drop(SRC)
            .withColumn(
                PROB,
                F.when(F.col(EFF_DEG) >= F.lit(2), F.col(PROB) / F.lit(2.0)).otherwise(
                    F.when(
                        F.lit(2) * F.col(PROB) <= F.lit(0.5), F.lit(2) * F.col(PROB)
                    ).otherwise(F.lit(0.5))
                ),
            )
            .withColumn(NOMINATED, F.col(PROB) >= draw)
            .select(ID, NOMINATED, PROB)
        )

        # vertices with no surviving neighbor join the MIS outright
        isolated = vertices.join(
            probs.select(ID), on=ID, how="left_anti"
        ).select(ID)

        nominated_nbr = (
            edges.join(probs, probs[ID] == edges[DST])
            .groupBy(SRC)
            .agg(F.bool_or(F.col(NOMINATED)).alias(HAS_NOMINATED_NBR))
        )
        joined_mis = (
            probs.join(nominated_nbr, F.col(SRC) == probs[ID])
            .filter((~F.col(HAS_NOMINATED_NBR)) & F.col(NOMINATED))
            .select(ID)
        )

        updated_mis = (
            mis_df.join(
                isolated.select(F.col(ID), F.lit(True).alias("_f")), on=ID, how="left"
            )
            .select(
                F.col(ID),
                (F.col(IS_MIS) | F.coalesce(F.col("_f"), F.lit(False))).alias(IS_MIS),
            )
            .join(
                joined_mis.select(F.col(ID), F.lit(True).alias("_f")),
                on=ID,
                how="left",
            )
            .select(
                F.col(ID),
                (F.col(IS_MIS) | F.coalesce(F.col("_f"), F.lit(False))).alias(IS_MIS),
            )
        )
        # the MIS accumulator must be eagerly checkpointed every round
        # (MaximalIndependentSet.scala:167-178); eager=True already
        # materializes it — no separate count() action needed
        mis_df = harness.checkpoint(updated_mis, eager=True)

        nbrs_of_mis = edges.join(
            joined_mis, joined_mis[ID] == edges[DST]
        ).select(F.col(SRC))

        vertices = harness.checkpoint(
            probs.join(joined_mis, on=ID, how="left_anti")
            .join(nbrs_of_mis, F.col(SRC) == probs[ID], "left_anti")
            .select(ID, PROB),
            eager=True,
        )
        harness.rotate()
        if vertices.isEmpty():
            break

    out = mis_df.filter(F.col(IS_MIS)).select(ID)
    return harness.finish(out)
