"""Greedy distributed graph coloring (Jones–Plassmann, 1993).

Beyond-reference: the reference library has no coloring operator.
Coloring is the standard scheduling primitive over a conflict graph
(parallel updates, register allocation, timetabling); the
Jones–Plassmann variant colors an independent set of priority-local-
maxima per round, which terminates in O(log n / log log n) expected
rounds under random priorities.

Priorities are **deterministic**: ``md5(seed <US> id)`` (the same
engine-portable recipe as datapipe sampling) — so the coloring is
reproducible across runs, retries and engines, and on a clique it
degenerates to an exact closed form (color = priority rank − 1), which
is what the driver oracle replays in SQL.

Scale posture: per round, one symmetrized-edge join against the
uncolored set (find local maxima), one join against the colored set
(neighbor colors) and a mex over the distinct (vertex, neighbor color)
rows — all keyed on vertex id. The mex is built from a ``row_number``
and a ``count_if`` (``_mex_by_src``), so no aggregate holds a per-vertex
collection; the harness checkpoints each round.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import Window
from pyspark.sql import functions as F

from graphframes_spark.harness import IterationHarness
from graphframes_spark.util import DST, ID, SRC, GraphFramesError

if TYPE_CHECKING:
    from graphframes_spark.graphframe import GraphFrame

_SEP = "\x1f"
COLOR = "color"


def _mex_by_src(pairs: DataFrame) -> DataFrame:
    """(src, _mex): the smallest non-negative int absent from each src's
    colors, over distinct (src, _nc) rows. Sorted ascending, the k-th
    distinct color (from 0) is at least k and equals k exactly while k
    is below the mex, so the mex is the number of colors equal to their
    rank."""
    rank = F.row_number().over(Window.partitionBy(SRC).orderBy("_nc")) - 1
    return (
        pairs.withColumn("_rk", rank)
        .groupBy(SRC)
        .agg(F.count_if(F.col("_nc") == F.col("_rk")).cast("int").alias("_mex"))
    )


def greedy_coloring(
    graph: "GraphFrame", seed: str = "", max_iter: int = 500
) -> DataFrame:
    """DF[<vertex columns>, color: int] — a proper coloring of the
    symmetrized simple graph (no two adjacent vertices share a color).

    Deterministic for a given ``seed``; isolated vertices get color 0.
    """
    if max_iter < 1:
        raise GraphFramesError(f"max_iter must be >= 1, got {max_iter}")
    spark = graph.spark
    harness = IterationHarness(spark, checkpoint_interval=1)

    e = graph.edges.select(SRC, DST).filter(F.col(SRC) != F.col(DST))
    und = harness.pin(
        e.unionByName(e.select(F.col(DST).alias(SRC), F.col(SRC).alias(DST)))
        .distinct()
    )

    prio = F.md5(F.concat_ws(_SEP, F.lit(seed), F.col(ID).cast("string")))
    uncolored = harness.checkpoint(
        graph.vertices.select(ID).withColumn("_p", prio), eager=True
    )
    colored = None  # (id, color)

    for _ in harness.iterations(max_iter):
        u_src = uncolored.select(F.col(ID).alias(SRC), F.col("_p").alias("_ps"))
        u_dst = uncolored.select(F.col(ID).alias(DST), F.col("_p").alias("_pd"))
        # neighbors that are still uncolored and have strictly higher
        # (priority, id): their existence blocks this round's coloring
        blocked = (
            und.join(u_src, on=SRC)
            .join(u_dst, on=DST)
            .filter(
                (F.col("_pd") > F.col("_ps"))
                | ((F.col("_pd") == F.col("_ps")) & (F.col(DST) > F.col(SRC)))
            )
            .select(F.col(SRC).alias(ID))
            .distinct()
        )
        winners = uncolored.join(blocked, on=ID, how="left_anti")

        if colored is not None:
            nbr_mex = _mex_by_src(
                und.join(
                    winners.select(F.col(ID).alias(SRC)), on=SRC
                )
                .join(
                    colored.select(
                        F.col(ID).alias(DST), F.col(COLOR).alias("_nc")
                    ),
                    on=DST,
                )
                .select(SRC, "_nc")
                .distinct()
            )
            new_colored = winners.join(
                nbr_mex, winners[ID] == nbr_mex[SRC], "left_outer"
            ).select(
                winners[ID],
                F.coalesce(F.col("_mex"), F.lit(0)).alias(COLOR),
            )
            colored = colored.unionByName(new_colored)
        else:
            colored = winners.select(F.col(ID), F.lit(0).alias(COLOR))
        colored = harness.checkpoint(colored, eager=True)

        # eager checkpoint, not just persist: each round references
        # `uncolored` three times (blocked src side, blocked dst side,
        # winners), so an un-truncated lineage triples per round —
        # exponential plan growth that OOMs the driver on plan rendering
        uncolored = harness.checkpoint(
            uncolored.join(winners, on=ID, how="left_anti"), eager=True
        )
        if uncolored.isEmpty():
            harness.rotate()
            break
        harness.rotate()
    else:
        raise GraphFramesError(
            f"greedy_coloring did not terminate within max_iter={max_iter} "
            "rounds (priority chains longer than the bound)"
        )

    out = graph.vertices.join(colored, on=ID, how="left_outer").withColumn(
        COLOR, F.coalesce(F.col(COLOR), F.lit(0))
    )
    return harness.finish(out)
