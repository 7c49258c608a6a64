"""Strongly connected components (trim + forward-backward coloring).

Semantics follow the reference's GraphX implementation
(/root/reference/graphx/src/main/scala/org/apache/spark/graphframes/graphx/lib/StronglyConnectedComponents.scala:48-141,
wrapper core/src/main/scala/org/graphframes/lib/StronglyConnectedComponents.scala:34-60)
re-expressed as DataFrame algebra — the reference has no DataFrame path
for SCC. Per outer round:

1. **Trim**: vertices with no in- or no out-edges in the remaining
   subgraph are their own singleton SCC; repeat to fixpoint.
2. **Forward coloring** (Pregel, min-propagation along out-edges):
   ``color(v)`` = min vertex id that reaches v.
3. **Backward sweep** (Pregel along reversed edges, color-restricted):
   starting from each color root (``id == color``), vertices reaching
   the root backward *within the same color* form that root's SCC.
4. Assign and remove settled vertices; repeat on the remainder.

Output: all original vertex columns + ``component`` (min vertex id in
the SCC; long for integral ids, surrogate-mapped back otherwise).

Scale notes: every phase is joins + groupBy-min over the shrinking work
graph; Pregel phases early-stop on message exhaustion; settled vertices
are eagerly checkpointed so the outer loop's lineage stays flat.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphframes_spark.harness import IterationHarness
from graphframes_spark.indexing import has_integral_id_type, indexed_edges, indexed_vertices
from graphframes_spark.pregel import Pregel
from graphframes_spark.util import ATTR, DST, ID, LONG_DST, LONG_ID, LONG_SRC, SRC

if TYPE_CHECKING:
    from graphframes_spark.graphframe import GraphFrame

COMPONENT = "component"


def _forward_colors(work_v: DataFrame, work_e: DataFrame) -> DataFrame:
    """DF[id, color] — color = min id reaching each vertex (incl. itself)."""
    from graphframes_spark.graphframe import GraphFrame

    g = GraphFrame(work_v.select(ID), work_e)
    # frontier-based min propagation: only vertices whose color changed
    # last superstep send (sound for the monotone min lattice; everyone
    # announces once because the initial active set is all vertices).
    # Messages are unconditional src.color — no dst state referenced, so
    # the dst join is elided and the per-superstep triplet join shrinks
    # with the frontier instead of rescanning every edge.
    return (
        g.pregel.setMaxIter(2_000_000_000)
        # early stopping materializes every superstep anyway, so
        # checkpointing every superstep keeps the planned lineage at
        # constant depth 1 — measured 2x faster than interval 2/4 at
        # sf0.1 (planning, not execution, dominates small frontiers)
        .setCheckpointInterval(1)
        .withVertexColumn(
            "color", F.col(ID), F.least(F.col("color"), Pregel.msg())
        )
        .sendMsgToDst(Pregel.src("color"))
        .aggMsgs(F.min(Pregel.msg()))
        .setEarlyStopping(True)
        .setUpdateActiveVertexExpression(
            Pregel.msg().isNotNull() & (Pregel.msg() < F.col("color"))
        )
        .setSkipMessagesFromNonActiveVertices(True)
        .requiredSrcColumns("color")
        .run()
    )


def _backward_final(colors: DataFrame, work_e: DataFrame) -> DataFrame:
    """DF[id, color, is_final] — final ⟺ reaches its color root backward
    within its color."""
    from graphframes_spark.graphframe import GraphFrame

    g = GraphFrame(colors, work_e)
    # frontier voting: a vertex is active only in the round after it
    # became final (initially: the color roots), and each final vertex
    # relays backward exactly once — triplets with both endpoints settled
    # or unreachable are skipped instead of rescanned every superstep
    res = (
        g.pregel.setMaxIter(2_000_000_000)
        .setCheckpointInterval(1)
        .withVertexColumn(
            "is_final",
            F.col(ID) == F.col("color"),
            F.col("is_final") | F.coalesce(Pregel.msg(), F.lit(False)),
        )
        .sendMsgToSrc(
            F.when(
                Pregel.dst("is_final")
                & (Pregel.dst("color") == Pregel.src("color"))
                & ~Pregel.src("is_final"),
                F.lit(True),
            )
        )
        .aggMsgs(F.max(Pregel.msg()))
        .setEarlyStopping(True)
        .setInitialActiveVertexExpression(F.col(ID) == F.col("color"))
        .setUpdateActiveVertexExpression(
            F.coalesce(Pregel.msg(), F.lit(False)) & ~F.col("is_final")
        )
        .setSkipMessagesFromNonActiveVertices(True)
        .requiredSrcColumns("color", "is_final")
        .requiredDstColumns("color", "is_final")
        .run()
    )
    return res


def strongly_connected_components(graph: "GraphFrame", max_iter: int = 20) -> DataFrame:
    """Component id per vertex; DF[<vertex columns>, component: long]."""
    from graphframes_spark.util import GraphFramesError

    if max_iter < 1:
        raise GraphFramesError("maxIter must be >= 1")
    spark = graph.spark
    harness = IterationHarness(spark, checkpoint_interval=1)

    integral = has_integral_id_type(graph.vertices)
    if integral:
        work_v = graph.vertices.select(F.col(ID).cast("long").alias(ID))
        work_e = (
            graph.edges.select(
                F.col(SRC).cast("long").alias(SRC), F.col(DST).cast("long").alias(DST)
            )
            .filter(F.col(SRC) != F.col(DST))
            .distinct()
        )
        idx_v = None
    else:
        idx_v = indexed_vertices(graph.vertices)
        work_v = idx_v.select(F.col(LONG_ID).alias(ID))
        work_e = (
            indexed_edges(graph.edges, idx_v)
            .select(F.col(LONG_SRC).alias(SRC), F.col(LONG_DST).alias(DST))
            .filter(F.col(SRC) != F.col(DST))
            .distinct()
        )

    # eager local checkpoints throughout: the trim loop re-derives work_v
    # from work_e (twice) and vice versa, so mere persists would let the
    # logical plan double per iteration (plan-string OOM on the driver).
    work_v = harness.checkpoint(work_v, eager=True)
    work_e = harness.checkpoint(work_e, eager=True)
    assigned = spark.createDataFrame([], f"{ID} long, {COMPONENT} long")

    for _ in harness.iterations(max_iter):
        # ---- trim to fixpoint: no out-edges or no in-edges → own SCC.
        # Every trimmed vertex gets component = its own id, so the
        # assignment is derived ONCE from (pre-trim minus post-trim)
        # after the fixpoint instead of checkpointing `assigned` per
        # iteration; the fixpoint probe is a count() on freshly
        # checkpointed state (cached scan), not a separate anti-join job.
        pre_trim_v = work_v
        n_before = n_pre_trim = work_v.count()
        # trim shape: two distinct endpoint sets + two semi-joins; a fused
        # exploded-endpoint aggregate doubles the pre-aggregate rows and
        # read -1.9% at sf0.1, 3/10 pairs (BENCH_knob_retire.json)
        while True:
            srcs = work_e.select(F.col(SRC).alias(ID)).distinct()
            dsts = work_e.select(F.col(DST).alias(ID)).distinct()
            non_trivial = harness.checkpoint(
                work_v.join(srcs, on=ID, how="left_semi").join(
                    dsts, on=ID, how="left_semi"
                ),
                eager=True,
            )
            n_after = non_trivial.count()
            if n_after == n_before:
                break
            work_v = non_trivial
            work_e = harness.checkpoint(
                work_e.join(work_v.withColumnRenamed(ID, SRC), on=SRC, how="left_semi")
                .join(work_v.withColumnRenamed(ID, DST), on=DST, how="left_semi"),
                eager=True,
            )
            n_before = n_after
        if n_before < n_pre_trim:
            trimmed = pre_trim_v.join(work_v, on=ID, how="left_anti")
            assigned = harness.checkpoint(
                assigned.unionByName(
                    trimmed.select(F.col(ID), F.col(ID).alias(COMPONENT))
                ),
                eager=True,
            )

        if n_before == 0:
            break

        # ---- forward min-id coloring, then backward color-restricted sweep
        colors = _forward_colors(work_v, work_e)
        final = _backward_final(colors, work_e)

        assigned = harness.checkpoint(
            assigned.unionByName(
                final.filter(F.col("is_final")).select(
                    F.col(ID), F.col("color").alias(COMPONENT)
                )
            ),
            eager=True,
        )
        work_v = harness.checkpoint(
            final.filter(~F.col("is_final")).select(ID), eager=True
        )
        work_e = harness.checkpoint(
            work_e.join(work_v.withColumnRenamed(ID, SRC), on=SRC, how="left_semi")
            .join(work_v.withColumnRenamed(ID, DST), on=DST, how="left_semi"),
            eager=True,
        )
        harness.rotate()
        if work_v.isEmpty():
            break

    # any vertices left when max_iter ran out keep their forward color as a
    # best-effort component (mirrors GraphX returning current sccGraph)
    if not work_v.isEmpty():
        assigned = assigned.unionByName(
            work_v.select(F.col(ID), F.col(ID).alias(COMPONENT))
        )

    if integral:
        orig_v = graph.vertices
        out = orig_v.join(
            assigned.withColumnRenamed(ID, "_scc_id"),
            orig_v[ID].cast("long") == F.col("_scc_id"),
        ).select(*[orig_v[c] for c in orig_v.columns], F.col(COMPONENT))
    else:
        mapping = idx_v.select(F.col(LONG_ID).alias("_scc_id"), F.col(ATTR))
        out = (
            assigned.withColumnRenamed(ID, "_scc_id")
            .join(mapping, on="_scc_id")
            .select(F.col(ATTR + ".*"), F.col(COMPONENT))
        )
    return harness.finish(out)
