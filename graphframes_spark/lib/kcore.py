"""K-core decomposition on the DataFrame Pregel engine.

Semantics follow the reference
(/root/reference/core/src/main/scala/org/graphframes/lib/KCore.scala:37-108)
implementing Mandal & Al Hasan, "A distributed k-core decomposition
algorithm on Spark" (IEEE Big Data 2017): each vertex starts with its
degree as a core estimate; per superstep it broadcasts the estimate to
all neighbors and lowers its own to the largest ``l`` such that at least
``l`` neighbors have estimate ``>= l`` (an h-index over the neighbor
estimates capped at its own).

The reference's custom Catalyst expression ``KCoreMerge``
(expressions/KCoreMerge.scala:33-63) is re-expressed as a message
reducer of codegen hash aggregates and one window: count messages by
``(id, estimate)``, run a count in descending estimate order per id (the
number of neighbors at or above each estimate), and take the h-index as
``max(least(estimate, running))``. The vertex update caps it at the
current core; that is exact, because for ``l <= core``,
``least(m, core) >= l`` iff ``m >= l``.

Edge representation matches the reference contract: supply each
undirected edge once (either direction); the algorithm symmetrizes by
messaging both endpoints. Scale notes: per-superstep state is one int
per vertex; a hub's messages become one row per distinct neighbor
estimate, sorted (and spilled if need be) by the window, never an
in-memory list the size of its degree.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from graphframes_spark.pregel import MSG_COL_NAME, Pregel
from graphframes_spark.util import DST, ID, SRC

if TYPE_CHECKING:
    from graphframes_spark.graphframe import GraphFrame

KCORE_ID = "kcore"


def _h_index(msg_df: DataFrame) -> DataFrame:
    """DF[id, msg] -> DF[id, msg]: largest l with at least l messages >= l.
    Each distinct m offers ``least(m, #msgs >= m)``; the least m >= h offers h."""
    counts = msg_df.groupBy(ID, MSG_COL_NAME).agg(F.count(F.lit(1)).alias("_kc_cnt"))
    at_or_above = F.sum("_kc_cnt").over(
        Window.partitionBy(ID)
        .orderBy(F.col(MSG_COL_NAME).desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        counts.select(ID, F.least(F.col(MSG_COL_NAME), at_or_above).alias("_kc_h"))
        .groupBy(ID)
        .agg(F.max("_kc_h").cast("int").alias(MSG_COL_NAME))
    )


def k_core(graph: "GraphFrame", max_iter: int = 1_000_000_000) -> DataFrame:
    """Max k per vertex such that the vertex is in a k-core.

    Returns DF[id, kcore: int]; vertices with no edges get kcore 0.
    """
    from graphframes_spark.graphframe import GraphFrame

    degrees = graph.degrees.select(
        F.col(ID), F.col("degree").cast("int").alias("degree")
    )
    prepared = GraphFrame(degrees, graph.edges.select(SRC, DST))

    merged = F.least(Pregel.msg(), F.col(KCORE_ID))
    result = (
        prepared.pregel.setMaxIter(max_iter)
        .setCheckpointInterval(1)  # voting mode: see scc.py measurement
        .withVertexColumn(
            KCORE_ID,
            F.col("degree"),
            F.when(Pregel.msg().isNull(), F.col(KCORE_ID)).otherwise(merged),
        )
        .sendMsgToSrc(Pregel.dst(KCORE_ID))
        .sendMsgToDst(Pregel.src(KCORE_ID))
        .setUpdateActiveVertexExpression(
            Pregel.msg().isNotNull() & (F.col(KCORE_ID) != merged)
        )
        .setEarlyStopping(False)
        .setStopIfAllNonActiveVertices(True)
        .setSkipMessagesFromNonActiveVertices(False)
        .requiredSrcColumns(KCORE_ID)
        .requiredDstColumns(KCORE_ID)
        .setMsgReducer(_h_index)
        .run()
    )

    return (
        graph.vertices.select(ID)
        .join(result.select(ID, KCORE_ID), on=ID, how="left")
        .withColumn(KCORE_ID, F.coalesce(F.col(KCORE_ID), F.lit(0)))
    )
