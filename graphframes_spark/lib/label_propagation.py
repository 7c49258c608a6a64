"""Label propagation (community detection) on the DataFrame Pregel engine.

Semantics follow the reference DataFrame path
(/root/reference/core/src/main/scala/org/graphframes/lib/LabelPropagation.scala:85-146):
labels start as vertex ids; each superstep a vertex adopts the most
frequent label among incoming messages with a deterministic tie-break
(max count, then min label).

Where the reference folds ``collect_list`` into a per-row count map
(LabelPropagation.scala:132-140) — unbounded per-row state on hub
vertices — we reduce messages in TWO levels: count by (vertex, label)
(a codegen hash aggregate with map-side partial combine over primitive
longs), then ``min_by(label, (-count, label))`` per vertex (also a
codegen declarative aggregate). Same winner and tie-break as
``mode(deterministic=true)`` — most frequent label, ties to the lowest —
but no per-group object hash map: round 8 measured mode()'s
ObjectHashAggregate allocation churn on hub vertices as 27-59s
pass-to-pass GC variance at the 5M-edge LDBC shape, which the two-level
shape removes. State stays bounded by the number of distinct labels, so
a 10^7-degree hub never materializes a degree-sized array in one row.

Deviation from the reference: a vertex that receives no messages keeps
its current label (the reference nulls it); this matches GraphX CDLP and
keeps results total.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphframes_spark.pregel import MSG_COL_NAME, Pregel
from graphframes_spark.util import DST, ID, SRC

if TYPE_CHECKING:
    from graphframes_spark.graphframe import GraphFrame

LABEL_ID = "label"


def _two_level_mode(msg_df: DataFrame) -> DataFrame:
    """DF[id, msg] -> DF[id, msg]: most frequent msg per id, ties to the
    lowest — ``mode(deterministic=true)`` semantics as two codegen hash
    aggregates (count by (id, msg), then min_by over (-count, msg))
    instead of one per-group object hash map. See module docstring."""
    counts = msg_df.groupBy(ID, MSG_COL_NAME).agg(
        F.count(F.lit(1)).alias("_lpa_cnt")
    )
    return counts.groupBy(ID).agg(
        F.min_by(
            F.col(MSG_COL_NAME),
            F.struct(
                (-F.col("_lpa_cnt")).alias("_neg_cnt"),
                F.col(MSG_COL_NAME).alias("_msg"),
            ),
        ).alias(MSG_COL_NAME)
    )


def label_propagation(
    graph: "GraphFrame", max_iter: int = 5, is_directed: bool = True
) -> DataFrame:
    from graphframes_spark.graphframe import GraphFrame

    prepared = GraphFrame(graph.vertices.select(ID), graph.edges.select(SRC, DST))

    new_label = F.coalesce(Pregel.msg(), F.col(LABEL_ID))

    pregel = (
        prepared.pregel.withVertexColumn(LABEL_ID, F.col(ID), new_label)
        .setMaxIter(max_iter)
        # voting materializes every superstep; per-superstep checkpoints
        # keep planning depth constant (see scc.py measurement)
        .setCheckpointInterval(1)
        .setStopIfAllNonActiveVertices(True)
        .setUpdateActiveVertexExpression(F.col(LABEL_ID) != new_label)
        .requiredSrcColumns(LABEL_ID)
        .sendMsgToDst(Pregel.src(LABEL_ID))
    )
    if not is_directed:
        # dst hint only when dst state is actually read: a non-id dst hint
        # forces the dst-side join (pregel escape-hatch contract)
        pregel = pregel.requiredDstColumns(LABEL_ID).sendMsgToSrc(
            Pregel.dst(LABEL_ID)
        )

    # most frequent incoming label, ties -> lowest (two-level reduction)
    pregel = pregel.setMsgReducer(_two_level_mode)

    labels = pregel.run().select(ID, LABEL_ID)
    return graph.vertices.join(labels, on=ID, how="inner")


def seeded_label_propagation(
    graph: "GraphFrame",
    seeds: DataFrame,
    label_col: str = LABEL_ID,
    max_iter: int = 5,
    is_directed: bool = False,
) -> DataFrame:
    """Semi-supervised label spreading — beyond-reference (the
    reference's CDLP has no seed support).

    ``seeds`` is DF[id, <label_col>]: those vertices hold their label
    FIXED; every other vertex starts unlabeled (NULL) and — first-touch
    finality — permanently adopts the most frequent label among its
    labeled neighbors in the superstep it is first reached (ties to the
    lowest label — the same two-level majority-vote reduction as
    labelPropagation, never a degree-sized array on a hub). The result is nearest-seed labeling
    with majority/lowest tie-breaks; unreached vertices keep NULL. The
    classic label-a-million-docs-from-a-thousand-labels primitive.
    First-touch (rather than re-voting every superstep) keeps boundary
    vertices from drifting on ties and converges in
    max-distance-to-a-seed supersteps.

    Same per-superstep plan shape as labelPropagation: one src-keyed
    join against the pre-shuffled edges + one dst-keyed mode aggregate;
    voting stops early once every reachable vertex is labeled.
    """
    from graphframes_spark.graphframe import GraphFrame
    from graphframes_spark.util import GraphFramesError

    if label_col not in seeds.columns:
        raise GraphFramesError(f"seeds is missing label column {label_col!r}")

    seed_map = seeds.select(F.col(ID), F.col(label_col).alias("_slp_seed"))
    prepared_v = graph.vertices.select(ID).join(seed_map, on=ID, how="left")
    prepared = GraphFrame(prepared_v, graph.edges.select(SRC, DST))

    # first-touch finality: a labeled vertex (seed or already reached)
    # never changes; unlabeled vertices take the message mode (mode
    # skips NULLs, so an all-unlabeled neighborhood leaves NULL behind)
    new_label = F.coalesce(F.col(LABEL_ID), Pregel.msg())

    pregel = (
        prepared.pregel.withVertexColumn(
            LABEL_ID, F.col("_slp_seed"), new_label
        )
        .setMaxIter(max_iter)
        .setCheckpointInterval(1)
        .setStopIfAllNonActiveVertices(True)
        .setUpdateActiveVertexExpression(
            ~(F.col(LABEL_ID).eqNullSafe(new_label))
        )
        .requiredSrcColumns(LABEL_ID)
        .sendMsgToDst(Pregel.src(LABEL_ID))
    )
    if not is_directed:
        pregel = pregel.requiredDstColumns(LABEL_ID).sendMsgToSrc(
            Pregel.dst(LABEL_ID)
        )
    pregel = pregel.setMsgReducer(_two_level_mode)

    labels = pregel.run().select(ID, F.col(LABEL_ID).alias(label_col))
    return graph.vertices.join(labels, on=ID, how="inner")
