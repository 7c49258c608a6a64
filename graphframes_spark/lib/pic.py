"""Power Iteration Clustering — delegates to ``pyspark.ml.clustering``.

Mirrors the reference wrapper
(/root/reference/core/src/main/scala/org/graphframes/GraphFrame.scala:894-930):
PIC (Lin & Cohen) is already PySpark-native via
``PowerIterationClustering.assignClusters``; this wrapper handles the
surrogate-ID mapping for non-integral vertex IDs and the implicit unit
weight column.

Scale notes: PIC's per-iteration cost is one shuffle over the (src, dst,
weight) affinity matrix — the ml implementation handles partitioning; the
only added work here is the surrogate-ID join for string IDs.
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphframes_spark.indexing import has_integral_id_type, indexed_edges, indexed_vertices
from graphframes_spark.util import ATTR, DST, ID, LONG_DST, LONG_ID, LONG_SRC, SRC

if TYPE_CHECKING:
    from graphframes_spark.graphframe import GraphFrame


def power_iteration_clustering(
    graph: "GraphFrame",
    k: int,
    max_iter: int = 20,
    weight_col: Optional[str] = None,
    deterministic: bool = False,
) -> DataFrame:
    """Cluster assignment per vertex: DF[id, cluster: int].

    ``deterministic=True`` (beyond-reference) runs an in-engine Lin-Cohen
    power iteration with a deterministic gap-cut clustering instead of
    delegating to ml (whose internal k-means init is seeded): see
    :func:`_deterministic_pic`. Output labels are canonical (segments of
    the 1-D embedding in ascending order get cluster 0..k-1), so the
    result is bit-stable across runs, partitionings, and retries.

    Deterministic-mode contract: if the rounded 1-D embedding has fewer
    than ``k`` distinct values (e.g. a perfectly symmetric graph, or
    ``k`` larger than the vertex count), fewer than ``k`` clusters are
    returned — there are not enough gaps to cut. Edge weights must be
    non-negative (Lin-Cohen affinities are similarities); a negative
    weight raises rather than silently producing a meaningless gap-cut.
    """
    if deterministic:
        return _deterministic_pic(graph, k, max_iter, weight_col)

    from pyspark.ml.clustering import PowerIterationClustering

    if graph.edges.isEmpty():
        # assignClusters only labels vertices present in the affinity
        # matrix; ml's KMeans throws outright on an empty one
        return (
            graph.vertices.select(F.col(ID).cast("long").alias(ID))
            if has_integral_id_type(graph.vertices)
            else graph.vertices.select(ID)
        ).withColumn("cluster", F.lit(0).cast("int")).limit(0)

    if has_integral_id_type(graph.vertices):
        edges = graph.edges
        idx_v = None
    else:
        idx_v = indexed_vertices(graph.vertices)
        ie = indexed_edges(graph.edges, idx_v)
        if weight_col is not None:
            edges = ie.select(
                F.col(LONG_SRC).alias(SRC),
                F.col(LONG_DST).alias(DST),
                F.col(ATTR)[weight_col].alias(weight_col),
            )
        else:
            edges = ie.select(F.col(LONG_SRC).alias(SRC), F.col(LONG_DST).alias(DST))

    pic = PowerIterationClustering(k=k, maxIter=max_iter, srcCol=SRC, dstCol=DST)
    if weight_col is not None:
        pic.setWeightCol(weight_col)
        result = pic.assignClusters(edges)
    else:
        pic.setWeightCol("_weight")
        result = pic.assignClusters(edges.withColumn("_weight", F.lit(1.0)))

    if idx_v is None:
        return result
    mapping = idx_v.select(F.col(LONG_ID).alias(ID), F.col(ATTR)[ID].alias("_orig"))
    return result.join(mapping, on=ID, how="inner").select(
        F.col("_orig").alias(ID), F.col("cluster")
    )


def _deterministic_pic(
    graph: "GraphFrame", k: int, max_iter: int, weight_col: Optional[str]
) -> DataFrame:
    """Deterministic Lin-Cohen PIC: power iteration + gap-cut clustering.

    The affinity matrix is the edge list as given (callers symmetrize for
    classic PIC semantics). Iterates ``v <- W v`` with ``W = D^-1 A`` on
    the Pregel engine; because all entries stay positive and ``W`` is
    linear, L1-normalizing once at the END is exactly equivalent to
    normalizing every step (scaling commutes), so the loop needs no
    per-superstep global reduce. The final 1-D embedding is rounded to 10
    decimals and clustered by cutting at the k-1 largest gaps between
    DISTINCT embedding values (ties broken by larger gap, then smaller
    value); cluster labels are the ascending segment index 0..k-1. If
    fewer than k distinct rounded values exist there are fewer than k-1
    gaps, so fewer than k clusters come back (documented contract).

    Scale notes: per-iteration cost is one message shuffle over the edge
    list (same shape as PageRank); the gap-cut range-partitions the
    DISTINCT rounded embedding values, computes lags locally per range
    partition, and stitches partition boundaries through a per-partition
    max relation whose size is the partition count — no global
    single-partition sort (a plan-audit assertion pins this), no
    all-pairs work; only the at-most-k-1 cut points reach the driver.
    """
    from graphframes_spark.pregel import Pregel
    from graphframes_spark.util import GraphFramesError

    from graphframes_spark.graphframe import GraphFrame

    # The weight is projected to a reserved name (``_pic_w``) so a
    # weightCol named 'src' or 'dst' — degenerate but valid input —
    # never makes later column references ambiguous; the cast happens
    # in the projection, so message values are bit-identical to casting
    # at use sites.
    if weight_col is not None:
        edges = graph.edges.select(
            SRC, DST, F.col(weight_col).cast("double").alias("_pic_w")
        )
        w_expr = F.col("_pic_w")
    else:
        edges = graph.edges.select(SRC, DST)
        w_expr = F.lit(1.0)
    # The affinity matrix is re-executed by each consumer below (the
    # stats aggregate, the rowsum degree aggregate, and each fused power-
    # iteration window): persisting it read -13% at a 15M-edge rung
    # (BENCH_rung_knobs_r12.json) and -0.5% at sf0.1, 4/10 pairs
    # (BENCH_knob_retire.json): the cache write+read costs more than the
    # cheap re-projections it saves.
    # one edge scan yields the affinity total (== the vertex rowsum total,
    # since edgeless vertices contribute 0), the validity check, and the
    # edge count (emptiness probe)
    stats = edges.agg(
        F.sum(w_expr).alias("_t"),
        F.min(w_expr).alias("_m"),
        F.count(F.lit(1)).alias("_n"),
    ).collect()[0]
    if stats["_n"] == 0:
        return (
            graph.vertices.select(ID)
            .withColumn("cluster", F.lit(0).cast("int"))
            .limit(0)
        )
    if stats["_m"] is not None and stats["_m"] < 0:
        raise GraphFramesError(
            "power_iteration_clustering(deterministic=True) requires "
            "non-negative edge weights (Lin-Cohen affinities are "
            f"similarities); found min weight {stats['_m']}"
        )
    rowsum = edges.groupBy(F.col(SRC).alias(ID)).agg(
        F.sum(w_expr).alias("_pic_s")
    )
    v = graph.vertices.select(ID).join(rowsum, on=ID, how="left_outer").select(
        ID, F.coalesce(F.col("_pic_s"), F.lit(0.0)).alias("_pic_s")
    )
    total = stats["_t"] or 0.0
    if total <= 0.0:
        return graph.vertices.select(ID).withColumn(
            "cluster", F.lit(0).cast("int")
        )

    prepared = GraphFrame(v, edges)
    msg = (
        Pregel.src("_pic_v") * Pregel.edge("_pic_w")
        if weight_col is not None
        else Pregel.src("_pic_v")
    )
    update = F.when(
        F.col("_pic_s") > 0,
        F.coalesce(Pregel.msg(), F.lit(0.0)) / F.col("_pic_s"),
    ).otherwise(F.lit(0.0))
    ranks = (
        prepared.pregel.withVertexColumn(
            "_pic_v", F.col("_pic_s") / F.lit(float(total)), update
        )
        .sendMsgToDst(msg)
        .aggMsgs(F.sum(Pregel.msg()))
        .requiredSrcColumns("_pic_v")
        .setCheckpointInterval(5)
        .setMaxIter(max_iter)
        .run()
        .select(ID, "_pic_v")
    )
    total_v = ranks.agg(F.sum("_pic_v")).collect()[0][0] or 0.0
    if total_v <= 0.0:
        return graph.vertices.select(ID).withColumn(
            "cluster", F.lit(0).cast("int")
        )
    emb = ranks.select(
        ID, F.round(F.col("_pic_v") / F.lit(float(total_v)), 10).alias("_pic_emb")
    )

    from graphframes_spark.harness import shuffle_partitions

    n_part = shuffle_partitions(graph.spark)
    gaps = _distinct_value_gaps(emb.select("_pic_emb"), n_part)
    # at most k-1 cut points: a bounded driver collect (like the hub lists
    # in connected_components), turned into a literal CASE expression so
    # the labeling join is a pure projection — no theta-join
    cuts = [
        r["_pic_emb"]
        for r in gaps.filter(F.col("_pic_gap").isNotNull())
        .orderBy(F.col("_pic_gap").desc(), F.col("_pic_emb").asc())
        .limit(max(k - 1, 0))
        .collect()
    ]
    cluster = F.lit(0)
    for c in cuts:
        cluster = cluster + F.when(
            F.col("_pic_emb") >= F.lit(float(c)), 1
        ).otherwise(0)
    return emb.select(ID, cluster.cast("int").alias("cluster"))


def _distinct_value_gaps(values: DataFrame, n_part: int) -> DataFrame:
    """DF[_pic_emb, _pic_gap]: each distinct value's gap to its
    predecessor (null for the global minimum) — computed WITHOUT a global
    single-partition sort/window.

    Two-level shape: range partitioning makes buckets contiguous and
    ordered (every value in bucket p < every value in bucket p+1; values
    are distinct so no boundary duplicates), so each value's predecessor
    is either its in-bucket lag or, for a bucket's minimum, the previous
    non-empty bucket's max. The boundary maxes are one row per bucket —
    bounded by the bucket cap below — so they come to the driver and
    fold into a literal CASE; the lag window is then PARTITIONED by the
    range bucket (tests/test_plan_audit.py asserts the physical plan
    carries no ``Exchange SinglePartition`` feeding a Window).
    localCheckpoint pins the sampled range boundaries so the bucket ids
    are consistent across the two reads.

    The bucket count is ``min(n_part, 256)``, NOT ``n_part`` verbatim:
    the CASE chain's depth equals the number of non-empty buckets, and a
    deployment running thousands of shuffle partitions would otherwise
    produce a multi-thousand-branch expression (Catalyst analysis /
    codegen blowup risk). Gap correctness is independent of the bucket
    count — only the window's parallelism changes, and 256-way is ample
    for the k-1 cut-point scan this feeds.

    ``values`` must carry a single column ``_pic_emb``; rows need not be
    distinct (a distinct is applied here).
    """
    from pyspark.sql import Window

    n_buckets = min(max(n_part, 1), 256)
    distinct = (
        values.distinct()
        .repartitionByRange(n_buckets, F.col("_pic_emb"))
        .withColumn("_pic_part", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    part_max = {
        r["_pic_part"]: r["_pm"]
        for r in distinct.groupBy("_pic_part")
        .agg(F.max("_pic_emb").alias("_pm"))
        .collect()
    }
    # range buckets are value-ordered, so the running max of lower-id
    # buckets IS the previous non-empty bucket's max
    prev_max_expr = F.lit(None).cast("double")
    running = None
    for p in sorted(part_max):
        if running is not None:
            prev_max_expr = F.when(
                F.col("_pic_part") == p, F.lit(float(running))
            ).otherwise(prev_max_expr)
        running = part_max[p] if running is None else max(running, part_max[p])
    local_w = Window.partitionBy("_pic_part").orderBy("_pic_emb")
    return distinct.select(
        "_pic_emb",
        (
            F.col("_pic_emb")
            - F.coalesce(F.lag("_pic_emb").over(local_w), prev_max_expr)
        ).alias("_pic_gap"),
    )
