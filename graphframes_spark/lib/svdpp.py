"""SVD++ collaborative filtering as a DataFrame gradient loop.

Semantics follow the reference's GraphX implementation
(/root/reference/graphx/src/main/scala/org/apache/spark/graphframes/graphx/lib/SVDPlusPlus.scala:62-200,
wrapper core/src/main/scala/org/graphframes/lib/SVDPlusPlus.scala:95-257),
re-expressed as DataFrame algebra (the reference has no DataFrame path).
Koren 2008 prediction rule: ``r_ui = u + b_u + b_i + q_i . (p_u +
|N(u)|^-0.5 * sum(y_j))``. Input: directed bipartite user(src) →
item(dst) edges with a numeric ``weight`` rating column. Output: vertex
DataFrame with ``column1`` (array<double>, p/q latent factors),
``column2`` (array<double>, implicit factors), ``column3`` (double,
bias), ``column4`` (double, |N|^-0.5 norm), plus the training loss.

Deviations from the reference, both documented here on purpose:
- factor initialization is deterministic (hash of (id, slot) scaled to
  [0,1)) instead of an unseeded ``Random`` — reproducible tests, same
  distribution;
- the message combiner sums both operands' implicit-factor updates
  (upstream Apache Spark behavior); the reference fork's combiner
  doubles one side (SVDPlusPlus.scala:176-178), an apparent typo.

Scale notes: per phase the only wide ops are the two state joins and a
single ``groupBy(id)`` whose array sums unroll to ``rank`` scalar
``sum(element_at(...))`` aggregates — partial aggregation everywhere,
per-row state bounded by ``rank`` (no collect_list of neighbor arrays,
so hub users cannot OOM an executor). Vertex state is
local-checkpointed every iteration to keep the plan flat.
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from graphframes_spark.harness import IterationHarness
from graphframes_spark.util import DST, ID, SRC, WEIGHT, GraphFramesError

if TYPE_CHECKING:
    from graphframes_spark.graphframe import GraphFrame

COLUMN1 = "column1"
COLUMN2 = "column2"
COLUMN3 = "column3"
COLUMN4 = "column4"


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _axpy(alpha: Column, x: Column, y: Column) -> Column:
    """alpha * x + y, element-wise."""
    return F.zip_with(x, y, lambda xi, yi: alpha * xi + yi)


def _sum_array(arr_col: str, rank: int) -> Column:
    """groupBy aggregate that element-wise sums an array<double> column.

    ``rank`` is a plan-time constant, so the array reduces to ``rank``
    scalar ``sum(element_at(...))`` aggregates — one shuffle with full
    map-side partial aggregation, no posexplode and no re-assembly pass.
    Per-row agg state stays bounded by the rank, not the degree."""
    return F.array(
        *[F.sum(F.element_at(F.col(arr_col), i + 1)) for i in range(rank)]
    ).alias(arr_col)


def svd_plus_plus(
    graph: "GraphFrame",
    rank: int = 10,
    max_iter: int = 2,
    min_value: float = 0.0,
    max_value: float = 5.0,
    gamma1: float = 0.007,
    gamma2: float = 0.007,
    gamma6: float = 0.005,
    gamma7: float = 0.015,
) -> Tuple[DataFrame, float]:
    """Returns (vertices DF[id, column1, column2, column3, column4], loss)."""
    if WEIGHT not in graph.edges.columns:
        raise GraphFramesError(f"SVD++ requires a weight column {WEIGHT}")
    if max_iter < 1:
        raise GraphFramesError("maxIter must be >= 1")
    if max_value <= min_value:
        raise GraphFramesError("maxValue must be greater than minValue")

    spark = graph.spark
    harness = IterationHarness(spark, checkpoint_interval=1)

    edges = harness.pin(
        graph.edges.select(
            F.col(SRC), F.col(DST), F.col(WEIGHT).cast("double").alias(WEIGHT)
        )
    )
    u = edges.agg(F.avg(WEIGHT)).first()[0]
    if u is None:
        raise GraphFramesError("SVD++ requires at least one edge")

    # deterministic stand-in for the reference's unseeded Random init.
    # md5 of "<id>_<slot>" (not xxhash64, which is Spark-only) so a SQL
    # oracle on any engine can replay the full training loop bit-for-bit
    def init_vec(salt: int) -> Column:
        def h(slot: int) -> Column:
            hex12 = F.substring(
                F.md5(
                    F.concat(
                        F.col(ID).cast("string"), F.lit("_"), F.lit(str(slot))
                    )
                ),
                1,
                12,
            )
            return (
                F.pmod(F.conv(hex12, 16, 10).cast("bigint"), F.lit(1_000_000))
                / 1_000_000.0
            )

        return F.array(*[h(salt * rank + i) for i in range(rank)])

    # t0: per-vertex (count, sum of ratings) over both endpoints
    both_ends = edges.select(
        F.explode(
            F.array(
                F.struct(F.col(SRC).alias(ID), F.col(WEIGHT)),
                F.struct(F.col(DST).alias(ID), F.col(WEIGHT)),
            )
        ).alias("x")
    ).select("x.id", f"x.{WEIGHT}")
    t0 = both_ends.groupBy(ID).agg(
        F.count("*").alias("_cnt"), F.sum(WEIGHT).alias("_sum")
    )
    state = harness.checkpoint(
        t0.select(
            F.col(ID),
            init_vec(1).alias(COLUMN1),
            init_vec(2).alias(COLUMN2),
            (F.col("_sum") / F.col("_cnt") - F.lit(u)).alias(COLUMN3),
            (F.lit(1.0) / F.sqrt(F.col("_cnt"))).alias(COLUMN4),
        ),
        eager=True,
    )

    lg1, lg2, lg6, lg7 = (F.lit(g) for g in (gamma1, gamma2, gamma6, gamma7))

    def join_triplets(st: DataFrame) -> DataFrame:
        src_state = st.select(
            F.col(ID).alias(SRC),
            F.col(COLUMN1).alias("p"),
            F.col(COLUMN2).alias("usr2"),
            F.col(COLUMN3).alias("bu"),
            F.col(COLUMN4).alias("norm"),
        )
        dst_state = st.select(
            F.col(ID).alias(DST),
            F.col(COLUMN1).alias("q"),
            F.col(COLUMN2).alias("y"),
            F.col(COLUMN3).alias("bi"),
        )
        return edges.join(src_state, on=SRC).join(dst_state, on=DST)

    for _ in harness.iterations(max_iter):
        # Phase 1: usr.column2 = p + norm * sum(y_j over rated items).
        # It only aggregates dst-side implicit factors by src, so it joins
        # the dst state alone: a src-state join would add no columns and
        # filter nothing (every edge endpoint has a t0 state row by
        # construction). Catalyst cannot drop such a join itself: inner
        # joins are never join-eliminated because they could change
        # cardinality.
        t1 = (
            edges.join(
                state.select(F.col(ID).alias(DST), F.col(COLUMN2).alias("y")),
                on=DST,
            )
            .select(F.col(SRC).alias(ID), F.col("y"))
            .groupBy(ID)
            .agg(_sum_array("y", rank))
        )
        state = harness.persist(
            state.join(t1, on=ID, how="left").select(
                F.col(ID),
                F.col(COLUMN1),
                F.when(F.col("y").isNull(), F.col(COLUMN2))
                .otherwise(_axpy(F.col(COLUMN4), F.col("y"), F.col(COLUMN1)))
                .alias(COLUMN2),
                F.col(COLUMN3),
                F.col(COLUMN4),
            )
        )
        # phase 2's one action scans this state from three subtrees
        # (src_state, dst_state, the outer join-back); left lazy, their
        # concurrent stages race to populate the cache (sporadic 3-5x
        # outliers, BENCH_svdpp_ab_r11), so materialize it here
        state.count()

        # Phase 2: per-edge error gradient, summed per vertex
        pred = F.lit(u) + F.col("bu") + F.col("bi") + _dot(F.col("q"), F.col("usr2"))
        err = F.col(WEIGHT) - F.least(
            F.greatest(pred, F.lit(min_value)), F.lit(max_value)
        )
        trip = join_triplets(state).withColumn("_err", err)
        update_p = F.zip_with(
            F.col("q"), F.col("p"), lambda qi, pi: (F.col("_err") * qi - lg7 * pi) * lg2
        )
        update_q = F.zip_with(
            F.col("usr2"),
            F.col("q"),
            lambda ui, qi: (F.col("_err") * ui - lg7 * qi) * lg2,
        )
        update_y = F.zip_with(
            F.col("q"),
            F.col("y"),
            lambda qi, yi: (F.col("_err") * F.col("norm") * qi - lg7 * yi) * lg2,
        )
        msgs = trip.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col(SRC).alias(ID),
                        update_p.alias("m1"),
                        update_y.alias("m2"),
                        ((F.col("_err") - lg6 * F.col("bu")) * lg1).alias("m3"),
                    ),
                    F.struct(
                        F.col(DST).alias(ID),
                        update_q.alias("m1"),
                        update_y.alias("m2"),
                        ((F.col("_err") - lg6 * F.col("bi")) * lg1).alias("m3"),
                    ),
                )
            ).alias("x")
        ).select("x.id", "x.m1", "x.m2", "x.m3")
        # one shuffle for all three message sums (m1/m2 element-wise,
        # m3 scalar), then a single left join back onto the state
        summed = msgs.groupBy(ID).agg(
            _sum_array("m1", rank),
            _sum_array("m2", rank),
            F.sum("m3").alias("m3"),
        )

        state = harness.checkpoint(
            state.join(summed, on=ID, how="left").select(
                F.col(ID),
                F.when(F.col("m1").isNull(), F.col(COLUMN1))
                .otherwise(F.zip_with(F.col(COLUMN1), F.col("m1"), lambda a, b: a + b))
                .alias(COLUMN1),
                F.when(F.col("m2").isNull(), F.col(COLUMN2))
                .otherwise(F.zip_with(F.col(COLUMN2), F.col("m2"), lambda a, b: a + b))
                .alias(COLUMN2),
                (F.col(COLUMN3) + F.coalesce(F.col("m3"), F.lit(0.0))).alias(COLUMN3),
                F.col(COLUMN4),
            ),
            eager=True,
        )
        harness.rotate()

    # training loss: sum over edges of squared clamped-prediction error
    pred = F.lit(u) + F.col("bu") + F.col("bi") + _dot(F.col("q"), F.col("usr2"))
    err_sq = F.pow(
        F.col(WEIGHT)
        - F.least(F.greatest(pred, F.lit(min_value)), F.lit(max_value)),
        F.lit(2.0),
    )
    loss = join_triplets(state).agg(F.sum(err_sq)).first()[0]

    out = graph.vertices.join(state, on=ID, how="inner")
    return harness.finish(out), float(loss)
