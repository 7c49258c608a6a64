"""Connected components via alternating large-star / small-star contraction.

Implements the two-phase algorithm (Kiveris et al., "Connected Components
in MapReduce and Beyond") following the reference's AQE variant
(/root/reference/core/src/main/scala/org/graphframes/lib/TwoPhase.scala:331-443):
plain shuffle joins with AQE left on to handle skew at runtime, eager
checkpoints every N iterations to cut lineage.

Exit rule (a deviation from the reference, same results): the loop stops
at the first convergence probe that finds the edge set a star forest
centred on each component's minimum (proof at ``_min_nbr_stats``), one
no-op iteration before the reference's repeated-checksum rule.

Scale notes: each iteration is two join+agg rounds over the shrinking
edge set; input hub skew is handled by AQE skew-join; the skew the
ALGORITHM ITSELF creates — star contraction funnels the giant
component's edges onto its minimum id, which AQE cannot split because
the cached min-neighbor side presents no live shuffle stage — is
handled by the giant-star hybrid: keys whose degree exceeds
``broadcastThreshold`` when set, else max(floor, factor·total/n_part),
are detected from the aggregate the convergence probe already computes
and routed through a broadcast join, everything else stays on the plain
AQE shuffle join. The surrogate-long-ID mapping keeps shuffle keys to 8
bytes regardless of the user ID type.
"""

from __future__ import annotations

import warnings
from typing import TYPE_CHECKING, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from graphframes_spark.harness import IterationHarness
from graphframes_spark.indexing import has_integral_id_type, indexed_edges, indexed_vertices
from graphframes_spark.util import ATTR, DST, ID, LONG_DST, LONG_ID, LONG_SRC, SRC

if TYPE_CHECKING:
    from graphframes_spark.graphframe import GraphFrame

COMPONENT = "component"
MIN_NBR = "min_nbr"
CNT = "cnt"


def _skewed_join(a: DataFrame, b: DataFrame, hubs: list) -> DataFrame:
    """Skew-aware join on ``src`` (reference GraphFrame.scala:1106-1126 /
    TwoPhase.scala:160-173): rows whose key is a driver-collected hub go
    through a broadcast join, the rest through a plain shuffle join,
    results unioned. Hub membership is tested with broadcast semi/anti
    joins against the (small) hub set rather than an ``isin`` literal
    list — the Catalyst plan stays constant-size however many keys
    qualify. Only (src, min_nbr) of ``b`` survive."""
    b = b.select(SRC, MIN_NBR)
    if not hubs:
        return a.join(b, on=SRC)
    hub_df = a.sparkSession.createDataFrame([(h,) for h in hubs], [SRC])
    hash_joined = a.join(F.broadcast(hub_df), on=SRC, how="left_anti").join(
        b.join(F.broadcast(hub_df), on=SRC, how="left_anti"), on=SRC
    )
    broadcast_joined = a.join(F.broadcast(hub_df), on=SRC, how="left_semi").join(
        F.broadcast(b.join(F.broadcast(hub_df), on=SRC, how="left_semi")),
        on=SRC,
    )
    return hash_joined.unionAll(broadcast_joined)


def _symmetrize(ee: DataFrame) -> DataFrame:
    return ee.select(
        F.explode(
            F.array(
                F.struct(F.col(SRC), F.col(DST)),
                F.struct(F.col(DST).alias(SRC), F.col(SRC).alias(DST)),
            )
        ).alias("_edge")
    ).select(F.col("_edge." + SRC).alias(SRC), F.col("_edge." + DST).alias(DST))


def _min_nbrs(ee: DataFrame) -> DataFrame:
    """(src, min_nbr, cnt) where min_nbr = min(N(src) ∪ {src}); ``cnt``
    (the degree, read by the convergence probe and giant-star
    detection) rides the same aggregate for free."""
    return (
        _symmetrize(ee)
        .groupBy(SRC)
        .agg(F.min(DST).alias(MIN_NBR), F.count("*").alias(CNT))
        .withColumn(MIN_NBR, F.least(F.col(SRC), F.col(MIN_NBR)))
    )


def _min_nbr_stats(min_nbrs: DataFrame):
    """(total_cnt, non_star) in ONE action over the persisted aggregate:
    the total symmetrized row count (the denominator for giant-star
    detection — an even share per shuffle partition is total/n_part)
    and the number of vertices that have a smaller neighbour
    (``min_nbr < src``) and more than one neighbour.

    ``non_star == 0`` exactly when the edge set is a star forest centred
    on each component's minimum, the loop's exit (the reference instead
    waits for the Decimal(38,0) sum of min-neighbour assignments to
    repeat, one no-op iteration later). If: a vertex with
    ``min_nbr == src`` has only larger neighbours; each of those has a
    smaller neighbour, so by the rule it has exactly one neighbour, that
    vertex — so its component is a star centred on it, its minimum. Only
    if: every leaf of such a star has one neighbour. ``min_nbrs`` must be
    built from an edge set oriented ``src < dst`` and deduplicated, as
    the loop's always is, so ``cnt`` is the degree."""
    row = min_nbrs.select(
        F.sum(F.col(CNT)),
        F.count_if((F.col(MIN_NBR) < F.col(SRC)) & (F.col(CNT) > 1)),
    ).first()
    return row[0] or 0, row[1]


# Derived giant-star hub cutoff: a key qualifies when its symmetrized
# degree exceeds max(GIANT_STAR_FLOOR, GIANT_STAR_FACTOR * total_rows /
# shuffle_partitions). total_rows counts the SYMMETRIZED rows (both
# orientations), 2x the oriented rows that feed the large-star join, so
# relative to the oriented even per-task share the multiplier is
# 2*factor; the round-10 measurements (SCALE.md) were tuned with this
# convention. The floor keeps small and medium graphs, where even a
# skewed key fits one task, on the detection-free path.
GIANT_STAR_FACTOR = 4
GIANT_STAR_FLOOR = 1_000_000

# Defensive cap on the per-iteration giant-star hub set (the math bound
# is min(total/threshold, n_part/factor) keys — a handful — but a low
# broadcastThreshold shouldn't be able to broadcast millions of keys).
MAX_GIANT_HUBS = 4096


def _giant_star_cutoff(total_cnt: int, n_part: int) -> int:
    return max(GIANT_STAR_FLOOR, GIANT_STAR_FACTOR * total_cnt // n_part)


def _giant_star_hubs(
    min_nbrs_with_cnt: DataFrame, total_cnt: int, threshold: int
) -> list:
    """Driver-side list of join keys whose symmetrized degree exceeds
    ``threshold`` — the giant-star roots that would otherwise serialize
    one hash partition of the large-star join. At most
    ``total_cnt / threshold`` keys can qualify (each holds more than a
    ``threshold`` share of ``total_cnt``), so with the relative
    threshold this is bounded by ``n_part / factor`` keys regardless of
    graph size. The ``total_cnt <= threshold`` early-out skips the scan
    entirely on graphs too small for any key to qualify — small inputs
    pay zero extra actions."""
    if total_cnt <= threshold:
        return []
    rows = (
        min_nbrs_with_cnt.filter(F.col(CNT) > threshold)
        .orderBy(F.col(CNT).desc())
        .limit(MAX_GIANT_HUBS + 1)
        .select(SRC)
        .collect()
    )
    if len(rows) > MAX_GIANT_HUBS:
        warnings.warn(
            f"giant-star detection matched more than {MAX_GIANT_HUBS} keys at "
            f"threshold {threshold}; truncating to the {MAX_GIANT_HUBS} heaviest "
            "(the rest stay on the shuffle path). Check broadcastThreshold — "
            "a threshold this low broadcasts far more keys than skew "
            "mitigation needs.",
            stacklevel=2,
        )
        rows = rows[:MAX_GIANT_HUBS]
    return [r[0] for r in rows]


def _graphx_cc(
    graph: "GraphFrame", checkpoint_interval: int, use_labels_as_components: bool
) -> DataFrame:
    """Min-id propagation on the DataFrame Pregel engine — the semantics of
    the reference's GraphX path (graphx/.../lib/ConnectedComponents.scala:25-90)
    without the RDD fork: every vertex starts labeled with its own id and
    adopts the minimum label heard from any neighbor (both directions)
    until no label changes."""
    from graphframes_spark.graphframe import GraphFrame
    from graphframes_spark.pregel import Pregel

    idx_v = indexed_vertices(graph.vertices)
    vv = idx_v.select(F.col(LONG_ID).alias(ID))
    ee = (
        indexed_edges(graph.edges, idx_v)
        .select(F.col(LONG_SRC).alias(SRC), F.col(LONG_DST).alias(DST))
        .filter(F.col(SRC) != F.col(DST))
        .distinct()
    )
    g = GraphFrame(vv, ee)
    result = (
        g.pregel.setMaxIter(2_000_000_000)
        .setCheckpointInterval(checkpoint_interval)
        .withVertexColumn(
            COMPONENT, F.col(ID), F.least(F.col(COMPONENT), Pregel.msg())
        )
        .sendMsgToDst(
            F.when(
                Pregel.src(COMPONENT) < Pregel.dst(COMPONENT), Pregel.src(COMPONENT)
            )
        )
        .sendMsgToSrc(
            F.when(
                Pregel.dst(COMPONENT) < Pregel.src(COMPONENT), Pregel.dst(COMPONENT)
            )
        )
        .aggMsgs(F.min(Pregel.msg()))
        .setEarlyStopping(True)
        .requiredSrcColumns(COMPONENT)
        .requiredDstColumns(COMPONENT)
        .run()
    )
    labeled = idx_v.join(
        result.withColumnRenamed(ID, LONG_ID), on=LONG_ID, how="inner"
    )
    if has_integral_id_type(graph.vertices) or not use_labels_as_components:
        return labeled.select(F.col(ATTR + ".*"), F.col(COMPONENT))
    orig = labeled.groupBy(COMPONENT).agg(F.min(F.col(ATTR)[ID]).alias("_orig_id"))
    return labeled.join(orig, on=COMPONENT).select(
        F.col(ATTR + ".*"), F.col("_orig_id").alias(COMPONENT)
    )


def incremental_connected_components(
    graph: "GraphFrame",
    prev_components: DataFrame,
    checkpoint_interval: int = 1,
) -> DataFrame:
    """Update a component assignment with NEW edges without recomputing
    over the full edge set — the daily-delta pattern for a 100 TB graph.

    ``prev_components`` is a DF[id, component] from an earlier
    ``connectedComponents`` run (components = min member id, the
    invariant both the two-phase and graphx paths produce on integral
    ids). ``graph`` carries the UPDATED vertex set and ONLY the new
    edges. Vertices absent from ``prev_components`` (newly arrived)
    start as singletons of themselves.

    Plan shape: one join maps both ends of each new edge to their
    previous components (the previous assignment is a valid refinement
    of the final partition, so components act as supernodes); the
    mapped edges are oriented ``src < dst``, stripped of self-loops and
    deduplicated once, and the star-forest loop runs on them directly,
    so its size is proportional to the DELTA, not the accumulated graph.
    There is no contracted vertex relation, no surrogate indexing and
    no labelling join. The returned
    plan is ``assign ⟕ forest(member → root)``: a vertex whose previous
    component became a forest member takes the root, every other vertex
    keeps its component. Label stability: min-id labels compose (min
    over merged supernodes = min over their members), so the output is
    identical to a from-scratch run on old ∪ new edges.

    Components must live in the ID DOMAIN — the refinement/min-label
    argument needs labels that are member ids. Integral-id graphs get
    that from any ``connectedComponents`` run. Non-integral (e.g.
    string) ids are supported since round 11 THROUGH THE LABEL DOMAIN:
    pass an assignment produced with ``useLabelsAsComponents=True``
    (component = lexicographically-min member id — ``min`` on strings
    composes across contraction exactly like numeric min; the surrogate
    long domain would NOT work here because
    ``monotonically_increasing_id`` surrogates are not stable across
    separate runs, GraphFrame.scala:1024-1043's recipe pins them only
    within one session's partitioning); the star-forest loop runs on the
    labels themselves, so merged labels stay in the id domain, and the
    invariant guard compares lexicographically.
    """
    from graphframes_spark.util import GraphFramesError

    labels_mode = not has_integral_id_type(graph.vertices)
    id_type = graph.vertices.schema[ID].dataType
    comp_type = prev_components.schema[COMPONENT].dataType
    if labels_mode and comp_type != id_type:
        raise GraphFramesError(
            "incremental connected components on non-integral ids needs "
            "prev_components in the LABEL domain (component type "
            f"{id_type.simpleString()}, got {comp_type.simpleString()}): "
            "produce it with connectedComponents(useLabelsAsComponents="
            "True). Surrogate long components are not stable across runs."
        )
    prev = prev_components.select(
        F.col(ID), F.col(COMPONENT).alias("_prev_comp")
    )
    # current assignment over the updated vertex set: previous component,
    # or self for newly arrived vertices. Materialized ONCE (lineage
    # cut): it is the only full-vertex-set relation here and feeds three
    # consumers (the delta-map join, the returned plan, and the caller's
    # actions) — without the cut the delta-proportional cost contract
    # collapses into repeated full-size joins. The min-member-id
    # invariant guard (component must never exceed the member id —
    # numeric order on integral ids, lexicographic on strings; a
    # necessary condition for labels produced by connectedComponents /
    # useLabelsAsComponents=True) rides the same materialization job via
    # Observation: zero extra scans. Both cuts go through the harness, so
    # spark.graphframes.useLocalCheckpoints=false selects reliable
    # checkpoints here as it does in the loop they feed.
    from pyspark.sql import Observation

    harness = IterationHarness(graph.spark, checkpoint_interval=checkpoint_interval)
    guard = Observation()
    assign = (
        graph.vertices.select(ID)
        .join(prev, on=ID, how="left")
        .observe(
            guard,
            F.sum(
                F.when(F.col("_prev_comp") > F.col(ID), 1).otherwise(0)
            ).alias("bad_labels"),
        )
    )
    comp = F.coalesce(F.col("_prev_comp"), F.col(ID))
    # integral ids: long components, the type connectedComponents returns
    assign = assign.select(
        ID, (comp if labels_mode else comp.cast("long")).alias("_comp")
    )
    assign = harness.checkpoint(assign, eager=True)
    if (guard.get.get("bad_labels") or 0) > 0:
        raise GraphFramesError(
            "prev_components violates the min-member-id invariant "
            "(found component > id): incremental update composes min-id "
            "labels and would be silently wrong on relabeled input; pass "
            "an assignment produced by connectedComponents, or rerun the "
            "full algorithm."
        )
    # one join maps both ends of every new edge: each edge's two end rows
    # meet again under its (src, dst) key, where min/max of their
    # components is the mapped edge oriented src < dst (duplicate edges
    # merge; an edge with an end outside the vertex set keeps one row
    # and drops out with the self-loops)
    ends = graph.edges.select(SRC, DST, F.explode(F.array(SRC, DST)).alias(ID))
    mapped = (
        ends.join(assign, on=ID)
        .groupBy(SRC, DST)
        .agg(F.min("_comp").alias("_lo"), F.max("_comp").alias("_hi"))
        .filter(F.col("_lo") != F.col("_hi"))
        .select(F.col("_lo").alias(SRC), F.col("_hi").alias(DST))
        .distinct()
    )
    # delta-sized, and the loop's input as it stands: it is not persisted
    # again. LAZY checkpoint: the plan is cut to a leaf immediately, and
    # the loop's first convergence-stats action (which reads these edges)
    # materializes it in the same job — one fewer delta-sized action per
    # incremental round (an eager arm read 4.15 s vs 4.41 s, 7/10 pairs,
    # inside noise: BENCH_knob_retire.json).
    mapped = harness.checkpoint(mapped, eager=False)
    forest = _star_forest(harness, mapped, max_iter=100)
    # the returned plan reads only assign and the forest
    harness.release(keep=forest)
    merged = forest.select(F.col(DST).alias("_comp"), F.col(SRC).alias("_merged"))
    return assign.join(merged, on="_comp", how="left").select(
        ID,
        F.coalesce(F.col("_merged"), F.col("_comp")).alias(COMPONENT),
    )


def connected_components(
    graph: "GraphFrame",
    algorithm: str = "graphframes",
    checkpoint_interval: int = 1,
    broadcast_threshold: int = -1,
    use_labels_as_components: bool = False,
    max_iter: int = 100,
    storage_level: Optional[StorageLevel] = None,
) -> DataFrame:
    """Component id per vertex (column ``component``: long, or the original
    ID type when ``use_labels_as_components`` on non-integral ids).

    ``algorithm`` accepts ``"graphframes"`` (two-phase, AQE variant,
    TwoPhase.scala:331-443) and ``"graphx"`` (min-id-propagation Pregel,
    graphx/lib/ConnectedComponents.scala:25-90).

    Skew is left to AQE, which stays on, plus the GIANT-STAR HYBRID:
    keys whose symmetrized degree exceeds a hub cutoff are detected
    each iteration from the convergence probe's aggregate (no extra
    shuffle; one bounded collect) and their large-star join rows are
    routed through a broadcast join while AQE keeps handling
    everything else. ``broadcast_threshold``: a positive value is the
    hub cutoff itself (the reference's manual skew-join threshold,
    TwoPhase.scala:160-173; two-phase algorithm only). ``-1`` (default)
    derives it as ``max(GIANT_STAR_FLOOR (1e6), GIANT_STAR_FACTOR (4) ×
    symmetrized_rows / shuffle_partitions)``: a key hotter than 4× the
    even symmetrized per-task share, with both the per-key degree and
    the total counted over both edge orientations. Results are
    identical either way — only the join strategy for the detected keys
    changes.

    The two-phase loop stops once the edge set is a star forest centred
    on each component's minimum (see ``_min_nbr_stats``).
    """
    from graphframes_spark.util import GraphFramesError

    if algorithm == "two_phase":  # "graphframes" is the deprecated alias
        algorithm = "graphframes"
    if algorithm not in ("graphframes", "graphx", "randomized_contraction"):
        raise GraphFramesError(
            f"Unsupported connected components algorithm: {algorithm!r}. "
            "Supported: 'two_phase'/'graphframes' (alternating-star), "
            "'graphx' (min-id Pregel), 'randomized_contraction' "
            "(Bögeholz et al. ICDE'20)."
        )
    if broadcast_threshold != -1 and broadcast_threshold <= 0:
        raise GraphFramesError(
            "broadcast_threshold must be -1 (derived hub cutoff) or a "
            "positive hub-degree cutoff."
        )
    if broadcast_threshold != -1 and algorithm != "graphframes":
        raise GraphFramesError(
            "A hub-degree cutoff (broadcast_threshold > 0) applies only "
            "to the two-phase 'graphframes' algorithm."
        )
    if algorithm == "graphx":
        return _graphx_cc(graph, checkpoint_interval, use_labels_as_components)
    if algorithm == "randomized_contraction":
        from graphframes_spark.lib.randomized_contraction import randomized_contraction

        return randomized_contraction(
            graph, checkpoint_interval, use_labels_as_components
        )
    return _two_phase_loop(
        graph,
        checkpoint_interval,
        use_labels_as_components,
        max_iter,
        storage_level,
        broadcast_threshold,
    )


def _star_forest(
    harness: IterationHarness,
    ee: DataFrame,
    max_iter: int,
    broadcast_threshold: int = -1,
) -> DataFrame:
    """Alternate large-star and small-star rounds over ``ee`` (oriented
    ``src < dst``, deduplicated, no self-loops) until it is a star
    forest centred on each component's minimum; returns that forest as
    (root src, member dst) rows, one per non-root vertex (``ee`` itself
    when it already is one). Keys only need an order, so the loop runs
    on surrogate longs and on string labels alike. Every frame it
    persists is tracked by ``harness``, the returned one included."""
    from graphframes_spark.harness import shuffle_partitions

    checkpoint_interval = harness.checkpoint_interval
    # giant-star hybrid: broadcast_threshold, if set, replaces the
    # derived hub cutoff
    n_part = shuffle_partitions(harness.spark)

    def _detect_giants(min_nbrs: DataFrame, total_cnt: int) -> list:
        threshold = (
            broadcast_threshold
            if broadcast_threshold > 0
            else _giant_star_cutoff(total_cnt, n_part)
        )
        return _giant_star_hubs(min_nbrs, total_cnt, threshold)

    min_nbrs1 = harness.persist(_min_nbrs(ee))
    total_cnt, non_star = _min_nbr_stats(min_nbrs1)
    # no edges at all, or already a star forest centred on the minima
    converged = non_star == 0
    giant_hubs = [] if converged else _detect_giants(min_nbrs1, total_cnt)
    harness.rotate()  # ee, min_nbrs1 become "previous"; kept until round ends

    for iteration in harness.iterations(max_iter):
        if converged:
            break
        # large-star: connect strictly-larger neighbors to the min neighbor.
        #
        # Giant-star hybrid (root-caused round 9, built round
        # 10): star contraction concentrates the giant component's edges
        # onto its minimum id — new_ee carries O(component) rows with
        # src=min, so this join's ee side has one hash partition holding
        # most of the edge set (42M rows in one task at the 250M-edge
        # rung; the measured straggler behind wcc's at-linear 10x->50x
        # scaling segment). AQE's OptimizeSkewedJoin cannot split it
        # because the persisted min_nbrs side is read exchange-free from
        # its cache layout and the rule needs shuffle stages on BOTH
        # children. Two blanket fixes were MEASURED AND REJECTED in round
        # 9 (SCALE.md): a live repartition(SRC) on the min_nbrs side
        # unlocks the AQE split but its extra vertex-sized shuffle per
        # star join costs more than the split saves (951s vs 756s at the
        # 250M-edge rung), and skew-threshold tuning alone is a no-op.
        # The hybrid routes ONLY the detected giant-star keys (degree >
        # max(floor, factor*total/n_part), collected off the convergence
        # action's aggregate — at most n_part/factor keys) through the
        # existing broadcast split (_skewed_join): their ee rows stay in
        # their map-side layout instead of hashing into one partition,
        # while every other key keeps the plain shuffle join under AQE.
        # The broadcast side is the hub keys' min_nbr rows — a handful —
        # and the semi/anti hub tests are themselves broadcast joins, so
        # no new shuffle appears on either side. A positive
        # broadcast_threshold only replaces the derived cutoff.
        if giant_hubs:
            joined = _skewed_join(ee, min_nbrs1, giant_hubs)
        else:
            joined = ee.join(min_nbrs1, on=SRC)
        ee = harness.persist(
            joined.select(
                F.col(DST).alias(SRC), F.col(MIN_NBR).alias(DST)  # src > dst
            ).distinct()
        )
        # small-star: min neighbor among smaller ones
        min_nbrs2 = harness.persist(ee.groupBy(SRC).agg(F.min(DST).alias(MIN_NBR)))
        new_ee = (
            ee.join(min_nbrs2, on=SRC)
            .select(F.col(MIN_NBR).alias(SRC), F.col(DST))
            .filter(F.col(SRC) != F.col(DST))
            .union(
                min_nbrs2.select(F.col(MIN_NBR).alias(SRC), F.col(SRC).alias(DST))
            )
            .distinct()
        )
        if checkpoint_interval > 0 and iteration % checkpoint_interval == 0:
            # LAZY checkpoint: the convergence-stats action below computes
            # min_nbrs from this very frame in the same loop iteration, so
            # the checkpoint materializes (and truncates lineage) inside
            # that job — one action per iteration instead of two. (The
            # caveat in IterationHarness.commit's docstring is about lazy
            # checkpoints whose materialization never comes; here it is
            # immediate.)
            new_ee = harness.checkpoint(new_ee, eager=False)
        ee = harness.persist(new_ee)

        min_nbrs1 = harness.persist(_min_nbrs(ee))
        total_cnt, non_star = _min_nbr_stats(min_nbrs1)
        converged = non_star == 0  # ee is a star forest centred on the minima
        if not converged:
            giant_hubs = _detect_giants(min_nbrs1, total_cnt)
        harness.rotate()

    if not converged:
        warnings.warn(
            f"connectedComponents exited at max_iter={max_iter} before the edge "
            "set became a star forest; component ids may be incomplete.",
            RuntimeWarning,
        )

    return ee


def _two_phase_loop(
    graph: "GraphFrame",
    checkpoint_interval: int,
    use_labels_as_components: bool,
    max_iter: int,
    storage_level: Optional[StorageLevel],
    broadcast_threshold: int,
) -> DataFrame:
    harness = IterationHarness(
        graph.spark,
        checkpoint_interval=checkpoint_interval,
        storage_level=storage_level
        if storage_level is not None
        else StorageLevel.MEMORY_AND_DISK_DESER,
    )
    idx_v = indexed_vertices(graph.vertices)
    vv = idx_v.select(F.col(LONG_ID).alias(ID), F.col(ATTR))
    raw_e = indexed_edges(graph.edges, idx_v).select(
        F.col(LONG_SRC).alias(SRC), F.col(LONG_DST).alias(DST)
    )
    # orient src < dst, dedup, drop self-loops (TwoPhase.prepare)
    ee = (
        raw_e.filter(F.col(SRC) != F.col(DST))
        .select(
            F.least(F.col(SRC), F.col(DST)).alias(SRC),
            F.greatest(F.col(SRC), F.col(DST)).alias(DST),
        )
        .distinct()
    )
    ee = _star_forest(harness, harness.persist(ee), max_iter, broadcast_threshold)

    # assign components: member (dst) -> root (src); roots map to themselves
    indexed_label = vv.join(ee, vv[ID] == ee[DST], "left_outer").select(
        vv[ATTR],
        F.when(ee[SRC].isNull(), vv[ID]).otherwise(ee[SRC]).alias(COMPONENT),
        vv[ATTR][ID].alias(ID),
    )

    if has_integral_id_type(graph.vertices) or not use_labels_as_components:
        out = indexed_label.select(F.col(ATTR + ".*"), F.col(COMPONENT))
    else:
        orig = indexed_label.groupBy(COMPONENT).agg(F.min(ID).alias("_orig_id"))
        out = indexed_label.join(orig, on=COMPONENT).select(
            F.col(ATTR + ".*"), F.col("_orig_id").alias(COMPONENT)
        )
    return harness.finish(out)
