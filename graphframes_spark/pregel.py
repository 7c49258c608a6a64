"""DataFrame-native Pregel (bulk-synchronous message passing).

Semantics mirror the reference engine
(/root/reference/core/src/main/scala/org/graphframes/lib/Pregel.scala:86-559):
per superstep — build triplets (src-state ⋈ edges [⋈ dst-state]), emit
messages via ``explode(array(struct(target_id, msg), ...))``, drop null
messages, ``groupBy(id).agg(...)``, left-outer join the aggregate back onto
the vertex state, apply update expressions. Checkpoint every N supersteps
to cut lineage; optional early stop on no messages or all-inactive voting.

Scale notes:
- the edge relation is pre-shaped once (src/dst extracted, attrs nested)
  and hash-repartitioned on ``_pregel_edge_src``; in voting mode it is persisted
  so every per-superstep probe action reuses one shuffle, while pure
  maxIter runs stay cache-free — supersteps fuse into one job per
  checkpoint window and Catalyst's ReusedExchange dedups the edge
  shuffle inside it (caching there measurably breaks pipelining);
- the dst-side join is skipped entirely when no message expression
  references dst state (auto-detected from the message expressions'
  string form, with explicit required-columns hints as the escape hatch).
"""

from __future__ import annotations

import re
from typing import TYPE_CHECKING, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from graphframes_spark.harness import IterationHarness
from graphframes_spark.util import DST, EDGE, ID, SRC, GraphFramesError

if TYPE_CHECKING:
    from graphframes_spark.graphframe import GraphFrame

ACTIVE_FLAG_COL = "_pregel_is_active"
MSG_COL_NAME = "_pregel_msg"


def _observed_count(obs, key: str) -> int:
    """Read an Observation counter, treating missing metrics as zero.

    On a degenerate (vertex-less) graph the whole observed plan can be
    optimized to an empty relation, dropping the CollectMetrics node; no
    rows also means no messages / no active vertices, so 0 is the correct
    reading.
    """
    try:
        return int(obs.get[key])
    except Exception:
        return 0

#: wall-clock seconds per superstep of the most recent Pregel.run() in this
#: process — instrumentation for bench.py (read-only; overwritten per run)
LAST_RUN_SUPERSTEP_SECONDS: list[float] = []


class Pregel:
    """Builder-style Pregel API; see class docstring for execution model."""

    def __init__(self, graph: "GraphFrame") -> None:
        self.graph = graph
        self._with_vertex_columns: list[tuple[str, Column, Column]] = []
        self._send_msgs: list[tuple[Column, Column, str]] = []  # (target, msg, kind)
        self._agg_msgs_col: Optional[Column] = None
        self._max_iter = 10
        self._checkpoint_interval = 2
        self._early_stopping = False
        self._stop_if_all_non_active = False
        self._skip_messages_from_non_active = False
        self._initial_active_expr: Column = F.lit(True)
        self._update_active_expr: Column = F.lit(True)
        self._required_src_columns: list[str] = []
        self._required_dst_columns: list[str] = []
        # None -> harness resolves spark.graphframes.useLocalCheckpoints
        self._use_local_checkpoints: Optional[bool] = None
        self._storage_level = StorageLevel.MEMORY_AND_DISK_DESER
        self._msg_reducer = None  # Optional[Callable[[DataFrame], DataFrame]]

    # ------------------------------------------------------------- builders

    def setMaxIter(self, value: int) -> "Pregel":
        self._max_iter = value
        return self

    def setCheckpointInterval(self, value: int) -> "Pregel":
        self._checkpoint_interval = value
        return self

    def setEarlyStopping(self, value: bool) -> "Pregel":
        self._early_stopping = value
        return self

    def setStopIfAllNonActiveVertices(self, value: bool) -> "Pregel":
        self._stop_if_all_non_active = value
        return self

    def setInitialActiveVertexExpression(self, expr: Column) -> "Pregel":
        self._initial_active_expr = expr
        return self

    def setUpdateActiveVertexExpression(self, expr: Column) -> "Pregel":
        self._update_active_expr = expr
        return self

    def setSkipMessagesFromNonActiveVertices(self, value: bool) -> "Pregel":
        self._skip_messages_from_non_active = value
        return self

    def setUseLocalCheckpoints(self, value: bool) -> "Pregel":
        self._use_local_checkpoints = value
        return self

    def setIntermediateStorageLevel(self, level: StorageLevel) -> "Pregel":
        self._storage_level = level
        return self

    def withVertexColumn(
        self, colName: str, initialExpr: Column, updateAfterAggMsgsExpr: Column
    ) -> "Pregel":
        if colName in (None, ID, MSG_COL_NAME):
            raise GraphFramesError(
                "additional column name cannot be null, the ID column, or the msg column"
            )
        self._with_vertex_columns.append((colName, initialExpr, updateAfterAggMsgsExpr))
        return self

    def sendMsgToSrc(self, msgExpr: Column) -> "Pregel":
        self._send_msgs.append((Pregel.src(ID), msgExpr, "src"))
        return self

    def sendMsgToDst(self, msgExpr: Column) -> "Pregel":
        self._send_msgs.append((Pregel.dst(ID), msgExpr, "dst"))
        return self

    def aggMsgs(self, aggExpr: Column) -> "Pregel":
        self._agg_msgs_col = aggExpr
        return self

    def setMsgReducer(self, fn) -> "Pregel":
        """Replace the default ``groupBy(id).agg(aggMsgs)`` reduction with
        a custom reduction over the raw per-superstep message stream.

        ``fn`` takes DF[id, _pregel_msg] (null messages already dropped)
        and must return DF[id, _pregel_msg] with exactly one row per id
        that received a message; ``Pregel.msg()`` in the update
        expressions then reads the reduced value as usual. ``aggMsgs`` is
        not required when a reducer is set (and is ignored if both are).

        Use for reductions a single aggregate expression cannot express
        efficiently. The motivating case is CDLP's majority vote: Spark's
        ``mode()`` is an ObjectHashAggregate — a per-group open hash map,
        row-at-a-time, heavy allocation churn on hub vertices (measured
        as multi-second GC-pause variance at the 5M-edge LDBC shape). A
        two-level reduction (count by (id, msg), then min_by over the
        counts) runs as two codegen hash aggregates with map-side partial
        combine instead.
        """
        self._msg_reducer = fn
        return self

    def requiredSrcColumns(self, *colNames: str) -> "Pregel":
        self._required_src_columns = list(colNames)
        return self

    def requiredDstColumns(self, *colNames: str) -> "Pregel":
        self._required_dst_columns = list(colNames)
        return self

    required_src_columns = requiredSrcColumns
    required_dst_columns = requiredDstColumns

    # ------------------------------------------------------- static helpers

    @staticmethod
    def msg() -> Column:
        return F.col(MSG_COL_NAME)

    @staticmethod
    def src(colName: str) -> Column:
        return F.col(SRC + "." + colName)

    @staticmethod
    def dst(colName: str) -> Column:
        return F.col(DST + "." + colName)

    @staticmethod
    def edge(colName: str) -> Column:
        return F.col(EDGE + "." + colName)

    # --------------------------------------------------------------- engine

    def _needs_edge_attrs(self) -> bool:
        """True if any message expression references the edge struct.

        Same string-form analysis as :meth:`_needs_dst_state` (reference
        Pregel.scala:399-420); conservative on anything it cannot
        classify. When False the pre-shaped edge relation carries only
        (_pregel_edge_src, _pregel_edge_dst) — no ``struct("*")`` duplicate of the edge
        row rides through every superstep's join/shuffle."""
        for _, msg_expr, _ in self._send_msgs:
            if re.search(r"\bedge\b", str(msg_expr)):
                return True
        return False

    def _update_refs_dynamic_state(self) -> bool:
        """True if any update expression references a DYNAMIC vertex column
        (a withVertexColumn name or the active flag) — i.e. the join-back
        genuinely needs the previous superstep's state.

        When False, the aggregated messages can join back onto the STATIC
        vertex relation instead of ``current``: the fused-window logical
        plan then embeds the previous superstep ONCE (message path only)
        instead of twice, so plan size — and Catalyst planning time per
        checkpoint window — grows LINEARLY in the checkpoint interval
        instead of exponentially (~2^interval). PageRank-family recipes
        (update = f(static cols, msg)) all qualify.

        Same conservative string-form analysis as :meth:`_needs_dst_state`:
        absence of a column name in the expression string implies absence
        of a reference; a bare ``*`` is treated as referencing everything.
        Spark resolves column names case-insensitively, so the match is
        case-insensitive too, and any dynamic name that is not a plain
        identifier (where ``\\b`` word boundaries are unreliable) forces
        the conservative current-state join.
        """
        dynamic = [name for name, _, _ in self._with_vertex_columns]
        dynamic.append(ACTIVE_FLAG_COL)
        if any(not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", name) for name in dynamic):
            return True
        exprs = [upd for _, _, upd in self._with_vertex_columns]
        exprs.append(self._update_active_expr)
        for expr in exprs:
            s = str(expr)
            # star column references print with the '*' adjacent to a
            # closing delimiter — "Column<'*'>", "struct(*)", "count(*)" —
            # while multiplication prints in prefix form "*(a, b)" or
            # space-padded "a * b"; only flag the former (conservative:
            # a flagged expression just falls back to the current-state
            # join, never the other way around)
            if re.search(r"\*\s*[)',]", s):
                return True
            for name in dynamic:
                if re.search(rf"\b{re.escape(name)}\b", s, re.IGNORECASE):
                    return True
        return False

    def _needs_dst_state(self) -> bool:
        """True if any message expression references dst state beyond dst.id.

        Mirrors the reference's expression analysis
        (Pregel.scala:399-420, SparkShims.scala:63-107) via the string form
        of the unresolved Column expression; conservative on anything it
        cannot classify.
        """
        fields: set[str] = set()
        for _, msg_expr, _ in self._send_msgs:
            s = str(msg_expr)
            for m in re.finditer(r"\bdst\.(\w+)", s):
                fields.add(m.group(1))
            for m in re.finditer(r"\bdst\[(\w+)\]", s):
                fields.add(m.group(1))
            # unparseable references to dst, e.g. dst['x'] / getField forms
            if re.search(r"\bdst\b(?!\.|\[)", s):
                return True
        if not fields:
            return False
        return fields != {ID}

    def run(self) -> DataFrame:
        if not self._send_msgs:
            raise GraphFramesError("set at least one message expression (sendMsgToSrc/Dst)")
        if self._agg_msgs_col is None and self._msg_reducer is None:
            raise GraphFramesError("set aggMsgs (or setMsgReducer) before running")
        if self._max_iter < 1:
            raise GraphFramesError("maxIter must be >= 1")
        if not self._with_vertex_columns:
            raise GraphFramesError("add at least one vertex column (withVertexColumn)")

        graph = self.graph
        spark = graph.spark

        send_msg_cols = [
            F.struct(target.alias(ID), msg.alias("msg"))
            for target, msg, _ in self._send_msgs
        ]
        init_cols = [init.alias(name) for name, init, _ in self._with_vertex_columns]
        update_cols = [upd.alias(name) for name, _, upd in self._with_vertex_columns]
        orig_cols = [F.col(c) for c in graph.vertices.columns]

        harness = IterationHarness(
            spark,
            checkpoint_interval=self._checkpoint_interval,
            use_local_checkpoints=self._use_local_checkpoints,
            storage_level=self._storage_level,
        )

        # Explicit required-dst-columns hints are the contract; the string
        # analysis of message expressions is best-effort only. A non-id
        # dst hint always forces the dst join (documented escape hatch for
        # missed detections — mirrors Pregel.scala:317-346).
        needs_dst_state = self._needs_dst_state() or bool(
            set(self._required_dst_columns) - {ID}
        )

        current = graph.vertices.select(
            *orig_cols, self._initial_active_expr.alias(ACTIVE_FLAG_COL), *init_cols
        )

        # Static-rebase join-back (see _update_refs_dynamic_state): when the
        # update expressions need no previous dynamic state, join the
        # aggregated messages onto the static vertex relation — the fused
        # window's plan then grows linearly in the interval, not ~2^interval.
        static_rebase = not self._update_refs_dynamic_state()
        static_v = graph.vertices.select(*orig_cols) if static_rebase else None

        # Early stopping / all-inactive voting need a per-superstep probe.
        # Instead of separate isEmpty() jobs (which re-execute the message
        # pipeline: cheap when messages are plentiful, a full extra pass
        # when they are sparse), piggyback Observation metrics on the one
        # materializing action of the superstep — the probe is then free.
        use_obs = self._early_stopping or self._stop_if_all_non_active

        # Pure maxIter mode runs as a handful of FUSED jobs (one per
        # checkpoint window): within a job Catalyst's ReusedExchange
        # dedups the edge shuffle across supersteps and every superstep's
        # state feeds exactly one consumer, so caching state or edges is
        # pure overhead that breaks the pipelined execution — measured
        # 2.2x slower with persists on a 600k-edge PageRank at sf0.1.
        # Voting mode re-executes state across per-superstep probe
        # actions, where the caches are load-bearing — keep them there.
        fused = not use_obs

        # Pre-shape + co-partition edges once; every superstep's src join
        # then shuffles only the (smaller) vertex-state side. The full
        # edge-attr struct is carried only when a message expression
        # actually reads it — otherwise every superstep would shuffle a
        # duplicate copy of each edge row for nothing.
        edge_shape = [
            F.col(SRC).alias("_pregel_edge_src"),
            F.col(DST).alias("_pregel_edge_dst"),
        ]
        if self._needs_edge_attrs():
            edge_shape.append(F.struct("*").alias(EDGE))
        edges = graph.edges.select(*edge_shape).repartition(
            F.col("_pregel_edge_src")
        )
        # NOT checkpointed in fused mode (A/B'd round 8): collapsing the
        # edge side to a LogicalRDD leaf made every superstep's eager
        # re-analysis ~5x SLOWER (0.3s -> 1.7s/superstep at sf0.1) and the
        # checkpoint-window optimizer pass 2.8x slower — LogicalRDD leaves
        # are costlier to re-analyze/dedup than the parquet-scan subtree
        # they replace, and the cross-window edge-shuffle reuse never
        # materialized as a win at this scale.
        if not fused:
            edges = harness.pin(edges)
            if static_v is not None:
                static_v = harness.pin(static_v)

        if self._required_src_columns:
            src_names: Optional[list[str]] = list(
                dict.fromkeys([ID, ACTIVE_FLAG_COL] + self._required_src_columns)
            )
        else:
            src_names = None  # all state columns
        if self._required_dst_columns:
            dst_names: Optional[list[str]] = list(
                dict.fromkeys([ID, ACTIVE_FLAG_COL] + self._required_dst_columns)
            )
        else:
            dst_names = None

        for reserved in ("_pregel_edge_src", "_pregel_edge_dst"):
            if reserved in graph.vertices.columns:
                raise GraphFramesError(
                    f"vertex column name {reserved!r} is reserved by Pregel"
                )

        LAST_RUN_SUPERSTEP_SECONDS.clear()
        import time as _time

        for _ in harness.iterations(self._max_iter):
            _superstep_start = _time.perf_counter()
            if not fused:
                current = harness.persist(current)
            previous = current

            if not needs_dst_state and self._skip_messages_from_non_active:
                src_vertices = current.filter(F.col(ACTIVE_FLAG_COL))
            else:
                src_vertices = current

            # Struct-wrap the state BEFORE the join (round 8 A/B'd the
            # "plain-column join first, wrap after" variant that lets the
            # state's hash(id) partitioning elide its exchange — and
            # REVERTED it: removing the state-side shuffle stage takes
            # away AQE's runtime SMJ→broadcast conversion, which is
            # exactly what the shrinking-frontier voting algorithms live
            # on; sssp went 8.7s→13.6s, scc 9.3s→13.7s at sf0.1, and even
            # fused fixed-iteration recipes saw no win, their cost being
            # planning-dominated, not exchange-dominated).
            src_struct = F.struct(
                *[F.col(c) for c in src_names] if src_names else [F.col("*")]
            )
            src_with_edges = src_vertices.select(src_struct.alias(SRC)).join(
                edges, Pregel.src(ID) == F.col("_pregel_edge_src")
            )

            if needs_dst_state:
                dst_struct = F.struct(
                    *[F.col(c) for c in dst_names] if dst_names else [F.col("*")]
                )
                triplets = src_with_edges.join(
                    current.select(dst_struct.alias(DST)),
                    F.col("_pregel_edge_dst") == Pregel.dst(ID),
                ).drop("_pregel_edge_src", "_pregel_edge_dst")
                if self._skip_messages_from_non_active:
                    triplets = triplets.filter(
                        Pregel.src(ACTIVE_FLAG_COL) | Pregel.dst(ACTIVE_FLAG_COL)
                    )
            else:
                # dst state unused by messages: synthesize dst.id from the edge
                triplets = src_with_edges.withColumn(
                    DST, F.struct(F.col("_pregel_edge_dst").alias(ID))
                ).drop("_pregel_edge_src", "_pregel_edge_dst")

            if len(self._send_msgs) == 1:
                # single-message fast path: explode over a 1-element
                # array is an identity Generate node — a plain projection
                # emits the identical (target, msg) stream with one fewer
                # operator per superstep in the accumulated plan
                # (measured ~15% off the fused-window execution at sf0.1)
                target, msg_expr, _ = self._send_msgs[0]
                msg_df = triplets.select(
                    target.alias(ID), msg_expr.alias(MSG_COL_NAME)
                ).filter(F.col(MSG_COL_NAME).isNotNull())
            else:
                msg_df = (
                    triplets.select(F.explode(F.array(*send_msg_cols)).alias("msg"))
                    .select(
                        F.col("msg.id").alias(ID), F.col("msg.msg").alias(MSG_COL_NAME)
                    )
                    .filter(F.col(MSG_COL_NAME).isNotNull())
                )

            if self._msg_reducer is not None:
                agg_df = self._msg_reducer(msg_df)
            else:
                agg_df = msg_df.groupBy(ID).agg(
                    self._agg_msgs_col.alias(MSG_COL_NAME)
                )

            obs = None
            if use_obs:
                from pyspark.sql import Observation

                # Observe on the (never-empty) joined vertex state, not on
                # the message stream: AQE's empty-relation propagation
                # prunes a CollectMetrics node whose subtree turns out
                # empty at runtime, which would lose the metrics exactly
                # on the superstep that should stop the loop. A constant
                # marker on the aggregate side counts matched vertices —
                # zero ⟺ the raw message stream was empty.
                obs = Observation()
                agg_df = agg_df.withColumn("_pregel_has_msg", F.lit(1))

            join_base = static_v if static_rebase else current
            with_msg = join_base.join(agg_df, on=[ID], how="left_outer")
            if obs is not None:
                with_msg = with_msg.observe(
                    obs, F.count(F.col("_pregel_has_msg")).alias("msg_cnt")
                )
            current = with_msg.select(
                *orig_cols, self._update_active_expr.alias(ACTIVE_FLAG_COL), *update_cols
            )

            active_obs = None
            if self._stop_if_all_non_active:
                from pyspark.sql import Observation

                active_obs = Observation()
                current = current.observe(
                    active_obs,
                    F.count_if(F.col(ACTIVE_FLAG_COL)).alias("active_cnt"),
                )

            # Checkpoint rounds always materialize (harness.commit eager
            # policy — lazy checkpoints measured 1.4-3x slower, see its
            # docstring); non-checkpoint rounds run no action in pure
            # maxIter mode. With a stopping condition enabled, commit
            # materializes every superstep and the Observation metrics
            # double as the stop probes — no separate isEmpty jobs
            # re-executing the pipeline.
            current = harness.commit(current, materialize=use_obs, cache=not fused)
            LAST_RUN_SUPERSTEP_SECONDS.append(_time.perf_counter() - _superstep_start)

            if (
                obs is not None
                and self._early_stopping
                and _observed_count(obs, "msg_cnt") == 0
            ):
                # Reference semantics (Pregel.scala:494-502): stop *before*
                # applying an update for a message-less round — discard the
                # freshly built state and return the previous superstep's.
                current = previous
                break
            if active_obs is not None and _observed_count(active_obs, "active_cnt") == 0:
                break

        result = current.drop(ACTIVE_FLAG_COL)
        return harness.finish(result)
