"""GraphFrame: a graph as a pair of DataFrames (vertices, edges).

Semantics follow the reference public API
(/root/reference/core/src/main/scala/org/graphframes/GraphFrame.scala):
vertices require an ``id`` column; edges require ``src``/``dst``. Every
operator is pure DataFrame algebra — Catalyst/AQE choose the physical plan
(broadcast vs shuffle joins, AQE skew handling), so the same code scales
from local[.] to a 1000-executor cluster.
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Any, Optional, Sequence, Union

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from graphframes_spark import motif
from graphframes_spark import patterns as P
from graphframes_spark.util import (
    DST,
    EDGE,
    ID,
    SRC,
    GraphFramesError,
    InvalidPatternError,
    nest_as_col,
    storage_level_from_string,
)

if TYPE_CHECKING:
    from graphframes_spark.lib.aggregate_neighbors import AggregateNeighbors
    from graphframes_spark.pregel import Pregel


class GraphFrame:
    """A graph backed by two DataFrames.

    Parameters
    ----------
    v : DataFrame with a column ``id`` (vertex attributes in other columns)
    e : DataFrame with columns ``src`` and ``dst`` (edge attributes in others)
    """

    def __init__(self, v: DataFrame, e: DataFrame) -> None:
        if ID not in v.columns:
            raise GraphFramesError(
                f"Vertex ID column '{ID}' missing from vertex DataFrame, "
                f"which has columns: {', '.join(v.columns)}"
            )
        if SRC not in e.columns:
            raise GraphFramesError(
                f"Source vertex ID column '{SRC}' missing from edge DataFrame, "
                f"which has columns: {', '.join(e.columns)}"
            )
        if DST not in e.columns:
            raise GraphFramesError(
                f"Destination vertex ID column '{DST}' missing from edge DataFrame, "
                f"which has columns: {', '.join(e.columns)}"
            )
        self._vertices = v
        self._edges = e

    # ---------------------------------------------------------------- basics

    @property
    def vertices(self) -> DataFrame:
        return self._vertices

    @property
    def edges(self) -> DataFrame:
        return self._edges

    @property
    def spark(self) -> SparkSession:
        return self._vertices.sparkSession

    def __repr__(self) -> str:
        v_cols = ", ".join(self._vertices.columns)
        e_cols = ", ".join(self._edges.columns)
        return f"GraphFrame(v:[{v_cols}], e:[{e_cols}])"

    @classmethod
    def fromEdges(cls, e: DataFrame) -> "GraphFrame":
        """Derive vertices as distinct(src ∪ dst) (GraphFrame.scala:1213-1240)."""
        v = (
            e.select(F.col(SRC).alias(ID))
            .unionByName(e.select(F.col(DST).alias(ID)))
            .distinct()
        )
        return cls(v, e)

    from_edges = fromEdges

    @classmethod
    def fromEdgeList(
        cls,
        spark: SparkSession,
        path: str,
        comment: str = "#",
        integral_ids: bool = True,
    ) -> "GraphFrame":
        """Graph from a whitespace-delimited text edge list — the SNAP /
        wiki-Talk distribution format (one ``src dst`` pair per line,
        ``comment``-prefixed header lines skipped). Vertices are derived
        as distinct endpoints (:meth:`fromEdges`). ``integral_ids=False``
        keeps ids as strings (surrogate-long machinery engages in the
        algorithms exactly as for any string-id graph).

        One narrow text scan + regex split; the only shuffle is
        fromEdges' endpoint distinct."""
        lines = spark.read.text(path).filter(
            ~F.col("value").startswith(comment) & (F.trim("value") != "")
        )
        parts = F.split(F.trim(F.col("value")), r"\s+")
        id_type = "long" if integral_ids else "string"
        edges = lines.select(
            parts.getItem(0).cast(id_type).alias(SRC),
            parts.getItem(1).cast(id_type).alias(DST),
        )
        return cls.fromEdges(edges)

    from_edge_list = fromEdgeList

    def save(
        self,
        path: str,
        mode: str = "error",
        partitionVerticesBy: Optional[Sequence[str]] = None,
        partitionEdgesBy: Optional[Sequence[str]] = None,
    ) -> None:
        """Persist the graph as two parquet directories, ``<path>/vertices``
        and ``<path>/edges`` — the same layout the reference's algorithms
        spill checkpoints in (TwoPhase.scala:270-272,
        RandomWalkBase.scala:266-270), promoted to a user-facing sink.

        ``mode`` is any Spark save mode; the optional partition columns
        become hive-style directory partitions so downstream loads get
        partition pruning for free (e.g. ``partitionEdgesBy=["src_type"]``
        on a typed property graph)."""
        vw = self._vertices.write.mode(mode)
        if partitionVerticesBy:
            vw = vw.partitionBy(*partitionVerticesBy)
        vw.parquet(f"{path}/vertices")
        ew = self._edges.write.mode(mode)
        if partitionEdgesBy:
            ew = ew.partitionBy(*partitionEdgesBy)
        ew.parquet(f"{path}/edges")

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "GraphFrame":
        """Read a graph written by :meth:`save`. Plain parquet scans —
        column pruning and partition/predicate pushdown flow into every
        downstream operator."""
        return cls(
            spark.read.parquet(f"{path}/vertices"),
            spark.read.parquet(f"{path}/edges"),
        )

    def saveAsTable(
        self,
        name: str,
        mode: str = "error",
        numBuckets: Optional[int] = None,
    ) -> None:
        """Persist the graph as two catalog tables, ``<name>_vertices``
        and ``<name>_edges``; with ``numBuckets`` they are bucketed (and
        sorted within buckets) on the keys every graph operator joins
        and aggregates on — vertices by ``id``, edges by ``src``.

        Bucketing is the at-rest half of the scale story: a graph a
        pipeline re-reads daily pays the edge shuffle once at write
        time, after which per-``src`` aggregations (outDegrees, message
        sends) and edge⋈vertex-state joins scan pre-partitioned buckets
        with no Exchange in the plan. At 100 TB that deletes the
        dominant exchange of every superstep-style workload. Size
        ``numBuckets`` to the cluster (~2-4x total cores; buckets are
        the parallelism floor for the shuffle-free path)."""
        vw = self._vertices.write.mode(mode).format("parquet")
        ew = self._edges.write.mode(mode).format("parquet")
        if numBuckets is not None:
            if numBuckets < 1:
                raise GraphFramesError(
                    f"numBuckets must be >= 1, got {numBuckets}"
                )
            vw = vw.bucketBy(numBuckets, ID).sortBy(ID)
            ew = ew.bucketBy(numBuckets, SRC).sortBy(SRC)
        vw.saveAsTable(f"{name}_vertices")
        ew.saveAsTable(f"{name}_edges")

    @classmethod
    def loadTable(cls, spark: SparkSession, name: str) -> "GraphFrame":
        """Load a graph written by :meth:`saveAsTable`. Bucketed tables
        feed bucket-aware scans: aggregations and joins keyed on the
        bucket columns skip their Exchange (requires the default
        ``spark.sql.sources.bucketing.enabled=true``)."""
        return cls(
            spark.table(f"{name}_vertices"), spark.table(f"{name}_edges")
        )

    save_as_table = saveAsTable
    load_table = loadTable

    def validate(self, checkVertices: bool = True) -> None:
        """Integrity check: unique vertex ids; with ``checkVertices``,
        every edge endpoint exists in the vertex DataFrame — the endpoint
        check is a full distinct + anti-join, slow on big graphs
        (GraphFrame.scala:160-215; python client validate())."""
        v, e = self._vertices, self._edges
        counts = v.select(
            F.count(ID).alias("n"), F.countDistinct(ID).alias("nd")
        ).collect()[0]
        if counts["n"] != counts["nd"]:
            raise GraphFramesError(
                f"Vertex ids are not unique: {counts['n']} rows, "
                f"{counts['nd']} distinct ids"
            )
        if not checkVertices:
            return
        endpoints = (
            e.select(F.col(SRC).alias(ID))
            .unionByName(e.select(F.col(DST).alias(ID)))
            .distinct()
        )
        missing = endpoints.join(v.select(ID), on=ID, how="left_anti").count()
        if missing > 0:
            raise GraphFramesError(
                f"{missing} edge endpoint id(s) are missing from the vertex DataFrame"
            )

    # ----------------------------------------------------------- persistence

    def cache(self) -> "GraphFrame":
        self._vertices.cache()
        self._edges.cache()
        return self

    def persist(
        self, storageLevel: StorageLevel = StorageLevel.MEMORY_AND_DISK_DESER
    ) -> "GraphFrame":
        # default is MEMORY_AND_DISK_DESER, the PySpark spelling of the
        # JVM's deserialized MEMORY_AND_DISK — the level the reference's
        # persist() resolves to (PySpark's plain MEMORY_AND_DISK constant
        # is the *serialized* variant; see util.py storage-level table)
        self._vertices.persist(storageLevel)
        self._edges.persist(storageLevel)
        return self

    def unpersist(self, blocking: bool = False) -> "GraphFrame":
        self._vertices.unpersist(blocking)
        self._edges.unpersist(blocking)
        return self

    # -------------------------------------------------------------- triplets

    @property
    def triplets(self) -> DataFrame:
        """(src-vertex, edge, dst-vertex) rows as three struct columns
        (GraphFrame.scala:309-320)."""
        v, e = self._vertices, self._edges
        src_v = v.select(nest_as_col(v, SRC))
        dst_v = v.select(nest_as_col(v, DST))
        e_nested = e.select(nest_as_col(e, EDGE))
        return (
            e_nested.join(src_v, e_nested[EDGE][SRC] == src_v[SRC][ID])
            .join(dst_v, e_nested[EDGE][DST] == dst_v[DST][ID])
            .select(SRC, EDGE, DST)
        )

    # --------------------------------------------------------------- degrees

    @property
    def outDegrees(self) -> DataFrame:
        e = self._edges
        return e.groupBy(e[SRC].alias(ID)).agg(
            F.count("*").cast("int").alias("outDegree")
        )

    @property
    def inDegrees(self) -> DataFrame:
        e = self._edges
        return e.groupBy(e[DST].alias(ID)).agg(
            F.count("*").cast("int").alias("inDegree")
        )

    @property
    def degrees(self) -> DataFrame:
        e = self._edges
        return (
            e.select(F.explode(F.array(SRC, DST)).alias(ID))
            .groupBy(ID)
            .agg(F.count("*").cast("int").alias("degree"))
        )

    def _type_degree(
        self,
        key_expr: Column,
        edge_type_col: str,
        edge_types: Optional[Sequence[Any]],
        out_name: str,
        exploded: bool = False,
    ) -> DataFrame:
        e = self._edges
        base = (
            e.select(F.explode(F.array(F.col(SRC), F.col(DST))).alias(ID), F.col(edge_type_col))
            if exploded
            else e.select(key_expr.alias(ID), F.col(edge_type_col))
        )
        grouped = base.groupBy(ID)
        pivoted = (
            grouped.pivot(edge_type_col, list(edge_types))
            if edge_types is not None
            else grouped.pivot(edge_type_col)
        )
        count_df = pivoted.agg(F.count(F.lit(1))).na.fill(0)
        struct_cols = [
            F.col(c).cast("int").alias(c) for c in count_df.columns if c != ID
        ]
        return count_df.select(F.col(ID), F.struct(*struct_cols).alias(out_name))

    def typeOutDegree(
        self, edgeTypeCol: str, edgeTypes: Optional[Sequence[Any]] = None
    ) -> DataFrame:
        """Out-degree per edge type, one struct field per type
        (GraphFrame.scala:460-537)."""
        return self._type_degree(F.col(SRC), edgeTypeCol, edgeTypes, "outDegrees")

    def typeInDegree(
        self, edgeTypeCol: str, edgeTypes: Optional[Sequence[Any]] = None
    ) -> DataFrame:
        return self._type_degree(F.col(DST), edgeTypeCol, edgeTypes, "inDegrees")

    def typeDegree(
        self, edgeTypeCol: str, edgeTypes: Optional[Sequence[Any]] = None
    ) -> DataFrame:
        return self._type_degree(
            F.col(SRC), edgeTypeCol, edgeTypes, "degrees", exploded=True
        )

    # ------------------------------------------------------------- subgraphs

    def filterVertices(self, condition: Union[str, Column]) -> "GraphFrame":
        """Keep matching vertices; drop edges with a dropped endpoint
        (GraphFrame.scala:752-765)."""
        v = self._vertices.filter(condition)
        v_ids = v.select(ID)
        e = (
            self._edges.join(
                v_ids.withColumnRenamed(ID, SRC), on=SRC, how="left_semi"
            ).join(v_ids.withColumnRenamed(ID, DST), on=DST, how="left_semi")
        ).select(self._edges.columns)
        return GraphFrame(v, e)

    def sampleVertices(self, fraction: float, seed: str = "") -> "GraphFrame":
        """Deterministic vertex-induced random subgraph: keeps each
        vertex iff its md5 rank falls below ``fraction`` (same seed →
        same subgraph on every run and engine — resumable 100 TB
        sampling), then drops edges with a dropped endpoint like
        :meth:`filterVertices`. Beyond-reference."""
        from graphframes_spark.datapipe.sampling import sample_keep

        return self.filterVertices(sample_keep(F.col(ID), fraction, seed))

    def sampleEdges(self, fraction: float, seed: str = "") -> "GraphFrame":
        """Deterministic random edge subsample (vertices unchanged),
        keyed on the (src, dst) pair. Beyond-reference."""
        from graphframes_spark.datapipe.sampling import sample_keep

        key = F.concat_ws(
            "\x1f", F.col(SRC).cast("string"), F.col(DST).cast("string")
        )
        return GraphFrame(
            self._vertices, self._edges.filter(sample_keep(key, fraction, seed))
        )

    def filterEdges(self, condition: Union[str, Column]) -> "GraphFrame":
        """Keep matching edges; all vertices (GraphFrame.scala:771-781)."""
        return GraphFrame(self._vertices, self._edges.filter(condition))

    def groupEdges(self, *aggExprs: Column, dropSelfLoops: bool = False) -> "GraphFrame":
        """Collapse parallel edges: one edge per (src, dst) pair, with
        attribute columns produced by the given aggregate expressions
        (e.g. ``F.count("*").alias("n")``, ``F.sum("weight").alias("w")``);
        no expressions → plain dedup. ``dropSelfLoops`` also removes
        src == dst edges. The multigraph analogue of GraphX
        ``Graph.groupEdges`` (the reference inherits multigraph edges,
        user-guide 03-graphframe.md parity); a single partial-aggregatable
        hash aggregate on the edge key — map-side combine collapses
        duplicates before the shuffle, so the shuffle volume is the
        *distinct* edge count, bucketing-friendly at 100 TB."""
        e = self._edges
        if dropSelfLoops:
            e = e.filter(F.col(SRC) != F.col(DST))
        if aggExprs:
            e = e.groupBy(SRC, DST).agg(*aggExprs)
        else:
            e = e.select(SRC, DST).distinct()
        return GraphFrame(self._vertices, e)

    def dropIsolatedVertices(self) -> "GraphFrame":
        """Remove vertices participating in no edge (GraphFrame.scala:787-792)."""
        endpoints = self._edges.select(F.explode(F.array(SRC, DST)).alias(ID))
        v = self._vertices.join(endpoints, on=ID, how="left_semi")
        return GraphFrame(v, self._edges)

    def asUndirected(self) -> "GraphFrame":
        """Add a reversed copy of every edge (GraphFrame.scala:226-237)."""
        e = self._edges
        others = [c for c in e.columns if c not in (SRC, DST)]
        reversed_e = e.select(
            F.col(DST).alias(SRC), F.col(SRC).alias(DST), *[F.col(c) for c in others]
        )
        return GraphFrame(self._vertices, e.select(SRC, DST, *others).unionByName(reversed_e))

    def asReversed(self) -> "GraphFrame":
        """Flip every edge direction (GraphFrame.scala:248-257)."""
        e = self._edges
        others = [c for c in e.columns if c not in (SRC, DST)]
        return GraphFrame(
            self._vertices,
            e.select(F.col(DST).alias(SRC), F.col(SRC).alias(DST), *[F.col(c) for c in others]),
        )

    # ---------------------------------------------------------- motif finding

    def find(self, pattern: str) -> DataFrame:
        """Motif finding (GraphFrame.scala:601-674). See patterns module for
        the DSL grammar."""
        stripped = "".join(pattern.split())
        m = P.VAR_LENGTH.match(stripped)
        if m:
            src, name, mn, mx, direction, dst = m.groups()
            if mn == "" or mx == "":
                raise InvalidPatternError(
                    f"Unbounded length pattern {pattern} is not supported! "
                    "Please use a pattern of defined length."
                )
            return self._find_var_length(src, name, int(mn), int(mx), direction, dst)
        m = P.FIXED_LENGTH_UNDIRECTED.match(stripped)
        if m:
            src, name, hop, dst = m.groups()
            if hop == "":
                raise InvalidPatternError("Missing hop!")
            return self._find_var_length(src, name, int(hop), int(hop), "", dst)
        return self._find_augmented(pattern)

    def _find_var_length(
        self, src: str, name: str, mn: int, mx: int, direction: str, dst: str
    ) -> DataFrame:
        out_specs = [(hop, f"({src})-[{name}*{hop}]->({dst})", "out")
                     for hop in range(mx, mn - 1, -1)]
        in_specs = (
            [(hop, f"({src})<-[{name}*{hop}]-({dst})", "in")
             for hop in range(mx, mn - 1, -1)]
            if direction == ""
            else []
        )
        dfs = [
            self._find_augmented(pat)
            .withColumn("_hop", F.lit(hop))
            .withColumn("_pattern", F.lit(pat))
            .withColumn("_direction", F.lit(d))
            for hop, pat, d in out_specs + in_specs
        ]
        ret = dfs[0]
        for d in dfs[1:]:
            ret = ret.unionByName(d, allowMissingColumns=True)
        # the reference globally sorts var-length results (GraphFrame.scala:656)
        return ret.orderBy("_hop", "_direction")

    def _find_augmented(self, pattern: str) -> DataFrame:
        pats = P.parse(pattern)
        # Vertices named only inside negated terms become standalone positive
        # terms (issue #276 semantics, GraphFrame.scala:659-674).
        extra = [P.NamedVertex(v) for v in P.named_vertices_only_in_negated_terms(pats)]
        df = motif.find_simple(self, extra + pats)
        names = [
            n
            for n in P.named_elements_in_order(pats, include_edges=True)
            if not n.startswith("__tmpv")
        ]
        if not names:
            return df
        return df.select(*names)

    # ------------------------------------------------------ algorithm surface

    @property
    def pregel(self) -> "Pregel":
        from graphframes_spark.pregel import Pregel

        return Pregel(self)

    def aggregateMessages(
        self,
        aggCol: Union[Column, Sequence[Column]],
        sendToSrc: Optional[Union[Column, Sequence[Column]]] = None,
        sendToDst: Optional[Union[Column, Sequence[Column]]] = None,
    ) -> DataFrame:
        from graphframes_spark.lib.aggregate_messages import aggregate_messages

        return aggregate_messages(self, aggCol, sendToSrc, sendToDst)

    def bfs(
        self,
        fromExpr: Union[str, Column],
        toExpr: Union[str, Column],
        edgeFilter: Optional[Union[str, Column]] = None,
        maxPathLength: int = 10,
    ) -> DataFrame:
        from graphframes_spark.lib.bfs import bfs

        return bfs(self, fromExpr, toExpr, edgeFilter, maxPathLength)

    def pageRank(
        self,
        resetProbability: float = 0.15,
        sourceId: Optional[Any] = None,
        maxIter: Optional[int] = None,
        tol: Optional[float] = None,
        weightCol: Optional[str] = None,
    ) -> "GraphFrame":
        """PageRank (fixed-iteration via ``maxIter`` or tolerance mode via
        ``tol``), optionally personalized from ``sourceId``.
        ``weightCol`` (beyond-reference) distributes rank proportionally
        to that edge column instead of uniformly over out-edges.

        NOTE — normalization deviation from the reference
        (lib/PageRank.scala:61-66): this implementation returns the
        *normalized* formulation (init 1/N, reset alpha/N; ranks sum to
        ~1), while the reference documents GraphX's un-normalized
        semantics (ranks sum to ~N). Multiply the ``pagerank`` column by
        the vertex count to match reference/GraphX magnitudes.
        """
        from graphframes_spark.lib.pagerank import page_rank

        return page_rank(self, resetProbability, sourceId, maxIter, tol, weightCol)

    def parallelPersonalizedPageRank(
        self,
        resetProbability: float = 0.15,
        sourceIds: Optional[Sequence[Any]] = None,
        maxIter: Optional[int] = None,
        vectorOutput: bool = False,
    ) -> "GraphFrame":
        """PPR from all ``sourceIds`` simultaneously.

        ``vectorOutput=True`` returns ``pageranks`` as a ``pyspark.ml``
        dense vector — the reference's native type
        (lib/ParallelPersonalizedPageRank.scala:50-55) — ready for
        pyspark.ml consumers. The default stays ``array<double>``
        (documented deviation: arrays are SQL-comparable and avoid the
        VectorUDT serde in pure-SQL pipelines; convert any time with
        ``pyspark.ml.functions.array_to_vector``)."""
        from graphframes_spark.lib.pagerank import parallel_personalized_page_rank

        return parallel_personalized_page_rank(
            self, resetProbability, sourceIds, maxIter, vector_output=vectorOutput
        )

    def shortestPaths(
        self, landmarks: Sequence[Any], isDirected: bool = True
    ) -> DataFrame:
        from graphframes_spark.lib.shortest_paths import shortest_paths

        return shortest_paths(self, landmarks, isDirected)

    def shortestPathsWeighted(
        self,
        landmarks: Sequence[Any],
        weightCol: Optional[str] = "weight",
        isDirected: bool = True,
        maxIter: int = 100,
    ) -> DataFrame:
        """Weighted landmark shortest paths (Bellman-Ford relaxation);
        ``distances: map<idType, double>``. Beyond-reference: the
        reference documents SSSP only as a Pregel recipe (user-guide
        10-pregel.md:46) and validates it via LDBC SSSP outputs."""
        from graphframes_spark.lib.sssp import shortest_paths_weighted

        return shortest_paths_weighted(self, landmarks, weightCol, isDirected, maxIter)

    def node2vecWalks(
        self,
        walkLength: int = 10,
        numWalksPerNode: int = 1,
        p: float = 1.0,
        q: float = 1.0,
        seed: int = 42,
        useEdgeDirection: bool = True,
        maxNbrsPerVertex: Optional[int] = None,
    ) -> DataFrame:
        """Second-order biased random walks (node2vec, Grover & Leskovec
        KDD'16) with hash-derived determinism; DF[start, walk_idx,
        random_walk]. Beyond-reference — the reference ships only
        first-order walks with restart."""
        from graphframes_spark.node2vec import node2vec_walks

        return node2vec_walks(
            self,
            walk_length=walkLength,
            num_walks_per_node=numWalksPerNode,
            p=p,
            q=q,
            seed=seed,
            use_edge_direction=useEdgeDirection,
            max_nbrs=maxNbrsPerVertex,
        )

    def louvain(
        self,
        maxPasses: int = 3,
        maxRoundsPerPass: int = 10,
        weightCol: Optional[str] = None,
    ) -> DataFrame:
        """Louvain modularity communities (Blondel et al. 2008) via
        synchronized parity-gated local moving + contraction passes;
        DF[id, community] with community = smallest member id (stable,
        deterministic). Beyond-reference — the reference's community
        operators stop at label propagation."""
        from graphframes_spark.lib.louvain import louvain

        return louvain(self, maxPasses, maxRoundsPerPass, weightCol)

    def splitEdges(
        self,
        weights: Optional[dict] = None,
        seed: str = "",
    ) -> DataFrame:
        """Deterministic edge split for link-prediction training —
        edges plus ``split: string`` (default train/val/test =
        .98/.01/.01), keyed on the (src, dst) pair hash so assignment is
        stable under reruns, retries, and graph growth (an edge never
        migrates between splits). Beyond-reference."""
        from graphframes_spark.datapipe.sampling import split_corpus

        e = self._edges.withColumn(
            "_ekey",
            F.concat_ws(
                ":", F.col("src").cast("string"), F.col("dst").cast("string")
            ),
        )
        return split_corpus(e, "_ekey", weights, seed).drop("_ekey")

    def sampleNegativeEdges(
        self,
        numPerVertex: int = 1,
        seed: str = "neg",
        numBuckets: Optional[int] = None,
    ) -> DataFrame:
        """Up to ``numPerVertex`` deterministic non-edges per source
        vertex (bucketed md5 hash-tournament — no rand(), no global
        index; bit-stable across reruns/retries/engines); DF[src, dst].
        Link-prediction / GNN training negatives. Beyond-reference."""
        from graphframes_spark.lib.negative_sampling import (
            sample_negative_edges,
        )

        return sample_negative_edges(self, numPerVertex, seed, numBuckets)

    def wlLabels(self, iterations: int = 2) -> DataFrame:
        """Weisfeiler-Leman refinement labels — DF[id, wl_label: hex];
        vertices with identical ``iterations``-hop neighborhood
        structure share a label (md5-based, engine-portable; neighbor
        multisets summarized by partial-aggregatable hash sums).
        Beyond-reference."""
        from graphframes_spark.lib.wl import wl_labels

        return wl_labels(self, iterations)

    def contractBy(
        self,
        assignment: DataFrame,
        communityCol: str = "community",
        weightCol: Optional[str] = None,
    ) -> "GraphFrame":
        """Quotient graph: one supervertex per community of
        ``assignment`` (DF[id, <communityCol>]) with member counts,
        edges aggregated by endpoint communities (canonical src<=dst,
        intra-community mass as self-loops). Beyond-reference."""
        from graphframes_spark.lib.louvain import contract

        return contract(self, assignment, communityCol, weightCol)

    def katzCentrality(
        self, alpha: float = 0.1, maxIter: int = 10, normalized: bool = False
    ) -> DataFrame:
        """Truncated Katz centrality Σ_k α^k·walks_k(v) after maxIter
        Pregel supersteps of c ← α·Aᵀ(1+c); DF[<vertex columns>, katz:
        double] (L2-normalized when ``normalized``). Beyond-reference —
        the reference's only walk-based centrality is PageRank."""
        from graphframes_spark.lib.centrality import katz_centrality

        return katz_centrality(self, alpha, maxIter, normalized)

    def eigenvectorCentrality(
        self, maxIter: int = 10, normalized: bool = True
    ) -> DataFrame:
        """Truncated eigenvector centrality (power iteration x ← Aᵀx from
        x₀=1, L2-normalized once at the end); DF[<vertex columns>,
        eigenvector: double]. Beyond-reference — the reference's only
        walk-based centrality is PageRank."""
        from graphframes_spark.lib.centrality import eigenvector_centrality

        return eigenvector_centrality(self, maxIter, normalized)

    def harmonicCentrality(
        self, landmarks: Sequence[Any], isDirected: bool = True
    ) -> DataFrame:
        """Landmark-sampled harmonic/closeness centrality (Eppstein-Wang
        estimator over one landmark BFS); DF[<vertex columns>, n_reached,
        dist_sum, harmonic, closeness]. Beyond-reference — the reference
        has no distance-based centrality. Outbound variant; use
        ``asReversed()`` or ``isDirected=False`` for inbound."""
        from graphframes_spark.lib.centrality import harmonic_centrality

        return harmonic_centrality(self, landmarks, isDirected)

    def eccentricity(
        self, landmarks: Sequence[Any], isDirected: bool = True
    ) -> DataFrame:
        """Inbound eccentricity per landmark (max hop distance over the
        vertices reaching it) — DF[landmark, eccentricity, n_reached];
        max over a landmark sample = pseudo-diameter lower bound.
        Beyond-reference."""
        from graphframes_spark.lib.centrality import eccentricity

        return eccentricity(self, landmarks, isDirected)

    def hits(self, maxIter: int = 10) -> DataFrame:
        """Hubs and authorities (Kleinberg HITS, L2-normalized per
        iteration); DF[<vertex columns>, hub, authority]. Beyond-reference
        — the reference's GraphX-derived set has no HITS."""
        from graphframes_spark.lib.hits import hits

        return hits(self, maxIter)

    def betweennessCentrality(
        self,
        sources: Sequence[Any],
        maxDepth: int = 20,
        isDirected: bool = True,
    ) -> DataFrame:
        """Brandes betweenness restricted to a source sample (exact when
        ``sources`` is all vertices; scale by n/|sources| for the
        Brandes-Pich estimate); DF[<vertex columns>, betweenness].
        Beyond-reference."""
        from graphframes_spark.lib.betweenness import betweenness_centrality

        return betweenness_centrality(self, sources, maxDepth, isDirected)

    def greedyColoring(self, seed: str = "", maxIter: int = 500) -> DataFrame:
        """Deterministic Jones-Plassmann graph coloring (md5-seeded
        priorities, proper on the symmetrized simple graph) —
        DF[<vertex columns>, color: int]. Beyond-reference."""
        from graphframes_spark.lib.coloring import greedy_coloring

        return greedy_coloring(self, seed, maxIter)

    def enumerateTriangles(self) -> DataFrame:
        """All triangles of the canonical undirected simple graph, one
        row each — DF[a, b, c] with a < b < c (compact-forward plan, no
        per-row neighbor sets). Beyond-reference (the reference only
        counts triangles)."""
        from graphframes_spark.lib.triangle_count import enumerate_triangles

        return enumerate_triangles(self)

    def degreeAssortativity(self, mode: str = "total") -> DataFrame:
        """Newman degree-assortativity coefficient; 1-row
        DF[assortativity: double]. ``mode="total"`` (undirected,
        symmetrized) or ``"out-in"`` (directed). Beyond-reference."""
        from graphframes_spark.lib.metrics import degree_assortativity

        return degree_assortativity(self, mode)

    def describe(self) -> DataFrame:
        """1-row graph summary: vertex/edge counts, distinct edges,
        self-loops, isolated vertices, density, avg/max degrees.
        Beyond-reference."""
        from graphframes_spark.lib.metrics import describe

        return describe(self)

    def attributeAssortativity(self, attrCol: str) -> DataFrame:
        """Newman nominal assortativity by a categorical vertex
        attribute; 1-row DF[assortativity: double] (1 = perfectly
        within-category, <0 = disassortative, NULL when degenerate).
        Beyond-reference."""
        from graphframes_spark.lib.metrics import attribute_assortativity

        return attribute_assortativity(self, attrCol)

    def modularity(
        self,
        assignment: DataFrame,
        communityCol: str = "community",
        weightCol: Optional[str] = None,
    ) -> DataFrame:
        """Newman–Girvan modularity of a partition (undirected
        semantics; ``weightCol`` switches to weighted modularity — the
        quantity ``louvain(weightCol=...)`` optimizes); 1-row
        DF[modularity: double]. ``assignment`` is DF[id, <communityCol>]
        — e.g. labelPropagation or louvain output. Beyond-reference."""
        from graphframes_spark.lib.metrics import modularity

        return modularity(self, assignment, communityCol, weightCol)

    def transitivity(self) -> DataFrame:
        """Global clustering coefficient 3·triangles/wedges on the
        canonical undirected simple graph; 1-row DF[transitivity:
        double] (NULL on wedge-free graphs). Beyond-reference."""
        from graphframes_spark.lib.metrics import transitivity

        return transitivity(self)

    def reciprocity(self) -> DataFrame:
        """Fraction of distinct directed non-loop edges with a reverse
        edge present; 1-row DF[reciprocity: double] (NULL on edge-free
        graphs). Beyond-reference."""
        from graphframes_spark.lib.metrics import reciprocity

        return reciprocity(self)

    def triadCensus(self) -> DataFrame:
        """Directed dyad census (Holland–Leinhardt MAN counts) plus
        cyclic / transitive triangle counts on the deduplicated loop-free
        edge set; 1-row DF[mutual_dyads, asym_dyads, null_dyads,
        cyclic_triangles, transitive_triangles]. Beyond-reference."""
        from graphframes_spark.lib.metrics import triad_census

        return triad_census(self)

    def kTruss(self, k: int) -> DataFrame:
        """Edges of the k-truss (every edge in >= k-2 triangles within
        the truss); DF[src, dst, support] with src < dst on the
        canonical undirected simple graph. Beyond-reference."""
        from graphframes_spark.lib.triangle_count import ktruss

        return ktruss(self, k)

    def clusteringCoefficient(self) -> DataFrame:
        """Local clustering coefficient 2·T(v)/(d·(d−1)) on the canonical
        undirected simple graph; DF[<vertex columns>, count, coefficient].
        Beyond-reference."""
        from graphframes_spark.lib.triangle_count import clustering_coefficient

        return clustering_coefficient(self)

    def commonNeighborScores(
        self, maxDegree: Optional[int] = None, includeJaccard: bool = False
    ) -> DataFrame:
        """Link-prediction scores for every vertex pair sharing >= 1
        undirected neighbor: DF[id_a, id_b, common_neighbors,
        adamic_adar[, jaccard]]. ``maxDegree`` drops super-hub wedge
        centers (their ~1/ln(d) per-pair contribution is negligible;
        their d² wedges are not). Beyond-reference."""
        from graphframes_spark.lib.linkpred import common_neighbor_scores

        return common_neighbor_scores(self, maxDegree, includeJaccard)

    def connectedComponents(
        self,
        algorithm: Optional[str] = None,
        checkpointInterval: Optional[int] = None,
        broadcastThreshold: int = -1,
        useLabelsAsComponents: Optional[bool] = None,
    ) -> DataFrame:
        """Connected components. Unset arguments fall back to the
        session confs the reference defines (GraphFramesConf.scala:8-130):
        ``spark.graphframes.connectedComponents.algorithm``,
        ``...connectedComponents.checkpointinterval``,
        ``spark.graphframes.useLabelsAsComponents`` — then to the
        defaults (two_phase, 1, False). The checkpoint-interval default
        deviates from the reference's 2: the two-phase loop runs one
        probe action per iteration, where per-iteration checkpoints keep
        Catalyst planning depth constant (measured ~25% faster at
        sf0.1, same finding as the voting-mode Pregel recipes)."""
        from graphframes_spark.lib.connected_components import connected_components

        def conf(key: str, default: str) -> str:
            try:
                return self.spark.conf.get(f"spark.graphframes.{key}", default)
            except Exception:
                return default

        if algorithm is None:
            algorithm = conf("connectedComponents.algorithm", "graphframes").lower()
        if checkpointInterval is None:
            checkpointInterval = int(conf("connectedComponents.checkpointinterval", "1"))
        if useLabelsAsComponents is None:
            useLabelsAsComponents = (
                conf("useLabelsAsComponents", "false").lower() == "true"
            )
        level_name = conf("connectedComponents.intermediatestoragelevel", "")
        storage_level = storage_level_from_string(level_name) if level_name else None
        return connected_components(
            self,
            algorithm=algorithm,
            checkpoint_interval=checkpointInterval,
            broadcast_threshold=broadcastThreshold,
            use_labels_as_components=useLabelsAsComponents,
            storage_level=storage_level,
        )

    def incrementalConnectedComponents(
        self, prevComponents: DataFrame, checkpointInterval: int = 1
    ) -> DataFrame:
        """Update ``prevComponents`` (a DF[id, component] from an earlier
        ``connectedComponents`` run) with THIS graph's edges treated as
        the new-arrivals delta: CC runs only on the contracted graph of
        components touched by a cross-component new edge, so the cost is
        proportional to the delta rather than the accumulated edge set.
        Output is identical to a from-scratch run on old ∪ new edges
        (min-id labels compose across contraction). Integral-id graphs
        take any ``connectedComponents`` assignment; non-integral (e.g.
        string) ids take a ``useLabelsAsComponents=True`` assignment
        (labels compose by lexicographic min; surrogate longs are not
        stable across runs). Beyond-reference operator (no graphframes
        equivalent)."""
        from graphframes_spark.lib.connected_components import (
            incremental_connected_components,
        )

        return incremental_connected_components(
            self, prevComponents, checkpoint_interval=checkpointInterval
        )

    def hyperBall(
        self,
        maxHops: int = 10,
        lgConfigK: int = 12,
        isDirected: bool = True,
    ) -> DataFrame:
        """Approximate per-vertex neighborhood function (HyperBall,
        Boldi-Rosa-Vigna 2011): DF[id, hops, reach] — the estimated
        count of distinct vertices reachable within each hop level,
        via fixed-size HLL sketch state (hub-safe, JVM-side
        datasketches expressions; exact while sketches stay in coupon
        mode). Beyond-reference operator."""
        from graphframes_spark.lib.hyperball import hyperball

        return hyperball(self, maxHops, lgConfigK, isDirected)

    def effectiveDiameter(
        self,
        quantile: float = 0.9,
        maxHops: int = 20,
        lgConfigK: int = 12,
        isDirected: bool = True,
    ) -> DataFrame:
        """Smallest hop count reaching ``quantile`` of the final
        neighborhood-function mass (classic 90%-effective diameter).
        One HyperBall run + a curve aggregation. Beyond-reference."""
        from graphframes_spark.lib.hyperball import effective_diameter

        return effective_diameter(self, quantile, maxHops, lgConfigK, isDirected)

    def stronglyConnectedComponents(self, maxIter: int = 20) -> DataFrame:
        from graphframes_spark.lib.scc import strongly_connected_components

        return strongly_connected_components(self, maxIter)

    def labelPropagation(self, maxIter: int = 5, isDirected: bool = True) -> DataFrame:
        from graphframes_spark.lib.label_propagation import label_propagation

        return label_propagation(self, maxIter, is_directed=isDirected)

    def seededLabelPropagation(
        self,
        seeds: DataFrame,
        labelCol: str = "label",
        maxIter: int = 5,
        isDirected: bool = False,
    ) -> DataFrame:
        """Semi-supervised label spreading: ``seeds`` (DF[id,
        <labelCol>]) hold fixed labels; other vertices permanently take
        the deterministic mode of labeled neighbors when first reached
        (nearest-seed labeling; NULL if never reached).
        Beyond-reference."""
        from graphframes_spark.lib.label_propagation import (
            seeded_label_propagation,
        )

        return seeded_label_propagation(self, seeds, labelCol, maxIter, isDirected)

    def triangleCount(
        self, algorithm: str = "exact", lgNomEntries: int = 12
    ) -> DataFrame:
        """Per-vertex triangle count: ``exact`` (degree-ordered wedge
        joins) or ``approx`` (theta sketches, Spark >= 4.1;
        TriangleCount.scala:110-133)."""
        from graphframes_spark.lib.triangle_count import (
            approx_triangle_count,
            triangle_count,
        )

        if algorithm == "exact":
            return triangle_count(self)
        if algorithm == "approx":
            return approx_triangle_count(self, lgNomEntries)
        raise GraphFramesError(
            f"supported triangle count algorithms: exact, approx (got {algorithm!r})"
        )

    def kCore(self, maxIter: int = 100) -> DataFrame:
        from graphframes_spark.lib.kcore import k_core

        return k_core(self, maxIter)

    k_core = kCore

    def detectingCycles(
        self,
        checkpoint_interval: int = 1,
        use_local_checkpoints: Optional[bool] = None,
        storage_level: Optional["StorageLevel"] = None,
    ) -> DataFrame:
        """All unique simple cycles (Rocha–Thatte); signature mirrors the
        reference python client (python/graphframes/graphframe.py:440-461).

        Documented deviations from the reference client's defaults:
        ``use_local_checkpoints`` unset resolves via the
        ``spark.graphframes.useLocalCheckpoints`` conf and otherwise to
        True (reference: False) so the algorithm runs without a configured
        checkpoint dir; ``checkpoint_interval`` defaults to 1 (reference:
        2) — the voting probe materializes every superstep anyway and
        per-superstep checkpoints keep Catalyst planning depth constant,
        measured 2x faster at sf0.1; ``storage_level`` unset resolves to PySpark's
        ``MEMORY_AND_DISK_DESER`` — the same physical level as the
        reference's ``MEMORY_AND_DISK_DESER`` default (JVM deserialized
        memory+disk; note PySpark's plain ``MEMORY_AND_DISK`` constant is
        the *serialized* variant)."""
        from graphframes_spark.lib.cycles import detecting_cycles

        return detecting_cycles(
            self, checkpoint_interval, use_local_checkpoints, storage_level
        )

    def maximalIndependentSet(
        self, seed: int = 42, maxIter: int = 100, deterministic: bool = False
    ) -> DataFrame:
        from graphframes_spark.lib.mis import maximal_independent_set

        return maximal_independent_set(self, seed, maxIter, deterministic)

    maximal_independent_set = maximalIndependentSet

    def aggregateNeighbors(self, **kwargs) -> Any:
        """Multi-hop neighbor aggregation (lib/AggregateNeighbors.scala:43-418).

        With no arguments returns the builder (Scala-style). With keyword
        arguments (reference python-client style: ``starting_vertices``,
        ``max_hops``, ``accumulator_names/inits/updates``,
        ``stopping_condition``, ``target_condition``,
        ``required_vertex_attributes``, ``required_edge_attributes``,
        ``edge_filter``, ``remove_loops``, ``checkpoint_interval``,
        ``use_local_checkpoints``) configures and runs, returning the
        result DataFrame."""
        from graphframes_spark.lib.aggregate_neighbors import AggregateNeighbors

        builder = AggregateNeighbors(self)
        if not kwargs:
            return builder
        setters = {
            "starting_vertices": builder.setStartingVertices,
            "max_hops": builder.setMaxHops,
            "stopping_condition": builder.setStoppingCondition,
            "target_condition": builder.setTargetCondition,
            "required_vertex_attributes": builder.setRequiredVertexAttributes,
            "required_edge_attributes": builder.setRequiredEdgeAttributes,
            "edge_filter": builder.setEdgeFilter,
            "remove_loops": builder.setRemoveLoops,
            "checkpoint_interval": builder.setCheckpointInterval,
            "use_local_checkpoints": builder.setUseLocalCheckpoints,
        }
        names = kwargs.pop("accumulator_names", None)
        inits = kwargs.pop("accumulator_inits", None)
        updates = kwargs.pop("accumulator_updates", None)
        if names is not None:
            builder.setAccumulators(names, inits or [], updates or [])
        for key, value in kwargs.items():
            if key not in setters:
                raise GraphFramesError(f"unknown aggregate_neighbors option: {key!r}")
            if value is not None:
                setters[key](value)
        return builder.run()

    aggregate_neighbors = aggregateNeighbors

    def powerIterationClustering(
        self,
        k: int,
        maxIter: int = 20,
        weightCol: Optional[str] = None,
        deterministic: bool = False,
    ) -> DataFrame:
        from graphframes_spark.lib.pic import power_iteration_clustering

        return power_iteration_clustering(self, k, maxIter, weightCol, deterministic)

    def svdPlusPlus(
        self,
        rank: int = 10,
        maxIter: int = 2,
        minValue: float = 0.0,
        maxValue: float = 5.0,
        gamma1: float = 0.007,
        gamma2: float = 0.007,
        gamma6: float = 0.005,
        gamma7: float = 0.015,
    ):
        from graphframes_spark.lib.svdpp import svd_plus_plus

        return svd_plus_plus(
            self, rank, maxIter, minValue, maxValue, gamma1, gamma2, gamma6, gamma7
        )

    # --------------------------------------------- reference python aliases
    # (python/graphframes/graphframe.py exposes these snake_case names)

    @property
    def nodes(self) -> DataFrame:
        """Alias for :attr:`vertices` (reference python client parity)."""
        return self._vertices

    @property
    def rw_embeddings(self):
        """Random-walk-embeddings builder with the reference python
        client's snake_case surface (python/graphframes/graphframe.py:
        1160-1253); see also the camelCase
        :class:`~graphframes_spark.embeddings.RandomWalkEmbeddings`."""
        from graphframes_spark.embeddings import RwEmbeddings

        return RwEmbeddings(self)

    type_out_degree = typeOutDegree
    type_in_degree = typeInDegree
    type_degree = typeDegree
    as_undirected = asUndirected
    as_reversed = asReversed
    drop_isolated_vertices = dropIsolatedVertices
    filter_vertices = filterVertices
    filter_edges = filterEdges
    sample_vertices = sampleVertices
    sample_edges = sampleEdges
    connected_components = connectedComponents
    strongly_connected_components = stronglyConnectedComponents
    label_propagation = labelPropagation
    triangle_count = triangleCount
    page_rank = pageRank
    parallel_personalized_page_rank = parallelPersonalizedPageRank
    shortest_paths = shortestPaths
    shortest_paths_weighted = shortestPathsWeighted
    common_neighbor_scores = commonNeighborScores
    clustering_coefficient = clusteringCoefficient
    k_truss = kTruss
    detecting_cycles = detectingCycles
    power_iteration_clustering = powerIterationClustering
    svd_plus_plus = svdPlusPlus
    aggregate_messages = aggregateMessages
    katz_centrality = katzCentrality
    eigenvector_centrality = eigenvectorCentrality
    group_edges = groupEdges
    triad_census = triadCensus
    seeded_label_propagation = seededLabelPropagation
    contract_by = contractBy
    wl_labels = wlLabels
    harmonic_centrality = harmonicCentrality
    betweenness_centrality = betweennessCentrality
    degree_assortativity = degreeAssortativity
    attribute_assortativity = attributeAssortativity
    sample_negative_edges = sampleNegativeEdges
    split_edges = splitEdges
    enumerate_triangles = enumerateTriangles
    node2vec_walks = node2vecWalks
    greedy_coloring = greedyColoring
