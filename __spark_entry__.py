"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry exercises one operator from SURVEY.md §2 (or the
LLM-data-pipeline tier) on views derived from the driver's TPC-H-ish
testdata (TESTDATA.md), and the matching ``oracle_sql()`` entry
reproduces the exact semantics in DuckDB SQL. Column names and types are
aligned on both sides so the driver's row-count + schema + value-hash
comparison passes. Cross-engine-stable primitives only (md5/sha256,
lexicographic mins, integer bit ops) — no xxhash64 in oracled paths.

Graph views used (FIXTURES.md §6):
- customer–order bipartite: v = custkeys ∪ (orderkeys + 10^7),
  e = (custkey → orderkey + 10^7)
- nation adjacency: nations fully connected within a region (directed
  both ways, no self-loops); canonical (src<dst) variant for undirected
  algorithms
- events chain: consecutive events per user ordered by (ts, event_id);
  capped user cycles (first 8 events + wrap-around) for SCC/cycles
- documents / embeddings: LLM-pipeline tier
"""

from __future__ import annotations

import os as _os
import sys as _sys

# the driver may load this file by path; make the sibling entry_oracles
# module importable regardless of the loader's cwd
_HERE = _os.path.dirname(_os.path.abspath(__file__))
if _HERE not in _sys.path:
    _sys.path.insert(0, _HERE)

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from graphframes_spark import GraphFrame

ORDER_OFFSET = 10_000_000
PART_OFFSET = 20_000_000
CYCLE_CAP = 8

NUM_PERM = 32
NUM_BANDS = 8
ROWS_PER_BAND = NUM_PERM // NUM_BANDS
JACCARD_T = 0.8
COSINE_T = 0.45
HAMMING_T = 1


# --------------------------------------------------------------------- views


def _customer_order_graph(spark: SparkSession, sf_dir: str) -> GraphFrame:
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    v = customer.select(F.col("c_custkey").alias("id")).unionByName(
        orders.select((F.col("o_orderkey") + ORDER_OFFSET).alias("id"))
    )
    e = orders.select(
        F.col("o_custkey").alias("src"),
        (F.col("o_orderkey") + ORDER_OFFSET).alias("dst"),
        F.col("o_totalprice"),
    )
    return GraphFrame(v, e)


def _nation_graph(spark: SparkSession, sf_dir: str) -> GraphFrame:
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    v = nation.select(F.col("n_nationkey").alias("id"))
    n1 = nation.select(
        F.col("n_nationkey").alias("src"), F.col("n_regionkey").alias("r1")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("dst"), F.col("n_regionkey").alias("r2")
    )
    e = (
        n1.join(n2, F.col("r1") == F.col("r2"))
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
    )
    return GraphFrame(v, e)


def _nation_canon_graph(spark: SparkSession, sf_dir: str) -> GraphFrame:
    """Each undirected within-region edge exactly once (src < dst)."""
    g = _nation_graph(spark, sf_dir)
    return GraphFrame(g.vertices, g.edges.filter(F.col("src") < F.col("dst")))


_NATION_EDGES_SQL = """
    SELECT a.n_nationkey AS src, b.n_nationkey AS dst
    FROM nation a JOIN nation b ON a.n_regionkey = b.n_regionkey
    WHERE a.n_nationkey <> b.n_nationkey
"""


def _read_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    # events.parquet stores TIMESTAMP(NANOS); read as long (ordering is
    # identical, which is all the chain view needs)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _events_chain_graph(spark: SparkSession, sf_dir: str) -> GraphFrame:
    events = _read_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = events.select(
        F.col("event_id").alias("src"),
        F.lead("event_id").over(w).alias("dst"),
    ).filter(F.col("dst").isNotNull())
    v = events.select(F.col("event_id").alias("id"))
    return GraphFrame(v, nxt)


_EVENTS_CHAIN_SQL = """
    SELECT event_id AS src,
           lead(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
    FROM events
    QUALIFY dst IS NOT NULL
"""


def _user_cycles_graph(spark: SparkSession, sf_dir: str) -> GraphFrame:
    """Per user: first CYCLE_CAP events chained + wrap-around edge — one
    directed cycle per user."""
    events = _read_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        "event_id", "user_id", F.row_number().over(w).alias("rn")
    ).filter(F.col("rn") <= CYCLE_CAP)
    wu = Window.partitionBy("user_id")
    ring = seq.withColumn("n", F.max("rn").over(wu))
    nxt = ring.select(
        F.col("event_id").alias("src"),
        F.col("user_id"),
        (F.col("rn") % F.col("n") + 1).alias("next_rn"),
    )
    e = nxt.join(
        ring.select(
            F.col("event_id").alias("dst"),
            F.col("user_id"),
            F.col("rn").alias("next_rn"),
        ),
        on=["user_id", "next_rn"],
    ).select("src", "dst")
    v = seq.select(F.col("event_id").alias("id"))
    return GraphFrame(v, e)


_USER_CYCLES_SQL = f"""
    SELECT event_id, user_id, rn, max(rn) OVER (PARTITION BY user_id) AS n
    FROM (
        SELECT event_id, user_id,
               row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        FROM events
    ) WHERE rn <= {CYCLE_CAP}
"""

_DOC_SHINGLES_SQL = """
    SELECT doc_id,
           list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                          FOR i IN range(1, len(t) - 1)]) AS sh,
           t
    FROM (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\\s+'),
                           x -> len(x) > 0) AS t
        FROM documents
    )
"""


# ------------------------------------------------------- round-1 queries


def q_out_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = _customer_order_graph(spark, sf_dir)
    return g.outDegrees.select(F.col("id"), F.col("outDegree").alias("out_degree"))


def q_in_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = _customer_order_graph(spark, sf_dir)
    return g.inDegrees.select(F.col("id"), F.col("inDegree").alias("in_degree"))


def q_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = _nation_graph(spark, sf_dir)
    return g.degrees.select(F.col("id"), F.col("degree"))


def q_triplets(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = _nation_graph(spark, sf_dir)
    t = g.triplets
    return t.select(
        t["src"]["id"].alias("src_id"),
        t["dst"]["id"].alias("dst_id"),
    )


def q_motif_two_hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = _nation_graph(spark, sf_dir)
    m = g.find("(a)-[]->(b); (b)-[]->(c)")
    return m.select(
        F.col("a")["id"].alias("a_id"),
        F.col("b")["id"].alias("b_id"),
        F.col("c")["id"].alias("c_id"),
    )


def q_motif_mutual(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = _nation_graph(spark, sf_dir)
    m = g.find("(a)-[e]->(b); (b)-[e2]->(a)").filter("a.id < b.id")
    return m.select(
        F.col("a")["id"].alias("a_id"), F.col("b")["id"].alias("b_id")
    )


def q_motif_negation(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = _events_chain_graph(spark, sf_dir)
    m = g.find("(a)-[]->(b); !(b)-[]->(a)")
    return m.select(
        F.col("a")["id"].alias("a_id"), F.col("b")["id"].alias("b_id")
    )


def q_motif_var_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = _events_chain_graph(spark, sf_dir)
    m = g.find("(a)-[e*1..2]->(b)")
    return m.select(
        F.col("a")["id"].alias("a_id"),
        F.col("b")["id"].alias("b_id"),
        F.col("_hop").alias("hop"),
    )


def q_filter_vertices(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = _nation_graph(spark, sf_dir)
    sub = g.filterVertices("id % 2 = 0")
    return sub.edges.select("src", "dst")


def q_type_out_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    v = customer.select(F.col("c_custkey").alias("id"))
    e = orders.select(
        F.col("o_custkey").alias("src"),
        (F.col("o_orderkey") + ORDER_OFFSET).alias("dst"),
        F.col("o_orderstatus"),
    )
    g = GraphFrame(v.unionByName(e.select(F.col("dst").alias("id"))), e)
    td = g.typeOutDegree("o_orderstatus", ["F", "O", "P"])
    return td.select(
        F.col("id"),
        F.col("outDegrees")["F"].alias("deg_f"),
        F.col("outDegrees")["O"].alias("deg_o"),
        F.col("outDegrees")["P"].alias("deg_p"),
    )


def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = _nation_graph(spark, sf_dir)
    return g.triangleCount().select(F.col("id"), F.col("count").alias("n_triangles"))


def q_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = _customer_order_graph(spark, sf_dir)
    return g.connectedComponents().select("id", "component")


def q_cc_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental connected components (lib/connected_components.py
    incremental_connected_components — beyond-reference delta-update
    operator): order edges are split by o_orderkey % 5 into an "old"
    batch (whose component assignment is CLOSED-FORM on this bipartite
    fixture — old-linked orders sit with their customer, new orders are
    still singletons — so the query's cost is the incremental operator,
    not a from-scratch warm-up CC) and a "new" batch applied
    incrementally; the updated assignment must be IDENTICAL to the
    from-scratch run on all edges, so the oracle is the same closed form
    as connected_components."""
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    v = customer.select(F.col("c_custkey").alias("id")).unionByName(
        orders.select((F.col("o_orderkey") + ORDER_OFFSET).alias("id"))
    )
    prev = customer.select(
        F.col("c_custkey").alias("id"), F.col("c_custkey").alias("component")
    ).unionByName(
        orders.select(
            (F.col("o_orderkey") + ORDER_OFFSET).alias("id"),
            F.when(
                F.col("o_orderkey") % 5 == 0,
                F.col("o_orderkey") + ORDER_OFFSET,  # new: still singleton
            )
            .otherwise(F.col("o_custkey"))
            .alias("component"),
        )
    )
    new_e = orders.filter(F.col("o_orderkey") % 5 == 0).select(
        F.col("o_custkey").alias("src"),
        (F.col("o_orderkey") + ORDER_OFFSET).alias("dst"),
    )
    delta_g = GraphFrame(v, new_e)
    return delta_g.incrementalConnectedComponents(prev).select("id", "component")


def q_cc_incremental_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental connected components over STRING vertex ids
    (round 11): the delta-update contract extended through the label
    domain — prev_components carries useLabelsAsComponents-style labels
    (component = lexicographically-min member id), the contracted CC
    runs label-mode, and min-labels compose lexicographically. Same
    old/new split as cc_incremental ('o'-prefixed orders by
    o_orderkey % 5); the updated assignment must equal the from-scratch
    closed form ('c' < 'o', so every order sits with its customer)."""
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    v = customer.select(
        F.concat(F.lit("c"), F.col("c_custkey")).alias("id")
    ).unionByName(
        orders.select(F.concat(F.lit("o"), F.col("o_orderkey")).alias("id"))
    )
    prev = customer.select(
        F.concat(F.lit("c"), F.col("c_custkey")).alias("id"),
        F.concat(F.lit("c"), F.col("c_custkey")).alias("component"),
    ).unionByName(
        orders.select(
            F.concat(F.lit("o"), F.col("o_orderkey")).alias("id"),
            F.when(
                F.col("o_orderkey") % 5 == 0,
                F.concat(F.lit("o"), F.col("o_orderkey")),  # new: singleton
            )
            .otherwise(F.concat(F.lit("c"), F.col("o_custkey")))
            .alias("component"),
        )
    )
    new_e = orders.filter(F.col("o_orderkey") % 5 == 0).select(
        F.concat(F.lit("c"), F.col("o_custkey")).alias("src"),
        F.concat(F.lit("o"), F.col("o_orderkey")).alias("dst"),
    )
    delta_g = GraphFrame(v, new_e)
    return delta_g.incrementalConnectedComponents(prev).select("id", "component")


def q_cc_skew_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components through the broadcast skew path (reference
    TwoPhase.scala:160-173, GraphFrame.scala:1106-1126): the customer →
    order graph plus an edge from each order to the customer's next
    order, so the graph is no longer a star forest on its minima and the
    contraction loop iterates. ``broadcastThreshold=20`` is the hub
    cutoff: customers above 20 orders (TPC-H order counts top out ~25)
    are broadcast-joined in the large-star step, with AQE on, while the
    rest stay on the shuffle join. The chain edges stay inside a
    customer, so fixture components and oracle equal
    ``connected_components``'s."""
    g = _customer_order_graph(spark, sf_dir)
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    prev_order = F.lag("o_orderkey").over(
        Window.partitionBy("o_custkey").orderBy("o_orderkey")
    )
    chain = orders.select(
        (prev_order + ORDER_OFFSET).alias("src"),
        (F.col("o_orderkey") + ORDER_OFFSET).alias("dst"),
    ).filter(F.col("src").isNotNull())
    e = g.edges.select("src", "dst").unionByName(chain)
    return (
        GraphFrame(g.vertices, e)
        .connectedComponents(broadcastThreshold=20)
        .select("id", "component")
    )


def _chain_landmark(spark: SparkSession, sf_dir: str) -> int:
    """Event id 21 hops into the min-user chain (bounds supersteps at any
    SF). One bounded agg + one single-user window — the per-user rank is
    computed AFTER the user filter so no full-table window runs."""
    events = _read_events(spark, sf_dir)
    min_user = events.agg(F.min("user_id")).collect()[0][0]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    user_seq = (
        events.filter(F.col("user_id") == min_user)
        .select("event_id", F.row_number().over(w).alias("rn"))
    )
    row = (
        user_seq.withColumn("m", F.max("rn").over(Window.partitionBy()))
        .filter(F.col("rn") == F.least(F.col("m"), F.lit(21)))
        .select("event_id")
        .collect()[0]
    )
    return row["event_id"]


def q_shortest_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = _events_chain_graph(spark, sf_dir)
    landmark = _chain_landmark(spark, sf_dir)
    sp = g.shortestPaths(landmarks=[landmark])
    return sp.select(
        F.col("id"), F.explode(F.col("distances")).alias("landmark", "distance")
    )


def q_hyperball(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperBall neighborhood function (lib/hyperball.py — beyond-
    reference, Boldi-Rosa-Vigna 2011) on the per-user event chain:
    reach(v, t) = min(t, #events after v in its chain) + 1, closed-form
    in SQL via row_number. Balls are ≤ maxHops+1 = 5 elements, so every
    HLL sketch stays in coupon (exact) mode at ANY scale factor and the
    estimates are exact integers — the same sketch-exactness pattern as
    triangle_count_approx."""
    g = _events_chain_graph(spark, sf_dir)
    return g.hyperBall(maxHops=4).select("id", "hops", "reach")


def q_effective_diameter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effective diameter of the event chain via one HyperBall run
    (lib/hyperball.py): smallest t with N(t) >= q·N(t_max). The chain
    neighborhood function is closed-form (Σ_v min(t, tail_v) + 1), and
    the engine's early stop lands at min(maxHops, max tail + 1) — both
    replayed exactly in SQL. q=0.6 lands mid-curve (ED=5) at every SF,
    so the check discriminates the quantile cut, not just the cap."""
    g = _events_chain_graph(spark, sf_dir)
    return g.effectiveDiameter(quantile=0.6, maxHops=8)


def q_harmonic_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Landmark-sampled harmonic/closeness centrality on the event chain
    (lib/centrality.py): one BFS to the chain landmark, then per-row
    higher-order aggregates over the bounded distances map — zero
    incremental shuffle over shortestPaths itself."""
    g = _events_chain_graph(spark, sf_dir)
    landmark = _chain_landmark(spark, sf_dir)
    hc = g.harmonicCentrality(landmarks=[landmark])
    return hc.select(
        F.col("id"),
        F.col("n_reached"),
        F.col("dist_sum"),
        F.round("harmonic", 9).alias("harmonic"),
        F.round("closeness", 9).alias("closeness"),
    )


def q_node2vec_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """node2vec walks on the event chain (graphframes_spark/node2vec.py):
    every vertex has exactly one out-neighbor, so the biased sampler is
    forced and walks are exact chain prefixes — a full-hash oracle for
    the second-order walk machinery (p/q/Gumbel-max paths all execute)."""
    g = _events_chain_graph(spark, sf_dir)
    walks = g.node2vecWalks(walkLength=5, p=2.0, q=0.5, seed=11)
    return walks.select(
        F.col("start"),
        F.col("walk_idx"),
        F.concat_ws(" ", F.col("random_walk").cast("array<string>")).alias("walk"),
        F.size("random_walk").alias("walk_len"),
    )


def q_random_walks_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-trace oracle for the batched random-walk ENGINE (rw.py —
    reference rw/RandomWalkBase.scala): on a functional graph where
    every vertex has exactly ONE out-neighbor (successor
    s(v) = (7*v + 3) mod N over the dense 0-based customer keys —
    fixed-point-free since 6 never divides N-3 at these SFs) with
    restart_probability=0 and deterministic mode, every draw is forced,
    so each walk is exactly the 6-step successor chain — closed-form in
    SQL. This hash-verifies batching, per-batch parquet spill, cross-
    batch concatenation, and the deterministic walk-id scheme; the
    hash-based draw distribution itself is xxhash64 (not DuckDB-
    replayable) and stays invariant-tested."""
    import tempfile

    from graphframes_spark.rw import RandomWalkWithRestart

    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    n = customer.count()
    v = customer.select(F.col("c_custkey").cast("long").alias("id"))
    e = v.select(
        F.col("id").alias("src"), ((F.col("id") * 7 + 3) % n).alias("dst")
    )
    g = GraphFrame(v, e)
    rw = (
        RandomWalkWithRestart()
        .setNumWalksPerNode(1)
        .setBatchSize(3)
        .setNumBatches(2)
        .setRestartProbability(0.0)
        .setDeterministic(True)
        .setUseEdgeDirection(True)
        .setGlobalSeed(7)
        .setTemporaryPrefix(tempfile.mkdtemp(prefix="rw_det_"))
    )
    out = rw.onGraph(g).run()
    result = out.select(
        F.col("random_walk_uuid"),
        F.concat_ws(" ", F.col("random_walk").cast("array<string>")).alias(
            "walk"
        ),
    # eager localCheckpoint pins the rows in the block manager so the
    # spilled per-batch parquet directories can be removed immediately
    # (they would otherwise accumulate in /tmp across driver runs)
    ).localCheckpoint(eager=True)
    import shutil

    shutil.rmtree(rw._temporary_prefix, ignore_errors=True)
    return result


def q_eccentricity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inbound eccentricity of the chain landmark (lib/centrality.py):
    on a chain the farthest vertex reaching the landmark is the chain
    head, so eccentricity == the landmark's 0-based chain position and
    n_reached == position + 1 — closed-form in SQL."""
    g = _events_chain_graph(spark, sf_dir)
    landmark = _chain_landmark(spark, sf_dir)
    return g.eccentricity(landmarks=[landmark])


def q_dp_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 embedding quantization (datapipe/similarity.py):
    per-vector absmax scaling replayed element-for-element by DuckDB
    list_transform."""
    from graphframes_spark.datapipe import quantize_embeddings

    q = quantize_embeddings(_emb(spark, sf_dir))
    return q.select(
        "vec_id",
        F.concat_ws(" ", F.col("qvec").cast("array<string>")).alias("qvec_str"),
        F.round("scale", 9).alias("scale"),
    )


def q_shortest_paths_undirected(spark: SparkSession, sf_dir: str) -> DataFrame:
    """isDirected=False path: the canonically-oriented clique graph (each
    edge stored once, src < dst) still yields distance 1 to every
    same-region vertex because the undirected expansion symmetrizes."""
    g = _nation_canon_graph(spark, sf_dir)
    sp = g.shortestPaths(landmarks=[0], isDirected=False)
    return sp.select(
        F.col("id"), F.explode(F.col("distances")).alias("landmark", "distance")
    )


def q_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted SSSP (lib/shortest_paths.py shortest_paths_weighted) on
    the per-user event chains with the source event's value as the edge
    weight; chains have a unique path per pair, so the DuckDB oracle is
    an exact prefix-sum difference."""
    events = _read_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    edges = events.select(
        F.col("event_id").alias("src"),
        F.lead("event_id").over(w).alias("dst"),
        F.col("value").alias("weight"),
    ).filter(F.col("dst").isNotNull())
    g = GraphFrame(events.select(F.col("event_id").alias("id")), edges)
    landmark = _chain_landmark(spark, sf_dir)
    sp = g.shortestPathsWeighted([landmark], weightCol="weight")
    return sp.select(
        F.col("id"), F.explode(F.col("distances")).alias("landmark", "distance")
    ).select(
        "id", "landmark", F.round("distance", 6).alias("distance")
    )


def q_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram of the customer-order graph: the one-line graph
    summary every sizing decision starts from (two partial-aggregatable
    shuffles, no joins)."""
    g = _customer_order_graph(spark, sf_dir)
    return (
        g.degrees.groupBy("degree")
        .agg(F.count(F.lit(1)).alias("n_vertices"))
    )


def q_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman degree assortativity of the customer-order bipartite graph
    (strongly negative: hubs connect to degree-1 orders). One row; the
    Pearson moments are replayed with DuckDB's corr()."""
    g = _customer_order_graph(spark, sf_dir)
    return g.degreeAssortativity().select(
        F.round(F.col("assortativity"), 6).alias("assortativity")
    )


def q_modularity_regions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman-Girvan modularity of the nation graph under an id%3
    partition that deliberately crosses region-clique boundaries, so
    both the intra-edge and degree-mass terms are exercised."""
    g = _nation_graph(spark, sf_dir)
    asg = g.vertices.select(
        F.col("id"), (F.col("id") % 3).alias("community")
    )
    return g.modularity(asg).select(
        F.round(F.col("modularity"), 6).alias("modularity")
    )


#: vertex-id offsets for the region->nation->customer tree (customer
#: keys stay raw; both offsets clear any realistic custkey range)
NAT_OFF = 50_000_000
REG_OFF = 60_000_000


def q_betweenness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brandes betweenness from all region roots over the directed
    region->nation->customer tree. On an out-tree sigma == 1 everywhere
    and delta(v) = #descendants, so each nation's betweenness is exactly
    its customer count — closed-form in SQL."""
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    region = spark.read.parquet(f"{sf_dir}/region.parquet")
    v = (
        region.select((F.col("r_regionkey") + REG_OFF).alias("id"))
        .unionByName(nation.select((F.col("n_nationkey") + NAT_OFF).alias("id")))
        .unionByName(customer.select(F.col("c_custkey").alias("id")))
    )
    e = nation.select(
        (F.col("n_regionkey") + REG_OFF).alias("src"),
        (F.col("n_nationkey") + NAT_OFF).alias("dst"),
    ).unionByName(
        customer.select(
            (F.col("c_nationkey") + NAT_OFF).alias("src"),
            F.col("c_custkey").alias("dst"),
        )
    )
    g = GraphFrame(v, e)
    sources = [r[0] + REG_OFF for r in region.select("r_regionkey").collect()]
    return g.betweennessCentrality(sources, maxDepth=4).select(
        "id", F.round("betweenness", 6).alias("betweenness")
    )


def q_coloring_regions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jones-Plassmann coloring (lib/coloring.py) on the region cliques:
    with deterministic md5 priorities a clique colors strictly in
    priority order, so color == md5-rank-within-region − 1 — the full
    iterative machinery (local-maxima rounds, mex over neighbor colors)
    replayed by one SQL window."""
    g = _nation_graph(spark, sf_dir)
    return g.greedyColoring(seed="r4").select("id", "color")


def q_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit triangle enumeration (compact-forward) over the region
    cliques — every within-region nation triple exactly once."""
    g = _nation_graph(spark, sf_dir)
    return g.enumerateTriangles()


def q_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-truss of the nation within-region cliques: every edge of a
    5-clique sits in 3 triangles, so the peeling fixpoint is the full
    canonical edge set with support 3 — exactly expressible in SQL."""
    g = _nation_graph(spark, sf_dir)
    return g.kTruss(4).select("src", "dst", "support")


def _nation_customer_graph(spark: SparkSession, sf_dir: str) -> GraphFrame:
    """Nation cliques (offset by NAT_OFF) + nation->customer spokes:
    clique wedges are closed (triangles), spoke wedges are open — so
    global transitivity is strictly between 0 and 1."""
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    v = nation.select((F.col("n_nationkey") + NAT_OFF).alias("id")).unionByName(
        customer.select(F.col("c_custkey").alias("id"))
    )
    n1 = nation.select(
        (F.col("n_nationkey") + NAT_OFF).alias("src"),
        F.col("n_regionkey").alias("r1"),
    )
    n2 = nation.select(
        (F.col("n_nationkey") + NAT_OFF).alias("dst"),
        F.col("n_regionkey").alias("r2"),
    )
    cliques = (
        n1.join(n2, F.col("r1") == F.col("r2"))
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
    )
    spokes = customer.select(
        (F.col("c_nationkey") + NAT_OFF).alias("src"),
        F.col("c_custkey").alias("dst"),
    )
    return GraphFrame(v, cliques.unionByName(spokes))


def q_transitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global clustering coefficient 3*triangles/wedges of the
    nation-clique + customer-spoke graph; the oracle recounts triangles
    with a three-way canonical-edge join and wedges from degrees."""
    g = _nation_customer_graph(spark, sf_dir)
    return g.transitivity().select(
        F.round(F.col("transitivity"), 6).alias("transitivity")
    )


def q_split_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/20 train/test edge split of the customer-order
    graph keyed on the (src, dst) pair (GraphFrame.splitEdges); the md5
    threshold chain replays verbatim."""
    g = _customer_order_graph(spark, sf_dir)
    out = g.splitEdges(weights={"train": 0.8, "test": 0.2}, seed="r4")
    return out.select("src", "dst", "split")


def q_negative_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling on the nation graph (3 proposals
    per vertex, 4 hash buckets): the bucketed md5 tournament and the
    existing-edge anti-join replay row-for-row in SQL."""
    g = _nation_graph(spark, sf_dir)
    return g.sampleNegativeEdges(numPerVertex=3, seed="neg", numBuckets=4).select(
        "src", "dst"
    )


def q_louvain_regions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Louvain communities of the nation graph (5 disjoint 5-cliques):
    phase-1 merges each clique, contraction leaves 5 isolated
    supervertices, and the stable min-member relabel makes the result
    exactly min(n_nationkey) per region — closed-form in SQL."""
    g = _nation_graph(spark, sf_dir)
    return g.louvain().select("id", "community")


def q_louvain_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Louvain at data scale, full-output oracled (round 8): the
    co-purchase weights are distinct-order COUNTS, so every gain the
    engine computes is an integer-valued double — IEEE-exact and
    aggregation-order-independent — and the DuckDB oracle replays the
    whole contraction hierarchy (2 passes x 6 synchronized rounds,
    freeze-on-converge, Sotera direction gates, min-member relabel)
    round-for-round. Weighted co-purchase graph: parts linked by
    #distinct co-ordering orders (>= 2); returns per-community sizes."""
    li = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .select("l_partkey", "l_orderkey")
        .distinct()
    )
    a = li.select(F.col("l_partkey").alias("src"), F.col("l_orderkey").alias("o"))
    b = li.select(F.col("l_partkey").alias("dst"), F.col("l_orderkey").alias("o"))
    pairs = (
        a.join(b, on="o")
        .filter(F.col("src") < F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("weight"))
        .filter(F.col("weight") >= 2)
    )
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    v = part.select(F.col("p_partkey").alias("id"))
    g = GraphFrame(v, pairs)
    asg = g.louvain(maxPasses=2, maxRoundsPerPass=6, weightCol="weight")
    return (
        asg.groupBy("community")
        .agg(F.count(F.lit(1)).alias("size"))
        .orderBy(F.desc("size"), "community")
    )


#: offset clears any event_id range so user and event vertices never collide
USER_OFF = 90_000_000


def q_dp_stream_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed vertex degrees of the user->event edge stream — the
    batch twin of datapipe/streaming.py stream_edge_degrees (identical
    plan minus the state store); hourly buckets replayed with DuckDB
    time_bucket."""
    from graphframes_spark.datapipe import stream_edge_degrees

    edges = _read_events(spark, sf_dir).select(
        (F.col("user_id") + USER_OFF).alias("src"),
        F.col("event_id").alias("dst"),
        F.col("ts"),
    )
    out = stream_edge_degrees(edges, window_duration="1 hour")
    # string-canonicalized window bound: identical text from Spark's
    # date_format and DuckDB's strftime, immune to timestamp dtype
    # differences in the driver's value hash
    return out.select(
        F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias(
            "w_start"
        ),
        "id",
        F.col("outDegree").cast("long").alias("out_degree"),
        F.col("inDegree").cast("long").alias("in_degree"),
        F.col("degree").cast("long").alias("degree"),
    )


def q_describe_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row graph summary (GraphFrame.describe) of the customer-order
    bipartite graph — counts, density, degree extremes; every statistic
    restated as plain SQL aggregates."""
    g = _customer_order_graph(spark, sf_dir)
    d = g.describe()
    return d.select(
        "n_vertices",
        "n_edges",
        "n_distinct_edges",
        "n_self_loops",
        "n_isolated",
        F.round(F.col("density"), 9).alias("density"),
        F.round(F.col("avg_out_degree"), 6).alias("avg_out_degree"),
        "max_out_degree",
        "max_in_degree",
    )


def q_attr_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nominal assortativity by vertex type on the nation-clique +
    customer-spoke graph: clique ends are (n,n) but every spoke is
    (n,c)/(c,n), so type mixing is strongly disassortative (~-0.94).
    The mixing-matrix trace and marginal squares replay in SQL."""
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    g0 = _nation_customer_graph(spark, sf_dir)
    v = nation.select(
        (F.col("n_nationkey") + NAT_OFF).alias("id"), F.lit("n").alias("vtype")
    ).unionByName(
        customer.select(F.col("c_custkey").alias("id"), F.lit("c").alias("vtype"))
    )
    g = GraphFrame(v, g0.edges)
    return g.attributeAssortativity("vtype").select(
        F.round(F.col("assortativity"), 6).alias("assortativity")
    )


def q_wl_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Weisfeiler-Leman refinement round on the nation-clique +
    customer-spoke graph (lib/wl.py): md5 degree-pair colors refined by
    (hash-sum, count) per direction — replayed verbatim in SQL via
    DuckDB's 0x-hex cast."""
    g = _nation_customer_graph(spark, sf_dir)
    return g.wlLabels(iterations=1)


def q_seeded_lpa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-supervised label spreading down the region->nation->customer
    out-tree from region seeds (directed, 3 supersteps): every vertex
    ends with its ancestor region's key — closed-form in SQL."""
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    region = spark.read.parquet(f"{sf_dir}/region.parquet")
    v = (
        region.select((F.col("r_regionkey") + REG_OFF).alias("id"))
        .unionByName(nation.select((F.col("n_nationkey") + NAT_OFF).alias("id")))
        .unionByName(customer.select(F.col("c_custkey").alias("id")))
    )
    e = nation.select(
        (F.col("n_regionkey") + REG_OFF).alias("src"),
        (F.col("n_nationkey") + NAT_OFF).alias("dst"),
    ).unionByName(
        customer.select(
            (F.col("c_nationkey") + NAT_OFF).alias("src"),
            F.col("c_custkey").alias("dst"),
        )
    )
    seeds = region.select(
        (F.col("r_regionkey") + REG_OFF).alias("id"),
        F.col("r_regionkey").alias("label"),
    )
    g = GraphFrame(v, e)
    return g.seededLabelPropagation(seeds, maxIter=3, isDirected=True).select(
        "id", "label"
    )


def q_contract_regions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quotient graph of the nation cliques under the region partition
    (GraphFrame.contractBy): 5 supervertices, each with a self-loop
    aggregating its clique's undirected weight — replayed in SQL with
    the same canonicalize + 2-join + aggregate shape."""
    g = _nation_graph(spark, sf_dir)
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    asg = nation.select(
        F.col("n_nationkey").alias("id"), F.col("n_regionkey").alias("community")
    )
    q = g.contractBy(asg)
    return q.edges.select("src", "dst", F.round(F.col("weight"), 6).alias("weight"))


def q_katz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated Katz centrality (alpha=0.1, 3 supersteps) on the
    per-user event chains; the oracle recomputes walk counts of length
    1..3 with three cascaded joins and folds the alpha powers."""
    g = _events_chain_graph(spark, sf_dir)
    return g.katzCentrality(alpha=0.1, maxIter=3).select(
        "id", F.round(F.col("katz"), 6).alias("katz")
    )


def q_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge reciprocity of the customer->order graph with the reverse
    edge added only for orderkey % 3 == 0 — a deterministic mixed
    directed graph (reciprocity strictly between 0 and 1)."""
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    v = customer.select(F.col("c_custkey").alias("id")).unionByName(
        orders.select((F.col("o_orderkey") + ORDER_OFFSET).alias("id"))
    )
    fwd = orders.select(
        F.col("o_custkey").alias("src"),
        (F.col("o_orderkey") + ORDER_OFFSET).alias("dst"),
    )
    back = orders.filter(F.col("o_orderkey") % 3 == 0).select(
        (F.col("o_orderkey") + ORDER_OFFSET).alias("src"),
        F.col("o_custkey").alias("dst"),
    )
    g = GraphFrame(v, fwd.unionByName(back))
    return g.reciprocity().select(
        F.round(F.col("reciprocity"), 6).alias("reciprocity")
    )


def q_sample_subgraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic vertex-induced subgraph sample (GraphFrame
    .sampleVertices) of the customer-order graph at fraction 0.5; the
    md5-threshold selection replays bit-identically in the oracle."""
    g = _customer_order_graph(spark, sf_dir).sampleVertices(0.5, seed="r4")
    return g.outDegrees.select("id", F.col("outDegree").alias("out_degree"))


def q_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient (lib/triangle_count.py) over the
    triangle-rich part co-purchase projection (pairs co-ordered in >= 2
    distinct orders)."""
    li = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .select("l_partkey", "l_orderkey")
        .distinct()
    )
    a = li.select(F.col("l_orderkey").alias("_o"), F.col("l_partkey").alias("src"))
    b = li.select(F.col("l_orderkey").alias("_o"), F.col("l_partkey").alias("dst"))
    pairs = (
        a.join(b, on="_o")
        .filter(F.col("src") < F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") >= 2)
        .select("src", "dst")
    )
    parts = spark.read.parquet(f"{sf_dir}/part.parquet").select(
        F.col("p_partkey").alias("id")
    )
    g = GraphFrame(parts, pairs)
    return g.clusteringCoefficient().select(
        "id",
        F.col("count").alias("n_triangles"),
        F.round("coefficient", 6).alias("coefficient"),
    )


def q_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbors + Adamic-Adar (lib/linkpred.py) on the
    customer-order bipartite: order pairs share exactly their customer,
    so adamic_adar = 1/ln(customer degree) — varied, exactly checkable."""
    g = _customer_order_graph(spark, sf_dir)
    s = g.commonNeighborScores(includeJaccard=True)
    return s.select(
        "id_a",
        "id_b",
        "common_neighbors",
        F.round("adamic_adar", 6).alias("adamic_adar"),
        F.round("jaccard", 6).alias("jaccard"),
    )


def q_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS (lib/hits.py) on the supplier→part bipartite from lineitem;
    2 iterations, matched by a fully-unrolled DuckDB oracle. Parts get
    offset long ids (same trick as pg_copurchase) — 8-byte join keys
    beat prefixed strings on every shuffle."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    e = li.select(
        F.col("l_suppkey").cast("long").alias("src"),
        (F.col("l_partkey").cast("long") + F.lit(ORDER_OFFSET)).alias("dst"),
    ).distinct()
    supp = spark.read.parquet(f"{sf_dir}/supplier.parquet").select(
        F.col("s_suppkey").cast("long").alias("id")
    )
    part = spark.read.parquet(f"{sf_dir}/part.parquet").select(
        (F.col("p_partkey").cast("long") + F.lit(ORDER_OFFSET)).alias("id")
    )
    g = GraphFrame(supp.unionByName(part), e)
    res = g.hits(maxIter=2)
    return res.select(
        "id",
        F.round("hub", 6).alias("hub"),
        F.round("authority", 6).alias("authority"),
    )


def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = _events_chain_graph(spark, sf_dir)
    return g.labelPropagation(maxIter=3).select("id", "label")


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = _customer_order_graph(spark, sf_dir)
    pr = g.pageRank(resetProbability=0.15, maxIter=10)
    return pr.vertices.select(
        F.col("id"), F.round(F.col("pagerank"), 10).alias("pagerank")
    )


def q_pagerank_personalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    src = customer.agg(F.min("c_custkey")).collect()[0][0]
    g = _customer_order_graph(spark, sf_dir)
    pr = g.pageRank(resetProbability=0.15, sourceId=int(src), maxIter=3)
    return pr.vertices.select(
        F.col("id"), F.round(F.col("pagerank"), 10).alias("pagerank")
    )


def q_pagerank_tol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tolerance-mode PageRank on the regular nation cliques: the uniform
    1/N vector is the fixed point, so convergence is immediate and the
    closed-form oracle applies."""
    g = _nation_graph(spark, sf_dir)
    pr = g.pageRank(resetProbability=0.15, tol=1e-6)
    return pr.vertices.select(
        F.col("id"), F.round(F.col("pagerank"), 10).alias("pagerank")
    )


def q_pagerank_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank (weightCol=o_totalprice) on the customer-order
    bipartite graph, maxIter=2: customers have no in-edges so their rank
    settles at alpha/n after one superstep and the order ranks after two
    are a closed form over the per-customer price shares."""
    g = _customer_order_graph(spark, sf_dir)
    pr = g.pageRank(maxIter=2, weightCol="o_totalprice")
    return pr.vertices.select("id", F.round("pagerank", 10).alias("pagerank"))


def q_aggregate_messages(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphframes_spark.lib.aggregate_messages import AggregateMessages as AM

    g = _customer_order_graph(spark, sf_dir)
    agg = g.aggregateMessages(
        F.sum(AM.msg).alias("total_spent"),
        sendToSrc=AM.edge["o_totalprice"].cast("decimal(18,2)"),
    )
    return agg.select("id", F.col("total_spent").cast("double").alias("total_spent"))


def q_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _read_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select("event_id", "user_id", F.row_number().over(w).alias("rn"))
    min_user = events.agg(F.min("user_id")).collect()[0][0]
    user_seq = seq.filter(F.col("user_id") == min_user)
    start = user_seq.filter(F.col("rn") == 1).collect()[0]["event_id"]
    target = user_seq.filter(F.col("rn") == 4).collect()[0]["event_id"]
    g = _events_chain_graph(spark, sf_dir)
    paths = g.bfs(f"id = {start}", f"id = {target}", maxPathLength=5)
    return paths.select(
        F.col("from")["id"].alias("from_id"),
        F.col("v1")["id"].alias("v1_id"),
        F.col("v2")["id"].alias("v2_id"),
        F.col("to")["id"].alias("to_id"),
    )


# ------------------------------------------------- round-2 graph queries


def q_filter_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = _nation_graph(spark, sf_dir)
    return g.filterEdges("src < dst").edges.select("src", "dst")


def q_drop_isolated(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = _customer_order_graph(spark, sf_dir)
    sub = g.filterEdges("o_totalprice > 200000").dropIsolatedVertices()
    return sub.vertices.select("id")


def q_as_undirected_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = _events_chain_graph(spark, sf_dir)
    und = g.asUndirected()
    return und.outDegrees.select(
        F.col("id"), F.col("outDegree").alias("degree")
    )


def q_as_reversed(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = _customer_order_graph(spark, sf_dir)
    rev = g.asReversed()
    return rev.outDegrees.select(F.col("id"), F.col("outDegree").alias("n"))


def q_type_in_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    # order -> customer edges typed by status
    e = orders.select(
        (F.col("o_orderkey") + ORDER_OFFSET).alias("src"),
        F.col("o_custkey").alias("dst"),
        F.col("o_orderstatus"),
    )
    v = customer.select(F.col("c_custkey").alias("id")).unionByName(
        e.select(F.col("src").alias("id"))
    )
    g = GraphFrame(v, e)
    td = g.typeInDegree("o_orderstatus", ["F", "O", "P"])
    return td.select(
        F.col("id"),
        F.col("inDegrees")["F"].alias("deg_f"),
        F.col("inDegrees")["O"].alias("deg_o"),
        F.col("inDegrees")["P"].alias("deg_p"),
    )


def q_type_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    e = orders.select(
        F.col("o_custkey").alias("src"),
        (F.col("o_orderkey") + ORDER_OFFSET).alias("dst"),
        F.col("o_orderstatus"),
    )
    v = customer.select(F.col("c_custkey").alias("id")).unionByName(
        e.select(F.col("dst").alias("id"))
    )
    g = GraphFrame(v, e)
    td = g.typeDegree("o_orderstatus", ["F", "O", "P"])
    return td.select(
        F.col("id"),
        F.col("degrees")["F"].alias("deg_f"),
        F.col("degrees")["O"].alias("deg_o"),
        F.col("degrees")["P"].alias("deg_p"),
    )


def q_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    srcs = [r[0] for r in customer.select("c_custkey").orderBy("c_custkey").limit(2).collect()]
    g = _customer_order_graph(spark, sf_dir)
    res = g.parallelPersonalizedPageRank(
        resetProbability=0.15, sourceIds=srcs, maxIter=3
    )
    return res.vertices.select(
        F.col("id"),
        F.round(F.element_at("pageranks", 1), 10).alias("ppr1"),
        F.round(F.element_at("pageranks", 2), 10).alias("ppr2"),
    )


def q_pregel_indegree(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphframes_spark.pregel import Pregel

    g = _nation_graph(spark, sf_dir)
    res = (
        g.pregel.setMaxIter(1)
        .withVertexColumn(
            "cnt",
            F.lit(0).cast("long"),
            F.coalesce(Pregel.msg(), F.lit(0).cast("long")),
        )
        .sendMsgToDst(F.lit(1).cast("long"))
        .aggMsgs(F.sum(Pregel.msg()))
        .run()
    )
    return res.select("id", "cnt")


def q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = _nation_canon_graph(spark, sf_dir)
    return g.kCore().select("id", "kcore")


def q_scc(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = _user_cycles_graph(spark, sf_dir)
    return g.stronglyConnectedComponents(maxIter=10).select("id", "component")


def q_cycles(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = _user_cycles_graph(spark, sf_dir)
    cycles = g.detectingCycles()
    return cycles.select(
        F.element_at("found_cycles", 1).alias("cycle_id"),
        F.posexplode("found_cycles").alias("pos", "event_id"),
    )


def q_lpa_clique(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = _nation_graph(spark, sf_dir)
    return g.labelPropagation(maxIter=3).select("id", "label")


def q_cc_clique(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = _nation_graph(spark, sf_dir)
    return g.connectedComponents().select("id", "component")


def q_cc_string_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    v = customer.select(F.concat(F.lit("c"), F.col("c_custkey")).alias("id")).unionByName(
        orders.select(F.concat(F.lit("o"), F.col("o_orderkey")).alias("id"))
    )
    e = orders.select(
        F.concat(F.lit("c"), F.col("o_custkey")).alias("src"),
        F.concat(F.lit("o"), F.col("o_orderkey")).alias("dst"),
    )
    g = GraphFrame(v, e)
    return g.connectedComponents(useLabelsAsComponents=True).select("id", "component")


def q_pagerank_clique(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = _nation_graph(spark, sf_dir)
    pr = g.pageRank(resetProbability=0.15, maxIter=5)
    return pr.vertices.select(
        F.col("id"), F.round(F.col("pagerank"), 10).alias("pagerank")
    )


# ---------------------------------------------------- datapipe queries


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def q_dp_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphframes_spark.datapipe import exact_dedup

    return exact_dedup(_docs(spark, sf_dir), ["lang", "n_chars"], "doc_id").select(
        F.col("doc_id"), F.col("canonical_id"), F.col("group_size")
    )


def q_dp_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphframes_spark.datapipe import token_count, token_count_bpe

    d = _docs(spark, sf_dir)
    return d.select(
        F.col("doc_id"),
        token_count(F.col("text")).alias("n_ws_tokens"),
        token_count_bpe(F.col("text")).alias("n_bpe_tokens"),
    )


def q_dp_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphframes_spark.datapipe import with_quality_scores

    d = with_quality_scores(_docs(spark, sf_dir))
    return d.select(
        F.col("doc_id"),
        F.col("n_tokens"),
        F.round("avg_token_len", 6).alias("avg_token_len"),
        F.round("punct_ratio", 6).alias("punct_ratio"),
        F.round("stopword_ratio", 6).alias("stopword_ratio"),
        F.col("keep"),
    )


def q_dp_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphframes_spark.datapipe import language_id

    return _docs(spark, sf_dir).select(
        F.col("doc_id"), language_id(F.col("text")).alias("lang_pred")
    )


def q_dp_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphframes_spark.datapipe import fingerprint, minhash_fingerprint

    return _docs(spark, sf_dir).select(
        F.col("doc_id"),
        fingerprint(F.col("text")).alias("fp"),
        minhash_fingerprint(F.col("text")).alias("minfp"),
    )


def q_dp_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphframes_spark.datapipe import minhash_lsh_dedup

    return minhash_lsh_dedup(
        _docs(spark, sf_dir),
        id_col="doc_id",
        text_col="text",
        shingle_len=3,
        num_perm=NUM_PERM,
        num_bands=NUM_BANDS,
        threshold=JACCARD_T,
    ).select(F.col("id").alias("doc_id"), F.col("component"))


def q_dp_ngram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphframes_spark.datapipe import ngram_jaccard_pairs

    return ngram_jaccard_pairs(
        _docs(spark, sf_dir), id_col="doc_id", text_col="text", n=3, threshold=JACCARD_T
    ).select("id_a", "id_b")


def q_dp_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphframes_spark.datapipe import simhash_pairs

    return simhash_pairs(
        _docs(spark, sf_dir), id_col="doc_id", text_col="text", max_hamming=HAMMING_T
    ).select("id_a", "id_b")


def q_dp_embedding_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphframes_spark.datapipe import embedding_cosine_pairs

    return embedding_cosine_pairs(
        _emb(spark, sf_dir), id_col="vec_id", vec_col="embedding", threshold=COSINE_T
    ).select("id_a", "id_b")


def q_dp_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphframes_spark.datapipe import brute_force_topk

    emb = _emb(spark, sf_dir)
    return brute_force_topk(
        emb, emb.filter("vec_id < 10"), k=5, id_col="vec_id", vec_col="embedding"
    ).select("query_id", "neighbor_id", "rank")


def q_dp_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphframes_spark.datapipe import with_binary

    d = with_binary(_docs(spark, sf_dir), "text")
    return d.select(
        F.col("doc_id"),
        F.col("meta")["byte_len"].alias("byte_len"),
        F.col("meta")["sha256"].alias("sha256"),
    )


def q_dp_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document duplicate-2-gram fraction (Gopher-style repetition
    filter signal); pure per-row column algebra, zero shuffles."""
    from graphframes_spark.datapipe import repetition_stats

    out = repetition_stats(_docs(spark, sf_dir), id_col="doc_id", n=2)
    return out.select(
        "doc_id",
        "n_ngrams",
        "n_distinct_ngrams",
        F.round(F.col("dup_ngram_frac"), 6).alias("dup_frac"),
    )


def q_dp_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-normalization pre-pass (lower / collapse non-alnum / trim)
    plus its md5 — a codegen-resident narrow transform whose oracle is
    the same regex replayed by DuckDB's RE2."""
    from graphframes_spark.datapipe import normalize_text

    d = _docs(spark, sf_dir)
    norm = normalize_text(F.col("text"))
    return d.select("doc_id", norm.alias("normalized"), F.md5(norm).alias("norm_md5"))


def q_dp_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub audit: redacted text + per-document email/IP/phone
    match counts (zero on this synthetic corpus — the oracle verifies
    the full regex pipeline end-to-end; crafted-PII behavior is covered
    in tests/test_datapipe.py)."""
    from graphframes_spark.datapipe import redact_pii

    return redact_pii(_docs(spark, sf_dir))


def q_dp_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 TF-IDF terms per document: explode + two hash aggs + a
    vocabulary join + per-doc top-k window; scores rounded before
    ranking so the (score DESC, term ASC) order is engine-stable."""
    from graphframes_spark.datapipe import tfidf_top_terms

    return tfidf_top_terms(_docs(spark, sf_dir), k=5)


def q_dp_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 98/1/1 train/val/test assignment keyed on doc_id
    (datapipe/sampling.py split_corpus): the seeded-md5 threshold chain
    is replayed verbatim by the oracle, so membership is bit-stable
    across engines and reruns."""
    from graphframes_spark.datapipe import split_corpus

    return split_corpus(_docs(spark, sf_dir), "doc_id", seed="r4").select(
        "doc_id", "split"
    )


def q_dp_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-best duplicate resolution over exact-content groups: one row
    per md5 fingerprint survives (longest text, ties to smallest id)."""
    from graphframes_spark.datapipe import dedup_keep_best, fingerprint

    d = _docs(spark, sf_dir).withColumn("fp", fingerprint(F.col("text")))
    return dedup_keep_best(d, "fp", "n_chars", "doc_id").select(
        "doc_id", "fp", "keep"
    )


def q_dp_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/benchmark n-gram decontamination: documents sharing >= 2
    distinct 3-grams with the doc_id % 10 == 0 slice (the stand-in
    benchmark set); inverted-index join, never all-pairs."""
    from graphframes_spark.datapipe import ngram_overlap

    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % 10 == 0)
    return ngram_overlap(
        docs, bench, n=3, min_shared=2
    ).select(F.col("doc_id"), F.col("ref_doc_id"), F.col("n_shared"))


def q_dp_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window token chunking (64-token windows, 16-token overlap)
    over the document corpus — the context-window prep step of an LLM
    training pipeline (datapipe/text.py chunk_documents). Pure narrow
    posexplode+slice transform, no shuffle."""
    from graphframes_spark.datapipe import chunk_documents

    return chunk_documents(_docs(spark, sf_dir), size=64, overlap=16)


def q_dp_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization of the events stream (1-hour activity gap) —
    the deterministic twin of the applyInPandasWithState streaming
    operator (datapipe/streaming.py stream_sessionize)."""
    from graphframes_spark.datapipe import sessionize_batch

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    return sessionize_batch(events, gap_seconds=3600).select(
        "user_id",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias(
            "session_start"
        ),
        F.date_format("session_end", "yyyy-MM-dd HH:mm:ss").alias(
            "session_end"
        ),
        "n_events",
    )


def q_dp_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic language-balanced sample: 20 docs per lang via the
    two-level md5-rank tournament (datapipe/sampling.py balanced_sample);
    the salt changes the plan, never the rows, so the salted Spark run
    must hash-match the single-window DuckDB oracle."""
    from graphframes_spark.datapipe import balanced_sample

    return balanced_sample(
        _docs(spark, sf_dir), "lang", 20, "doc_id", seed="r4", salt=8
    ).select("doc_id", "lang", "source")


def q_dp_source_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(source, lang) corpus health rollup: volume, mean token count,
    quality keep-rate, exact-duplicate rate (datapipe/sampling.py
    source_rollup)."""
    from graphframes_spark.datapipe import source_rollup

    r = source_rollup(_docs(spark, sf_dir))
    return r.select(
        "source",
        "lang",
        "n_docs",
        F.round("avg_tokens", 6).alias("avg_tokens"),
        F.round("keep_rate", 6).alias("keep_rate"),
        "n_unique",
        F.round("dup_rate", 6).alias("dup_rate"),
    )


def q_dp_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source size-distribution profile: exact interpolated
    percentiles of token count and char length (datapipe/sampling.py
    corpus_profile); DuckDB replays them with quantile_cont."""
    from graphframes_spark.datapipe import corpus_profile

    prof = corpus_profile(_docs(spark, sf_dir))
    keep = [c for c in prof.columns if c not in ("source", "n_docs")]
    return prof.select(
        "source", "n_docs", *[F.round(F.col(c), 6).alias(c) for c in keep]
    )


def q_dp_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (datapipe/text.py pack_documents): 4 sharded
    token streams chopped every 256 tokens; the md5 order, shard hash,
    and cumulative-sum window replay verbatim."""
    from graphframes_spark.datapipe import pack_documents

    out = pack_documents(
        _docs(spark, sf_dir), max_tokens=256, num_shards=4, seed="pack"
    )
    return out.select(
        "doc_id", "shard", "bin", "bin_pos", "n_tokens", "straddles"
    )


def q_dp_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-call dedup capstone in exact mode: normalized-content
    fingerprint groups + keep-the-longest resolution (datapipe/dedup.py
    dedup_corpus); fingerprint, token quality, and the keep window all
    replay in SQL."""
    from graphframes_spark.datapipe import dedup_corpus

    out = dedup_corpus(_docs(spark, sf_dir), method="exact")
    return out.select("doc_id", "dedup_group", "keep")


def q_dp_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-frequent segment removal (datapipe/text.py
    remove_boilerplate) in token mode (delimiter=' '): tokens present in
    >= 50% of documents are stripped — corpus-adaptive stopword removal.
    The oracle replays split/threshold/rebuild with string_agg."""
    from graphframes_spark.datapipe import remove_boilerplate

    out = remove_boilerplate(
        _docs(spark, sf_dir), delimiter=" ", min_doc_frac=0.5, min_doc_count=2
    )
    return out.select("doc_id", "text", "n_segments", "n_removed")


def q_dp_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate hyperplane-LSH ANN, FULL-OUTPUT oracled (round 8 —
    previously rows-only): the sketch now uses the portable LCG plane
    scheme, so DuckDB re-derives the 4-plane sign buckets bit-for-bit
    and replays the bucket join + exact cosine rerank — recall < 1 is
    fine because the oracle reproduces the same approximation, not the
    brute-force answer."""
    from graphframes_spark.datapipe import lsh_topk

    emb = _emb(spark, sf_dir)
    return lsh_topk(
        emb, emb.filter("vec_id < 10"), k=5, num_planes=4,
        id_col="vec_id", vec_col="embedding",
    ).select("query_id", "neighbor_id", "rank")


def q_dp_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN, deterministic quantizer (round 8, retired from rows-only):
    the coarse codebook is the 8 corpus rows with smallest md5(vec_id)
    (hash-seeded medoids, zero Lloyd rounds), assignment is max-cosine
    with cell-index tie-break — every stage is relational, so the full
    probe+rerank pipeline replays in SQL."""
    from graphframes_spark.datapipe import ivf_topk

    emb = _emb(spark, sf_dir)
    return ivf_topk(
        emb, emb.filter("vec_id < 10"), k=5, num_cells=8, nprobe=3,
        id_col="vec_id", vec_col="embedding", deterministic=True,
    ).select("query_id", "neighbor_id", "rank")


def q_dp_lsh_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """num_planes=0 puts the whole corpus in one bucket, degenerating LSH
    to exact top-k — hash-verifies the sketch/bucket-join/rerank machinery
    against the brute-force oracle."""
    from graphframes_spark.datapipe import lsh_topk

    emb = _emb(spark, sf_dir)
    return lsh_topk(
        emb, emb.filter("vec_id < 10"), k=5, num_planes=0,
        id_col="vec_id", vec_col="embedding",
    ).select("query_id", "neighbor_id", "rank")


def q_dp_ivf_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nprobe == num_cells probes every cell, degenerating IVF to exact
    top-k — hash-verifies the quantize/probe/rerank machinery."""
    from graphframes_spark.datapipe import ivf_topk

    emb = _emb(spark, sf_dir)
    return ivf_topk(
        emb, emb.filter("vec_id < 10"), k=5, num_cells=4, nprobe=4,
        id_col="vec_id", vec_col="embedding",
    ).select("query_id", "neighbor_id", "rank")


def q_dp_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas decode plumbing. The deterministic fake decoder is a
    16-bin byte histogram and the documents are pure ASCII, so the whole
    path — encode, Arrow batch transfer, Python decode, re-round — has an
    exact DuckDB oracle (char-code histogram)."""
    from graphframes_spark.datapipe import extract_features, with_binary

    d = with_binary(_docs(spark, sf_dir), "text")
    feats = extract_features(d, id_col="doc_id")
    return feats.select(
        F.col("doc_id"),
        F.round(F.element_at("features", 1), 6).alias("f0"),
        F.round(F.element_at("features", 2), 6).alias("f1"),
    )


def q_triangle_count_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch triangle count; on K5 cliques (degree 4 << 2^12
    nominal entries) the sketches are exact, so the exact oracle applies."""
    g = _nation_graph(spark, sf_dir)
    return g.triangleCount(algorithm="approx").select(
        F.col("id"), F.col("count").alias("n_triangles")
    )


def q_aggregate_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = _nation_graph(spark, sf_dir)
    res = g.aggregate_neighbors(
        starting_vertices=F.col("id") == 0,
        max_hops=2,
        accumulator_names=["n_hops"],
        accumulator_inits=[F.lit(0)],
        accumulator_updates=[F.col("n_hops") + F.lit(1)],
        stopping_condition=F.col("n_hops") + F.lit(1) >= F.lit(2),
    )
    return res.select("id", "hop", "n_hops")


def q_svdpp_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SVD++ on the customer-order bipartite rating graph. Latent factors
    are hash-initialized (not SQL-replicable), but the implicit-feedback
    norm column4 = |N(v)|^-0.5 is deterministic — oracle checks it."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    v = customer.select(F.col("c_custkey").alias("id")).unionByName(
        orders.select((F.col("o_orderkey") + ORDER_OFFSET).alias("id"))
    )
    e = orders.select(
        F.col("o_custkey").alias("src"),
        (F.col("o_orderkey") + ORDER_OFFSET).alias("dst"),
        (F.col("o_totalprice") / 100000.0).alias("weight"),
    )
    df, _loss = GraphFrame(v, e).svdPlusPlus(rank=4, maxIter=1)
    return df.select(F.col("id"), F.round("column4", 8).alias("norm"))


def q_pic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic PIC (round 8): orders of every 100th customer form
    disjoint cliques of varying sizes. The degree-normalized vector is
    the exact fixed point of the Lin-Cohen power iteration on disjoint
    cliques, so the 1-D embedding — and therefore the gap-cut cluster
    assignment — has a closed-form oracle: emb(v) = (s-1)/Σ(s-1) for
    clique size s, clusters = ascending size-bands split at the k-1
    largest embedding gaps."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    sel = orders.filter(F.col("o_custkey") % 100 == 0).select(
        F.col("o_orderkey").cast("long").alias("id"),
        F.col("o_custkey").alias("ck"),
    )
    siz = sel.groupBy("ck").agg(F.count("*").alias("s")).filter(F.col("s") >= 2)
    verts = sel.join(siz, on="ck")
    e = (
        verts.select(F.col("id").alias("src"), F.col("ck"))
        .join(verts.select(F.col("id").alias("dst"), F.col("ck")), on="ck")
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
    )
    g = GraphFrame(verts.select("id"), e)
    a = g.powerIterationClustering(k=3, maxIter=8, deterministic=True)
    return a.select("id", "cluster")


def q_pic_regions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIC labels are init-dependent; normalizing each cluster to its min
    member id makes the output deterministic. On 5 disconnected nation
    cliques PIC recovers the regions for any init (verified across
    partitionings), so the normalized assignment has an exact oracle."""
    g = _nation_graph(spark, sf_dir)
    a = g.powerIterationClustering(k=5, maxIter=20)
    reps = a.groupBy("cluster").agg(F.min("id").alias("cluster_rep"))
    return a.join(F.broadcast(reps), "cluster").select("id", "cluster_rep")


def _supplier_nation_pg(spark: SparkSession, sf_dir: str):
    from graphframes_spark.propertygraph import (
        EdgePropertyGroup,
        PropertyGraphFrame,
        VertexPropertyGroup,
    )

    supplier = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    suppliers = VertexPropertyGroup("suppliers", supplier, "s_suppkey")
    nations = VertexPropertyGroup("nations", nation, "n_nationkey")
    in_nation = EdgePropertyGroup(
        "in_nation",
        supplier.select("s_suppkey", "s_nationkey").withColumn("w", F.lit(1.0)),
        suppliers,
        nations,
        True,
        "s_suppkey",
        "s_nationkey",
        "w",
    )
    return PropertyGraphFrame([suppliers, nations], [in_nation])


def q_pg_unify(spark: SparkSession, sf_dir: str) -> DataFrame:
    pg = _supplier_nation_pg(spark, sf_dir)
    g = pg.to_graph_frame(["suppliers", "nations"], ["in_nation"])
    return g.vertices.select("id", "property_group").unionByName(
        g.edges.select(
            F.col("src").alias("id"), F.lit("_edge_src").alias("property_group")
        )
    )


def q_pg_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    pg = _supplier_nation_pg(spark, sf_dir)
    projected = pg.projection_by("suppliers", "nations", "in_nation")
    eg = projected.edge_property_groups[-1]
    return eg.data.select(
        F.col("src").alias("s1"), F.col("dst").alias("s2"), F.col("weight")
    )


def q_pg_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket projection at data scale: the lineitem bipartite
    graph (the largest table) projected onto parts via projectionBy,
    keeping part pairs co-purchased in >= 2 distinct orders. Scale
    posture: the projection is a self-equi-join keyed on order id (AQE
    splits hot orders), the count is a partial-aggregatable groupBy."""
    from graphframes_spark.propertygraph import (
        EdgePropertyGroup,
        PropertyGraphFrame,
        VertexPropertyGroup,
    )

    li = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .select("l_partkey", "l_orderkey")
        .distinct()
        .withColumn("w", F.lit(1.0))
    )
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    parts_g = VertexPropertyGroup("parts", part, "p_partkey")
    orders_g = VertexPropertyGroup("orders", orders, "o_orderkey")
    bought = EdgePropertyGroup(
        "bought", li, parts_g, orders_g, True, "l_partkey", "l_orderkey", "w"
    )
    pg = PropertyGraphFrame([parts_g, orders_g], [bought])
    projected = pg.projection_by("parts", "orders", "bought")
    eg = projected.edge_property_groups[-1]
    return (
        eg.data.groupBy(
            F.col("src").alias("part_a"), F.col("dst").alias("part_b")
        )
        .agg(F.count("*").alias("n_orders"))
        .filter(F.col("n_orders") >= 2)
    )


def q_pg_join_vertices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """joinVertices back-mapping: run degrees on the unified supplier-
    nation graph, then map masked internal ids back to per-group external
    keys (PropertyGraphFrame.scala:169-189). Degrees are deterministic,
    so the sha2-mask roundtrip has an exact SQL oracle."""
    pg = _supplier_nation_pg(spark, sf_dir)
    g = pg.to_graph_frame(["suppliers", "nations"], ["in_nation"])
    vdata = g.vertices.join(g.degrees, "id", "left")
    out = pg.join_vertices(vdata, ["suppliers", "nations"])
    return out.select(
        F.col("external_id").cast("long").alias("external_id"),
        "property_group",
        F.coalesce(F.col("degree"), F.lit(0)).cast("int").alias("degree"),
    )


def q_kmin_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-min neighbor sampling (rw.sampled_neighbors): the xxhash64
    ranking is engine-specific, but the sample *shape* is exact — every
    vertex draws min(k, degree) distinct, genuine out-neighbors. Those
    invariants are the oracle (mirrors the mis_regions pattern)."""
    from graphframes_spark.rw import NBRS_COL, sampled_neighbors

    g = _nation_graph(spark, sf_dir)
    s = sampled_neighbors(g.edges, max_nbrs=3, seed=7, use_edge_direction=True)
    ex = s.select(F.col("id"), F.explode(F.col(NBRS_COL)).alias("nbr"))
    true_e = (
        g.edges.select(F.col("src").alias("id"), F.col("dst").alias("nbr"))
        .distinct()
        .withColumn("_t", F.lit(1))
    )
    return (
        ex.join(true_e, ["id", "nbr"], "left")
        .groupBy(F.col("id").cast("long").alias("id"))
        .agg(
            F.count("*").alias("n_sampled"),
            F.count("_t").alias("n_valid"),
            F.countDistinct("nbr").alias("n_distinct"),
        )
    )


def q_mis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL-OUTPUT oracle for the MIS engine (lib/mis.py, md5 nomination
    draws): on a perfect matching over customers (edges (2k-1, 2k)) the
    marking probability provably stays 1/2 every round (effective degree
    = partner's 1/2 < 2, and 2p > 1/2 caps), so the Ghaffari dynamics
    reduce to: the pair settles
    at the first round where exactly one endpoint's md5 draw nominates,
    and that nominator joins the MIS — closed-form in SQL over the same
    md5 primitive. This exercises the real iterative engine (nomination,
    neighbor veto, isolated-join, arena removal, per-round checkpoints)
    with every draw replayed bit-for-bit by DuckDB; q_mis_regions keeps
    the seed-independent invariant oracle on the clique graph."""
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    v = customer.select(F.col("c_custkey").cast("long").alias("id"))
    e = (
        v.filter(F.col("id") % 2 == 1)
        .select(F.col("id").alias("src"))
        .join(v.select(F.col("id").alias("dst")), F.col("src") + 1 == F.col("dst"))
    )
    g = GraphFrame(v, e)
    return g.maximalIndependentSet(seed=7, maxIter=64).select("id")


def q_mis_regions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact oracle for MIS despite the randomized algorithm: on the
    5-clique nation graph independence allows at most one member per
    clique and maximality forces at least one, so every region selects
    exactly one nation for any seed."""
    g = _nation_canon_graph(spark, sf_dir)
    mis = g.maximalIndependentSet(seed=42).select("id")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet").select(
        F.col("n_nationkey").alias("id"), F.col("n_regionkey").alias("region")
    )
    return (
        mis.join(F.broadcast(nation), "id")
        .groupBy("region")
        .agg(F.count("*").alias("n_selected"))
    )


def q_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL-TRACE oracle on a GENERAL graph (round 8 — previously
    rows-only): ``setDrawHash("md5")`` makes every restart draw, every
    neighbor-index draw, and the k-min neighbor ranking itself a pure
    md5 function DuckDB computes identically, so the oracle re-derives
    all 50 six-element walk traces on the nation clique graph —
    restarts (p=0.1), per-batch neighbor re-sampling, batch spill and
    cross-batch concatenation included. The rand()/shuffle() default
    stays rows-only by design (pytest-covered); ``random_walks_det``
    keeps the forced-graph oracle for the xxhash64 deterministic mode."""
    import shutil
    import tempfile

    from graphframes_spark.rw import RandomWalkWithRestart

    g = _nation_graph(spark, sf_dir)
    rw = (
        RandomWalkWithRestart()
        .onGraph(g)
        .setNumWalksPerNode(2)
        .setBatchSize(3)
        .setNumBatches(2)
        .setGlobalSeed(42)
        .setDeterministic(True)
        .setDrawHash("md5")
        .setTemporaryPrefix(tempfile.mkdtemp(prefix="gfs_rw_"))
    )
    walks = rw.run()
    result = walks.select(
        F.col("random_walk_uuid").alias("walk_id"),
        F.concat_ws(" ", F.col("random_walk").cast("array<string>")).alias("walk"),
    ).localCheckpoint(eager=True)
    shutil.rmtree(rw._temporary_prefix, ignore_errors=True)
    return result


def q_random_walk_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Walk values are seeded-random, but walk *shape* is deterministic:
    every nation starts exactly 2 walks of length 6 (start + batch_size *
    num_batches - 1 hops), and a walk never leaves the start's
    region-clique (hops go to neighbors, restarts return to the start) —
    exact-oracle-able invariants even though visited ids are not."""
    import tempfile

    from graphframes_spark.rw import RandomWalkWithRestart

    g = _nation_graph(spark, sf_dir)
    rw = (
        RandomWalkWithRestart()
        .onGraph(g)
        .setNumWalksPerNode(2)
        .setBatchSize(3)
        .setNumBatches(2)
        .setGlobalSeed(42)
        .setTemporaryPrefix(tempfile.mkdtemp(prefix="gfs_rw_"))
    )
    walks = rw.run()
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    w = walks.select(
        F.element_at("random_walk", 1).alias("start_id"),
        F.size("random_walk").alias("walk_len"),
        F.col("random_walk"),
    )
    stats = w.groupBy("start_id").agg(
        F.count("*").alias("n_walks"),
        F.min("walk_len").alias("min_len"),
        F.max("walk_len").alias("max_len"),
    )
    start_r = nation.select(
        F.col("n_nationkey").alias("start_id"), F.col("n_regionkey").alias("_sr")
    )
    elem_r = nation.select(
        F.col("n_nationkey").alias("elem"), F.col("n_regionkey").alias("_er")
    )
    off = (
        w.select("start_id", F.explode("random_walk").alias("elem"))
        .join(F.broadcast(start_r), "start_id")
        .join(F.broadcast(elem_r), "elem")
        .filter(F.col("_sr") != F.col("_er"))
        .groupBy("start_id")
        .agg(F.count("*").alias("off_clique"))
    )
    return stats.join(off, "start_id", "left").select(
        "start_id",
        "n_walks",
        "min_len",
        "max_len",
        F.coalesce(F.col("off_clique"), F.lit(0).cast("long")).alias("off_clique"),
    )


def q_sampling_convolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL-OUTPUT oracle for the SAMPLED convolution path (round 8 —
    previously rows-only): ``rank_hash="md5"`` makes the k-min neighbor
    selection a pure function both engines compute identically, so the
    mean-of-3-sampled-neighbors values (which encode WHICH 3 of the 4
    clique neighbors were drawn) hash-match against DuckDB replaying the
    same md5 ranking. The xxhash64 default stays pytest-covered and
    ``sampling_convolution_full`` keeps the k>=degree degeneration."""
    from graphframes_spark.embeddings import sampling_convolution

    g = _nation_graph(spark, sf_dir)
    emb = g.vertices.select(
        F.col("id"),
        F.array(F.col("id").cast("double"), (F.col("id") * 2).cast("double")).alias(
            "vector"
        ),
    )
    out = sampling_convolution(g, emb, k=3, seed=7, concat_self=True, rank_hash="md5")
    return out.select(
        "id",
        F.size("vector").alias("dim"),
        F.round(F.element_at("vector", 3), 6).alias("nbr_mean0"),
        F.round(F.element_at("vector", 4), 6).alias("nbr_mean1"),
    )


def q_sampling_convolution_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-neighborhood convolution: k >= max degree makes the k-min
    sample deterministic (= all neighbors), so the mean-of-neighbors +
    concat-self output has an exact SQL oracle."""
    from graphframes_spark.embeddings import sampling_convolution

    g = _nation_graph(spark, sf_dir)
    emb = g.vertices.select(
        F.col("id"),
        F.array(F.col("id").cast("double"), (F.col("id") * 2).cast("double")).alias(
            "vector"
        ),
    )
    out = sampling_convolution(g, emb, k=16, seed=7, concat_self=True)
    return out.select(
        "id",
        F.round(F.element_at("vector", 3), 6).alias("nbr_mean0"),
        F.round(F.element_at("vector", 4), 6).alias("nbr_mean1"),
    )


def q_eigenvector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated eigenvector centrality (3 power-iteration supersteps,
    L2-normalized once at the end) on the functional graph c -> c % 97
    + 1 over customers — in-degrees vary with the residue distribution,
    so the walk counts are non-uniform; the oracle recomputes length-3
    walk counts with three cascaded joins and normalizes by the L2
    norm."""
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    v = customer.select(F.col("c_custkey").alias("id"))
    e = customer.select(
        F.col("c_custkey").alias("src"),
        (F.col("c_custkey") % 97 + 1).alias("dst"),
    ).filter(F.col("src") != F.col("dst"))
    g = GraphFrame(v, e)
    return g.eigenvectorCentrality(maxIter=3).select(
        "id", F.round(F.col("eigenvector"), 6).alias("eigenvector")
    )


def q_group_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """groupEdges on the supplier->part multigraph from lineitem (each
    (suppkey, partkey) pair recurs across lineitems): collapse parallel
    edges into count + quantity-sum attributes."""
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    v = (
        lineitem.select(F.col("l_suppkey").alias("id"))
        .unionByName(lineitem.select((F.col("l_partkey") + PART_OFFSET).alias("id")))
        .distinct()
    )
    e = lineitem.select(
        F.col("l_suppkey").alias("src"),
        (F.col("l_partkey") + PART_OFFSET).alias("dst"),
        F.col("l_quantity"),
    )
    g = GraphFrame(v, e).groupEdges(
        F.count(F.lit(1)).alias("n_lineitems"),
        F.round(F.sum("l_quantity"), 6).alias("sum_qty"),
        dropSelfLoops=True,
    )
    return g.edges.select("src", "dst", "n_lineitems", "sum_qty")


def q_triad_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dyad/triad census on the partially-directed nation cliques: keep
    intra-region edge (a, b) when a < b or (a + b) % 3 == 0 — a
    deterministic mix of mutual and one-way dyads with both cyclic and
    transitive triangles."""
    g = _nation_graph(spark, sf_dir)
    g = g.filterEdges((F.col("src") < F.col("dst")) | ((F.col("src") + F.col("dst")) % 3 == 0))
    return g.triadCensus()


def q_dp_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicate 3-token spans over the documents corpus
    (substring-dedup signal, Lee et al. ACL 2022): grams in >= 2
    distinct documents with corpus-wide occurrence counts."""
    from graphframes_spark.datapipe import duplicate_spans

    return duplicate_spans(_docs(spark, sf_dir), n=3, min_docs=2)


def q_dp_word_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary table with Zipf ranks (count >= 2) — the
    tokenizer-training / vocab-pruning input; the oracle replays the
    explode + aggregate + deterministic rank window in SQL."""
    from graphframes_spark.datapipe import word_frequencies

    wf = word_frequencies(_docs(spark, sf_dir), min_count=2)
    return wf.select(
        "token", "count", "rank", F.round("frequency", 9).alias("frequency")
    )


def q_dp_temp_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based mixture sampling (tau = 0.5, target half the
    corpus): per-source keep rates realize the flattened w^tau mix,
    membership decided by seeded md5 over doc_id — the oracle replays
    rates and hash thresholds bit-for-bit."""
    from graphframes_spark.datapipe import temperature_sample

    kept = temperature_sample(
        _docs(spark, sf_dir),
        source_col="source",
        temperature=0.5,
        target_frac=0.5,
        key_col="doc_id",
        seed="mix",
    )
    return kept.select("doc_id", "source")


def q_dp_dup_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicate-span coverage (3-grams shared with >= 1
    other document) — the doc-level dedup-filter signal; the oracle
    replays the gram table, the duplicated-gram HAVING filter, and the
    per-doc rollup."""
    from graphframes_spark.datapipe import dup_span_coverage

    cov = dup_span_coverage(_docs(spark, sf_dir), n=3, min_docs=2)
    return cov.select(
        "doc_id",
        "n_grams",
        "n_dup_grams",
        F.round("dup_coverage", 9).alias("dup_coverage"),
    )


def q_dp_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch funnel view -> click -> purchase within 24h per step
    over the events stream (datapipe/funnel.py): per-step user counts;
    the greedy chain (earliest anchor, earliest qualifying successor)
    replays exactly in SQL."""
    from graphframes_spark.datapipe import funnel

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    return funnel(events, ["view", "click", "purchase"], within_seconds=86400)


def q_dp_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-self-trained bigram-LM quality scores (datapipe/text.py
    bigram_lm_scores, add-1 smoothing) — the CCNet-style perplexity
    filter signal; counts, marginals, V and the smoothed log-prob all
    replay in SQL."""
    from graphframes_spark.datapipe import bigram_lm_scores

    return bigram_lm_scores(_docs(spark, sf_dir)).select(
        "doc_id", "n_bigrams", "avg_logp"
    )


def q_belief_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Colored-schedule BP (lib/belief_propagation.py, mirroring the
    reference's BeliefPropagation.scala example) on a deterministic 5x5
    Ising grid — potentials a=((5i+j)%7-3)/2, couplings
    b=0.1+0.02*((i_src+j_dst)%3) — run for 2 iterations (4 color
    steps); the oracle unrolls the same 4 steps as cascaded CTEs."""
    from graphframes_spark.graphframe import GraphFrame
    from graphframes_spark.lib.belief_propagation import belief_propagation

    n = 5
    cells = spark.range(n).select(F.col("id").alias("i")).crossJoin(
        spark.range(n).select(F.col("id").alias("j"))
    )
    v = cells.select(
        F.concat_ws(",", "i", "j").alias("id"),
        (((F.col("i") * n + F.col("j")) % 7 - 3) / 2.0).alias("a"),
        "i",
        "j",
    )
    right = cells.filter(F.col("j") < n - 1).select(
        "i", "j", F.col("i").alias("di"), (F.col("j") + 1).alias("dj")
    )
    down = cells.filter(F.col("i") < n - 1).select(
        "i", "j", (F.col("i") + 1).alias("di"), F.col("j").alias("dj")
    )
    e = (
        right.unionByName(down)
        .select(
            F.concat_ws(",", "i", "j").alias("src"),
            F.concat_ws(",", "di", "dj").alias("dst"),
            (0.1 + 0.02 * ((F.col("i") + F.col("dj")) % 3)).alias("b"),
        )
    )
    out = belief_propagation(GraphFrame(v, e), num_iter=2)
    return out.vertices.select("id", F.round("belief", 6).alias("belief"))


def q_dp_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix over the events stream
    (datapipe/funnel.py retention): cohorts anchored at the Monday of
    each user's first event, 6 periods; counts and rates replay in SQL."""
    from graphframes_spark.datapipe import retention

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = retention(events, periods=6, period_days=7)
    # ISO-string the cohort date so the driver's value hash sees the
    # same canonical form from Spark and DuckDB (DATE round-trips
    # through pandas differently per engine)
    return out.withColumn("cohort", F.date_format("cohort", "yyyy-MM-dd"))


def q_dp_remove_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Surgical substring dedup (datapipe/text.py remove_duplicate_spans):
    rewrite every document with its corpus-duplicated 3-gram spans cut
    out; the oracle replays gram positions, the >= 2-distinct-doc gram
    table, coverage expansion, and the ordered re-join."""
    from graphframes_spark.datapipe import remove_duplicate_spans

    return remove_duplicate_spans(_docs(spark, sf_dir), n=3, min_docs=2)


def q_dp_bloom_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination behind a broadcast Bloom prefilter
    (datapipe/bloom.py decontaminate): docs sharing >= 2 distinct
    3-grams with the doc_id % 10 == 0 benchmark slice are dropped. The
    Bloom stage is a scan-side candidate filter with no false negatives
    and the survivors re-verify in the exact inverted-index join, so the
    output is bit-identical to the exact-only plan — which is exactly
    what the oracle replays (it knows nothing about the bloom)."""
    from graphframes_spark.datapipe import decontaminate

    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % 10 == 0)
    out = decontaminate(
        docs, bench, n=3, min_shared=2, num_bits=1 << 18, num_hashes=3
    )
    return out.select("doc_id", "lang", "source")


def q_dp_cross_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup (datapipe/dedup.py cross_corpus_dedup,
    exact mode): incoming batch = sources src0-src2, reference corpus =
    everything else; incoming docs whose normalized-content fingerprint
    already exists in the reference are dropped via one anti-join."""
    from graphframes_spark.datapipe import cross_corpus_dedup

    docs = _docs(spark, sf_dir)
    incoming = docs.filter(F.col("source").isin("src0", "src1", "src2"))
    reference = docs.filter(~F.col("source").isin("src0", "src1", "src2"))
    out = cross_corpus_dedup(incoming, reference, method="exact")
    return out.select("doc_id", "source")


def q_svdpp_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full SVD++ output (lib/svdpp.py, mirroring the reference's
    SVDPlusPlus.scala): rank=2, one gradient iteration on the
    customer-order rating graph with md5-based deterministic init. The
    oracle unrolls the entire iteration — init, phase-1 implicit-factor
    fold, per-edge clamped-error gradients, message summation — as
    cascaded CTEs, hash-matching every latent factor, bias, and norm."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    v = customer.select(F.col("c_custkey").alias("id")).unionByName(
        orders.select((F.col("o_orderkey") + ORDER_OFFSET).alias("id"))
    )
    e = orders.select(
        F.col("o_custkey").alias("src"),
        (F.col("o_orderkey") + ORDER_OFFSET).alias("dst"),
        (F.col("o_totalprice") / 100000.0).alias("weight"),
    )
    df, _loss = GraphFrame(v, e).svdPlusPlus(rank=2, maxIter=1)
    return df.select(
        F.col("id"),
        F.round(F.element_at("column1", 1), 7).alias("f0"),
        F.round(F.element_at("column1", 2), 7).alias("f1"),
        F.round(F.element_at("column2", 1), 7).alias("i0"),
        F.round(F.element_at("column2", 2), 7).alias("i1"),
        F.round("column3", 7).alias("bias"),
        F.round("column4", 8).alias("norm"),
    )


def q_hash2vec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash2Vec (embeddings.py hash2vec, mirroring Hash2Vec.scala:48-584)
    on a deterministic walk set: one walk per region — its nation keys in
    ascending order — with dim=8, window=2, constant decay, L2 norm. The
    oracle replays the context windowing, signed accumulation, and
    normalization in SQL; only the 25 per-token (index, sign) hash values
    are precomputed literals (blake2b is not expressible in DuckDB)."""
    from graphframes_spark.embeddings import hash2vec

    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    seqs = nation.groupBy("n_regionkey").agg(
        F.transform(
            F.array_sort(F.collect_list("n_nationkey")),
            lambda x: x.cast("string"),
        ).alias("walk")
    )
    emb = hash2vec(
        seqs,
        seq_col="walk",
        dim=8,
        window=2,
        decay="constant",
        normalize=True,
        index_seed=0,
        sign_seed=1,
    )
    return emb.select(
        F.col("id"), F.posexplode("vector").alias("pos", "val")
    ).select("id", "pos", F.round("val", 9).alias("val"))


def q_dp_stream_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the streaming contamination monitor
    (datapipe/streaming.py stream_contamination_flags): the operator is a
    stateless shingle explode + broadcast-Bloom prefilter + stream-static
    join + per-pair count, so running it on a batch DataFrame is the
    IDENTICAL plan minus the micro-batch scheduler. Bench slice =
    doc_id % 7 == 0; the Bloom stage has no false negatives, so the
    oracle replays only the exact inverted-index semantics."""
    from graphframes_spark.datapipe.bloom import build_bloom
    from graphframes_spark.datapipe.streaming import stream_contamination_flags
    from graphframes_spark.datapipe.text import shingles, tokenize

    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % 7 == 0)
    bloom = build_bloom(
        bench.select(F.explode(shingles(tokenize(F.col("text")), 3)).alias("_sh")),
        "_sh",
        num_bits=1 << 18,
        num_hashes=3,
    )
    return stream_contamination_flags(
        docs, bench, n=3, min_shared=2, bloom=bloom
    ).select("doc_id", "ref_doc_id", "n_shared")


def q_dp_stream_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runs the REAL streaming near-dup candidate filter
    (datapipe/streaming.py stream_near_dup_candidates — per-document
    1-permutation MinHash fingerprint through watermarked
    ``dropDuplicatesWithinWatermark`` first-wins dedup) end-to-end: a
    file-source stream of the documents table drained with an
    availableNow trigger into a memory sink. The projection is the
    deterministic part of the operator's contract — exactly ONE survivor
    per fingerprint group (group count + membership), and the survivor's
    identity wherever the group is a singleton (forced winner). Which
    member wins in a multi-doc group is arrival-order-dependent by
    design (first wins) and stays pytest-verified. Documents shorter
    than 3 tokens share a null fingerprint group, matching the stream's
    null-key dedup behavior."""
    import tempfile
    import uuid

    from graphframes_spark.datapipe.streaming import stream_near_dup_candidates
    from graphframes_spark.datapipe.text import minhash_fingerprint

    # event time offset past epoch 0: a row AT the initial watermark
    # (epoch 0) would be discarded as late by the stateful dedup
    docs = _docs(spark, sf_dir).select(
        "doc_id",
        "text",
        F.timestamp_seconds(F.col("doc_id") + F.lit(1_600_000_000)).alias("ts"),
    )
    src_dir = tempfile.mkdtemp(prefix="dp_stream_near_dup_src_")
    # coalesce(1): a single staged file guarantees the availableNow run
    # drains in ONE micro-batch even if the session caps
    # maxFilesPerTrigger — with multiple micro-batches the watermark
    # could advance between batches and evict dedup state mid-corpus
    docs.coalesce(1).write.mode("overwrite").parquet(src_dir)

    stream = spark.readStream.schema(docs.schema).parquet(src_dir)
    # watermark wider than the full event-time spread (doc_id seconds):
    # even under a multi-batch drain no in-corpus row can be evicted or
    # declared late, keeping the one-survivor-per-group contract exact
    kept_stream = stream_near_dup_candidates(
        stream, ts_col="ts", text_col="text", shingle_len=3,
        watermark_delay="3650 days",
    )
    sink = f"dp_stream_near_dup_{uuid.uuid4().hex[:12]}"
    (
        kept_stream.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    # the drained rows live in the memory sink; the staged source files
    # are no longer referenced by any live plan
    import shutil

    shutil.rmtree(src_dir, ignore_errors=True)

    # fingerprint groups over the full corpus (batch side of the check)
    groups = (
        docs.select(
            F.col("doc_id"), minhash_fingerprint(F.col("text"), 3).alias("minfp")
        )
        .groupBy("minfp")
        .agg(
            F.count("*").alias("group_size"),
            F.min("doc_id").alias("min_doc_id"),
        )
    )
    kept = spark.table(sink).select(
        F.col("doc_id").alias("kept_doc_id"),
        minhash_fingerprint(F.col("text"), 3).alias("minfp"),
    )
    return kept.join(groups, kept["minfp"].eqNullSafe(groups["minfp"])).select(
        groups["minfp"].alias("minfp"),
        F.col("group_size").cast("long").alias("group_size"),
        F.when(F.col("group_size") == 1, F.col("kept_doc_id")).alias(
            "unique_doc_id"
        ),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Registry order is load-bearing: the driver's correctness harness
    verifies the FIRST 50 entries against ``oracle_sql()``.

    Round-9 rotation: the first 50 slots carry every query whose code or
    oracle round 9 touched — dp_simhash_pairs (the scale-safe 96-bit
    default, oracle rewritten to the two-word hamming replay), pic (the
    range-bucketed gap-cut + weight validation), the pagerank family /
    ppr / katz / eigenvector (output-join elision + the case-insensitive
    static-rebase detector), and label_propagation / seeded_lpa /
    lpa_clique (the two-level majority-vote reduction + the Pregel
    setMsgReducer hook) — plus the round-8 oracle additions (mis,
    random_walks, sampling_convolution, dp_lsh_topk, louvain_copurchase,
    dp_ivf_topk) and green back-fills across the operator families, all
    driver-verified in earlier rounds. Cumulative driver evidence after
    round 8: every oracled registry query has at least one driver-green
    row and the rows-only set is EMPTY. Queries past position 50 remain
    runnable, benchmarked, and under pytest + the local oracle selfcheck
    (tools/check_oracles.py — full-registry runs green at sf0.01 and
    sf0.1 under the driver-fidelity dtype-strict comparator).
    """
    return {
        # ---- round-8 window ----
        # (a) oracles new since the round-7 driver window
        "mis": q_mis,
        "random_walks": q_random_walks,
        "sampling_convolution": q_sampling_convolution,
        "dp_lsh_topk": q_dp_lsh_topk,
        "louvain_copurchase": q_louvain_copurchase,
        # (b) code touched round 8 (Pregel checkpoint-cadence retune)
        "katz": q_katz,
        "eigenvector": q_eigenvector,
        "pagerank_tol": q_pagerank_tol,
        "pagerank_personalized": q_pagerank_personalized,
        # round-7 carryovers kept in-window (streaming + skew-CC modes)
        "dp_stream_near_dup": q_dp_stream_near_dup,
        "cc_skew_broadcast": q_cc_skew_broadcast,
        # round 9: oracle rewritten (96-bit default) — must re-verify
        "dp_simhash_pairs": q_dp_simhash_pairs,
        # (c) queries whose runtime code round 8 touched (Pregel superstep
        # join restructure + deterministic PIC + label-propagation engine)
        "pic": q_pic,
        "dp_ivf_topk": q_dp_ivf_topk,
        "seeded_lpa": q_seeded_lpa,
        "lpa_clique": q_lpa_clique,
        # (d) green back-fills across the operator families
        "triplets": q_triplets,
        "motif_two_hop": q_motif_two_hop,
        "motif_negation": q_motif_negation,
        "motif_var_length": q_motif_var_length,
        "filter_vertices": q_filter_vertices,
        "filter_edges": q_filter_edges,
        "drop_isolated": q_drop_isolated,
        "as_undirected_degrees": q_as_undirected_degrees,
        "type_out_degree": q_type_out_degree,
        "type_in_degree": q_type_in_degree,
        "type_degree": q_type_degree,
        "aggregate_messages": q_aggregate_messages,
        "aggregate_neighbors": q_aggregate_neighbors,
        "pregel_indegree": q_pregel_indegree,
        "bfs": q_bfs,
        "connected_components": q_connected_components,
        "scc": q_scc,
        "pagerank": q_pagerank,
        "pagerank_weighted": q_pagerank_weighted,
        "ppr": q_ppr,
        "shortest_paths": q_shortest_paths,
        "sssp": q_sssp,
        "ktruss": q_ktruss,
        "label_propagation": q_label_propagation,
        "triangle_count": q_triangle_count,
        "kcore": q_kcore,
        "cycles": q_cycles,
        "mis_regions": q_mis_regions,
        "pg_unify": q_pg_unify,
        "pg_projection": q_pg_projection,
        "dp_exact_dedup": q_dp_exact_dedup,
        "dp_minhash_dedup": q_dp_minhash_dedup,
        "random_walks_det": q_random_walks_det,
        "cc_incremental": q_cc_incremental,
        "cc_incremental_string": q_cc_incremental_string,
        # ------------- past the driver's 50-entry correctness window:
        # rotated out this round (all driver-green in the r7 window)
        "dp_pack": q_dp_pack,
        "dp_temp_sample": q_dp_temp_sample,
        "dp_word_freq": q_dp_word_freq,
        "dp_dup_coverage": q_dp_dup_coverage,
        "dp_redact": q_dp_redact,
        "dp_lsh_exact": q_dp_lsh_exact,
        "dp_ivf_exact": q_dp_ivf_exact,
        "triangles": q_triangles,
        "describe_graph": q_describe_graph,
        # (dp_ann_topk and dp_token_counts yielded their back-fill slots
        # to the new random_walks_det / cc_incremental oracles; both are
        # driver-green from earlier rounds and stay just below)
        "dp_ann_topk": q_dp_ann_topk,
        "dp_token_counts": q_dp_token_counts,
        # every remaining oracled query below is driver-green in an
        # earlier round's window (code unchanged); seeded rows-only
        # variants are marked in SURVEY §8
        "hits": q_hits,
        "betweenness": q_betweenness,
        "harmonic_centrality": q_harmonic_centrality,
        "hyperball": q_hyperball,
        "effective_diameter": q_effective_diameter,
        "eccentricity": q_eccentricity,
        "clustering_coefficient": q_clustering_coefficient,
        "reciprocity": q_reciprocity,
        "triad_census": q_triad_census,
        "wl_labels": q_wl_labels,
        "belief_propagation": q_belief_propagation,
        "coloring_regions": q_coloring_regions,
        "contract_regions": q_contract_regions,
        "modularity_regions": q_modularity_regions,
        "assortativity": q_assortativity,
        "attr_assortativity": q_attr_assortativity,
        "degree_distribution": q_degree_distribution,
        "link_prediction": q_link_prediction,
        "sample_subgraph": q_sample_subgraph,
        "negative_edges": q_negative_edges,
        "split_edges": q_split_edges,
        "group_edges": q_group_edges,
        "node2vec_chain": q_node2vec_chain,
        "dp_funnel": q_dp_funnel,
        "dp_retention": q_dp_retention,
        "dp_lm_score": q_dp_lm_score,
        "dp_remove_spans": q_dp_remove_spans,
        "dp_dup_spans": q_dp_dup_spans,
        "dp_bloom_decontam": q_dp_bloom_decontam,
        "dp_cross_dedup": q_dp_cross_dedup,
        "dp_dedup_corpus": q_dp_dedup_corpus,
        "dp_keep_best": q_dp_keep_best,
        "dp_sessionize": q_dp_sessionize,
        "dp_chunking": q_dp_chunking,
        "dp_balanced_sample": q_dp_balanced_sample,
        "dp_split": q_dp_split,
        "dp_source_rollup": q_dp_source_rollup,
        "dp_profile": q_dp_profile,
        "dp_normalize": q_dp_normalize,
        "dp_tfidf": q_dp_tfidf,
        "dp_boilerplate": q_dp_boilerplate,
        "dp_quantize": q_dp_quantize,
        "dp_stream_degrees": q_dp_stream_degrees,
        "svdpp_full": q_svdpp_full,
        "hash2vec": q_hash2vec,
        "dp_stream_contamination": q_dp_stream_contamination,
        "louvain_regions": q_louvain_regions,
        "svdpp_norms": q_svdpp_norms,
        "pic_regions": q_pic_regions,
        "random_walk_stats": q_random_walk_stats,
        "sampling_convolution_full": q_sampling_convolution_full,
        "kmin_sampling": q_kmin_sampling,
        "pg_join_vertices": q_pg_join_vertices,
        "dp_quality": q_dp_quality,
        "dp_language_id": q_dp_language_id,
        "dp_fingerprint": q_dp_fingerprint,
        "dp_ngram_pairs": q_dp_ngram_pairs,
        # (dp_simhash_pairs moved into the round-9 window above;
        # transitivity rotated out in exchange — driver-green r8)
        "transitivity": q_transitivity,
        "dp_embedding_pairs": q_dp_embedding_pairs,
        "dp_repetition": q_dp_repetition,
        "dp_contamination": q_dp_contamination,
        "dp_multimodal_features": q_dp_multimodal_features,
        "dp_multimodal_meta": q_dp_multimodal_meta,
        "motif_mutual": q_motif_mutual,
        "shortest_paths_undirected": q_shortest_paths_undirected,
        "triangle_count_approx": q_triangle_count_approx,
        "cc_string_labels": q_cc_string_labels,
        "cc_clique": q_cc_clique,
        "out_degrees": q_out_degrees,
        "in_degrees": q_in_degrees,
        "degrees": q_degrees,
        "as_reversed": q_as_reversed,
        "pagerank_clique": q_pagerank_clique,
        "pg_copurchase": q_pg_copurchase,
    }


# ------------------------------------------------------------------ oracles


def oracle_sql() -> dict[str, str]:
    """DuckDB replay SQL for every oracled ``queries()`` entry — the
    definitions live in ``entry_oracles.py`` (split in round 7 to keep
    this driver-contract file reviewable). Lazy import: by the time the
    driver calls this, this module is fully loaded, so the reverse
    import in entry_oracles cannot cycle."""
    from entry_oracles import oracle_sql as _oracle_sql

    return _oracle_sql()


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: motif two-hop traversal on
    the nation adjacency graph, aggregated per start nation."""
    sf_dir = "/root/testdata/sf0.001"
    g = _nation_graph(spark, sf_dir)
    m = g.find("(a)-[]->(b); (b)-[]->(c)").filter("a.id != c.id")
    return (
        m.select(
            F.col("a")["id"].alias("a_id"),
            F.col("c")["id"].alias("c_id"),
        )
        .groupBy("a_id")
        .agg(F.count("*").alias("n_two_hop"))
        .orderBy("a_id")
    )
