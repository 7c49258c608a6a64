"""Tests for round-2 algorithms: kCore, cycles, MIS, SCC, PIC, SVD++,
aggregateNeighbors, graphx-style CC. Modeled on the reference suites
(core/src/test/scala/org/graphframes/lib/KCoreSuite.scala,
AggregateNeighborsSuite.scala, python/tests/test_graphframes.py)."""

import math
import warnings

import pytest
from pyspark.sql import functions as F

from graphframes_spark import GraphFrame
from graphframes_spark.util import GraphFramesError
from tests.conftest import chain_graph, star_graph, two_blobs


# ------------------------------------------------------------------- kCore


def test_kcore_triangle_with_pendant(spark):
    # triangle 1-2-3 (kcore 2), pendant 4 attached to 1 (kcore 1), isolated 5
    v = spark.createDataFrame([(i,) for i in range(1, 6)], ["id"])
    e = spark.createDataFrame([(1, 2), (2, 3), (3, 1), (1, 4)], ["src", "dst"])
    g = GraphFrame(v, e)
    cores = {r["id"]: r["kcore"] for r in g.kCore().collect()}
    assert cores == {1: 2, 2: 2, 3: 2, 4: 1, 5: 0}


def test_kcore_chain(spark):
    g = chain_graph(spark, 6)
    cores = {r["id"]: r["kcore"] for r in g.kCore().collect()}
    assert all(c == 1 for c in cores.values())


def test_kcore_two_k4(spark):
    # two K4 cliques + bridge edge, each undirected edge supplied once
    # (the kCore contract; supplying both directions double-counts)
    v = spark.createDataFrame([(i,) for i in range(8)], ["id"])
    edges = [
        (i + off, j + off) for off in (0, 4) for i in range(4) for j in range(4) if i < j
    ] + [(0, 4)]
    e = spark.createDataFrame(edges, ["src", "dst"])
    g = GraphFrame(v, e)
    cores = {r["id"]: r["kcore"] for r in g.kCore().collect()}
    assert all(c == 3 for c in cores.values()), cores


# ------------------------------------------------------------------ cycles


def test_detecting_cycles(spark):
    v = spark.createDataFrame([(i,) for i in range(1, 8)], ["id"])
    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (4, 5), (5, 4), (6, 7)], ["src", "dst"]
    )
    g = GraphFrame(v, e)
    cycles = sorted(tuple(r["found_cycles"]) for r in g.detectingCycles().collect())
    assert cycles == [(1, 2, 3, 1), (4, 5, 4)]


def test_detecting_cycles_none(spark):
    g = chain_graph(spark, 5)
    assert g.detectingCycles().count() == 0


def test_detecting_cycles_self_loop_free_two_cycles_shared_vertex(spark):
    # two cycles sharing vertex 1: 1->2->1 and 1->3->1
    v = spark.createDataFrame([(1,), (2,), (3,)], ["id"])
    e = spark.createDataFrame([(1, 2), (2, 1), (1, 3), (3, 1)], ["src", "dst"])
    g = GraphFrame(v, e)
    cycles = sorted(tuple(r["found_cycles"]) for r in g.detectingCycles().collect())
    assert cycles == [(1, 2, 1), (1, 3, 1)]


# --------------------------------------------------------------------- MIS


def _assert_is_mis(g, mis_ids):
    edges = {(r["src"], r["dst"]) for r in g.edges.select("src", "dst").collect()}
    sym = edges | {(d, s) for s, d in edges}
    # independence
    for s, d in sym:
        assert not (s in mis_ids and d in mis_ids), f"adjacent pair in MIS: {s},{d}"
    # maximality: every vertex outside has a neighbor inside
    all_ids = {r["id"] for r in g.vertices.select("id").collect()}
    nbrs = {}
    for s, d in sym:
        nbrs.setdefault(s, set()).add(d)
    for vid in all_ids - mis_ids:
        assert nbrs.get(vid, set()) & mis_ids, f"{vid} could still join the MIS"


def test_mis_star(spark):
    g = star_graph(spark, 6)
    mis = {r["id"] for r in g.maximalIndependentSet(seed=7).collect()}
    _assert_is_mis(g, mis)


def test_mis_chain(spark):
    g = chain_graph(spark, 9)
    mis = {r["id"] for r in g.maximalIndependentSet(seed=3).collect()}
    _assert_is_mis(g, mis)


def test_mis_deterministic_mode(spark):
    """The md5 nomination draws make the MIS a fixed function of the
    graph and the seed: two runs are identical and valid — including on
    a chain, where the Ghaffari p-dynamics (halving/doubling) are
    exercised for real — and likewise on a star."""
    for g in (chain_graph(spark, 12), star_graph(spark, 6)):
        mis1 = {r["id"] for r in g.maximalIndependentSet(seed=5).collect()}
        mis2 = {r["id"] for r in g.maximalIndependentSet(seed=5).collect()}
        assert mis1 == mis2
        _assert_is_mis(g, mis1)


def test_mis_with_isolated(spark):
    v = spark.createDataFrame([(i,) for i in range(5)], ["id"])
    e = spark.createDataFrame([(0, 1)], ["src", "dst"])
    g = GraphFrame(v, e)
    mis = {r["id"] for r in g.maximalIndependentSet(seed=1).collect()}
    # isolated vertices 2,3,4 must all be in any MIS
    assert {2, 3, 4} <= mis
    _assert_is_mis(g, mis)


# --------------------------------------------------------------------- SCC


def test_scc_basic(spark):
    v = spark.createDataFrame([(i,) for i in range(1, 7)], ["id"])
    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 4)], ["src", "dst"]
    )
    g = GraphFrame(v, e)
    comp = {r["id"]: r["component"] for r in g.stronglyConnectedComponents(10).collect()}
    assert comp[1] == comp[2] == comp[3] == 1
    assert comp[4] == comp[5] == 4
    assert comp[6] == 6


def test_scc_chain_all_singletons(spark):
    g = chain_graph(spark, 5)
    comp = {r["id"]: r["component"] for r in g.stronglyConnectedComponents(10).collect()}
    assert comp == {i: i for i in range(5)}


def test_scc_full_cycle(spark):
    v = spark.createDataFrame([(i,) for i in range(4)], ["id"])
    e = spark.createDataFrame([(0, 1), (1, 2), (2, 3), (3, 0)], ["src", "dst"])
    g = GraphFrame(v, e)
    comp = {r["id"]: r["component"] for r in g.stronglyConnectedComponents(10).collect()}
    assert set(comp.values()) == {0}


def test_scc_string_ids(friends):
    comp = {r["id"]: r["component"] for r in friends.stronglyConnectedComponents(10).collect()}
    # friends SCCs: {a,d,e} (a→e→d→a), {b,c} (b↔c), {f}, {g}
    assert comp["a"] == comp["d"] == comp["e"]
    assert comp["b"] == comp["c"]
    assert len({comp["a"], comp["b"], comp["f"], comp["g"]}) == 4


# --------------------------------------------------------------------- PIC


def test_power_iteration_clustering(spark):
    g = two_blobs(spark, 5)
    res = g.powerIterationClustering(k=2, maxIter=20)
    assert set(res.columns) == {"id", "cluster"}
    assert res.count() == 10
    assert res.select("cluster").distinct().count() == 2


def test_pic_deterministic_cliques(spark):
    # disjoint cliques of sizes 3 and 6: embedding = (s-1)/Σ(s-1), two
    # distinct values, one gap cut → size-bands in ascending order
    sizes = [3, 6]
    ids, edges, off = [], [], 0
    for s in sizes:
        members = list(range(off, off + s))
        ids += members
        edges += [(a, b) for a in members for b in members if a != b]
        off += s
    v = spark.createDataFrame([(i,) for i in ids], ["id"])
    e = spark.createDataFrame(edges, ["src", "dst"])
    g = GraphFrame(v, e)
    res = g.powerIterationClustering(k=2, maxIter=6, deterministic=True)
    got = {r["id"]: r["cluster"] for r in res.collect()}
    # canonical labels: ascending embedding → small clique first
    assert all(got[i] == 0 for i in range(3))
    assert all(got[i] == 1 for i in range(3, 9))
    # bit-stable across runs
    res2 = g.powerIterationClustering(k=2, maxIter=6, deterministic=True)
    assert {(r["id"], r["cluster"]) for r in res2.collect()} == set(got.items())


def test_pic_deterministic_empty_edges(spark):
    v = spark.createDataFrame([(1,), (2,)], ["id"])
    e = spark.createDataFrame([], "src long, dst long")
    g = GraphFrame(v, e)
    res = g.powerIterationClustering(k=2, deterministic=True)
    assert res.count() == 0
    assert set(res.columns) == {"id", "cluster"}


def test_pic_two_cliques_pinned(spark):
    """Deterministic PIC on two disjoint cliques (sizes 3 and 5) splits
    them into one cluster each, weighted and unweighted."""
    sizes = [3, 5]
    ids, edges, off = [], [], 0
    for s in sizes:
        members = list(range(off, off + s))
        ids += members
        edges += [(a, b, 1.5) for a in members for b in members if a != b]
        off += s
    v = spark.createDataFrame([(i,) for i in ids], ["id"])
    e = spark.createDataFrame(edges, ["src", "dst", "w"])
    g = GraphFrame(v, e)
    weighted = sorted(
        map(tuple, g.powerIterationClustering(
            k=2, maxIter=6, weightCol="w", deterministic=True).collect())
    )
    unweighted = sorted(
        map(tuple, g.powerIterationClustering(
            k=2, maxIter=6, deterministic=True).collect())
    )
    expected = [(0, 0), (1, 0), (2, 0), (3, 1), (4, 1), (5, 1), (6, 1), (7, 1)]
    assert weighted == expected
    assert unweighted == expected


def test_pic_string_ids(friends):
    res = friends.powerIterationClustering(k=2, maxIter=10)
    assert set(res.columns) == {"id", "cluster"}
    ids = {r["id"] for r in res.collect()}
    assert ids <= {"a", "b", "c", "d", "e", "f", "g"}


# ------------------------------------------------------------------- SVD++


def test_svdpp_bipartite(spark):
    v = spark.createDataFrame([(i,) for i in [1, 2, 10, 11]], ["id"])
    e = spark.createDataFrame(
        [(1, 10, 4.0), (1, 11, 2.0), (2, 10, 5.0), (2, 11, 1.0)],
        ["src", "dst", "weight"],
    )
    g = GraphFrame(v, e)
    df, loss = g.svdPlusPlus(rank=4, maxIter=3)
    rows = {r["id"]: r for r in df.collect()}
    assert set(rows) == {1, 2, 10, 11}
    for r in rows.values():
        assert len(r["column1"]) == 4 and len(r["column2"]) == 4
        assert r["column3"] is not None and r["column4"] is not None
    assert loss == loss and loss >= 0  # finite, non-negative
    # norm column4 = 1/sqrt(deg): users rated 2 items each
    assert abs(rows[1]["column4"] - 1 / (2 ** 0.5)) < 1e-9


def test_svdpp_requires_weight(spark):
    v = spark.createDataFrame([(1,), (2,)], ["id"])
    e = spark.createDataFrame([(1, 2)], ["src", "dst"])
    with pytest.raises(GraphFramesError):
        GraphFrame(v, e).svdPlusPlus()


# ---------------------------------------------------- aggregateNeighbors


def test_aggregate_neighbors_hop_counts(friends):
    from graphframes_spark.lib.aggregate_neighbors import AggregateNeighbors as AN

    res = (
        friends.aggregateNeighbors()
        .setStartingVertices(F.col("id") == "a")
        .setMaxHops(2)
        .addAccumulator("n_hops", F.lit(0), F.col("n_hops") + F.lit(1))
        .setStoppingCondition(F.col("n_hops") + F.lit(1) >= F.lit(2))
        .run()
    )
    rows = {(r["id"], r["n_hops"]) for r in res.collect()}
    # a -> b,e (hop 1, not stopped) -> c, f, d (hop 2, stopped)
    assert rows == {("c", 2), ("f", 2), ("d", 2)}


def test_aggregate_neighbors_target_condition(friends):
    res = (
        friends.aggregateNeighbors()
        .setStartingVertices(F.col("id") == "e")
        .setMaxHops(3)
        .addAccumulator("path_len", F.lit(0), F.col("path_len") + F.lit(1))
        .setTargetCondition(F.col("dst_attributes").getField("name") == "Charlie")
        .run()
    )
    rows = {(r["id"], r["path_len"]) for r in res.collect()}
    # e->f->c (2 hops); e->d->a->b but b!=Charlie within 3... a->b is hop 3; b->c would be hop 4
    assert rows == {("c", 2)}


def test_aggregate_neighbors_edge_filter(friends):
    from graphframes_spark.lib.aggregate_neighbors import edge_attr

    res = (
        friends.aggregateNeighbors()
        .setStartingVertices(F.col("id") == "a")
        .setMaxHops(1)
        .addAccumulator("n", F.lit(0), F.col("n") + F.lit(1))
        .setStoppingCondition(F.col("n") + F.lit(1) >= F.lit(1))
        .setEdgeFilter(edge_attr("relationship") == "friend")
        .run()
    )
    assert {r["id"] for r in res.collect()} == {"b", "e"}


def test_aggregate_neighbors_requires_accumulator(friends):
    with pytest.raises(GraphFramesError):
        friends.aggregateNeighbors().setStoppingCondition(F.lit(True)).run()
    with pytest.raises(GraphFramesError):
        friends.aggregateNeighbors().addAccumulator(
            "x", F.lit(0), F.col("x")
        ).run()


# ------------------------------------------------- CC options (ADVICE #2)


def test_cc_rejects_unknown_algorithm(friends):
    with pytest.raises(GraphFramesError):
        friends.connectedComponents(algorithm="typo")


def test_cc_broadcast_threshold_contract(friends):
    """Positive thresholds set the broadcast hub cutoff and leave the
    partition unchanged; zero and other negatives are rejected."""
    def partition(df):
        groups = {}
        for r in df.collect():
            groups.setdefault(r["component"], set()).add(r["id"])
        return sorted(sorted(m) for m in groups.values())

    # string-id graph: component labels are arbitrary surrogates, the
    # PARTITION must match
    assert partition(
        friends.connectedComponents(broadcastThreshold=1000000)
    ) == partition(friends.connectedComponents())
    with pytest.raises(GraphFramesError):
        friends.connectedComponents(broadcastThreshold=0)
    with pytest.raises(GraphFramesError):
        friends.connectedComponents(broadcastThreshold=-5)


def test_cc_graphx_algorithm(spark):
    v = spark.createDataFrame([(i,) for i in range(6)], ["id"])
    e = spark.createDataFrame([(0, 1), (1, 2), (3, 4)], ["src", "dst"])
    g = GraphFrame(v, e)
    comp = {
        r["id"]: r["component"]
        for r in g.connectedComponents(algorithm="graphx").collect()
    }
    assert comp[0] == comp[1] == comp[2] == 0
    assert comp[3] == comp[4] == 3
    assert comp[5] == 5


def test_cc_randomized_contraction(spark):
    v = spark.createDataFrame([(i,) for i in range(7)], ["id"])
    e = spark.createDataFrame([(0, 1), (1, 2), (3, 4), (5, 6)], ["src", "dst"])
    g = GraphFrame(v, e)
    comp = {
        r["id"]: r["component"]
        for r in g.connectedComponents(algorithm="randomized_contraction").collect()
    }
    assert comp[0] == comp[1] == comp[2]
    assert comp[3] == comp[4]
    assert comp[5] == comp[6]
    assert len({comp[0], comp[3], comp[5]}) == 3


def test_rc_scratch_dir_refuses_nonlocal_master_without_checkpoint():
    """On a multi-node master with no checkpoint dir, the parquet spill
    would land on driver-local disk invisible to executors — the helper
    must raise rather than be silently wrong."""
    from graphframes_spark.lib.randomized_contraction import _scratch_dir

    class FakeConf:
        def __init__(self, master):
            self._m = master

        def get(self, key, default=None):
            return self._m if key == "spark.master" else default

    class FakeSC:
        def getCheckpointDir(self):
            return None

    class FakeSpark:
        def __init__(self, master):
            self.conf = FakeConf(master)
            self.sparkContext = FakeSC()

    with pytest.raises(RuntimeError, match="checkpoint"):
        _scratch_dir(FakeSpark("spark://head:7077"))
    # explicit local master: driver temp dir is simply correct (executors
    # ARE the driver process) — no warning noise
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        d = _scratch_dir(FakeSpark("local[4]"))
    assert "randomized-contraction" in d
    # unknown master (no conf visibility): temp dir with a warning
    with pytest.warns(RuntimeWarning):
        d2 = _scratch_dir(FakeSpark(""))
    assert "randomized-contraction" in d2

    class FakeSCWithCkpt(FakeSC):
        def getCheckpointDir(self):
            return "hdfs://nn/ckpt"

    fs = FakeSpark("spark://head:7077")
    fs.sparkContext = FakeSCWithCkpt()
    assert _scratch_dir(fs).startswith("hdfs://nn/ckpt/randomized-contraction-")


def test_cc_randomized_contraction_matches_two_phase(friends):
    rc = {
        r["id"]: r["component"]
        for r in friends.connectedComponents(
            algorithm="randomized_contraction", useLabelsAsComponents=True
        ).collect()
    }
    tp = {
        r["id"]: r["component"]
        for r in friends.connectedComponents(useLabelsAsComponents=True).collect()
    }
    assert rc == tp


# ------------------------------------------------------- weighted SSSP


def test_sssp_weighted_shortcut(spark):
    from graphframes_spark import GraphFrame

    v = spark.createDataFrame([(i,) for i in range(1, 5)], ["id"])
    e = spark.createDataFrame(
        [(1, 2, 10.0), (1, 3, 1.0), (3, 2, 2.0), (9, 9, 0.0)][:3]
        + [(2, 4, 1.0)],
        ["src", "dst", "weight"],
    )
    g = GraphFrame(v, e)
    # distance TO landmark 2 along edge direction: a longer-hop path
    # (1->3->2 = 3) must beat the direct edge (1->2 = 10)
    res = g.shortestPathsWeighted([2])
    d = {r["id"]: dict(r["distances"]) for r in res.collect()}
    assert d[1] == {2: 3.0}
    assert d[3] == {2: 2.0}
    assert d[2] == {2: 0.0}
    assert d[4] == {}  # cannot reach 2 (directed)
    # undirected mode: 4 reaches 2 through the reversed edge
    und = g.shortestPathsWeighted([2], isDirected=False)
    du = {r["id"]: dict(r["distances"]) for r in und.collect()}
    assert du[4] == {2: 1.0}


def test_sssp_multi_landmark_and_unit_fallback(spark):
    from graphframes_spark import GraphFrame

    v = spark.createDataFrame([(i,) for i in range(1, 5)], ["id"])
    e = spark.createDataFrame(
        [(1, 2, 5.0), (2, 3, 5.0), (3, 4, 5.0)], ["src", "dst", "w"]
    )
    g = GraphFrame(v, e)
    # weight col "w" exists; default weightCol="weight" is absent ->
    # unit-weight fallback equals hop counts (as doubles)
    hops = g.shortestPathsWeighted([4, 2])
    d = {r["id"]: dict(r["distances"]) for r in hops.collect()}
    assert d[1] == {2: 1.0, 4: 3.0} and d[3] == {4: 1.0}
    # explicit weight column
    wd = g.shortestPathsWeighted([4], weightCol="w")
    dw = {r["id"]: dict(r["distances"]) for r in wd.collect()}
    assert dw[1] == {4: 15.0}
    # parallel edges: the lighter one wins
    e2 = spark.createDataFrame(
        [(1, 2, 5.0), (1, 2, 1.0)], ["src", "dst", "w"]
    )
    g2 = GraphFrame(v.filter("id <= 2"), e2)
    d2 = {r["id"]: dict(r["distances"])
          for r in g2.shortestPathsWeighted([2], weightCol="w").collect()}
    assert d2[1] == {2: 1.0}


# ------------------------------------------------------------------ HITS


def test_hits_two_iterations_known_values(spark):
    import math

    from graphframes_spark import GraphFrame

    v = spark.createDataFrame([("a",), ("b",), ("c",), ("d",), ("e",)], ["id"])
    e = spark.createDataFrame(
        [("a", "c"), ("b", "c"), ("b", "d")], ["src", "dst"]
    )
    g = GraphFrame(v, e)
    res = {r["id"]: (r["hub"], r["authority"]) for r in g.hits(maxIter=2).collect()}
    # hand-rolled two normalized iterations:
    # iter1: auth ∝ (c=2, d=1); hub ∝ (a=auth_c, b=auth_c+auth_d) = (2, 3)/√5
    # iter2: auth ∝ (c=hub_a+hub_b=5, d=hub_b=3)/√13 → /√34
    #        hub  ∝ (a=auth_c=5, b=auth_c+auth_d=8)/√34 → /√89
    assert abs(res["a"][0] - 5 / math.sqrt(89)) < 1e-9
    assert abs(res["b"][0] - 8 / math.sqrt(89)) < 1e-9
    assert abs(res["c"][1] - 5 / math.sqrt(34)) < 1e-9
    assert abs(res["d"][1] - 3 / math.sqrt(34)) < 1e-9
    # sinks have no hub score, sources no authority, isolated vertex neither
    assert res["c"][0] == 0.0 and res["d"][0] == 0.0
    assert res["a"][1] == 0.0 and res["b"][1] == 0.0
    assert res["e"] == (0.0, 0.0)
    # L2 norms of the final update are 1
    assert abs(sum(h * h for h, _ in res.values()) - 1.0) < 1e-9
    assert abs(sum(a * a for _, a in res.values()) - 1.0) < 1e-9


def test_hits_empty_edges_and_bad_iter(spark):
    import pytest as _pytest

    from graphframes_spark import GraphFrame
    from graphframes_spark.util import GraphFramesError

    v = spark.createDataFrame([(1,), (2,)], ["id"])
    e = spark.createDataFrame([], "src long, dst long")
    res = {r["id"]: (r["hub"], r["authority"])
           for r in GraphFrame(v, e).hits(maxIter=1).collect()}
    assert res == {1: (0.0, 0.0), 2: (0.0, 0.0)}
    with _pytest.raises(GraphFramesError):
        GraphFrame(v, e).hits(maxIter=0)


# -------------------------------------------------------- link prediction


def test_common_neighbor_scores_clique_and_cap(spark):
    import math

    from graphframes_spark import GraphFrame
    from graphframes_spark.util import GraphFramesError
    import pytest as _pytest
    import itertools

    # 4-clique stored canonically (src < dst) + a pendant 9-0
    v = spark.createDataFrame([(i,) for i in range(5)] + [(9,)], ["id"])
    clique = [(a, b) for a, b in itertools.combinations(range(4), 2)]
    e = spark.createDataFrame(clique + [(9, 0)], ["src", "dst"])
    g = GraphFrame(v, e)
    rows = {(r["id_a"], r["id_b"]): (r["common_neighbors"], r["adamic_adar"])
            for r in g.commonNeighborScores().collect()}
    # inside the clique: every pair shares the 2 other members; 0 has an
    # extra pendant neighbor so deg(0)=4, others 3
    assert rows[(1, 2)][0] == 2 and abs(
        rows[(1, 2)][1] - (1 / math.log(4) + 1 / math.log(3))
    ) < 1e-9
    # (0, 1) share {2, 3}, both of plain clique degree 3
    assert rows[(0, 1)][0] == 2 and abs(
        rows[(0, 1)][1] - 2 / math.log(3)
    ) < 1e-9
    # pendant 9 shares 0's other neighbors through center 0
    assert rows[(1, 9)] == (1, 1 / math.log(4))
    # capping out centers of degree > 3 removes every wedge through 0
    capped = {(r["id_a"], r["id_b"]) for r in
              g.commonNeighborScores(maxDegree=3).collect()}
    assert (1, 9) not in capped and (1, 2) in capped
    with _pytest.raises(GraphFramesError):
        g.commonNeighborScores(maxDegree=1)


def test_common_neighbor_scores_jaccard(spark):
    import itertools

    from graphframes_spark import GraphFrame

    v = spark.createDataFrame([(i,) for i in range(5)] + [(9,)], ["id"])
    clique = [(a, b) for a, b in itertools.combinations(range(4), 2)]
    e = spark.createDataFrame(clique + [(9, 0)], ["src", "dst"])
    g = GraphFrame(v, e)
    rows = {(r["id_a"], r["id_b"]): r["jaccard"]
            for r in g.commonNeighborScores(includeJaccard=True).collect()}
    # (0,1): cn=2, deg(0)=4 (pendant), deg(1)=3 -> 2 / (4+3-2)
    assert abs(rows[(0, 1)] - 2 / 5) < 1e-9
    # (2,3): cn=2, both deg 3 -> 2/4
    assert abs(rows[(2, 3)] - 0.5) < 1e-9
    # (1,9): cn=1, deg(9)=1 -> 1 / (3+1-1)
    assert abs(rows[(1, 9)] - 1 / 3) < 1e-9


def test_clustering_coefficient_known_values(spark):
    import itertools

    from graphframes_spark import GraphFrame

    # K4 on {0..3}, pendant 9-0, isolated 5
    v = spark.createDataFrame([(i,) for i in range(5)] + [(9,)], ["id"])
    clique = [(a, b) for a, b in itertools.combinations(range(4), 2)]
    e = spark.createDataFrame(clique + [(9, 0)], ["src", "dst"])
    g = GraphFrame(v, e)
    rows = {r["id"]: (r["count"], r["coefficient"])
            for r in g.clusteringCoefficient().collect()}
    # 0: 3 triangles, degree 4 -> 6/12; 1-3: 3 triangles, degree 3 -> 1.0
    assert rows[0] == (3, 0.5)
    assert rows[1] == (3, 1.0) and rows[2] == (3, 1.0) and rows[3] == (3, 1.0)
    # degree-1 pendant and degree-0 isolated score 0
    assert rows[9] == (0, 0.0) and rows[4] == (0, 0.0)


# ----------------------------------------------------------------- k-truss


def test_ktruss_cascade_and_supports(spark):
    import itertools

    from graphframes_spark import GraphFrame
    from graphframes_spark.util import GraphFramesError
    import pytest as _pytest

    # K4 on {0..3} plus a triangle {3,4,5} glued at 3, plus pendant 6-0
    v = spark.createDataFrame([(i,) for i in range(7)], ["id"])
    k4 = [(a, b) for a, b in itertools.combinations(range(4), 2)]
    extra = [(3, 4), (3, 5), (4, 5)]
    e = spark.createDataFrame(k4 + extra + [(0, 6)], ["src", "dst"])
    g = GraphFrame(v, e)

    # 3-truss: every edge in >= 1 triangle -> pendant dropped, both
    # clique and glued triangle survive with their local supports
    t3 = {(r["src"], r["dst"]): r["support"] for r in g.kTruss(3).collect()}
    assert set(t3) == set(k4) | set(extra)
    assert t3[(4, 5)] == 1 and t3[(0, 1)] == 2

    # 4-truss: glued triangle edges have support 1 -> dropped; K4 stands
    # alone with support 2 per edge (no cascade beyond the first peel)
    t4 = {(r["src"], r["dst"]): r["support"] for r in g.kTruss(4).collect()}
    assert set(t4) == set(k4) and all(s == 2 for s in t4.values())

    # 5-truss of K4 requires support 3 -> empty
    assert g.kTruss(5).count() == 0
    with _pytest.raises(GraphFramesError):
        g.kTruss(2)


def test_ktruss_cascading_removal(spark):
    from graphframes_spark import GraphFrame

    # two triangles sharing edge (1,2): each edge in exactly one triangle
    # except (1,2) with support 2. 4-truss: outer edges (support 1) drop
    # first, which strands (1,2) -> cascade empties the graph.
    v = spark.createDataFrame([(i,) for i in range(4)], ["id"])
    e = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 2), (1, 3), (2, 3)], ["src", "dst"]
    )
    g = GraphFrame(v, e)
    assert g.kTruss(4).count() == 0
    t3 = {(r["src"], r["dst"]) for r in g.kTruss(3).collect()}
    assert t3 == {(0, 1), (0, 2), (1, 2), (1, 3), (2, 3)}


# ------------------------------------------------- harmonic centrality


def test_harmonic_centrality_chain(spark):
    # chain 0 -> 1 -> 2 -> 3, landmarks {3}: d(i, 3) = 3 - i
    g = chain_graph(spark, 4)
    out = {r["id"]: r for r in g.harmonicCentrality(landmarks=[3]).collect()}
    assert out[0]["n_reached"] == 1 and out[0]["dist_sum"] == 3
    assert abs(out[0]["harmonic"] - 1 / 3) < 1e-12
    assert abs(out[0]["closeness"] - 1 / 3) < 1e-12
    assert out[2]["dist_sum"] == 1 and abs(out[2]["harmonic"] - 1.0) < 1e-12
    # the landmark itself: self-distance 0 excluded -> all zeros
    assert out[3]["n_reached"] == 0 and out[3]["dist_sum"] == 0
    assert out[3]["harmonic"] == 0.0 and out[3]["closeness"] == 0.0


def test_harmonic_centrality_multi_landmark(spark):
    # star center 0 with leaves 1..4, edges leaf -> center? star_graph is
    # center -> leaves; landmarks at two leaves, directed: center reaches
    # both at distance 1, leaves reach nothing (no outgoing edges)
    g = star_graph(spark, 4)
    out = {r["id"]: r for r in g.harmonicCentrality(landmarks=[1, 2]).collect()}
    assert out[0]["n_reached"] == 2 and out[0]["dist_sum"] == 2
    assert abs(out[0]["harmonic"] - 2.0) < 1e-12
    assert abs(out[0]["closeness"] - 1.0) < 1e-12
    # leaf 1 is itself a landmark (zero excluded) and cannot reach leaf 2
    assert out[1]["n_reached"] == 0 and out[1]["harmonic"] == 0.0
    assert out[3]["n_reached"] == 0


def test_harmonic_centrality_undirected(spark):
    # undirected chain 0 - 1 - 2, landmark 0: against edge direction the
    # chain only reaches it in undirected mode
    g = chain_graph(spark, 3)
    out = {
        r["id"]: r
        for r in g.harmonicCentrality(landmarks=[0], isDirected=False).collect()
    }
    assert out[1]["dist_sum"] == 1
    assert out[2]["dist_sum"] == 2 and abs(out[2]["harmonic"] - 0.5) < 1e-12


# ---------------------------------------------------- node2vec walks


def test_node2vec_chain_deterministic(spark):
    # directed chain 0 -> 1 -> 2 -> 3: exactly one choice per step, so
    # walks are forced paths regardless of p/q
    g = chain_graph(spark, 4)
    out = {r["start"]: r for r in
           g.node2vecWalks(walkLength=5, p=4.0, q=0.25).collect()}
    # vertex 3 has no out-edge -> no walk row
    assert set(out) == {0, 1, 2}
    assert out[0]["random_walk"] == [0, 1, 2, 3]
    assert out[1]["random_walk"] == [1, 2, 3]
    assert out[2]["random_walk"] == [2, 3]


def test_node2vec_seed_determinism(spark):
    g = two_blobs(spark, 4)
    a = sorted(map(tuple, g.node2vecWalks(
        walkLength=6, numWalksPerNode=2, seed=7).collect()))
    b = sorted(map(tuple, g.node2vecWalks(
        walkLength=6, numWalksPerNode=2, seed=7).collect()))
    assert a == b
    # walks stay inside the edge set
    edges = {(r["src"], r["dst"]) for r in g.edges.collect()}
    for row in g.node2vecWalks(walkLength=6, seed=7).collect():
        w = row["random_walk"]
        assert w[0] == row["start"]
        for x, y in zip(w, w[1:]):
            assert (x, y) in edges


def test_node2vec_return_bias(spark):
    # path graph a - b plus b - c as undirected: from b after arriving
    # from a, p -> 0 makes returning to a overwhelmingly likely; many
    # walks from a should look like a,b,a,b,... rather than reaching c
    from graphframes_spark import GraphFrame

    v = spark.createDataFrame([(i,) for i in range(3)], ["id"])
    e = spark.createDataFrame([(0, 1), (1, 2)], ["src", "dst"])
    g = GraphFrame(v, e)
    walks = g.node2vecWalks(
        walkLength=2, numWalksPerNode=64, p=1e-6, q=1e6,
        useEdgeDirection=False, seed=3,
    ).collect()
    from_zero = [r["random_walk"] for r in walks if r["start"] == 0]
    assert len(from_zero) == 64
    returns = sum(1 for w in from_zero if w == [0, 1, 0])
    assert returns >= 56  # overwhelming return bias


def test_node2vec_validation(spark):
    g = chain_graph(spark, 3)
    with pytest.raises(GraphFramesError):
        g.node2vecWalks(walkLength=0)
    with pytest.raises(GraphFramesError):
        g.node2vecWalks(p=0.0)
    with pytest.raises(GraphFramesError):
        g.node2vecWalks(numWalksPerNode=0)


# ---------------------------------------------------- graph-level metrics


def test_assortativity_star_is_minus_one(spark):
    g = star_graph(spark, 5)
    r = g.degreeAssortativity().collect()[0]
    assert abs(r["assortativity"] - (-1.0)) < 1e-9


def test_assortativity_chain(spark):
    # path of 5: endpoints deg1, interior deg2; known r = -1/3
    g = chain_graph(spark, 5)
    r = g.degreeAssortativity().collect()[0]
    assert abs(r["assortativity"] - (-1.0 / 3.0)) < 1e-9


def test_assortativity_clique_nan(spark):
    # all degrees equal -> zero variance -> NaN/None
    v = spark.createDataFrame([(i,) for i in range(4)], ["id"])
    e = spark.createDataFrame(
        [(i, j) for i in range(4) for j in range(4) if i < j], ["src", "dst"]
    )
    r = GraphFrame(v, e).degreeAssortativity().collect()[0]
    import math

    assert r["assortativity"] is None or math.isnan(r["assortativity"])


def test_assortativity_out_in_mode(spark):
    # out-deg(src) and in-deg(dst) must both vary for a defined r
    v = spark.createDataFrame([(i,) for i in range(5)], ["id"])
    e = spark.createDataFrame(
        [(0, 1), (0, 2), (2, 1), (4, 0)], ["src", "dst"]
    )
    r = GraphFrame(v, e).degreeAssortativity(mode="out-in").collect()[0]
    assert r["assortativity"] is not None

    with pytest.raises(GraphFramesError):
        GraphFrame(v, e).degreeAssortativity(mode="bogus")


def test_modularity_two_triangles(spark):
    v = spark.createDataFrame([(i,) for i in range(6)], ["id"])
    e = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 2), (3, 4), (4, 5), (3, 5)], ["src", "dst"]
    )
    g = GraphFrame(v, e)
    asg = spark.createDataFrame(
        [(i, i // 3) for i in range(6)], ["id", "community"]
    )
    q = g.modularity(asg).collect()[0]["modularity"]
    assert abs(q - 0.5) < 1e-9
    # one community covering everything scores 0
    asg1 = spark.createDataFrame([(i, 0) for i in range(6)], ["id", "community"])
    q1 = g.modularity(asg1).collect()[0]["modularity"]
    assert abs(q1) < 1e-9


def test_modularity_matches_lpa_communities(spark):
    # two blobs: LPA labels should score higher than a random split
    g = two_blobs(spark, 4)
    labels = g.labelPropagation(maxIter=5).select(
        "id", F.col("label").alias("community")
    )
    q_lpa = g.modularity(labels).collect()[0]["modularity"]
    odd_even = g.vertices.select(
        "id", (F.col("id") % 2).alias("community")
    )
    q_rand = g.modularity(odd_even).collect()[0]["modularity"]
    assert q_lpa > q_rand


def test_describe_graph_summary(spark):
    # 4 vertices (3 isolated? no: 0,1,2 touched; 3 isolated), a dup
    # edge, a self-loop
    v = spark.createDataFrame([(i,) for i in range(4)], ["id"])
    e = spark.createDataFrame(
        [(0, 1), (0, 1), (1, 2), (2, 2)], ["src", "dst"]
    )
    d = GraphFrame(v, e).describe().collect()[0]
    assert d["n_vertices"] == 4 and d["n_edges"] == 4
    assert d["n_distinct_edges"] == 2  # (0,1) deduped, loop excluded
    assert d["n_self_loops"] == 1 and d["n_isolated"] == 1
    assert abs(d["density"] - 2.0 / 12.0) < 1e-12
    assert abs(d["avg_out_degree"] - 1.0) < 1e-12
    assert d["max_out_degree"] == 2 and d["max_in_degree"] == 2
    # edge-free graph: degrees 0, density NULL only when < 2 vertices
    v1 = spark.createDataFrame([(0,)], ["id"])
    e0 = spark.createDataFrame([], "src long, dst long")
    d1 = GraphFrame(v1, e0).describe().collect()[0]
    assert d1["max_out_degree"] == 0 and d1["density"] is None


def test_attribute_assortativity_perfect_and_disassortative(spark):
    v = spark.createDataFrame(
        [(0, "a"), (1, "a"), (2, "b"), (3, "b")], ["id", "grp"]
    )
    # within-group edges only -> r = 1
    e1 = spark.createDataFrame([(0, 1), (2, 3)], ["src", "dst"])
    r1 = GraphFrame(v, e1).attributeAssortativity("grp").collect()[0]
    assert abs(r1["assortativity"] - 1.0) < 1e-9
    # cross-group edges only (complete bipartite): r = -1
    e2 = spark.createDataFrame(
        [(0, 2), (0, 3), (1, 2), (1, 3)], ["src", "dst"]
    )
    r2 = GraphFrame(v, e2).attributeAssortativity("grp").collect()[0]
    assert abs(r2["assortativity"] - (-1.0)) < 1e-9
    # single-category graph degenerates to NULL
    v1 = spark.createDataFrame([(0, "a"), (1, "a")], ["id", "grp"])
    r3 = GraphFrame(v1, e1.filter("src = 0")).attributeAssortativity("grp")
    assert r3.collect()[0]["assortativity"] is None
    with pytest.raises(GraphFramesError):
        GraphFrame(v, e1).attributeAssortativity("nope")


def test_modularity_weighted(spark):
    # heavy intra edges, light bridge: Q_w for the {0,1},{2,3} split:
    # m=12, W_c=5+5, strengths [5,7,7,5] -> s_c=12 each ->
    # Q = 10/12 - 2*(12/24)^2 = 1/3
    v = spark.createDataFrame([(i,) for i in range(4)], ["id"])
    e = spark.createDataFrame(
        [(0, 1, 5.0), (1, 2, 2.0), (2, 3, 5.0)], ["src", "dst", "weight"]
    )
    g = GraphFrame(v, e)
    asg = spark.createDataFrame(
        [(0, 0), (1, 0), (2, 2), (3, 2)], ["id", "community"]
    )
    q = g.modularity(asg, weightCol="weight").collect()[0]["modularity"]
    expected = 10.0 / 12.0 - 2 * (12.0 / 24.0) ** 2
    assert abs(q - expected) < 1e-9
    # parallel/reverse edges sum in weighted mode
    e2 = spark.createDataFrame(
        [(0, 1, 3.0), (1, 0, 2.0), (1, 2, 2.0), (2, 3, 5.0)],
        ["src", "dst", "weight"],
    )
    q2 = GraphFrame(v, e2).modularity(asg, weightCol="weight").collect()[0][
        "modularity"
    ]
    assert abs(q2 - expected) < 1e-9
    with pytest.raises(GraphFramesError):
        g.modularity(asg, weightCol="nope")


def test_modularity_requires_community_col(spark):
    g = chain_graph(spark, 3)
    with pytest.raises(GraphFramesError):
        g.modularity(g.vertices.select("id"), "community")


def test_louvain_two_triangles_bridge(spark):
    # two triangles joined by one bridge: optimal split, Q = 5/14
    v = spark.createDataFrame([(i,) for i in range(6)], ["id"])
    e = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 2), (3, 4), (4, 5), (3, 5), (2, 3)], ["src", "dst"]
    )
    g = GraphFrame(v, e)
    r = g.louvain()
    got = {row["id"]: row["community"] for row in r.collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 3, 4: 3, 5: 3}
    q = g.modularity(r).collect()[0]["modularity"]
    assert abs(q - 5.0 / 14.0) < 1e-9


def test_louvain_disjoint_cliques_exact(spark):
    v = spark.createDataFrame([(i,) for i in range(15)], ["id"])
    e = spark.createDataFrame(
        [
            (c * 5 + i, c * 5 + j)
            for c in range(3)
            for i in range(5)
            for j in range(5)
            if i != j
        ],
        ["src", "dst"],
    )
    got = {
        row["id"]: row["community"]
        for row in GraphFrame(v, e).louvain().collect()
    }
    assert got == {i: (i // 5) * 5 for i in range(15)}


def test_louvain_weighted_overrides_topology(spark):
    # path 0-1-2-3; heavy middle edge pulls {1,2} together
    v = spark.createDataFrame([(i,) for i in range(4)], ["id"])
    e = spark.createDataFrame(
        [(0, 1, 1.0), (1, 2, 10.0), (2, 3, 1.0)], ["src", "dst", "weight"]
    )
    r = GraphFrame(v, e).louvain(weightCol="weight")
    got = {row["id"]: row["community"] for row in r.collect()}
    assert got[1] == got[2]


def test_louvain_weighted_mixed_graph_pinned(spark):
    """Pinned assignment on a graph with isolated vertices, self-loops,
    float weights, and a bridge (the local-moving gains, stay-on-tie and
    min-id tie-breaks, and alternating direction gates all decide it)."""
    v = spark.createDataFrame([(i,) for i in range(10)], ["id"])
    e = spark.createDataFrame(
        [(0, 1, 1.0), (1, 2, 2.0), (0, 2, 1.5), (3, 4, 1.0), (4, 5, 1.0),
         (3, 5, 2.0), (2, 3, 0.5), (6, 6, 3.0), (7, 8, 1.0)],
        ["src", "dst", "weight"],
    )  # vertex 9 isolated, vertex 6 self-loop only
    got = dict(
        map(tuple, GraphFrame(v, e).louvain(weightCol="weight").collect())
    )
    assert got == {0: 0, 1: 0, 2: 0, 3: 3, 4: 3, 5: 3, 6: 6, 7: 7, 8: 7, 9: 9}
    assert got[9] == 9 and got[6] == 6  # stationary vertices keep their id


def test_louvain_edge_free_and_validation(spark):
    v = spark.createDataFrame([(0,), (1,)], ["id"])
    e = spark.createDataFrame([], "src long, dst long")
    got = {
        row["id"]: row["community"]
        for row in GraphFrame(v, e).louvain().collect()
    }
    assert got == {0: 0, 1: 1}
    with pytest.raises(GraphFramesError):
        GraphFrame(v, e).louvain(maxPasses=0)
    with pytest.raises(GraphFramesError):
        GraphFrame(v, e).louvain(weightCol="nope")


def test_louvain_beats_naive_split_on_blobs(spark):
    g = two_blobs(spark, 5)
    r = g.louvain()
    q_louvain = g.modularity(r).collect()[0]["modularity"]
    odd_even = g.vertices.select("id", (F.col("id") % 2).alias("community"))
    q_naive = g.modularity(odd_even).collect()[0]["modularity"]
    assert q_louvain > q_naive


def test_split_edges_stable_partition(spark):
    v = spark.createDataFrame([(i,) for i in range(20)], ["id"])
    e = spark.createDataFrame(
        [(i, j) for i in range(20) for j in range(20) if i != j], ["src", "dst"]
    )
    g = GraphFrame(v, e)
    out = g.splitEdges(weights={"train": 0.8, "test": 0.2}, seed="s")
    rows = out.collect()
    assert len(rows) == 380 and all(r["split"] in ("train", "test") for r in rows)
    frac = sum(1 for r in rows if r["split"] == "train") / len(rows)
    assert 0.7 < frac < 0.9  # deterministic, roughly proportional
    # growth stability: a subgraph's edges keep their assignment
    sub = GraphFrame(v, e.filter("src < 10 and dst < 10"))
    sub_rows = {
        (r["src"], r["dst"]): r["split"]
        for r in sub.splitEdges(weights={"train": 0.8, "test": 0.2}, seed="s").collect()
    }
    full = {(r["src"], r["dst"]): r["split"] for r in rows}
    assert all(full[k] == v2 for k, v2 in sub_rows.items())


def test_negative_edges_are_nonedges_and_deterministic(spark):
    v = spark.createDataFrame([(i,) for i in range(10)], ["id"])
    e = spark.createDataFrame(
        [(i, (i + 1) % 10) for i in range(10)], ["src", "dst"]
    )
    g = GraphFrame(v, e)
    neg1 = {(r["src"], r["dst"]) for r in g.sampleNegativeEdges(3).collect()}
    neg2 = {(r["src"], r["dst"]) for r in g.sampleNegativeEdges(3).collect()}
    assert neg1 == neg2  # bit-stable
    real = {(i, (i + 1) % 10) for i in range(10)}
    assert neg1 and neg1.isdisjoint(real)
    assert all(s != d for s, d in neg1)
    # different seed -> (almost surely) different draw
    neg3 = {(r["src"], r["dst"]) for r in g.sampleNegativeEdges(3, seed="x").collect()}
    assert neg3 != neg1
    # more slots -> at least as many negatives per source
    n1 = len({r["src"] for r in g.sampleNegativeEdges(1).collect()})
    assert len({s for s, _ in neg1}) >= n1
    with pytest.raises(GraphFramesError):
        g.sampleNegativeEdges(0)


def test_wl_labels_distinguish_positions(spark):
    # directed chain 0->1->2->3: middle vertices share the degree-pair
    # color at iteration 0 but separate after one refinement
    g = chain_graph(spark, 4)
    l0 = {r["id"]: r["wl_label"] for r in g.wlLabels(iterations=0).collect()}
    assert l0[1] == l0[2] and l0[0] != l0[1] and l0[3] != l0[1]
    l1 = {r["id"]: r["wl_label"] for r in g.wlLabels(iterations=1).collect()}
    assert len(set(l1.values())) == 4


def test_wl_labels_isomorphic_components_agree(spark):
    # two disjoint directed triangles: corresponding vertices share
    # labels at every refinement depth
    v = spark.createDataFrame([(i,) for i in range(6)], ["id"])
    e = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (3, 4), (4, 5), (5, 3)], ["src", "dst"]
    )
    labels = {
        r["id"]: r["wl_label"]
        for r in GraphFrame(v, e).wlLabels(iterations=3).collect()
    }
    assert len(set(labels.values())) == 1  # vertex-transitive + isomorphic


def test_wl_labels_validation_and_isolated(spark):
    v = spark.createDataFrame([(0,), (1,)], ["id"])
    e = spark.createDataFrame([], "src long, dst long")
    labels = {
        r["id"]: r["wl_label"] for r in GraphFrame(v, e).wlLabels(2).collect()
    }
    assert labels[0] == labels[1]  # both isolated -> same structure
    with pytest.raises(GraphFramesError):
        GraphFrame(v, e).wlLabels(-1)


def test_seeded_lpa_spreads_and_pins_seeds(spark):
    # path 0-1-2-3-4 with seeds at the ends; middle splits by distance,
    # the exact tie at 2 resolves to the lower label
    v = spark.createDataFrame([(i,) for i in range(5)], ["id"])
    e = spark.createDataFrame([(0, 1), (1, 2), (2, 3), (3, 4)], ["src", "dst"])
    seeds = spark.createDataFrame([(0, 10), (4, 20)], ["id", "label"])
    out = {
        r["id"]: r["label"]
        for r in GraphFrame(v, e)
        .seededLabelPropagation(seeds, maxIter=10)
        .collect()
    }
    assert out[0] == 10 and out[4] == 20  # seeds never move
    assert out[1] == 10 and out[3] == 20
    assert out[2] == 10  # equidistant tie -> lowest label


def test_seeded_lpa_unreached_stays_null(spark):
    v = spark.createDataFrame([(0,), (1,), (2,)], ["id"])
    e = spark.createDataFrame([(0, 1)], ["src", "dst"])
    seeds = spark.createDataFrame([(0, 7)], ["id", "label"])
    out = {
        r["id"]: r["label"]
        for r in GraphFrame(v, e).seededLabelPropagation(seeds, maxIter=5).collect()
    }
    assert out == {0: 7, 1: 7, 2: None}


def test_seeded_lpa_directed_flows_one_way(spark):
    v = spark.createDataFrame([(0,), (1,), (2,)], ["id"])
    e = spark.createDataFrame([(0, 1), (2, 1)], ["src", "dst"])
    seeds = spark.createDataFrame([(1, 5)], ["id", "label"])
    out = {
        r["id"]: r["label"]
        for r in GraphFrame(v, e)
        .seededLabelPropagation(seeds, maxIter=5, isDirected=True)
        .collect()
    }
    # label only flows along edge direction: 0 and 2 feed 1, never receive
    assert out == {0: None, 1: 5, 2: None}
    with pytest.raises(GraphFramesError):
        GraphFrame(v, e).seededLabelPropagation(seeds.select("id"))


def test_seeded_lpa_majority_wins(spark):
    # vertex 4 has three labeled neighbors: 2x label 9, 1x label 1 ->
    # majority 9 despite 1 being smaller
    v = spark.createDataFrame([(i,) for i in range(5)], ["id"])
    e = spark.createDataFrame([(0, 4), (1, 4), (2, 4)], ["src", "dst"])
    seeds = spark.createDataFrame([(0, 9), (1, 9), (2, 1)], ["id", "label"])
    out = {
        r["id"]: r["label"]
        for r in GraphFrame(v, e).seededLabelPropagation(seeds, maxIter=2).collect()
    }
    assert out[4] == 9


def test_contract_by_partition(spark):
    # two triangles + bridge, contracted by the triangle split
    v = spark.createDataFrame([(i,) for i in range(6)], ["id"])
    e = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 2), (3, 4), (4, 5), (3, 5), (2, 3)], ["src", "dst"]
    )
    asg = spark.createDataFrame(
        [(i, 0 if i < 3 else 1) for i in range(6)], ["id", "community"]
    )
    q = GraphFrame(v, e).contractBy(asg)
    verts = {r["id"]: r["n_members"] for r in q.vertices.collect()}
    assert verts == {0: 3, 1: 3}
    edges = {(r["src"], r["dst"]): r["weight"] for r in q.edges.collect()}
    assert edges == {(0, 0): 3.0, (1, 1): 3.0, (0, 1): 1.0}


def test_contract_by_unassigned_and_weights(spark):
    # vertex 2 missing from the assignment keeps its own id; weights sum
    v = spark.createDataFrame([(0,), (1,), (2,)], ["id"])
    e = spark.createDataFrame(
        [(0, 1, 2.0), (1, 0, 3.0), (1, 2, 1.0)], ["src", "dst", "weight"]
    )
    asg = spark.createDataFrame([(0, 9), (1, 9)], ["id", "community"])
    q = GraphFrame(v, e).contractBy(asg, weightCol="weight")
    verts = {r["id"]: r["n_members"] for r in q.vertices.collect()}
    assert verts == {9: 2, 2: 1}
    edges = {(r["src"], r["dst"]): r["weight"] for r in q.edges.collect()}
    assert edges == {(9, 9): 5.0, (2, 9): 1.0}
    with pytest.raises(GraphFramesError):
        GraphFrame(v, e).contractBy(asg.select("id"))


def test_katz_two_cycle_geometric(spark):
    # 0<->1: katz after K iters = sum_{k=1..K} alpha^k (one walk per length)
    v = spark.createDataFrame([(0,), (1,)], ["id"])
    e = spark.createDataFrame([(0, 1), (1, 0)], ["src", "dst"])
    r = {
        row["id"]: row["katz"]
        for row in GraphFrame(v, e).katzCentrality(alpha=0.5, maxIter=3).collect()
    }
    assert abs(r[0] - (0.5 + 0.25 + 0.125)) < 1e-12
    assert abs(r[1] - (0.5 + 0.25 + 0.125)) < 1e-12


def test_katz_star_and_isolated(spark):
    # leaves -> hub: hub collects 3*alpha, leaves and the isolate get 0
    v = spark.createDataFrame([(i,) for i in range(5)], ["id"])
    e = spark.createDataFrame([(1, 0), (2, 0), (3, 0)], ["src", "dst"])
    r = {
        row["id"]: row["katz"]
        for row in GraphFrame(v, e).katzCentrality(alpha=0.1, maxIter=4).collect()
    }
    assert abs(r[0] - 0.3) < 1e-12
    assert all(r[i] == 0.0 for i in (1, 2, 3, 4))


def test_katz_normalized_l2(spark):
    v = spark.createDataFrame([(0,), (1,)], ["id"])
    e = spark.createDataFrame([(0, 1), (1, 0)], ["src", "dst"])
    r = GraphFrame(v, e).katzCentrality(alpha=0.5, maxIter=2, normalized=True)
    vals = [row["katz"] for row in r.collect()]
    assert all(abs(x - 1.0 / math.sqrt(2.0)) < 1e-12 for x in vals)


def test_katz_validation(spark):
    g = chain_graph(spark, 3)
    with pytest.raises(GraphFramesError):
        g.katzCentrality(alpha=1.5)
    with pytest.raises(GraphFramesError):
        g.katzCentrality(maxIter=0)


def test_transitivity_triangle_plus_tail(spark):
    # triangle 0-1-2 plus pendant 2-3: triangles=1, wedges=3+1+1=5
    # (deg: 2,2,3,1 -> C(2,2)*2 + C(3,2) + 0 = 1+1+3 = 5) -> 3/5
    v = spark.createDataFrame([(i,) for i in range(4)], ["id"])
    e = spark.createDataFrame([(0, 1), (1, 2), (0, 2), (2, 3)], ["src", "dst"])
    t = GraphFrame(v, e).transitivity().collect()[0]["transitivity"]
    assert abs(t - 3.0 / 5.0) < 1e-9


def test_transitivity_clique_is_one_star_is_zero(spark):
    v = spark.createDataFrame([(i,) for i in range(4)], ["id"])
    clique = spark.createDataFrame(
        [(i, j) for i in range(4) for j in range(4) if i < j], ["src", "dst"]
    )
    assert (
        abs(GraphFrame(v, clique).transitivity().collect()[0]["transitivity"] - 1.0)
        < 1e-9
    )
    t = star_graph(spark, 5).transitivity().collect()[0]["transitivity"]
    assert abs(t) < 1e-9


def test_transitivity_no_wedges_is_null(spark):
    # single edge: no wedges -> NULL
    v = spark.createDataFrame([(0,), (1,)], ["id"])
    e = spark.createDataFrame([(0, 1)], ["src", "dst"])
    assert GraphFrame(v, e).transitivity().collect()[0]["transitivity"] is None


def test_reciprocity_values(spark):
    v = spark.createDataFrame([(i,) for i in range(3)], ["id"])
    # 0<->1 mutual, 0->2 one-way: 2 of 3 edges reciprocated
    e = spark.createDataFrame([(0, 1), (1, 0), (0, 2)], ["src", "dst"])
    r = GraphFrame(v, e).reciprocity().collect()[0]["reciprocity"]
    assert abs(r - 2.0 / 3.0) < 1e-9
    # duplicates and self-loops are ignored
    e2 = spark.createDataFrame(
        [(0, 1), (0, 1), (1, 0), (2, 2), (0, 2)], ["src", "dst"]
    )
    r2 = GraphFrame(v, e2).reciprocity().collect()[0]["reciprocity"]
    assert abs(r2 - 2.0 / 3.0) < 1e-9


def test_reciprocity_dag_zero_symmetric_one(spark):
    g = chain_graph(spark, 4)
    assert abs(g.reciprocity().collect()[0]["reciprocity"]) < 1e-9
    und = g.asUndirected()
    assert abs(und.reciprocity().collect()[0]["reciprocity"] - 1.0) < 1e-9


def test_reciprocity_no_edges_null(spark):
    v = spark.createDataFrame([(0,)], ["id"])
    e = spark.createDataFrame([], "src long, dst long")
    assert GraphFrame(v, e).reciprocity().collect()[0]["reciprocity"] is None


# ------------------------------------------------------- betweenness


def test_betweenness_chain_exact(spark):
    g = chain_graph(spark, 5)
    r = {
        x["id"]: x["betweenness"]
        for x in g.betweennessCentrality(
            list(range(5)), isDirected=False
        ).collect()
    }
    assert r == {0: 0.0, 1: 6.0, 2: 8.0, 3: 6.0, 4: 0.0}


def test_betweenness_diamond_split_paths(spark):
    # 0->1->3, 0->2->3: two shortest paths, deps split evenly
    v = spark.createDataFrame([(i,) for i in range(4)], ["id"])
    e = spark.createDataFrame([(0, 1), (0, 2), (1, 3), (2, 3)], ["src", "dst"])
    r = {
        x["id"]: x["betweenness"]
        for x in GraphFrame(v, e).betweennessCentrality([0]).collect()
    }
    assert r == {0: 0.0, 1: 0.5, 2: 0.5, 3: 0.0}


def test_betweenness_source_subset_and_depth(spark):
    g = chain_graph(spark, 6)
    # only source 0, depth-capped at 2: paths beyond hop 2 ignored
    r = {
        x["id"]: x["betweenness"]
        for x in g.betweennessCentrality([0], maxDepth=2).collect()
    }
    assert r[1] == 1.0  # only 0->1->2 counted
    assert r[3] == 0.0 and r[4] == 0.0

    with pytest.raises(GraphFramesError):
        g.betweennessCentrality([])
    with pytest.raises(GraphFramesError):
        g.betweennessCentrality([0], maxDepth=0)


def test_betweenness_disconnected_sources(spark):
    # two components; sources in one never credit the other
    v = spark.createDataFrame([(i,) for i in range(6)], ["id"])
    e = spark.createDataFrame(
        [(0, 1), (1, 2), (3, 4), (4, 5)], ["src", "dst"]
    )
    r = {
        x["id"]: x["betweenness"]
        for x in GraphFrame(v, e).betweennessCentrality([0, 3]).collect()
    }
    assert r[1] == 1.0 and r[4] == 1.0
    assert r[0] == 0.0 and r[2] == 0.0 and r[3] == 0.0 and r[5] == 0.0


def test_eccentricity_chain_and_star(spark):
    g = chain_graph(spark, 6)
    r = {x["landmark"]: x for x in g.eccentricity([5, 2]).collect()}
    assert r[5]["eccentricity"] == 5 and r[5]["n_reached"] == 6
    assert r[2]["eccentricity"] == 2 and r[2]["n_reached"] == 3
    s = star_graph(spark, 4)
    rs = {x["landmark"]: x for x in s.eccentricity([1]).collect()}
    assert rs[1]["eccentricity"] == 1 and rs[1]["n_reached"] == 2
    # undirected: leaf landmark reachable from every vertex in 2 hops
    ru = {x["landmark"]: x for x in s.eccentricity([1], isDirected=False).collect()}
    assert ru[1]["eccentricity"] == 2 and ru[1]["n_reached"] == 5


# ---------------------------------------------------------- graph coloring


def test_coloring_clique_matches_priority_rank(spark):
    import hashlib

    v = spark.createDataFrame([(i,) for i in range(5)], ["id"])
    e = spark.createDataFrame(
        [(i, j) for i in range(5) for j in range(5) if i < j], ["src", "dst"]
    )
    cols = {r["id"]: r["color"] for r in GraphFrame(v, e).greedyColoring(seed="x").collect()}
    pr = {i: hashlib.md5(f"x\x1f{i}".encode()).hexdigest() for i in range(5)}
    rank = {i: sorted(pr.values(), reverse=True).index(pr[i]) for i in range(5)}
    assert cols == rank


def test_coloring_proper_and_frugal(spark):
    g = chain_graph(spark, 9)
    cols = {r["id"]: r["color"] for r in g.greedyColoring(seed="y").collect()}
    for i in range(8):
        assert cols[i] != cols[i + 1]
    assert max(cols.values()) <= 2  # greedy on a path never needs > 3 colors

    # isolated vertices take color 0
    v = spark.createDataFrame([(1,), (2,), (3,)], ["id"])
    e = spark.createDataFrame([(1, 2)], ["src", "dst"])
    c = {r["id"]: r["color"] for r in GraphFrame(v, e).greedyColoring().collect()}
    assert c[3] == 0 and c[1] != c[2]

    with pytest.raises(GraphFramesError):
        g.greedyColoring(maxIter=0)


def test_enumerate_triangles(spark):
    v = spark.createDataFrame([(i,) for i in range(5)], ["id"])
    e = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 2), (2, 3), (3, 4), (2, 4)], ["src", "dst"]
    )
    tr = sorted(
        (r["a"], r["b"], r["c"])
        for r in GraphFrame(v, e).enumerateTriangles().collect()
    )
    assert tr == [(0, 1, 2), (2, 3, 4)]
    # direction / duplicate edges don't change the set
    e2 = spark.createDataFrame(
        [(1, 0), (1, 2), (0, 2), (2, 0), (3, 2), (4, 3), (2, 4)], ["src", "dst"]
    )
    tr2 = sorted(
        (r["a"], r["b"], r["c"])
        for r in GraphFrame(v, e2).enumerateTriangles().collect()
    )
    assert tr2 == tr


# ------------------------------------------------------- eigenvector


def test_eigenvector_star_walk_counts(spark):
    # star: leaves 1..4 -> hub 0, hub -> 5.  Walk counts (x0 = 1):
    # x1 = indeg: hub 4, 5: 1, leaves 0; x2: hub 0, 5: 4, leaves 0;
    # x3: 5: 0 (hub's x2 = 0) -> everything 0 at k=3, so use k=2.
    v = spark.createDataFrame([(i,) for i in range(6)], ["id"])
    e = spark.createDataFrame([(i, 0) for i in range(1, 5)] + [(0, 5)], ["src", "dst"])
    g = GraphFrame(v, e)
    res = {r["id"]: r["eigenvector"] for r in g.eigenvectorCentrality(maxIter=2).collect()}
    assert res[5] == pytest.approx(1.0)  # only nonzero entry -> L2 puts it at 1
    assert all(res[i] == 0.0 for i in range(5))


def test_eigenvector_cycle_uniform(spark):
    # directed 4-cycle: regular, so the normalized vector is uniform 1/2
    v = spark.createDataFrame([(i,) for i in range(4)], ["id"])
    e = spark.createDataFrame([(i, (i + 1) % 4) for i in range(4)], ["src", "dst"])
    g = GraphFrame(v, e)
    res = [r["eigenvector"] for r in g.eigenvectorCentrality(maxIter=7).collect()]
    assert all(x == pytest.approx(0.5) for x in res)


def test_eigenvector_unnormalized_counts_multiedges(spark):
    # parallel edges count as walk multiplicity: two a->b edges, one b->c
    v = spark.createDataFrame([("a",), ("b",), ("c",)], ["id"])
    e = spark.createDataFrame([("a", "b"), ("a", "b"), ("b", "c")], ["src", "dst"])
    g = GraphFrame(v, e)
    res = {
        r["id"]: r["eigenvector"]
        for r in g.eigenvectorCentrality(maxIter=2, normalized=False).collect()
    }
    # x2(c) = walks of length 2 ending at c = 2 (via either a->b edge)
    assert res == {"a": 0.0, "b": 0.0, "c": 2.0}


def test_eigenvector_validation(spark):
    with pytest.raises(GraphFramesError):
        chain_graph(spark, 3).eigenvectorCentrality(maxIter=0)


# -------------------------------------------------------- groupEdges


def test_group_edges_counts_and_sums(spark):
    v = spark.createDataFrame([(i,) for i in range(3)], ["id"])
    e = spark.createDataFrame(
        [(0, 1, 2.0), (0, 1, 3.0), (1, 2, 1.0), (2, 2, 9.0)],
        ["src", "dst", "w"],
    )
    g = GraphFrame(v, e).groupEdges(
        F.count(F.lit(1)).alias("n"), F.sum("w").alias("w")
    )
    rows = {(r["src"], r["dst"]): (r["n"], r["w"]) for r in g.edges.collect()}
    assert rows == {(0, 1): (2, 5.0), (1, 2): (1, 1.0), (2, 2): (1, 9.0)}


def test_group_edges_drop_self_loops_and_dedup(spark):
    v = spark.createDataFrame([(i,) for i in range(3)], ["id"])
    e = spark.createDataFrame(
        [(0, 1, 1.0), (0, 1, 2.0), (2, 2, 9.0)], ["src", "dst", "w"]
    )
    g = GraphFrame(v, e).groupEdges(dropSelfLoops=True)
    assert sorted(map(tuple, g.edges.collect())) == [(0, 1)]
    # vertices pass through untouched
    assert g.vertices.count() == 3


# ------------------------------------------------------- triadCensus


def test_triad_census_known_counts(spark):
    # 0<->1 mutual; 1->2 asym; triangle 2->3->4->2 cyclic;
    # transitive triple 5->6, 6->7, 5->7
    v = spark.createDataFrame([(i,) for i in range(8)], ["id"])
    e = spark.createDataFrame(
        [(0, 1), (1, 0), (1, 2), (2, 3), (3, 4), (4, 2), (5, 6), (6, 7), (5, 7)],
        ["src", "dst"],
    )
    g = GraphFrame(v, e)
    row = g.triadCensus().collect()[0]
    assert row["mutual_dyads"] == 1
    assert row["asym_dyads"] == 7
    assert row["null_dyads"] == 28 - 8
    assert row["cyclic_triangles"] == 1
    assert row["transitive_triangles"] == 1


def test_triad_census_reciprocal_triangle(spark):
    # fully mutual triangle: 3 mutual dyads, 2 directed 3-cycles,
    # 6 transitive orderings (every ordered pair of edges closes)
    v = spark.createDataFrame([(i,) for i in range(3)], ["id"])
    e = spark.createDataFrame(
        [(a, b) for a in range(3) for b in range(3) if a != b], ["src", "dst"]
    )
    row = GraphFrame(v, e).triadCensus().collect()[0]
    assert row["mutual_dyads"] == 3
    assert row["asym_dyads"] == 0
    assert row["null_dyads"] == 0
    assert row["cyclic_triangles"] == 2
    assert row["transitive_triangles"] == 6


# ------------------------------------------- incremental connected components


def test_incremental_cc_matches_full_recompute(spark):
    """Edges split into old/new batches: incremental update of the old
    assignment with the new batch must equal a from-scratch run on the
    union — including a merge of two previous components, a brand-new
    vertex attaching, and untouched components keeping their label."""
    v_old = spark.range(0, 8).select("id")
    e_old = spark.createDataFrame(
        [(0, 1), (1, 2), (3, 4), (5, 6)], ["src", "dst"]
    )
    prev = GraphFrame(v_old, e_old).connectedComponents()

    # new batch: merge {0,1,2} with {3,4}; attach new vertex 8 to 5;
    # component {7} and {5,6} structure otherwise untouched
    v_new = spark.range(0, 9).select("id")
    e_new = spark.createDataFrame([(2, 3), (8, 5)], ["src", "dst"])
    inc = {
        r["id"]: r["component"]
        for r in GraphFrame(v_new, e_new)
        .incrementalConnectedComponents(prev)
        .collect()
    }
    full = {
        r["id"]: r["component"]
        for r in GraphFrame(v_new, e_old.union(e_new))
        .connectedComponents()
        .collect()
    }
    assert inc == full
    assert inc[7] == 7  # untouched singleton keeps its label
    assert inc[8] == 5  # new vertex joins the min-id component of {5,6,8}
    assert inc[3] == 0  # merged component takes the global min id


def test_incremental_cc_empty_delta(spark):
    v = spark.range(0, 5).select("id")
    e_old = spark.createDataFrame([(0, 1), (2, 3)], ["src", "dst"])
    prev = GraphFrame(v, e_old).connectedComponents()
    empty = spark.createDataFrame([], "src long, dst long")
    inc = {
        r["id"]: r["component"]
        for r in GraphFrame(v, empty).incrementalConnectedComponents(prev).collect()
    }
    assert inc == {r["id"]: r["component"] for r in prev.collect()}


def test_incremental_cc_string_ids_matches_full_recompute(spark):
    """Round-11: string-id incremental CC through the label domain —
    merge of two previous components, a brand-new vertex attaching, and
    untouched components keeping their (lexicographic-min) label; must
    equal a from-scratch useLabelsAsComponents run on old ∪ new."""
    names = ["ant", "bee", "cat", "dog", "eel", "fox", "gnu", "hen"]
    v_old = spark.createDataFrame([(n,) for n in names], ["id"])
    e_old = spark.createDataFrame(
        [("ant", "bee"), ("bee", "cat"), ("dog", "eel"), ("fox", "gnu")],
        ["src", "dst"],
    )
    prev = GraphFrame(v_old, e_old).connectedComponents(
        useLabelsAsComponents=True
    )
    # new batch: merge {ant,bee,cat} with {dog,eel}; attach brand-new
    # vertex "ibex" to fox; {hen} untouched
    v_new = spark.createDataFrame([(n,) for n in names + ["ibex"]], ["id"])
    e_new = spark.createDataFrame(
        [("cat", "dog"), ("ibex", "fox")], ["src", "dst"]
    )
    inc = {
        r["id"]: r["component"]
        for r in GraphFrame(v_new, e_new)
        .incrementalConnectedComponents(prev)
        .collect()
    }
    full = {
        r["id"]: r["component"]
        for r in GraphFrame(v_new, e_old.union(e_new))
        .connectedComponents(useLabelsAsComponents=True)
        .collect()
    }
    assert inc == full
    assert inc["hen"] == "hen"  # untouched singleton keeps its label
    assert inc["ibex"] == "fox"  # new vertex joins lexicographic-min comp
    assert inc["eel"] == "ant"  # merged component takes the global min


@pytest.mark.parametrize("seed", [3, 11])
@pytest.mark.parametrize("string_ids", [False, True])
def test_incremental_cc_random_splits_run_the_loop(spark, monkeypatch, seed, string_ids):
    """Seeded random old/new splits whose mapped delta is not yet a star
    forest, so the star-forest loop iterates on component labels (string
    labels included, through useLabelsAsComponents=True): the update must
    equal a from-scratch run on old ∪ new."""
    import random

    from graphframes_spark.lib import connected_components as cc

    rng = random.Random(seed)
    n = 60
    # unpadded names, so lexicographic order differs from numeric order
    name = (lambda i: f"n{i}") if string_ids else (lambda i: i)
    edges = {tuple(rng.sample(range(n), 2)) for _ in range(50)}
    old = [(name(a), name(b)) for a, b in sorted(edges)[::2]]
    new = [(name(a), name(b)) for a, b in sorted(edges)[1::2]]
    id_type = "string" if string_ids else "long"
    v = spark.createDataFrame([(name(i),) for i in range(n)], f"id {id_type}")
    schema = f"src {id_type}, dst {id_type}"
    e_old = spark.createDataFrame(old, schema)
    e_new = spark.createDataFrame(new, schema)
    prev = GraphFrame(v, e_old).connectedComponents(useLabelsAsComponents=string_ids)

    probes = []
    stats = cc._min_nbr_stats
    monkeypatch.setattr(
        cc, "_min_nbr_stats", lambda m: probes.append(1) or stats(m)
    )
    inc = GraphFrame(v, e_new).incrementalConnectedComponents(prev)
    got = {r["id"]: r["component"] for r in inc.collect()}
    monkeypatch.undo()
    assert len(probes) >= 3  # the first probe, then at least two iterations
    assert inc.schema == prev.select("id", "component").schema
    full = GraphFrame(v, spark.createDataFrame(old + new, schema)).connectedComponents(
        useLabelsAsComponents=string_ids
    )
    assert got == {r["id"]: r["component"] for r in full.collect()}


def test_incremental_cc_string_ids_empty_delta_and_new_singleton(spark):
    v_old = spark.createDataFrame([("x",), ("y",)], ["id"])
    e_old = spark.createDataFrame([("x", "y")], ["src", "dst"])
    prev = GraphFrame(v_old, e_old).connectedComponents(
        useLabelsAsComponents=True
    )
    v_new = spark.createDataFrame([("x",), ("y",), ("z",)], ["id"])
    empty = spark.createDataFrame([], "src string, dst string")
    inc = {
        r["id"]: r["component"]
        for r in GraphFrame(v_new, empty)
        .incrementalConnectedComponents(prev)
        .collect()
    }
    assert inc == {"x": "x", "y": "x", "z": "z"}


def test_incremental_cc_honors_reliable_checkpoint_conf(spark, tmp_path, monkeypatch):
    """With spark.graphframes.useLocalCheckpoints=false the incremental
    update's lineage cuts write reliable checkpoints to the checkpoint dir
    (no local checkpoint runs at all), and the result equals the default
    (local) run."""
    v = spark.range(0, 10).select("id")
    e_old = spark.createDataFrame([(0, 1), (1, 2), (3, 4), (5, 6)], ["src", "dst"])
    prev = GraphFrame(v, e_old).connectedComponents()
    e_new = spark.createDataFrame([(2, 3), (8, 5), (4, 9), (9, 6)], ["src", "dst"])
    g = GraphFrame(v, e_new)

    def labels():
        return {r["id"]: r["component"] for r in g.incrementalConnectedComponents(prev).collect()}

    local = labels()
    key = "spark.graphframes.useLocalCheckpoints"
    sc = spark.sparkContext
    ckpt = tmp_path / "ckpt"
    saved = spark.conf.get(key, None)
    spark.conf.set(key, "false")
    sc.setCheckpointDir(str(ckpt))

    def no_local_checkpoint(*args, **kwargs):
        raise AssertionError("localCheckpoint with useLocalCheckpoints=false")

    monkeypatch.setattr(type(v), "localCheckpoint", no_local_checkpoint)
    try:
        reliable = labels()
    finally:
        if saved is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, saved)
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.apply(None))
        monkeypatch.undo()
    assert sc.getCheckpointDir() is None
    assert reliable == local
    assert local == {0: 0, 1: 0, 2: 0, 3: 0, 4: 0, 5: 0, 6: 0, 7: 7, 8: 0, 9: 0}
    assert any(p.is_file() for p in ckpt.rglob("*"))


def test_incremental_cc_string_ids_rejects_surrogate_domain(spark):
    """A long-typed assignment (the surrogate-domain output of a plain
    connectedComponents run on string ids) must be rejected loudly:
    surrogates are not stable across runs, so composing with them would
    be silently wrong."""
    v = spark.createDataFrame([("a",), ("b",)], ["id"])
    e = spark.createDataFrame([("a", "b")], ["src", "dst"])
    prev = spark.createDataFrame([("a", 0), ("b", 0)], ["id", "component"])
    with pytest.raises(GraphFramesError, match="LABEL domain"):
        GraphFrame(v, e).incrementalConnectedComponents(prev)


def test_incremental_cc_string_ids_rejects_relabeled_assignment(spark):
    """The min-member invariant guard must also fire lexicographically."""
    v = spark.createDataFrame([("a",), ("b",)], ["id"])
    e = spark.createDataFrame([("a", "b")], ["src", "dst"])
    bad_prev = spark.createDataFrame(
        [("a", "b"), ("b", "b")], ["id", "component"]
    )
    with pytest.raises(GraphFramesError, match="min-member-id"):
        GraphFrame(v, e).incrementalConnectedComponents(bad_prev).collect()


def test_incremental_cc_rejects_relabeled_assignment(spark):
    """A prev_components violating the min-member-id invariant (label >
    member id — e.g. a user relabeled components to group maxima) must
    be rejected loudly: the min-label composition argument does not hold
    for it, so silently computing would produce wrong output."""
    v = spark.range(0, 4).select("id")
    e = spark.createDataFrame([(2, 3)], ["src", "dst"])
    bad_prev = spark.createDataFrame(
        [(0, 1), (1, 1), (2, 2), (3, 3)], ["id", "component"]
    )
    with pytest.raises(GraphFramesError, match="min-member-id"):
        GraphFrame(v, e).incrementalConnectedComponents(bad_prev).collect()


def test_manual_skew_mode_hub_cap(spark, monkeypatch):
    """A pathologically low broadcast_threshold cannot broadcast a
    graph-sized hub set: the hub list is capped at MAX_GIANT_HUBS with a
    warning that names the argument, and the partition stays exact."""
    from graphframes_spark.lib import connected_components as cc_mod

    monkeypatch.setattr(cc_mod, "MAX_GIANT_HUBS", 2)
    v = spark.range(0, 12).select("id")
    e = spark.createDataFrame(
        [(i, (i + 1) % 12) for i in range(12)], ["src", "dst"]
    )
    with pytest.warns(UserWarning, match="broadcastThreshold"):
        out = GraphFrame(v, e).connectedComponents(broadcastThreshold=1)
    assert {r["component"] for r in out.collect()} == {0}


# ----------------------------------------------------------- hyperball


def test_hyperball_directed_chain(spark):
    """0->1->2->3: reach(v,t) = min(t, 3-v)+1; early stop emits levels
    1..diameter+1 = 1..4."""
    v = spark.range(0, 4).select("id")
    e = spark.createDataFrame([(0, 1), (1, 2), (2, 3)], ["src", "dst"])
    rows = GraphFrame(v, e).hyperBall(maxHops=10).collect()
    got = {(r["id"], r["hops"]): r["reach"] for r in rows}
    assert max(h for (_, h) in got) == 4  # stopped at diameter+1
    for vid in range(4):
        for t in range(1, 5):
            assert got[(vid, t)] == min(t, 3 - vid) + 1


def test_hyperball_undirected_clique_and_star(spark):
    v = spark.range(0, 5).select("id")
    clique = spark.createDataFrame(
        [(i, j) for i in range(5) for j in range(5) if i < j], ["src", "dst"]
    )
    got = {
        (r["id"], r["hops"]): r["reach"]
        for r in GraphFrame(v, clique).hyperBall(maxHops=5, isDirected=False).collect()
    }
    assert all(reach == 5 for (_, t), reach in got.items() if t == 1)
    assert max(h for (_, h) in got) == 2  # complete after 1 hop, stop at 2
    star = spark.createDataFrame([(0, i) for i in range(1, 5)], ["src", "dst"])
    got = {
        (r["id"], r["hops"]): r["reach"]
        for r in GraphFrame(v, star).hyperBall(maxHops=5, isDirected=False).collect()
    }
    assert got[(0, 1)] == 5  # hub sees everyone at 1 hop
    assert got[(1, 1)] == 2 and got[(1, 2)] == 5  # leaf: hub, then all


def test_hyperball_edge_free_and_validation(spark):
    v = spark.range(0, 3).select("id")
    e = spark.createDataFrame([], "src long, dst long")
    rows = GraphFrame(v, e).hyperBall(maxHops=7).collect()
    assert {r["hops"] for r in rows} == {1}  # immediate stop
    assert all(r["reach"] == 1 for r in rows)
    with pytest.raises(GraphFramesError):
        GraphFrame(v, e).hyperBall(maxHops=0)
    with pytest.raises(GraphFramesError):
        GraphFrame(v, e).hyperBall(lgConfigK=3)


def test_hyperball_chain_star_isolated_pinned(spark):
    """Pinned (id, hops, reach) rows, directed and undirected, on a chain
    + star + isolated vertices: exact in the coupon regime, and the
    early exit lands on the same hop (8) in both directions."""
    v = spark.range(0, 12).select("id")
    chain = spark.createDataFrame([(i, i + 1) for i in range(7)], ["src", "dst"])
    star = spark.createDataFrame([(11, d) for d in range(8, 11)], ["src", "dst"])
    g = GraphFrame(v, chain.unionByName(star))
    # vertex -> reach at hops 1..8
    directed = {
        0: [2, 3, 4, 5, 6, 7, 8, 8],
        1: [2, 3, 4, 5, 6, 7, 7, 7],
        2: [2, 3, 4, 5, 6, 6, 6, 6],
        3: [2, 3, 4, 5, 5, 5, 5, 5],
        4: [2, 3, 4, 4, 4, 4, 4, 4],
        5: [2, 3, 3, 3, 3, 3, 3, 3],
        6: [2, 2, 2, 2, 2, 2, 2, 2],
        7: [1] * 8,
        8: [1] * 8,
        9: [1] * 8,
        10: [1] * 8,
        11: [4] * 8,
    }
    undirected = {
        0: [2, 3, 4, 5, 6, 7, 8, 8],
        1: [3, 4, 5, 6, 7, 8, 8, 8],
        2: [3, 5, 6, 7, 8, 8, 8, 8],
        3: [3, 5, 7, 8, 8, 8, 8, 8],
        4: [3, 5, 7, 8, 8, 8, 8, 8],
        5: [3, 5, 6, 7, 8, 8, 8, 8],
        6: [3, 4, 5, 6, 7, 8, 8, 8],
        7: [2, 3, 4, 5, 6, 7, 8, 8],
        8: [2, 4, 4, 4, 4, 4, 4, 4],
        9: [2, 4, 4, 4, 4, 4, 4, 4],
        10: [2, 4, 4, 4, 4, 4, 4, 4],
        11: [4] * 8,
    }

    def rows(curves):
        return sorted(
            (vid, hop, reach)
            for vid, reaches in curves.items()
            for hop, reach in enumerate(reaches, start=1)
        )

    got_d = sorted(map(tuple, g.hyperBall(maxHops=10).collect()))
    got_u = sorted(map(tuple, g.hyperBall(maxHops=10, isDirected=False).collect()))
    assert got_d == rows(directed)
    assert got_u == rows(undirected)


def test_effective_diameter_chain(spark):
    """0->1->...->9 directed chain: N(t) = sum(min(t, 9-v)+1);
    N(9)=55, first t with N(t) >= 49.5 is t=7 (N(7)=52)."""
    v = spark.range(0, 10).select("id")
    e = spark.createDataFrame([(i, i + 1) for i in range(9)], ["src", "dst"])
    row = GraphFrame(v, e).effectiveDiameter(maxHops=15).collect()[0]
    assert row["neighborhood_pairs"] == 55
    assert row["effective_diameter"] == 7
    with pytest.raises(GraphFramesError):
        GraphFrame(v, e).effectiveDiameter(quantile=0.0)


# ------------------------------------------------------- pinned outputs


def test_scc_cascade_trim_pinned(spark):
    """The trim loop keeps the exact assignment across multi-round trim
    cascades (chain tails that only become trimmable after their
    predecessor is trimmed) and trim-only vertices with no edges."""
    v = spark.createDataFrame([(i,) for i in range(9)], ["id"])
    # cycle {0,1,2}; tail 2->3->4 (multi-round trim: 4 first, then 3);
    # in-only 5 <- 0; out-only 6 -> 0; mutual pair {7,8}
    e = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (0, 5), (6, 0), (7, 8), (8, 7)],
        ["src", "dst"],
    )
    got = sorted(
        map(tuple, GraphFrame(v, e).stronglyConnectedComponents(10).collect())
    )
    assert got == [
        (0, 0), (1, 0), (2, 0), (3, 3), (4, 4), (5, 5), (6, 6), (7, 7), (8, 7)
    ]
    comp = dict(got)
    assert comp[0] == comp[1] == comp[2]
    assert comp[7] == comp[8]
    assert len({comp[3], comp[4], comp[5], comp[6]}) == 4


def test_svdpp_bipartite_pinned(spark):
    """Pinned factors, biases, norms and loss after two iterations on a
    small user->item rating graph (initialization is deterministic)."""
    v = spark.createDataFrame([(i,) for i in [1, 2, 3, 10, 11, 12]], ["id"])
    e = spark.createDataFrame(
        [(1, 10, 4.0), (1, 11, 2.0), (2, 10, 5.0), (2, 11, 1.0),
         (2, 12, 3.0), (3, 12, 2.5)],
        ["src", "dst", "weight"],
    )
    df, loss = GraphFrame(v, e).svdPlusPlus(rank=3, maxIter=2)
    # id -> (column1, column2, column3, column4)
    expected = {
        1: ([0.6037337284274904, 0.1352257795940344, 0.6633780686438142],
            [1.2444047678803158, 1.2463046108044993, 1.2151190844601925],
            0.037356374758218396, 0.7071067811865475),
        2: ([0.8373077094096913, 0.35614014405724514, 0.3728047030315453],
            [1.6241761621115431, 1.4669127357188594, 1.2169453455612242],
            0.003733974821564963, 0.5773502691896258),
        3: ([0.5908002200512186, 0.5252717996863013, 0.25599353895717136],
            [1.0361197407452858, 0.8601095295752484, 0.92898921805799],
            -0.4374896928224151, 1.0),
        10: ([0.6872964541010312, 0.16949851872784766, 0.21129976556739802],
             [0.34155319882025137, 0.7137810831226307, 0.3175580574722182],
             1.5691121644250001, 0.7071067811865475),
        11: ([0.357652525604114, 0.8486958694391383, 0.7060052148946263],
             [0.5461796177628173, 0.8285755635878861, 0.43787533100802783],
             -1.5000184135186467, 0.7071067811865475),
        12: ([0.8033890307477718, 0.7309105782162572, 0.05317197041069084],
             [0.4302175096600267, 0.32112222092777126, 0.671473110138798],
             -0.2154941608262544, 0.7071067811865475),
    }
    assert loss == pytest.approx(19.560074654291704, rel=1e-9)
    got = {r["id"]: r for r in df.collect()}
    assert set(got) == set(expected)
    for vid, (c1, c2, c3, c4) in expected.items():
        row = got[vid]
        assert row["column1"] == pytest.approx(c1, rel=1e-9)
        assert row["column2"] == pytest.approx(c2, rel=1e-9)
        assert row["column3"] == pytest.approx(c3, rel=1e-9)
        assert row["column4"] == pytest.approx(c4, rel=1e-9)
