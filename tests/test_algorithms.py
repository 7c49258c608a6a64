import random

import pytest
from pyspark.sql import functions as F

from tests.conftest import chain_graph, star_graph, two_blobs


def test_pagerank_fixed_iter(friends):
    result = friends.pageRank(resetProbability=0.15, maxIter=10)
    ranks = {r["id"]: r["pagerank"] for r in result.vertices.collect()}
    assert len(ranks) == 7
    # c receives from b and f; b and c should outrank isolated g
    assert ranks["b"] > ranks["g"] and ranks["c"] > ranks["g"]
    assert "weight" in result.edges.columns


def test_pagerank_tol(friends):
    result = friends.pageRank(resetProbability=0.15, tol=1e-6)
    fixed = friends.pageRank(resetProbability=0.15, maxIter=40)
    r1 = {r["id"]: r["pagerank"] for r in result.vertices.collect()}
    r2 = {r["id"]: r["pagerank"] for r in fixed.vertices.collect()}
    for k in r1:
        assert abs(r1[k] - r2[k]) < 1e-4


def test_personalized_pagerank(friends):
    result = friends.pageRank(resetProbability=0.15, sourceId="a", maxIter=20)
    ranks = {r["id"]: r["pagerank"] for r in result.vertices.collect()}
    assert ranks["a"] > 0.1
    assert ranks["g"] == 0.0


def test_connected_components_chain(spark):
    g = chain_graph(spark, 10)
    comp = {r["id"]: r["component"] for r in g.connectedComponents().collect()}
    assert len(set(comp.values())) == 1
    assert set(comp.values()) == {0}


def test_connected_components_two_blobs(spark):
    g = two_blobs(spark, 5)
    comp = {r["id"]: r["component"] for r in g.connectedComponents().collect()}
    assert len(set(comp.values())) == 1


def test_connected_components_disconnected(spark):
    from graphframes_spark import GraphFrame

    v = spark.createDataFrame([(i,) for i in range(6)], ["id"])
    e = spark.createDataFrame([(0, 1), (1, 2), (3, 4)], ["src", "dst"])
    g = GraphFrame(v, e)
    comp = {r["id"]: r["component"] for r in g.connectedComponents().collect()}
    assert comp[0] == comp[1] == comp[2] == 0
    assert comp[3] == comp[4] == 3
    assert comp[5] == 5


def test_connected_components_string_ids(friends):
    comp = {r["id"]: r["component"] for r in friends.connectedComponents().collect()}
    # a-b-c-d-e-f all connected; g isolated
    main = {comp[x] for x in "abcdef"}
    assert len(main) == 1
    assert comp["g"] not in main


def test_connected_components_labels(friends):
    comp = {
        r["id"]: r["component"]
        for r in friends.connectedComponents(useLabelsAsComponents=True).collect()
    }
    assert comp["a"] == "a"  # min original id of the big component
    assert comp["g"] == "g"


def _union_find_min_labels(n, edges):
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in range(n)}


def _mixed_components(seed):
    """Seeded disjoint union of every component shape the two-phase exit
    rule distinguishes: (vertex count, edge list)."""
    rng = random.Random(seed)
    edges = []
    nxt = 0

    def block(k):
        nonlocal nxt
        ids = list(range(nxt, nxt + k))
        nxt += k
        return ids

    for _ in range(4):  # stars centred on their minimum
        c, *leaves = block(rng.randint(2, 6))
        edges += [(c, x) if rng.random() < 0.5 else (x, c) for x in leaves]
    for _ in range(4):  # stars whose centre is not the minimum
        ids = block(rng.randint(3, 6))
        c = ids[rng.randint(1, len(ids) - 1)]
        edges += [(c, x) for x in ids if x != c]
    for _ in range(3):  # single edges: both orientations, duplicates
        a, b = block(2)
        edges += [(a, b), (b, a), (a, b)]
    a, b = block(2)  # a single edge given only as larger -> smaller
    edges.append((b, a))
    for _ in range(3):  # paths in a shuffled vertex order
        ids = block(rng.randint(3, 7))
        rng.shuffle(ids)
        edges += list(zip(ids, ids[1:]))
    for _ in range(2):  # cycles
        ids = block(rng.randint(3, 7))
        rng.shuffle(ids)
        edges += list(zip(ids, ids[1:] + ids[:1]))
    ids = block(5)  # clique
    edges += [(x, y) for x in ids for y in ids if x < y]
    block(4)  # isolated vertices
    rng.shuffle(edges)
    return nxt, edges


def _count_cc_probes(monkeypatch):
    import graphframes_spark.lib.connected_components as cc_mod

    calls = []
    orig = cc_mod._min_nbr_stats

    def spy(min_nbrs):
        calls.append(1)
        return orig(min_nbrs)

    monkeypatch.setattr(cc_mod, "_min_nbr_stats", spy)
    return calls


def _cc_labels(spark, n, edges):
    from graphframes_spark import GraphFrame

    g = GraphFrame(
        spark.range(n), spark.createDataFrame(edges, "src long, dst long")
    )
    return {r["id"]: r["component"] for r in g.connectedComponents().collect()}


@pytest.mark.parametrize("seed", [0, 1])
def test_connected_components_mixed_shapes_match_union_find(spark, seed):
    n, edges = _mixed_components(seed)
    assert _cc_labels(spark, n, edges) == _union_find_min_labels(n, edges)


def test_connected_components_star_forest_exits_at_first_probe(spark, monkeypatch):
    """Stars centred on their minima are already the fixpoint: the initial
    convergence probe sees it and the loop never runs."""
    edges = [(0, 1), (2, 0), (0, 3), (4, 5), (4, 6), (7, 8)]
    calls = _count_cc_probes(monkeypatch)
    assert _cc_labels(spark, 10, edges) == _union_find_min_labels(10, edges)
    assert len(calls) == 1


@pytest.mark.parametrize(
    "n, edges",
    [
        (5, [(0, 1), (1, 2), (2, 3), (3, 4)]),
        (6, [(i, (i + 1) % 6) for i in range(6)]),
    ],
    ids=["path5", "cycle6"],
)
def test_connected_components_probe_count_pinned(spark, monkeypatch, n, edges):
    """Probes = the initial one plus one per iteration. The reference's
    repeated-checksum rule took 4 on both graphs; the star-forest exit
    skips its no-op confirmation iteration and takes 3."""
    calls = _count_cc_probes(monkeypatch)
    assert _cc_labels(spark, n, edges) == {v: 0 for v in range(n)}
    assert len(calls) == 3


def test_shortest_paths(friends):
    sp = friends.shortestPaths(landmarks=["a", "d"])
    dist = {r["id"]: dict(r["distances"]) for r in sp.collect()}
    assert dist["a"] == {"a": 0, "d": 2}
    assert dist["d"] == {"a": 1, "d": 0}
    assert dist["e"] == {"d": 1, "a": 2}
    assert dist["g"] == {}
    # b, c cannot reach a or d (no outgoing path)
    assert dist["b"] == {} and dist["c"] == {}


def test_shortest_paths_chain(spark):
    g = chain_graph(spark, 6)
    sp = g.shortestPaths(landmarks=[5])
    dist = {r["id"]: dict(r["distances"]) for r in sp.collect()}
    for i in range(6):
        assert dist[i] == {5: 5 - i}


def test_label_propagation(spark):
    g = two_blobs(spark, 5)
    labels = {r["id"]: r["label"] for r in g.labelPropagation(maxIter=10).collect()}
    blob1 = {labels[i] for i in range(5)}
    blob2 = {labels[i] for i in range(5, 10)}
    assert len(blob1) == 1 and len(blob2) == 1


def test_label_propagation_two_level_equals_mode(spark):
    """The two-level majority vote (count by (id, label) → min_by) must
    produce EXACTLY the labels of the single-level mode(deterministic)
    aggregate it replaced — same winner, same ties-to-lowest — on a
    skewed random directed graph where hub vertices see many duplicate
    and tied labels. Both runs use labelPropagation's Pregel program and
    differ only in the message reduction."""
    import pyspark.sql.functions as F

    from graphframes_spark import GraphFrame
    from graphframes_spark.lib.label_propagation import LABEL_ID, _two_level_mode
    from graphframes_spark.pregel import Pregel

    e = (
        spark.range(4000)
        .select(
            F.floor(
                F.pow(
                    F.pmod(F.xxhash64("id", F.lit(1)), 997) / 997.0, F.lit(2.0)
                )
                * 60
            ).alias("src"),
            F.floor(
                F.pow(
                    F.pmod(F.xxhash64("id", F.lit(2)), 997) / 997.0, F.lit(2.0)
                )
                * 60
            ).alias("dst"),
        )
        .filter("src != dst")
    )
    v = spark.range(60).select(F.col("id"))
    g = GraphFrame(v, e)

    def labels(reduce):
        new_label = F.coalesce(Pregel.msg(), F.col(LABEL_ID))
        pregel = (
            g.pregel.withVertexColumn(LABEL_ID, F.col("id"), new_label)
            .setMaxIter(4)
            .setCheckpointInterval(1)
            .setStopIfAllNonActiveVertices(True)
            .setUpdateActiveVertexExpression(F.col(LABEL_ID) != new_label)
            .requiredSrcColumns(LABEL_ID)
            .sendMsgToDst(Pregel.src(LABEL_ID))
        )
        rows = reduce(pregel).run().select("id", LABEL_ID).collect()
        return {r["id"]: r[LABEL_ID] for r in rows}

    two = labels(lambda p: p.setMsgReducer(_two_level_mode))
    mode = labels(lambda p: p.aggMsgs(F.mode(Pregel.msg(), deterministic=True)))
    assert two == mode
    # the two-level reducer is what labelPropagation runs
    lpa = {r["id"]: r["label"] for r in g.labelPropagation(maxIter=4).collect()}
    assert lpa == two


def test_triangle_count(spark):
    from graphframes_spark import GraphFrame

    # triangle 0-1-2 plus dangling edge 2-3
    v = spark.createDataFrame([(i,) for i in range(4)], ["id"])
    e = spark.createDataFrame([(0, 1), (1, 2), (2, 0), (2, 3)], ["src", "dst"])
    g = GraphFrame(v, e)
    counts = {r["id"]: r["count"] for r in g.triangleCount().collect()}
    assert counts == {0: 1, 1: 1, 2: 1, 3: 0}


def test_triangle_count_friends(friends):
    counts = {r["id"]: r["count"] for r in friends.triangleCount().collect()}
    # only triangle: a-d-e (a->e, e->d, d->a)
    assert counts["a"] == 1 and counts["d"] == 1 and counts["e"] == 1
    assert counts["b"] == 0 and counts["g"] == 0


def test_bfs(friends):
    paths = friends.bfs("name = 'Esther'", "age < 32")
    rows = paths.collect()
    assert len(rows) == 1
    assert rows[0]["from"]["id"] == "e" and rows[0]["to"]["id"] == "d"
    assert paths.columns == ["from", "e0", "to"]


def test_bfs_two_hops(friends):
    paths = friends.bfs("name = 'Esther'", "name = 'Alice'")
    rows = paths.collect()
    assert len(rows) == 1
    assert [c for c in paths.columns] == ["from", "e0", "v1", "e1", "to"]
    assert rows[0]["v1"]["id"] == "d"


def test_bfs_with_edge_filter(friends):
    paths = friends.bfs(
        "name = 'Esther'", "name = 'Charlie'", edgeFilter="relationship != 'friend'"
    )
    rows = paths.collect()
    assert len(rows) == 1
    assert rows[0]["v1"]["id"] == "f"


def test_bfs_no_path(friends):
    paths = friends.bfs("name = 'Gabby'", "name = 'Alice'", maxPathLength=3)
    assert paths.count() == 0


def test_bfs_from_equals_to(friends):
    paths = friends.bfs("age > 30", "age > 30")
    assert paths.columns == ["from", "to"]
    assert paths.count() == 5


def test_aggregate_messages(friends):
    from graphframes_spark.lib.aggregate_messages import AggregateMessages as AM

    # sum of neighbor ages sent to each vertex (both directions)
    agg = friends.aggregateMessages(
        F.sum(AM.msg).alias("total"),
        sendToSrc=AM.dst["age"],
        sendToDst=AM.src["age"],
    )
    totals = {r["id"]: r["total"] for r in agg.collect()}
    # a: neighbors b(out,36), e(out,32), d(in,29) = 97
    assert totals["a"] == 97


def test_pregel_pagerank_recipe(friends):
    """The reference python test's Pregel PageRank recipe
    (python/tests/test_graphframes.py:405-430)."""
    from graphframes_spark.pregel import Pregel

    g = friends.filterVertices(F.col("id") != "g")
    out_degrees = g.outDegrees
    v = g.vertices.join(out_degrees, on="id", how="left_outer").select(
        "id", F.coalesce("outDegree", F.lit(0)).alias("outDegree")
    )
    from graphframes_spark import GraphFrame

    g2 = GraphFrame(v, g.edges)
    n = 6
    alpha = 0.15
    ranks = (
        g2.pregel.setMaxIter(10)
        .withVertexColumn(
            "rank",
            F.lit(1.0 / n),
            F.coalesce(Pregel.msg(), F.lit(0.0)) * F.lit(1.0 - alpha)
            + F.lit(alpha / n),
        )
        .sendMsgToDst(Pregel.src("rank") / Pregel.src("outDegree"))
        .aggMsgs(F.sum(Pregel.msg()))
        .run()
    )
    total = ranks.agg(F.sum("rank")).collect()[0][0]
    assert total == pytest.approx(1.0, abs=0.05)


def test_belief_propagation_grid(spark):
    from graphframes_spark import examples
    from graphframes_spark.lib.belief_propagation import belief_propagation

    g = examples.grid_ising_model(spark, 3)
    result = belief_propagation(g, num_iter=3)
    rows = result.vertices.collect()
    assert len(rows) == 9
    assert all(0.0 <= r["belief"] <= 1.0 for r in rows)
    assert "color" not in result.vertices.columns


def test_belief_propagation_zero_couplings(spark):
    from graphframes_spark import GraphFrame
    from graphframes_spark.lib.belief_propagation import belief_propagation

    v = spark.createDataFrame(
        [("0,0", 0.0, 0, 0), ("0,1", 2.0, 0, 1), ("1,0", -2.0, 1, 0), ("1,1", 0.0, 1, 1)],
        ["id", "a", "i", "j"],
    )
    e = spark.createDataFrame(
        [("0,0", "0,1", 0.0), ("0,0", "1,0", 0.0), ("0,1", "1,1", 0.0), ("1,0", "1,1", 0.0)],
        ["src", "dst", "b"],
    )
    result = belief_propagation(GraphFrame(v, e), num_iter=2)
    beliefs = {r["id"]: r["belief"] for r in result.vertices.collect()}
    import math

    # zero couplings: belief = sigmoid(a)
    assert abs(beliefs["0,0"] - 0.5) < 1e-9
    assert abs(beliefs["0,1"] - 1 / (1 + math.exp(-2.0))) < 1e-9
    assert abs(beliefs["1,0"] - 1 / (1 + math.exp(2.0))) < 1e-9


def test_pagerank_weighted_known_values(spark):
    from graphframes_spark import GraphFrame

    v = spark.createDataFrame([(i,) for i in range(3)], ["id"])
    e = spark.createDataFrame(
        [(0, 1, 3.0), (0, 2, 1.0)], ["src", "dst", "w"]
    )
    g = GraphFrame(v, e)
    res = g.pageRank(maxIter=1, weightCol="w")
    r = {x["id"]: x["pagerank"] for x in res.vertices.collect()}
    a, n = 0.15, 3
    assert abs(r[1] - (a / n + (1 - a) * (1 / n) * 0.75)) < 1e-12
    assert abs(r[2] - (a / n + (1 - a) * (1 / n) * 0.25)) < 1e-12
    assert abs(r[0] - a / n) < 1e-12
    w = {(x["src"], x["dst"]): x["weight"] for x in res.edges.collect()}
    assert abs(w[(0, 1)] - 0.75) < 1e-12 and abs(w[(0, 2)] - 0.25) < 1e-12


def test_pagerank_weighted_uniform_equals_unweighted(spark):
    from graphframes_spark import GraphFrame

    v = spark.createDataFrame([(i,) for i in range(4)], ["id"])
    e = spark.createDataFrame(
        [(0, 1, 2.0), (0, 2, 2.0), (1, 3, 7.0), (2, 3, 7.0), (3, 0, 1.0)],
        ["src", "dst", "w"],
    )
    g = GraphFrame(v, e)
    rw = {x["id"]: x["pagerank"] for x in g.pageRank(maxIter=5, weightCol="w").vertices.collect()}
    ru = {x["id"]: x["pagerank"] for x in g.pageRank(maxIter=5).vertices.collect()}
    for k in rw:
        assert abs(rw[k] - ru[k]) < 1e-12


def test_pagerank_weighted_validation(friends):
    import pytest as _pytest
    from graphframes_spark.util import GraphFramesError

    with _pytest.raises(GraphFramesError):
        friends.pageRank(maxIter=2, weightCol="nope")
