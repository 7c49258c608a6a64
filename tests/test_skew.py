"""Hub-skew regression tests (VERDICT r01 §Performance): the rewritten
label propagation / shortest paths / triangle count / parallel PPR must
complete on a graph with a ~10^5-degree hub without materializing
degree-sized per-row state (the old collect_list folds would build one
100k-element array in a single row here)."""

import pytest
from pyspark.sql import functions as F

from graphframes_spark import GraphFrame

N = 100_000


@pytest.fixture(scope="module")
def hub_graph(spark):
    """Star with hub 0 and leaves 1..N, plus a triangle 0-1-2."""
    v = spark.range(0, N + 1).withColumnRenamed("id", "id")
    e = (
        spark.range(1, N + 1)
        .select(F.lit(0).alias("src"), F.col("id").alias("dst"))
        .unionByName(
            spark.createDataFrame([(1, 2)], ["src", "dst"])
        )
    )
    return GraphFrame(v, e)


def test_triangle_count_hub(hub_graph):
    counts = {
        r["id"]: r["count"]
        for r in hub_graph.triangleCount().filter("count > 0").collect()
    }
    assert counts == {0: 1, 1: 1, 2: 1}


def test_label_propagation_hub(hub_graph):
    res = hub_graph.labelPropagation(maxIter=2)
    # hub broadcasts its label to every leaf in superstep 1
    leaf_labels = (
        res.filter(F.col("id") > 2).select("label").distinct().collect()
    )
    assert len(leaf_labels) == 1


def test_shortest_paths_hub(hub_graph):
    sp = hub_graph.shortestPaths(landmarks=[2])
    d = {r["id"]: dict(r["distances"]) for r in sp.filter(F.col("id") <= 2).collect()}
    assert d[2] == {2: 0}
    assert d[0] == {2: 1}
    assert d[1] == {2: 1}
    # leaves other than 1,2 cannot reach landmark 2 (directed)
    assert sp.filter((F.col("id") > 2) & (F.size("distances") > 0)).count() == 0


def test_parallel_ppr_hub(hub_graph):
    res = hub_graph.parallelPersonalizedPageRank(
        resetProbability=0.15, sourceIds=[0, 1], maxIter=3
    )
    ranks = {r["id"]: r["pageranks"] for r in res.vertices.filter(F.col("id") <= 2).collect()}
    assert ranks[0][0] > 0  # source 0 keeps mass on itself
    assert ranks[2][1] > 0  # 1 -> 2 via triangle edge


def test_louvain_hub(hub_graph):
    # 100k-leaf star: the candidate aggregation must stay bounded per
    # row (min(struct) hash agg, no per-vertex candidate arrays); the
    # star is one community and the hub's min-id label wins
    asg = hub_graph.louvain(maxPasses=1, maxRoundsPerPass=4)
    communities = asg.select("community").distinct().count()
    assert communities < 10
    hub = asg.filter("id = 0").collect()[0]["community"]
    assert hub == 0


def test_katz_hub(hub_graph):
    # hub out-fans to 100k leaves; katz must aggregate partial sums,
    # never collect neighbor lists
    r = hub_graph.katzCentrality(alpha=0.1, maxIter=2)
    vals = {x["id"]: x["katz"] for x in r.filter("id <= 2").collect()}
    # leaf 1: in-edge from hub only -> alpha*(1+hub_prev) with
    # hub_prev = 0 after iter1... value must be bounded and positive
    assert vals[1] > 0.0
    assert r.count() == N + 1


def test_wl_labels_hub(hub_graph):
    # all leaves except 1,2 share the same structural label; the hub is
    # unique; labels computed via bounded hash sums
    labels = hub_graph.wlLabels(iterations=1)
    n_distinct = labels.select("wl_label").distinct().count()
    assert n_distinct <= 4  # hub, leaf-in-triangle(1), leaf(2), plain leaves
    assert labels.count() == N + 1


def test_cross_corpus_dedup_hot_fingerprint(spark):
    """A fingerprint duplicated 10^4x on BOTH sides must not blow up the
    anti-join: reference fps are distinct'd before the join, so the hot
    key meets the incoming side as one row, not a 10^4 x 10^4 product."""
    from graphframes_spark.datapipe import cross_corpus_dedup

    n = 10_000
    incoming = spark.range(n).select(
        F.col("id"), F.lit("same hot document text").alias("text")
    ).unionByName(
        spark.createDataFrame([(n, "unique incoming text")], ["id", "text"])
    )
    reference = spark.range(n).select(
        (F.col("id") + 100_000).alias("id"),
        F.lit("same hot document text").alias("text"),
    )
    out = cross_corpus_dedup(incoming, reference, method="exact", id_col="id")
    assert [r["id"] for r in out.collect()] == [n]


def test_bloom_decontaminate_hot_shingle(spark):
    """A shingle shared by every incoming doc and one reference doc: the
    bloom prefilter passes the hot shingle once per doc (linear), the
    exact join groups on (doc, ref) — no quadratic pair blow-up and no
    spurious drops of docs sharing only ONE shingle (min_shared=2)."""
    from graphframes_spark.datapipe import decontaminate

    n = 5_000
    # every incoming doc contains the hot trigram "x y z" exactly once,
    # embedded in otherwise-unique text
    incoming = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("x y z u"), F.col("id").cast("string")).alias("text"),
    )
    reference = spark.createDataFrame(
        [(999_999, "x y z reference benchmark row")], ["doc_id", "text"]
    )
    out = decontaminate(
        incoming, reference, n=3, min_shared=2, num_bits=1 << 14, num_hashes=3
    )
    # one shared shingle < min_shared: every incoming doc survives
    assert out.count() == n


@pytest.fixture()
def skew_join_calls(monkeypatch):
    """Hub-key lists ``_skewed_join`` was called with. A star forest
    centred on its minima exits CC at the first probe and never joins,
    so the skew-path tests below assert the loop really ran this path."""
    import graphframes_spark.lib.connected_components as cc_mod

    calls = []
    orig = cc_mod._skewed_join

    def spy(a, b, hubs):
        calls.append(list(hubs))
        return orig(a, b, hubs)

    monkeypatch.setattr(cc_mod, "_skewed_join", spy)
    return calls


def test_cc_manual_skew_join_matches_aqe(spark, hub_graph, skew_join_calls):
    """Manual broadcast/skew-join CC mode (broadcast_threshold > 0,
    reference TwoPhase.scala:160-173): hub 0 exceeds the threshold, so
    its star-contraction joins go through the broadcast branch. The
    component PARTITION must equal the AQE mode's."""
    manual = hub_graph.connectedComponents(broadcastThreshold=1000)
    assert [0] in skew_join_calls
    aqe = hub_graph.connectedComponents()
    assert manual.select("component").distinct().count() == 1
    joined = manual.withColumnRenamed("component", "m").join(
        aqe.withColumnRenamed("component", "a"), on="id"
    )
    assert joined.filter(F.col("m") != F.col("a")).count() == 0


def test_cc_manual_skew_join_multi_component(spark):
    """threshold=1 makes every key with degree >1 a hub — the broadcast
    branch carries most of the join — on a graph with several
    components, isolated vertices, and AQE restored afterwards."""
    v = spark.range(0, 12)
    e = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (3, 4), (4, 5), (5, 3), (6, 7), (8, 9)],
        ["src", "dst"],
    )
    g = GraphFrame(v, e)
    saved = spark.conf.get("spark.sql.adaptive.enabled")
    out = g.connectedComponents(broadcastThreshold=1)
    assert spark.conf.get("spark.sql.adaptive.enabled") == saved
    comps = {}
    for r in out.collect():
        comps.setdefault(r["component"], set()).add(r["id"])
    groups = sorted(sorted(m) for m in comps.values())
    assert groups == [[0, 1, 2], [3, 4, 5], [6, 7], [8, 9], [10], [11]]


def test_cc_manual_skew_join_rejects_bad_args(spark):
    from graphframes_spark.util import GraphFramesError

    v = spark.range(3)
    e = spark.createDataFrame([(0, 1)], ["src", "dst"])
    g = GraphFrame(v, e)
    with pytest.raises(GraphFramesError):
        g.connectedComponents(broadcastThreshold=0)
    with pytest.raises(GraphFramesError):
        g.connectedComponents(algorithm="graphx", broadcastThreshold=5)


@pytest.fixture()
def giant_star_conf(spark):
    """Force giant-star detection on test-sized graphs: floor 10 rows,
    factor 1 (any key above the even per-partition share qualifies)."""
    keys = {
        "spark.graphframes_spark.cc.giantStarFloor": "10",
        "spark.graphframes_spark.cc.giantStarFactor": "1",
    }
    saved = {k: spark.conf.get(k, None) for k in keys}
    for k, v in keys.items():
        spark.conf.set(k, v)
    yield
    for k, v in saved.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


def test_cc_giant_star_hybrid_matches_plain_aqe(
    spark, hub_graph, giant_star_conf, skew_join_calls
):
    """Round-10 giant-star hybrid: with the detection thresholds forced
    low, hub 0 (degree 10^5) is detected from the convergence probe's
    aggregate and its large-star join rows take the broadcast route
    while AQE handles the rest. The component partition must be
    identical to both the plain-AQE run and the graphx reference."""
    hybrid = hub_graph.connectedComponents()
    assert skew_join_calls == [[0]]
    assert hybrid.select("component").distinct().count() == 1
    gx = hub_graph.connectedComponents(algorithm="graphx")
    joined = hybrid.withColumnRenamed("component", "h").join(
        gx.withColumnRenamed("component", "g"), on="id"
    )
    assert joined.filter(F.col("h") != F.col("g")).count() == 0


def test_cc_giant_star_hybrid_multi_component(spark, giant_star_conf, skew_join_calls):
    """Forced-low thresholds on a multi-component graph with isolated
    vertices: several keys qualify as 'giants' at once; the partition
    must stay exact. Each hub holds about a quarter of the symmetrized
    rows, so with 4 shuffle partitions neither would exceed the factor-1
    share; 8 partitions put both above it."""
    v = spark.range(0, 40)
    edges = (
        # two stars big enough to trip the 10-row floor after symmetrize
        [(0, i) for i in range(1, 14)]
        + [(20, i) for i in range(21, 34)]
        + [(1, 2), (21, 22), (36, 37)]
    )
    e = spark.createDataFrame(edges, ["src", "dst"])
    g = GraphFrame(v, e)
    key = "spark.sql.shuffle.partitions"
    saved = spark.conf.get(key)
    spark.conf.set(key, "8")
    try:
        out = g.connectedComponents()
    finally:
        spark.conf.set(key, saved)
    assert [sorted(h) for h in skew_join_calls] == [[0, 20]]
    comps = {}
    for r in out.collect():
        comps.setdefault(r["component"], set()).add(r["id"])
    groups = sorted(sorted(m) for m in comps.values())
    assert groups == (
        [list(range(0, 14)), [14], [15], [16], [17], [18], [19]]
        + [list(range(20, 34)), [34], [35], [36, 37], [38], [39]]
    )


def test_giant_star_hub_detection_bounds(spark):
    """Unit contract of _giant_star_hubs: early-out when no key can
    qualify (total <= threshold — zero extra actions on small graphs),
    detection of the heavy key otherwise, and the defensive cap."""
    from graphframes_spark.lib.connected_components import (
        MAX_GIANT_HUBS,
        _giant_star_hubs,
    )

    mn = spark.createDataFrame(
        [(0, 0, 90), (1, 0, 6), (2, 0, 4)], ["src", "min_nbr", "cnt"]
    )
    # total <= threshold: early-out, no job at all
    assert _giant_star_hubs(mn, total_cnt=100, threshold=100) == []
    # only the heavy key exceeds the threshold
    assert _giant_star_hubs(mn, total_cnt=100, threshold=50) == [0]
    # cap: a frame with more qualifying keys than the cap stays bounded
    many = spark.range(0, MAX_GIANT_HUBS + 10).select(
        F.col("id").alias("src"),
        F.lit(0).alias("min_nbr"),
        F.lit(100).alias("cnt"),
    )
    import warnings as _warnings

    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        got = _giant_star_hubs(many, total_cnt=10**9, threshold=50)
    assert len(got) == MAX_GIANT_HUBS
    # truncation must be diagnosable, not silent (round-11 ADVICE)
    assert any("truncating" in str(w.message) for w in caught)


def test_cc_giant_star_detection_disable_knob(spark, hub_graph, skew_join_calls):
    """giantStarFactor=0 must disable detection entirely (plain AQE joins)
    even when the floor is forced low enough to trigger — the documented
    escape hatch — and results stay exact."""
    keys = {
        "spark.graphframes_spark.cc.giantStarFloor": "10",
        "spark.graphframes_spark.cc.giantStarFactor": "0",
    }
    saved = {k: spark.conf.get(k, None) for k in keys}
    for k, v in keys.items():
        spark.conf.set(k, v)
    try:
        out = hub_graph.connectedComponents()
        assert out.select("component").distinct().count() == 1
        assert skew_join_calls == [], "factor=0 must not route any key through broadcast"
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
