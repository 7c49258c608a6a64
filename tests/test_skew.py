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
    """A positive broadcast_threshold (the reference's manual skew-join
    cutoff, TwoPhase.scala:160-173) is the giant-star hub cutoff: hub 0
    (degree 10^5) exceeds it, so its large-star join goes through the
    broadcast branch. The component PARTITION must equal the default
    run's."""
    aqe = hub_graph.connectedComponents()
    assert skew_join_calls == []
    manual = hub_graph.connectedComponents(broadcastThreshold=1000)
    assert skew_join_calls == [[0]]
    assert manual.select("component").distinct().count() == 1
    joined = manual.withColumnRenamed("component", "m").join(
        aqe.withColumnRenamed("component", "a"), on="id"
    )
    assert joined.filter(F.col("m") != F.col("a")).count() == 0


def test_cc_giant_star_hybrid_matches_plain_aqe(spark, hub_graph, skew_join_calls):
    """Giant-star hybrid at a cutoff far below the hub: hub 0 (degree
    10^5) is the only key above 10, so only its large-star join rows
    take the broadcast route while AQE handles the rest. The component
    partition must be identical to both the plain-AQE run and the
    graphx reference."""
    hybrid = hub_graph.connectedComponents(broadcastThreshold=10)
    assert skew_join_calls == [[0]]
    assert hybrid.select("component").distinct().count() == 1
    for other in (
        hub_graph.connectedComponents(),
        hub_graph.connectedComponents(algorithm="graphx"),
    ):
        joined = hybrid.withColumnRenamed("component", "h").join(
            other.withColumnRenamed("component", "o"), on="id"
        )
        assert joined.filter(F.col("h") != F.col("o")).count() == 0


def test_cc_manual_skew_join_multi_component(spark):
    """threshold=1 makes every key with degree >1 a hub — the broadcast
    branch carries most of the join — on a graph with several
    components and isolated vertices; AQE is left as it was."""
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


def test_library_never_writes_session_conf(spark, hub_graph, monkeypatch):
    """MIS and CC with a broadcast hub cutoff run without a single
    session-conf write: the session is shared, so a write would change
    the plans of every other thread's queries while it lasts."""
    from pyspark.sql.conf import RuntimeConfig

    writes = []
    for name in ("set", "unset"):
        orig = getattr(RuntimeConfig, name)

        def spy(self, *args, _name=name, _orig=orig):
            writes.append((_name, args))
            return _orig(self, *args)

        monkeypatch.setattr(RuntimeConfig, name, spy)
    assert hub_graph.maximalIndependentSet(seed=5).count() > 0
    cc = hub_graph.connectedComponents(broadcastThreshold=1000)
    assert cc.select("component").distinct().count() == 1
    assert writes == []


def test_threaded_mis_beside_cc_matches_serial(spark):
    """MIS in one thread beside connectedComponents in another, on one
    session, returns exactly what serial runs return."""
    from concurrent.futures import ThreadPoolExecutor

    v = spark.range(0, 40)
    chain = GraphFrame(
        v, spark.createDataFrame([(i, i + 1) for i in range(39)], ["src", "dst"])
    )
    blocks = GraphFrame(
        v,
        spark.createDataFrame(
            [(i, i + 1) for i in range(40) if i % 10 != 9], ["src", "dst"]
        ),
    )

    def mis():
        return sorted(r["id"] for r in chain.maximalIndependentSet(seed=3).collect())

    def cc():
        return sorted(
            (r["id"], r["component"]) for r in blocks.connectedComponents().collect()
        )

    serial = (mis(), cc())
    with ThreadPoolExecutor(max_workers=2) as pool:
        futures = (pool.submit(mis), pool.submit(cc))
        threaded = tuple(f.result() for f in futures)
    assert threaded == serial
    assert serial[1] == [(i, i - i % 10) for i in range(40)]


def test_cc_skew_broadcast_query_takes_skew_path(spark, skew_join_calls):
    """The cc_skew_broadcast registry query really runs the broadcast
    path at sf0.01: its order chains keep the contraction loop iterating,
    and customers above 20 orders are routed as hubs. Each customer stays
    one component with its orders (the full oracle is the registry's)."""
    import os

    import __spark_entry__ as entry
    from test_entry_contract import SF_DIR

    sf_dir = os.path.join(os.path.dirname(SF_DIR), "sf0.01")
    if not os.path.isdir(sf_dir):
        pytest.skip("sf0.01 testdata not present")
    out = entry.queries()["cc_skew_broadcast"](spark, sf_dir)
    assert any(skew_join_calls), skew_join_calls
    customers = spark.read.parquet(f"{sf_dir}/customer.parquet").count()
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").count()
    assert out.count() == customers + orders
    assert out.select("component").distinct().count() == customers


def test_cc_manual_skew_join_rejects_bad_args(spark):
    from graphframes_spark.util import GraphFramesError

    v = spark.range(3)
    e = spark.createDataFrame([(0, 1)], ["src", "dst"])
    g = GraphFrame(v, e)
    with pytest.raises(GraphFramesError):
        g.connectedComponents(broadcastThreshold=0)
    with pytest.raises(GraphFramesError):
        g.connectedComponents(algorithm="graphx", broadcastThreshold=5)


def test_cc_giant_star_hybrid_multi_component(spark, skew_join_calls):
    """Several keys qualify as giant stars at once on a multi-component
    graph with isolated vertices: hubs 0 and 20 (symmetrized degree 13)
    exceed the cutoff of 10 and no other key does; the partition must
    stay exact."""
    v = spark.range(0, 40)
    edges = (
        [(0, i) for i in range(1, 14)]
        + [(20, i) for i in range(21, 34)]
        + [(1, 2), (21, 22), (36, 37)]
    )
    e = spark.createDataFrame(edges, ["src", "dst"])
    out = GraphFrame(v, e).connectedComponents(broadcastThreshold=10)
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


def test_giant_star_cutoff():
    """The derived hub cutoff max(floor, factor * total // n_part),
    without Spark: the floor holds small graphs off the broadcast path,
    and past it the cutoff is factor times the even per-task share."""
    from graphframes_spark.lib.connected_components import (
        GIANT_STAR_FACTOR,
        GIANT_STAR_FLOOR,
        _giant_star_cutoff,
    )

    assert (GIANT_STAR_FACTOR, GIANT_STAR_FLOOR) == (4, 1_000_000)
    assert _giant_star_cutoff(0, 8) == 1_000_000
    assert _giant_star_cutoff(2_000_000, 8) == 1_000_000
    assert _giant_star_cutoff(2_000_003, 8) == 1_000_001
    assert _giant_star_cutoff(10**9, 200) == 20_000_000
