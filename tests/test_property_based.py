"""Property-based cross-checks: random small graphs, Spark algorithms vs
pure-Python brute-force oracles (union-find CC, Tarjan-free SCC via
reachability, triangle enumeration, iterative k-core peeling)."""

import itertools

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from graphframes_spark import GraphFrame

MAX_V = 9

edge_sets = st.sets(
    st.tuples(st.integers(0, MAX_V - 1), st.integers(0, MAX_V - 1)).filter(
        lambda e: e[0] != e[1]
    ),
    min_size=1,
    max_size=14,
)

SETTINGS = dict(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _graph(spark, edges):
    v = spark.createDataFrame([(i,) for i in range(MAX_V)], ["id"])
    e = spark.createDataFrame(sorted(edges), ["src", "dst"])
    return GraphFrame(v, e)


def _cc_oracle(edges):
    parent = list(range(MAX_V))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for s, d in edges:
        parent[find(s)] = find(d)
    groups = {}
    for i in range(MAX_V):
        groups.setdefault(find(i), set()).add(i)
    return {frozenset(g) for g in groups.values()}


def _scc_oracle(edges):
    reach = [[False] * MAX_V for _ in range(MAX_V)]
    for i in range(MAX_V):
        reach[i][i] = True
    for s, d in edges:
        reach[s][d] = True
    for k in range(MAX_V):
        for i in range(MAX_V):
            if reach[i][k]:
                for j in range(MAX_V):
                    if reach[k][j]:
                        reach[i][j] = True
    groups = {}
    for i in range(MAX_V):
        key = frozenset(
            j for j in range(MAX_V) if reach[i][j] and reach[j][i]
        )
        groups[key] = True
    return set(groups)


def _triangles_oracle(edges):
    und = {frozenset(e) for e in edges}
    counts = {i: 0 for i in range(MAX_V)}
    for a, b, c in itertools.combinations(range(MAX_V), 3):
        if (
            frozenset((a, b)) in und
            and frozenset((b, c)) in und
            and frozenset((a, c)) in und
        ):
            for x in (a, b, c):
                counts[x] += 1
    return counts


def _kcore_oracle(edges):
    nbrs = {i: set() for i in range(MAX_V)}
    for s, d in edges:
        nbrs[s].add(d)
        nbrs[d].add(s)
    # iterative peeling: a vertex peeled while the threshold is k has core k
    alive = set(range(MAX_V))
    result = {}
    k = 0
    while alive:
        while True:
            peel = {v for v in alive if len(nbrs[v] & alive) <= k}
            if not peel:
                break
            for v in peel:
                result[v] = k
                alive.discard(v)
        k += 1
    return result


def _partition(comp_map):
    groups = {}
    for vid, c in comp_map.items():
        groups.setdefault(c, set()).add(vid)
    return {frozenset(g) for g in groups.values()}


@pytest.mark.slow
@given(edges=edge_sets)
@settings(**SETTINGS)
def test_cc_matches_union_find(spark, edges):
    g = _graph(spark, edges)
    got = _partition(
        {r["id"]: r["component"] for r in g.connectedComponents().collect()}
    )
    assert got == _cc_oracle(edges)


@pytest.mark.slow
@given(edges=edge_sets)
@settings(**SETTINGS)
def test_scc_matches_reachability(spark, edges):
    g = _graph(spark, edges)
    got = _partition(
        {r["id"]: r["component"] for r in g.stronglyConnectedComponents(20).collect()}
    )
    assert got == _scc_oracle(edges)


@pytest.mark.slow
@given(edges=edge_sets)
@settings(**SETTINGS)
def test_triangle_count_matches_enumeration(spark, edges):
    g = _graph(spark, edges)
    got = {r["id"]: r["count"] for r in g.triangleCount().collect()}
    assert got == _triangles_oracle(edges)


@pytest.mark.slow
@given(edges=edge_sets)
@settings(**SETTINGS)
def test_kcore_matches_peeling(spark, edges):
    # kCore contract: one direction per undirected edge — canonicalize
    canon = {(min(e), max(e)) for e in edges}
    g = _graph(spark, canon)
    got = {r["id"]: r["kcore"] for r in g.kCore().collect()}
    assert got == _kcore_oracle(canon)


weighted_edge_sets = st.sets(
    st.tuples(
        st.integers(0, MAX_V - 1),
        st.integers(0, MAX_V - 1),
        st.integers(1, 9),  # weights as small ints -> exact float arithmetic
    ).filter(lambda e: e[0] != e[1]),
    min_size=1,
    max_size=14,
)


def _sssp_oracle(edges, landmark):
    """Driver-side Bellman-Ford: min total weight v -> landmark along
    edge direction; unreachable vertices are absent."""
    inf = float("inf")
    dist = {i: inf for i in range(MAX_V)}
    dist[landmark] = 0.0
    # keep only the lightest parallel edge, like the operator does
    best = {}
    for s, d, w in edges:
        best[(s, d)] = min(best.get((s, d), inf), float(w))
    for _ in range(MAX_V):
        for (s, d), w in best.items():
            if dist[d] + w < dist[s]:
                dist[s] = dist[d] + w
    return {i: d for i, d in dist.items() if d < inf}


@pytest.mark.slow
@given(edges=weighted_edge_sets, landmark=st.integers(0, MAX_V - 1))
@settings(**SETTINGS)
def test_sssp_matches_bellman_ford(spark, edges, landmark):
    v = spark.createDataFrame([(i,) for i in range(MAX_V)], ["id"])
    e = spark.createDataFrame(
        sorted((s, d, float(w)) for s, d, w in edges), ["src", "dst", "weight"]
    )
    g = GraphFrame(v, e)
    got = {
        r["id"]: r["distances"].get(landmark)
        for r in g.shortestPathsWeighted([landmark]).collect()
        if landmark in r["distances"]
    }
    assert got == _sssp_oracle(edges, landmark)


def _betweenness_oracle(edges, sources):
    """Brandes on a tiny directed graph, per-source BFS + accumulation."""
    from collections import deque

    adj = {i: [] for i in range(MAX_V)}
    for s, d in edges:
        adj[s].append(d)
    bc = {i: 0.0 for i in range(MAX_V)}
    for s in sources:
        sigma = {i: 0.0 for i in range(MAX_V)}
        dist = {i: -1 for i in range(MAX_V)}
        preds = {i: [] for i in range(MAX_V)}
        sigma[s], dist[s] = 1.0, 0
        order = []
        q = deque([s])
        while q:
            v = q.popleft()
            order.append(v)
            for w in adj[v]:
                if dist[w] < 0:
                    dist[w] = dist[v] + 1
                    q.append(w)
                if dist[w] == dist[v] + 1:
                    sigma[w] += sigma[v]
                    preds[w].append(v)
        delta = {i: 0.0 for i in range(MAX_V)}
        for w in reversed(order):
            for v in preds[w]:
                delta[v] += sigma[v] / sigma[w] * (1 + delta[w])
            if w != s:
                bc[w] += delta[w]
    return bc


@pytest.mark.parametrize("sources", [[0], [0, 3, 7]])
@given(edges=edge_sets)
@settings(**SETTINGS)
def test_betweenness_matches_bruteforce(spark, sources, edges):
    g = _graph(spark, edges)
    got = {
        r["id"]: r["betweenness"]
        for r in g.betweennessCentrality(sources, maxDepth=MAX_V).collect()
    }
    want = _betweenness_oracle(edges, sources)
    for i in range(MAX_V):
        assert abs(got[i] - want[i]) < 1e-9, (i, got[i], want[i], sorted(edges))


@given(edges=edge_sets)
@settings(**SETTINGS)
def test_coloring_proper_on_random_graphs(spark, edges):
    g = _graph(spark, edges)
    cols = {r["id"]: r["color"] for r in g.greedyColoring(seed="pb").collect()}
    for s, d in edges:
        assert cols[s] != cols[d], (s, d, cols)
    # colors are 0-based and bounded by max degree + 1 (greedy guarantee)
    deg = {i: 0 for i in range(MAX_V)}
    for s, d in edges:
        deg[s] += 1
        deg[d] += 1
    assert all(0 <= c <= max(deg.values()) for c in cols.values())


def _katz_oracle(edges, alpha, iters):
    # c <- alpha * A^T (1 + c), c0 = 0, edge multiplicity via the set
    c = [0.0] * MAX_V
    for _ in range(iters):
        nxt = [0.0] * MAX_V
        for s, d in edges:
            nxt[d] += alpha * (1.0 + c[s])
        c = nxt
    return c


@pytest.mark.slow
@given(edges=edge_sets, iters=st.integers(1, 4))
@settings(**SETTINGS)
def test_katz_matches_bruteforce(spark, edges, iters):
    g = _graph(spark, edges)
    got = {
        r["id"]: r["katz"]
        for r in g.katzCentrality(alpha=0.2, maxIter=iters).collect()
    }
    want = _katz_oracle(edges, 0.2, iters)
    for i in range(MAX_V):
        assert abs(got[i] - want[i]) < 1e-9, (i, got[i], want[i], sorted(edges))


def _modularity_oracle(edges, asg):
    und = {frozenset(e) for e in edges}
    m = len(und)
    if m == 0:
        return None
    deg = {i: 0 for i in range(MAX_V)}
    for e in und:
        a, b = sorted(e)
        deg[a] += 1
        deg[b] += 1
    q = 0.0
    comms = set(asg.values())
    for c in comms:
        members = {v for v, cc in asg.items() if cc == c}
        lc = sum(1 for e in und if e <= members)
        dc = sum(deg[v] for v in members)
        q += lc / m - (dc / (2.0 * m)) ** 2
    return q


@pytest.mark.slow
@given(edges=edge_sets)
@settings(**SETTINGS)
def test_louvain_valid_and_not_worse_than_singletons(spark, edges):
    g = _graph(spark, edges)
    # bounded passes/rounds: every invariant below holds at ANY point
    # louvain stops (validity, min-member labels, non-negative-gain
    # moves only), and 2x4 converges on 9-vertex graphs anyway — the
    # default 3x10 just triples the localCheckpoint round overhead
    rows = g.louvain(maxPasses=2, maxRoundsPerPass=4).collect()
    asg = {r["id"]: r["community"] for r in rows}
    # total assignment: every vertex labeled, labels are member ids
    assert set(asg) == set(range(MAX_V))
    for vid, c in asg.items():
        assert c in asg and asg[c] == c, (vid, c, asg)
        assert c == min(v for v, cc in asg.items() if cc == c)
    # modularity >= the all-singletons baseline (louvain only ever
    # accepts non-negative-gain moves from the singleton start)
    q_louvain = _modularity_oracle(edges, asg)
    q_single = _modularity_oracle(edges, {i: i for i in range(MAX_V)})
    assert q_louvain is not None
    assert q_louvain >= q_single - 1e-9, (asg, q_louvain, q_single, sorted(edges))


@pytest.mark.slow
@given(edges=edge_sets)
@settings(**SETTINGS)
def test_wl_labels_isomorphism_invariant(spark, edges):
    # relabeling vertices by a fixed permutation must permute labels,
    # leaving the label multiset identical
    perm = [(i * 5 + 3) % MAX_V for i in range(MAX_V)]  # bijection mod 9
    assert len(set(perm)) == MAX_V
    g1 = _graph(spark, edges)
    g2 = _graph(spark, {(perm[s], perm[d]) for s, d in edges})
    l1 = {r["id"]: r["wl_label"] for r in g1.wlLabels(2).collect()}
    l2 = {r["id"]: r["wl_label"] for r in g2.wlLabels(2).collect()}
    assert sorted(l1.values()) == sorted(l2.values())
    for i in range(MAX_V):
        assert l1[i] == l2[perm[i]], (i, perm[i], sorted(edges))


def _reachable_from(edges, seeds_ids):
    # undirected reachability
    nbrs = {i: set() for i in range(MAX_V)}
    for s, d in edges:
        nbrs[s].add(d)
        nbrs[d].add(s)
    seen = set(seeds_ids)
    frontier = set(seeds_ids)
    while frontier:
        frontier = {n for v in frontier for n in nbrs[v]} - seen
        seen |= frontier
    return seen


@pytest.mark.slow
@given(edges=edge_sets)
@settings(**SETTINGS)
def test_seeded_lpa_labels_exactly_the_reachable(spark, edges):
    g = _graph(spark, edges)
    seeds = spark.createDataFrame([(0, 100), (5, 200)], ["id", "label"])
    out = {
        r["id"]: r["label"]
        for r in g.seededLabelPropagation(seeds, maxIter=MAX_V + 1).collect()
    }
    reachable = _reachable_from(edges, {0, 5})
    for i in range(MAX_V):
        if i in reachable:
            assert out[i] in (100, 200), (i, out[i], sorted(edges))
        else:
            assert out[i] is None, (i, out[i], sorted(edges))
    assert out[0] == 100 and out[5] == 200


def _eigenvector_oracle(edges, iters):
    x = [1.0] * MAX_V
    for _ in range(iters):
        nxt = [0.0] * MAX_V
        for s, d in edges:
            nxt[d] += x[s]
        x = nxt
    norm = sum(v * v for v in x) ** 0.5
    if norm == 0:
        return x  # implementation divides by 0 -> NULL; handled by caller
    return [v / norm for v in x]


@pytest.mark.slow
@given(edges=edge_sets, iters=st.integers(1, 4))
@settings(**SETTINGS)
def test_eigenvector_matches_power_iteration(spark, edges, iters):
    g = _graph(spark, edges)
    got = {
        r["id"]: r["eigenvector"]
        for r in g.eigenvectorCentrality(maxIter=iters).collect()
    }
    want = _eigenvector_oracle(edges, iters)
    zero_norm = all(v == 0.0 for v in want)
    for i in range(MAX_V):
        if zero_norm:
            assert got[i] is None  # try_divide by zero norm
        else:
            assert abs(got[i] - want[i]) < 1e-9, (i, got[i], want[i], sorted(edges))


def _hub_skewed_edges(num_vertices, num_edges, seed):
    """Simple directed ``floor(V·u³)`` graph: vertex 0 is the hub."""
    rng = np.random.default_rng(seed)
    src = np.floor(num_vertices * rng.random(num_edges) ** 3).astype(np.int64)
    dst = np.floor(num_vertices * rng.random(num_edges) ** 3).astype(np.int64)
    keep = src != dst
    key = np.unique(src[keep] * num_vertices + dst[keep])
    return key // num_vertices, key % num_vertices


def _pagerank_oracle(n, src, dst, weight, alpha, source, iters):
    """Power iteration with the recipe's semantics: rank held by vertices
    without (positive) out-weight is not redistributed."""
    out_w = np.bincount(src, weights=weight, minlength=n)
    reset = np.full(n, alpha / n)
    rank = np.full(n, 1.0 / n)
    if source is not None:
        reset = np.zeros(n)
        reset[source] = alpha
        rank = np.zeros(n)
        rank[source] = 1.0
    for _ in range(iters):
        share = rank[src] * weight / out_w[src]
        rank = reset + (1.0 - alpha) * np.bincount(dst, weights=share, minlength=n)
    return rank


@pytest.fixture(scope="module")
def hub_skewed(spark):
    n = 2000
    src, dst = _hub_skewed_edges(n, 12_000, seed=7)
    weight = 1.0 + (np.arange(len(src)) * 2654435761 % 97) / 8.0
    v = spark.createDataFrame([(i,) for i in range(n)], ["id"])
    e = spark.createDataFrame(
        list(zip(src.tolist(), dst.tolist(), weight.tolist())), ["src", "dst", "w"]
    )
    return n, src, dst, weight, GraphFrame(v, e)


@pytest.mark.slow
@pytest.mark.parametrize("mode", ["uniform", "personalized", "weighted"])
@pytest.mark.parametrize("iters", [1, 2, 3, 4])
def test_pagerank_matches_power_iteration_on_hub_skewed_graph(hub_skewed, mode, iters):
    n, src, dst, weight, g = hub_skewed
    source = 3 if mode == "personalized" else None
    weighted = mode == "weighted"
    ranks = g.pageRank(
        resetProbability=0.15,
        sourceId=source,
        maxIter=iters,
        weightCol="w" if weighted else None,
    ).vertices
    got = np.zeros(n)
    for r in ranks.collect():
        got[r["id"]] = r["pagerank"]
    want = _pagerank_oracle(
        n, src, dst, weight if weighted else np.ones(len(src)), 0.15, source, iters
    )
    # the join strategy changes the order of the sums, not their value
    np.testing.assert_allclose(got, want, rtol=1e-9, atol=0)


def _triad_oracle(edges):
    es = set(edges)
    mutual = sum(1 for (a, b) in es if (b, a) in es) // 2
    asym = len(es) - 2 * mutual
    null = MAX_V * (MAX_V - 1) // 2 - mutual - asym
    cyclic = 0
    transitive = 0
    for a in range(MAX_V):
        for b in range(MAX_V):
            for c in range(MAX_V):
                if len({a, b, c}) < 3:
                    continue
                if (a, b) in es and (b, c) in es and (c, a) in es:
                    cyclic += 1
                if (a, b) in es and (b, c) in es and (a, c) in es:
                    transitive += 1
    return mutual, asym, null, cyclic // 3, transitive


@pytest.mark.slow
@given(edges=edge_sets)
@settings(**SETTINGS)
def test_triad_census_matches_bruteforce(spark, edges):
    g = _graph(spark, edges)
    row = g.triadCensus().collect()[0]
    mu, asym, null, cyc, tr = _triad_oracle(edges)
    assert (
        row["mutual_dyads"],
        row["asym_dyads"],
        row["null_dyads"],
        row["cyclic_triangles"],
        row["transitive_triangles"],
    ) == (mu, asym, null, cyc, tr), sorted(edges)


# ---------------------------------------------------------------- funnel

event_sets = st.lists(
    st.tuples(
        st.integers(0, 3),            # user
        st.integers(0, 50),           # minute offset
        st.sampled_from(["A", "B", "C"]),
    ),
    min_size=1,
    max_size=16,
    unique_by=lambda r: (r[0], r[1]),
)


def _funnel_oracle(rows, steps, within_minutes):
    """First-touch greedy chain per user, pure Python."""
    per_user = {}
    for u, t, ev in rows:
        per_user.setdefault(u, []).append((t, ev))
    reached = [0] * len(steps)
    for evs in per_user.values():
        evs.sort()
        prev = None
        for k, step in enumerate(steps):
            cand = [
                t for t, ev in evs
                if ev == step
                and (prev is None or (t > prev and t <= prev + within_minutes))
            ]
            if not cand:
                break
            prev = min(cand)
            reached[k] += 1
    return reached


@pytest.mark.slow
@given(rows=event_sets)
@settings(**SETTINGS)
def test_funnel_matches_bruteforce(spark, rows):
    from datetime import datetime, timedelta

    from graphframes_spark.datapipe import funnel

    base = datetime(2026, 1, 1)
    df = spark.createDataFrame(
        [(u, base + timedelta(minutes=t), ev) for u, t, ev in rows],
        "user_id long, ts timestamp, event_type string",
    )
    steps = ["A", "B", "C"]
    got = {r["step"]: r["n_users"] for r in
           funnel(df, steps, within_seconds=10 * 60).collect()}
    expect = _funnel_oracle(rows, steps, within_minutes=10)
    assert [got[k] for k in (1, 2, 3)] == expect


# -------------------------------------------------------------- retention


@pytest.mark.slow
@given(rows=event_sets)
@settings(**SETTINGS)
def test_retention_matches_bruteforce(spark, rows):
    from datetime import datetime, timedelta

    from graphframes_spark.datapipe import retention

    base = datetime(2026, 1, 5)  # a Monday: cohort math stays readable
    df = spark.createDataFrame(
        [(u, base + timedelta(hours=6 * t), ev) for u, t, ev in rows],
        "user_id long, ts timestamp, event_type string",
    )
    got = {(str(r["cohort"]), r["period"]): (r["n_cohort"], r["n_active"])
           for r in retention(df, periods=4, period_days=7).collect()}

    # brute force: cohort = Monday of the first event's week
    per_user = {}
    for u, t, _ in rows:
        d = (base + timedelta(hours=6 * t))
        per_user.setdefault(u, []).append(d)
    cohorts, active = {}, {}
    for u, ds in per_user.items():
        first = min(ds)
        monday = (first - timedelta(days=first.weekday())).date()
        cohorts.setdefault(monday, set()).add(u)
        for d in ds:
            k = (d.date() - monday).days // 7
            if k < 4:
                active.setdefault((monday, k), set()).add(u)
    expect = {
        (str(c), k): (len(cohorts[c]), len(users))
        for (c, k), users in active.items()
    }
    assert got == expect
