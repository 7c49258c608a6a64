"""Random-walk + embeddings tests: structural invariants (walks are
seeded-random — assert lengths, membership, adjacency; not exact values),
per the reference test strategy for rw/ and embeddings/."""

import pytest
from pyspark.sql import functions as F

from graphframes_spark import GraphFrame
from graphframes_spark.embeddings import (
    RandomWalkEmbeddings,
    hash2vec,
    sampling_convolution,
)
from graphframes_spark.rw import RandomWalkWithRestart, sampled_neighbors
from graphframes_spark.util import GraphFramesError
from tests.conftest import two_blobs


@pytest.fixture(scope="module")
def blob_graph(spark):
    return two_blobs(spark, 5)


def test_sampled_neighbors_caps_and_is_stable(blob_graph):
    nbrs = sampled_neighbors(blob_graph.edges, max_nbrs=3, seed=7)
    rows = {r["id"]: r["random_walk_nbrs"] for r in nbrs.collect()}
    assert all(len(v) <= 3 for v in rows.values())
    # stability: same seed -> same sample
    again = {
        r["id"]: r["random_walk_nbrs"]
        for r in sampled_neighbors(blob_graph.edges, max_nbrs=3, seed=7).collect()
    }
    assert {k: set(v) for k, v in rows.items()} == {
        k: set(v) for k, v in again.items()
    }
    # sampled neighbors are real neighbors
    sym = {(r["src"], r["dst"]) for r in blob_graph.edges.collect()}
    sym |= {(d, s) for s, d in sym}
    for vid, vs in rows.items():
        for n in vs:
            assert (vid, n) in sym


def test_random_walk_with_restart(blob_graph, tmp_path):
    rw = (
        RandomWalkWithRestart()
        .onGraph(blob_graph)
        .setNumWalksPerNode(2)
        .setBatchSize(3)
        .setNumBatches(2)
        .setGlobalSeed(11)
        .setTemporaryPrefix(str(tmp_path))
    )
    walks = rw.run()
    rows = walks.collect()
    # 10 vertices x 2 walks, each of length batch_size * num_batches
    assert len(rows) == 20
    assert all(len(r["random_walk"]) == 6 for r in rows)
    # every step is a vertex of the graph
    vids = {r["id"] for r in blob_graph.vertices.collect()}
    for r in rows:
        assert set(r["random_walk"]) <= vids


def test_random_walk_requires_prefix(blob_graph):
    with pytest.raises(GraphFramesError):
        RandomWalkWithRestart().onGraph(blob_graph).run()
    with pytest.raises(GraphFramesError):
        RandomWalkWithRestart().setTemporaryPrefix("/tmp/x").run()


def test_hash2vec_shapes(spark):
    seqs = spark.createDataFrame(
        [(["a", "b", "c", "a", "b"],), (["b", "c", "d"],)], ["random_walk"]
    )
    emb = hash2vec(seqs, dim=16, window=2)
    rows = {r["id"]: r["vector"] for r in emb.collect()}
    assert set(rows) == {"a", "b", "c", "d"}
    for v in rows.values():
        assert len(v) == 16
        norm = sum(x * x for x in v) ** 0.5
        assert norm == 0 or abs(norm - 1.0) < 1e-9


def test_hash2vec_rejects_bad_decay(spark):
    seqs = spark.createDataFrame([(["a"],)], ["random_walk"])
    with pytest.raises(GraphFramesError):
        hash2vec(seqs, decay="exponential")


def test_sampling_convolution(spark):
    v = spark.createDataFrame([(1,), (2,), (3,)], ["id"])
    e = spark.createDataFrame([(1, 2), (1, 3)], ["src", "dst"])
    g = GraphFrame(v, e)
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 2.0]), (3, [0.0, 4.0])], ["id", "vector"]
    )
    out = {r["id"]: r["vector"] for r in sampling_convolution(g, emb, k=5, concat_self=True).collect()}
    # vertex 1: own [1,0] ++ mean of nbrs {2,3} = [0,3]
    assert out[1] == [1.0, 0.0, 0.0, 3.0]
    # vertices 2,3: neighbor is 1 (undirected) -> mean [1,0]
    assert out[2] == [0.0, 2.0, 1.0, 0.0]


def test_random_walk_embeddings_word2vec(blob_graph, tmp_path):
    rw = (
        RandomWalkWithRestart()
        .setNumWalksPerNode(2)
        .setBatchSize(4)
        .setNumBatches(1)
        .setGlobalSeed(5)
        .setTemporaryPrefix(str(tmp_path))
    )
    emb = (
        RandomWalkEmbeddings()
        .onGraph(blob_graph)
        .setRandomWalk(rw)
        .setAlgorithm("word2vec")
        .setDimension(8)
        .run()
    )
    rows = {r["id"]: r["vector"] for r in emb.collect()}
    assert all(len(v) == 8 for v in rows.values())
    assert len(rows) > 0


def test_random_walk_embeddings_hash2vec_with_aggregation(blob_graph, tmp_path):
    rw = (
        RandomWalkWithRestart()
        .setNumWalksPerNode(1)
        .setBatchSize(4)
        .setNumBatches(1)
        .setGlobalSeed(5)
        .setTemporaryPrefix(str(tmp_path))
    )
    emb = (
        RandomWalkEmbeddings()
        .onGraph(blob_graph)
        .setRandomWalk(rw)
        .setAlgorithm("hash2vec")
        .setDimension(8)
        .setWithNeighborAggregation(True)
        .run()
    )
    rows = {r["id"]: r["vector"] for r in emb.collect()}
    # concat self ++ neighbor mean -> 16 dims
    assert all(len(v) == 16 for v in rows.values())


def test_random_walk_embeddings_vector_output(blob_graph, tmp_path):
    from pyspark.ml.linalg import VectorUDT

    rw = (
        RandomWalkWithRestart()
        .setNumWalksPerNode(1)
        .setBatchSize(4)
        .setNumBatches(1)
        .setTemporaryPrefix(str(tmp_path))
    )
    emb = (
        RandomWalkEmbeddings()
        .onGraph(blob_graph)
        .setRandomWalk(rw)
        .setAlgorithm("hash2vec")
        .setDimension(8)
        .setVectorOutput(True)
        .run()
    )
    assert isinstance(emb.schema["vector"].dataType, VectorUDT)
    row = emb.limit(1).collect()[0]
    assert len(row["vector"]) == 8


# ---------------------------------------- reference-client snake_case builder


def test_rw_embeddings_builder_hash2vec(blob_graph, tmp_path):
    b = blob_graph.rw_embeddings
    b.set_rw_model(
        str(tmp_path), num_walks_per_node=1, num_batches=1, walks_per_batch=4, seed=5
    )
    # rand()/shuffle() walks differ from run to run, and on this graph
    # about one walk set in a hundred cancels some vertex's signed hashed
    # contexts exactly, which leaves the zero vector unnormalized; hash
    # draws make the seed fix the walks, so the check below is repeatable
    b._rw.setDeterministic(True)
    b.set_hash2vec(context_size=2, num_partitions=2, embeddings_dim=8)
    emb = b.run()
    rows = {r["id"]: r["vector"] for r in emb.collect()}
    assert len(rows) > 0 and all(len(v) == 8 for v in rows.values())
    # L2-normalized
    for v in rows.values():
        assert abs(sum(x * x for x in v) - 1.0) < 1e-6


def test_rw_embeddings_builder_word2vec_cached_and_cleanup(blob_graph, tmp_path):
    import os

    # first run with cleanup: batch dirs are gone afterwards
    b = blob_graph.rw_embeddings
    b.set_rw_model(
        str(tmp_path / "w"), num_walks_per_node=2, num_batches=1,
        walks_per_batch=4, seed=5,
    )
    b.set_word2vec(embeddings_dim=8, min_count=1)
    b.set_clean_up_after_run(True)
    emb = b.run()
    assert emb.count() > 0
    assert os.listdir(tmp_path / "w") == []

    # cached walks path: no rw model needed
    walks = (
        RandomWalkWithRestart()
        .onGraph(blob_graph)
        .setNumWalksPerNode(1).setBatchSize(4).setNumBatches(1)
        .setGlobalSeed(5).setTemporaryPrefix(str(tmp_path / "c"))
        .run()
    )
    walks.write.mode("overwrite").parquet(str(tmp_path / "cached"))
    b2 = blob_graph.rw_embeddings
    b2.use_cached_random_walks(str(tmp_path / "cached"))
    b2.set_hash2vec(context_size=2, num_partitions=2, embeddings_dim=8)
    b2.set_neighbors_aggregation(max_neighbors=3, seed=7)
    emb2 = b2.run()
    rows = {r["id"]: r["vector"] for r in emb2.collect()}
    assert all(len(v) == 16 for v in rows.values())  # self ++ neighbor mean


def test_rw_embeddings_builder_errors(blob_graph):
    import pytest as _pytest

    b = blob_graph.rw_embeddings
    with _pytest.raises(ValueError, match="TMP path or cached walks"):
        b.run()
    with _pytest.raises(ValueError, match="decay"):
        b.set_hash2vec(decay_function="nope")
    with _pytest.raises(ValueError, match="empty"):
        b.use_cached_random_walks("")


def _w2v_embeddings(blob_graph, tmp_path, sub, seed=5):
    rw = (
        RandomWalkWithRestart()
        .setNumWalksPerNode(4)
        .setBatchSize(4)
        .setNumBatches(2)
        .setGlobalSeed(seed)
        .setDeterministic(True)
        .setTemporaryPrefix(str(tmp_path / sub))
    )
    emb = (
        RandomWalkEmbeddings()
        .onGraph(blob_graph)
        .setRandomWalk(rw)
        .setAlgorithm("word2vec")
        .setDimension(16)
        .setSeed(seed)
        .run()
    )
    return {r["id"]: r["vector"] for r in emb.collect()}


def test_deterministic_walks_reproduce_exactly(blob_graph, tmp_path):
    """setDeterministic(True) swaps rand()/shuffle()/uuid() for pure
    hashes of (walk id, step seed): two runs with the same global seed
    must produce the identical walk multiset (also the retry-stability
    argument — a re-executed task re-derives the same draws)."""

    def walks(sub):
        rw = (
            RandomWalkWithRestart()
            .setNumWalksPerNode(3)
            .setBatchSize(4)
            .setNumBatches(2)
            .setGlobalSeed(11)
            .setDeterministic(True)
            .setTemporaryPrefix(str(tmp_path / sub))
        )
        out = rw.onGraph(blob_graph).run()
        return sorted((r["random_walk_uuid"], tuple(r["random_walk"])) for r in out.collect())

    assert walks("w1") == walks("w2")


def test_word2vec_deterministic_under_pinned_seed(blob_graph, tmp_path):
    """Cross-engine oracle replay of skip-gram SGD is impossible (DuckDB
    cannot run it), so the evidence is in-engine determinism:
    deterministic walks + Spark ML Word2Vec with a fixed seed and its
    default single training partition reproduce the exact same vectors
    run-to-run."""
    a = _w2v_embeddings(blob_graph, tmp_path, "a")
    b = _w2v_embeddings(blob_graph, tmp_path, "b")
    assert set(a) == set(b)
    for k in a:
        assert a[k] == b[k], f"vector for {k} differs between identical runs"


def test_word2vec_planted_cluster_ranking(blob_graph, tmp_path):
    """Invariant oracle on the planted 2-clique graph: embeddings must
    place same-clique vertices closer (mean cosine) than cross-clique
    ones — the property Word2Vec is supposed to extract from walks."""
    vecs = _w2v_embeddings(blob_graph, tmp_path, "rank")

    def cos(u, v):
        du = sum(x * x for x in u) ** 0.5
        dv = sum(x * x for x in v) ** 0.5
        if du == 0 or dv == 0:
            return 0.0
        return sum(x * y for x, y in zip(u, v)) / (du * dv)

    ids = sorted(int(k) for k in vecs)
    n = len(ids) // 2
    within, cross = [], []
    for i in ids:
        for j in ids:
            if i < j:
                s = cos(vecs[str(i)], vecs[str(j)])
                (within if (i < n) == (j < n) else cross).append(s)
    assert sum(within) / len(within) > sum(cross) / len(cross)


def test_zero_walks_per_node_yields_no_walks(blob_graph, tmp_path):
    """sequence(1, 0) counts DOWN in Spark, so deterministic mode must
    guard numWalksPerNode < 1 explicitly — both modes agree: no walks."""
    for det in (True, False):
        rw = (
            RandomWalkWithRestart()
            .setNumWalksPerNode(0)
            .setBatchSize(2)
            .setNumBatches(1)
            .setDeterministic(det)
            .setTemporaryPrefix(str(tmp_path / f"z{det}"))
        )
        assert rw.onGraph(blob_graph).run().count() == 0
