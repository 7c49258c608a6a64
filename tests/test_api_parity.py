"""Reference-python-client API parity: snake_case aliases, nodes,
kwargs-style aggregate_neighbors, approx triangle count, validate flag."""

import os

import pytest
from pyspark.sql import functions as F

from graphframes_spark import GraphFrame, src_attr, dst_attr, edge_attr
from graphframes_spark.util import GraphFramesError


def test_nodes_alias_and_snake_case(friends):
    assert friends.nodes is friends.vertices
    assert friends.as_reversed().edges.count() == 8
    assert friends.type_out_degree("relationship").count() > 0
    assert friends.connected_components().count() == 7


def test_aggregate_neighbors_kwargs(friends):
    res = friends.aggregate_neighbors(
        starting_vertices=F.col("id") == "a",
        max_hops=2,
        accumulator_names=["n_hops"],
        accumulator_inits=[F.lit(0)],
        accumulator_updates=[F.col("n_hops") + F.lit(1)],
        stopping_condition=F.col("n_hops") + F.lit(1) >= F.lit(2),
    )
    rows = {(r["id"], r["n_hops"]) for r in res.collect()}
    assert rows == {("c", 2), ("f", 2), ("d", 2)}


def test_aggregate_neighbors_unknown_kwarg(friends):
    with pytest.raises(GraphFramesError):
        friends.aggregate_neighbors(bogus=1)


def test_module_level_attr_helpers(friends):
    res = friends.aggregate_neighbors(
        starting_vertices=F.col("id") == "a",
        max_hops=1,
        accumulator_names=["nm"],
        accumulator_inits=[F.lit("")],
        accumulator_updates=[dst_attr("name")],
        stopping_condition=F.lit(True),
        edge_filter=edge_attr("relationship") == "friend",
    )
    assert {r["nm"] for r in res.collect()} == {"Bob", "Esther"}


def test_approx_triangle_count(spark):
    v = spark.createDataFrame([(i,) for i in range(1, 6)], ["id"])
    e = spark.createDataFrame([(1, 2), (2, 3), (3, 1), (1, 4)], ["src", "dst"])
    g = GraphFrame(v, e)
    approx = {r["id"]: r["count"] for r in g.triangleCount(algorithm="approx").collect()}
    exact = {r["id"]: r["count"] for r in g.triangleCount().collect()}
    # tiny graph: sketches are exact far below nominal entries
    assert approx == exact


def test_triangle_count_rejects_bad_algorithm(friends):
    with pytest.raises(GraphFramesError):
        friends.triangleCount(algorithm="typo")


def test_validate_check_vertices_flag(spark):
    v = spark.createDataFrame([(1,), (2,)], ["id"])
    e = spark.createDataFrame([(1, 99)], ["src", "dst"])
    g = GraphFrame(v, e)
    with pytest.raises(GraphFramesError):
        g.validate()
    g.validate(checkVertices=False)  # uniqueness-only check passes


def test_cc_two_phase_alias_and_conf_defaults(spark, friends):
    comp1 = {r["id"]: r["component"] for r in friends.connectedComponents(algorithm="two_phase").collect()}
    comp2 = {r["id"]: r["component"] for r in friends.connectedComponents().collect()}
    assert comp1 == comp2
    spark.conf.set("spark.graphframes.connectedComponents.algorithm", "graphx")
    try:
        comp3 = {r["id"]: r["component"] for r in friends.connectedComponents().collect()}
        # same partition structure regardless of algorithm
        groups = {}
        for vid, c in comp3.items():
            groups.setdefault(c, set()).add(vid)
        assert {frozenset(g) for g in groups.values()} == {
            frozenset("abcdef"), frozenset("g")
        }
    finally:
        spark.conf.unset("spark.graphframes.connectedComponents.algorithm")


def test_ppr_vector_output_schema(friends):
    """vectorOutput=True matches the reference's ml VectorType result
    (ParallelPersonalizedPageRank.scala:50-55); default stays array."""
    from pyspark.ml.linalg import VectorUDT
    from pyspark.sql import types as T

    arr = friends.parallelPersonalizedPageRank(
        sourceIds=["a", "b"], maxIter=3
    ).vertices.schema["pageranks"].dataType
    assert isinstance(arr, T.ArrayType) and isinstance(arr.elementType, T.DoubleType)

    vec = friends.parallelPersonalizedPageRank(
        sourceIds=["a", "b"], maxIter=3, vectorOutput=True
    ).vertices.schema["pageranks"].dataType
    assert isinstance(vec, VectorUDT)


def test_storage_level_fromstring_jvm_semantics():
    """Conf strings parse with JVM StorageLevel.fromString semantics:
    plain MEMORY_* names are deserialized, *_SER spellings serialized."""
    from graphframes_spark.util import storage_level_from_string as sl

    assert sl("MEMORY_AND_DISK").deserialized is True
    assert sl("MEMORY_AND_DISK_SER").deserialized is False
    assert sl("MEMORY_AND_DISK_DESER").deserialized is True
    assert sl("memory_only_2").replication == 2
    assert sl("NONE").useMemory is False and sl("NONE").useDisk is False
    with pytest.raises(GraphFramesError):
        sl("MEMORY_AND_DISK_3")


def test_pg_reference_client_aliases(spark):
    from graphframes_spark.propertygraph import (
        EdgePropertyGroup,
        InvalidPropertyGroupError,
        InvalidPropertyGroupException,
        PropertyGraphFrame,
        VertexPropertyGroup,
    )

    assert InvalidPropertyGroupException is InvalidPropertyGroupError
    v = VertexPropertyGroup("u", spark.createDataFrame([(1,)], ["id"]))
    e = EdgePropertyGroup(
        "r",
        spark.createDataFrame([(1, 1, 1.0)], ["src", "dst", "weight"]),
        v,
        v,
    )
    pg = PropertyGraphFrame([v], [e])
    assert pg.edges_property_groups == pg.edge_property_groups
    # to_graphframe (reference python name) = to_graph_frame
    g = pg.to_graphframe(["u"], ["r"])
    assert set(g.vertices.columns) >= {"id"}


def test_rw_embeddings_property_exists(friends):
    b = friends.rw_embeddings
    assert hasattr(b, "set_rw_model") and hasattr(b, "set_hash2vec")


REF_PY = "/root/reference/python/graphframes"


@pytest.mark.skipif(not os.path.isdir(REF_PY), reason="reference not present")
def test_full_reference_client_surface_present():
    """Every public method of the reference python client's GraphFrame
    and Pregel exists here (AST-walked, class-scoped). Known exception:
    Pregel.plan — Spark Connect protobuf plumbing obviated by the pure
    PySpark design (README 'Deviations')."""
    import ast
    import pathlib

    gf_methods, pregel_methods = set(), set()
    for f in pathlib.Path(REF_PY).rglob("*.py"):
        try:
            tree = ast.parse(f.read_text(errors="ignore"))
        except SyntaxError:
            continue
        for node in ast.walk(tree):
            if isinstance(node, ast.ClassDef):
                names = {
                    n.name
                    for n in node.body
                    if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
                }
                if node.name == "GraphFrame":
                    gf_methods |= names
                if node.name == "Pregel":
                    pregel_methods |= names

    from graphframes_spark import GraphFrame
    from graphframes_spark.pregel import Pregel

    missing_gf = sorted(
        m for m in gf_methods if not m.startswith("_") and not hasattr(GraphFrame, m)
    )
    missing_pregel = sorted(
        m
        for m in pregel_methods
        if not m.startswith("_") and not hasattr(Pregel, m) and m != "plan"
    )
    assert missing_gf == [], missing_gf
    assert missing_pregel == [], missing_pregel


def test_no_classic_only_api_outside_guards():
    """The README claims the engine runs unchanged on Spark classic and
    Spark Connect. Enforce it statically: no py4j internals (_jdf/_jvm),
    no RDD API, and sparkContext only inside the two try/except-guarded
    fallbacks (harness.ensure_checkpoint_dir,
    randomized_contraction._scratch_dir) that degrade gracefully when
    Connect raises on sparkContext access. No module writes session conf
    either: the session is shared, so a flip would change the plans of
    every other thread's queries while it lasts."""
    import pathlib
    import re

    root = pathlib.Path(__file__).resolve().parents[1] / "graphframes_spark"
    allowed_ctx = {"harness.py", "randomized_contraction.py"}
    offenders = []
    for path in sorted(root.rglob("*.py")):
        text = path.read_text()
        if re.search(r"\b_jdf\b|\b_jvm\b|\.rdd\b|\.toJavaRDD\b", text):
            offenders.append(f"{path.name}: py4j/RDD API")
        if "sparkContext" in text and path.name not in allowed_ctx:
            offenders.append(f"{path.name}: unguarded sparkContext")
        if re.search(r"\bconf\s*\.\s*(un)?set\s*\(", text):
            offenders.append(f"{path.name}: session conf write")
    assert not offenders, offenders


def test_library_reads_no_engine_conf_key():
    """No library module reads a ``spark.graphframes_spark.`` conf key:
    every tuning constant is a module constant or a per-call argument."""
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parents[1] / "graphframes_spark"
    offenders = [
        str(path.relative_to(pkg))
        for path in sorted(pkg.rglob("*.py"))
        if "spark.graphframes_spark." in path.read_text()
    ]
    assert not offenders, offenders
