"""Direct tests of the Pregel engine's option surface, mirroring the
reference's PregelSuite behaviors (core/src/test/.../lib/PregelSuite.scala):
required-column pruning, automatic dst-join elision and its forced
override, early stopping semantics, active-vertex voting, skip-inactive
message filtering, and builder validation."""

import pytest
from pyspark.sql import functions as F

from graphframes_spark import GraphFrame
from graphframes_spark.pregel import Pregel
from graphframes_spark.util import GraphFramesError


@pytest.fixture(scope="module")
def chain(spark):
    # 0 -> 1 -> 2 -> 3
    v = spark.createDataFrame([(i, i * 10) for i in range(4)], ["id", "value"])
    e = spark.createDataFrame([(i, i + 1) for i in range(3)], ["src", "dst"])
    return GraphFrame(v, e)


def _indegree_run(pregel):
    return (
        pregel.withVertexColumn(
            "msg_count",
            F.lit(0).cast("long"),
            F.coalesce(Pregel.msg(), F.lit(0).cast("long")),
        )
        .sendMsgToDst(F.lit(1).cast("long"))
        .aggMsgs(F.sum(Pregel.msg()))
        .setMaxIter(1)
        .run()
    )


def test_required_src_columns_prune_without_changing_result(chain):
    full = {
        (r["id"], r["msg_count"]) for r in _indegree_run(chain.pregel).collect()
    }
    pruned = {
        (r["id"], r["msg_count"])
        for r in _indegree_run(chain.pregel.requiredSrcColumns("id")).collect()
    }
    assert full == pruned == {(0, 0), (1, 1), (2, 1), (3, 1)}


def test_dst_join_elided_for_src_only_messages(chain):
    p = chain.pregel.sendMsgToDst(Pregel.src("value"))
    assert p._needs_dst_state() is False


def test_dst_join_elided_for_dst_id_only(chain):
    p = chain.pregel.sendMsgToDst(Pregel.dst("id") * F.lit(2))
    assert p._needs_dst_state() is False


def test_dst_join_required_for_dst_column(chain):
    p = chain.pregel.sendMsgToDst(Pregel.dst("value"))
    assert p._needs_dst_state() is True


def test_dst_join_required_for_dst_in_conditional(chain):
    p = chain.pregel.sendMsgToDst(
        F.when(Pregel.dst("value") > 10, Pregel.src("value"))
    )
    assert p._needs_dst_state() is True


def test_required_dst_hint_forces_dst_join(chain):
    # messages never mention dst, but the explicit hint must force the join
    # (documented escape hatch for missed detection)
    result = (
        chain.pregel.withVertexColumn(
            "got", F.lit(0).cast("long"), F.coalesce(Pregel.msg(), F.lit(0).cast("long"))
        )
        .sendMsgToDst(Pregel.src("value").cast("long"))
        .aggMsgs(F.sum(Pregel.msg()))
        .requiredDstColumns("value")
        .setMaxIter(1)
        .run()
    )
    got = {(r["id"], r["got"]) for r in result.collect()}
    assert got == {(0, 0), (1, 0), (2, 10), (3, 20)}


def test_early_stopping_returns_state_before_empty_round(spark):
    # update drifts state by +1000 on message-less vertices, so if the
    # engine applied an update for the empty superstep 2 (instead of
    # returning the superstep-1 state, Pregel.scala:494-502 semantics)
    # the values would come out 1000 higher
    v = spark.createDataFrame([(0, 0), (1, 999)], ["id", "dist"])
    e = spark.createDataFrame([(0, 1)], ["src", "dst"])
    g = GraphFrame(v, e)
    result = (
        g.pregel.withVertexColumn(
            "d",
            F.col("dist"),
            F.coalesce(Pregel.msg(), F.col("d") + 1000),
        )
        .sendMsgToDst(
            F.when(Pregel.src("d") + 1 < Pregel.dst("d"), Pregel.src("d") + 1)
        )
        .aggMsgs(F.min(Pregel.msg()))
        .setEarlyStopping(True)
        .setMaxIter(10)
        .run()
    )
    # superstep 1: v1 <- 1, v0 drifts to 1000; superstep 2: no messages ->
    # rollback. Without rollback: {(0, 2000), (1, 1001)}.
    assert {(r["id"], r["d"]) for r in result.collect()} == {(0, 1000), (1, 1)}


def test_vote_to_halt_stops_loop(spark):
    v = spark.createDataFrame([(0,), (1,), (2,)], ["id"])
    e = spark.createDataFrame([(0, 1), (1, 2)], ["src", "dst"])
    g = GraphFrame(v, e)
    result = (
        g.pregel.withVertexColumn(
            "dist",
            F.when(F.col("id") == 0, F.lit(0)).otherwise(F.lit(999)),
            F.least(F.col("dist"), F.coalesce(Pregel.msg(), F.lit(999))),
        )
        .sendMsgToDst(
            F.when(Pregel.src("_pregel_is_active"), Pregel.src("dist") + 1)
        )
        .aggMsgs(F.min(Pregel.msg()))
        .setInitialActiveVertexExpression(F.col("id") == 0)
        .setUpdateActiveVertexExpression(
            Pregel.msg().isNotNull() & (Pregel.msg() < F.col("dist"))
        )
        .setStopIfAllNonActiveVertices(True)
        .setMaxIter(50)
        .run()
    )
    assert {(r["id"], r["dist"]) for r in result.collect()} == {
        (0, 0),
        (1, 1),
        (2, 2),
    }


def test_skip_messages_from_non_active(spark):
    # both 0 and 2 point at 1, but only 0 starts active; with
    # skip-inactive only 0's message arrives in superstep 1
    v = spark.createDataFrame([(0,), (1,), (2,)], ["id"])
    e = spark.createDataFrame([(0, 1), (2, 1)], ["src", "dst"])
    g = GraphFrame(v, e)
    result = (
        g.pregel.withVertexColumn(
            "received",
            F.lit(0).cast("long"),
            F.col("received") + F.coalesce(Pregel.msg(), F.lit(0).cast("long")),
        )
        .sendMsgToDst(F.lit(1).cast("long"))
        .aggMsgs(F.sum(Pregel.msg()))
        .setInitialActiveVertexExpression(F.col("id") == 0)
        .setUpdateActiveVertexExpression(F.lit(False))
        .setSkipMessagesFromNonActiveVertices(True)
        .setStopIfAllNonActiveVertices(True)
        .setMaxIter(3)
        .run()
    )
    got = {(r["id"], r["received"]) for r in result.collect()}
    assert got == {(0, 0), (1, 1), (2, 0)}


def test_update_on_nullable_msg_column(chain):
    # vertices with no in-edges receive null msg; update must handle it
    result = (
        chain.pregel.withVertexColumn(
            "total",
            F.col("value").cast("long"),
            F.col("total") + F.coalesce(Pregel.msg(), F.lit(0).cast("long")),
        )
        .sendMsgToDst(Pregel.src("value").cast("long"))
        .aggMsgs(F.sum(Pregel.msg()))
        .setMaxIter(1)
        .run()
    )
    got = {(r["id"], r["total"]) for r in result.collect()}
    assert got == {(0, 0), (1, 10), (2, 30), (3, 50)}


def test_builder_validation(chain):
    with pytest.raises(GraphFramesError):
        chain.pregel.aggMsgs(F.sum(Pregel.msg())).withVertexColumn(
            "x", F.lit(0), F.lit(0)
        ).run()  # no messages
    with pytest.raises(GraphFramesError):
        chain.pregel.sendMsgToDst(F.lit(1)).withVertexColumn(
            "x", F.lit(0), F.lit(0)
        ).run()  # no agg
    with pytest.raises(GraphFramesError):
        chain.pregel.sendMsgToDst(F.lit(1)).aggMsgs(F.sum(Pregel.msg())).run()
        # no vertex column
    with pytest.raises(GraphFramesError):
        chain.pregel.sendMsgToDst(F.lit(1)).aggMsgs(F.sum(Pregel.msg())).withVertexColumn(
            "x", F.lit(0), F.lit(0)
        ).setMaxIter(0).run()


def test_column_repr_canary_for_dst_detection(spark):
    """Version-pinned canary: _needs_dst_state parses str(Column) to find
    dst references. If a PySpark upgrade changes the Column repr so that
    'dst' stops appearing, detection would silently ELIDE a required dst
    join (wrong results, not just slower). This pins the repr forms the
    regex relies on — if it fails after an upgrade, revisit
    Pregel._needs_dst_state before trusting auto-elision."""
    forms = {
        "plain": Pregel.dst("rank"),
        "col_path": F.col("dst.rank"),
        "arith": Pregel.dst("rank") / Pregel.src("deg"),
        "conditional": F.when(Pregel.dst("active"), F.lit(1)).otherwise(F.lit(0)),
        "nested_fn": F.coalesce(Pregel.dst("rank"), F.lit(0.0)),
    }
    import re

    for name, col in forms.items():
        s = str(col)
        assert re.search(r"\bdst\.(\w+)|\bdst\[(\w+)\]|\bdst\b", s), (
            f"Column repr no longer exposes dst reference for {name!r}: {s}"
        )
    # and dst.id-only forms must still parse as field 'id' (elidable)
    s = str(Pregel.dst("id"))
    m = re.findall(r"\bdst\.(\w+)", s) + re.findall(r"\bdst\[(\w+)\]", s)
    assert "id" in m, f"dst.id repr changed: {s}"
    # src-only expressions must NOT trip the dst detector
    assert not re.search(r"\bdst\b", str(Pregel.src("rank")))


def test_static_rebase_eligibility_detection(spark):
    """Pins _update_refs_dynamic_state both ways: a false negative would
    rebase a recipe whose update genuinely needs previous state (WRONG
    results); a false positive merely forfeits the linear-plan-growth
    optimization. Also a version-pinned canary for the '*' repr forms the
    star check relies on (multiplication prints '*(a, b)' / 'a * b';
    star references print adjacent to a closing delimiter)."""
    from graphframes_spark.graphframe import GraphFrame

    v = spark.createDataFrame([(1,), (2,)], ["id"])
    e = spark.createDataFrame([(1, 2)], ["src", "dst"])
    g = GraphFrame(v, e)

    def builder(update):
        return (
            g.pregel.withVertexColumn("x", F.lit(0.0), update)
            .sendMsgToDst(Pregel.src("x"))
            .aggMsgs(F.sum(Pregel.msg()))
        )

    # message-only update (pagerank shape, incl. multiplication): eligible
    pr_shape = F.lit(0.1) + F.lit(0.9) * F.coalesce(Pregel.msg(), F.lit(0.0))
    assert not builder(pr_shape)._update_refs_dynamic_state()
    # update referencing its own dynamic column: NOT eligible
    assert builder(F.coalesce(Pregel.msg(), F.col("x")))._update_refs_dynamic_state()
    # update referencing the active flag: NOT eligible
    from graphframes_spark.pregel import ACTIVE_FLAG_COL

    assert builder(
        F.when(F.col(ACTIVE_FLAG_COL), Pregel.msg()).otherwise(F.lit(0.0))
    )._update_refs_dynamic_state()
    # SQL-string expr referencing the dynamic column: NOT eligible
    assert builder(F.expr("coalesce(_pregel_msg, x)"))._update_refs_dynamic_state()
    # bare-star update: conservatively NOT eligible
    assert builder(F.col("*"))._update_refs_dynamic_state()
    # static-column reference only (id is static): eligible
    assert not builder(
        F.coalesce(Pregel.msg(), F.col("id").cast("double"))
    )._update_refs_dynamic_state()
    # repr canary: multiplication prints in a form the star check ignores
    import re

    mult = str(F.lit(0.9) * F.coalesce(Pregel.msg(), F.lit(0.0)))
    assert "*(" in mult or " * " in mult, f"multiplication repr changed: {mult}"
    assert not builder(pr_shape)._update_refs_dynamic_state(), (
        f"multiplication repr now trips the star check: {mult}"
    )
    star = str(F.col("*"))
    assert re.search(r"\*\s*[)',]", star) or star.endswith("'*'>"), (
        f"star repr changed: {star}"
    )


def test_msg_reducer_replaces_default_aggregation(spark):
    """Public-surface contract of setMsgReducer (pregel.py:142): the
    reducer sees DF[id, _pregel_msg] with nulls already dropped, returns
    one row per messaged id, and the update expressions read the reduced
    value through Pregel.msg(). The reduction here — number of DISTINCT
    messages per vertex — is one a single aggMsgs expression could only
    express as count_distinct/collect_set (ObjectHashAggregate), while
    the reducer form runs as two codegen hash aggregates: the same
    engine-level motivation as CDLP's two-level majority vote, exercised
    through a different consumer."""
    from graphframes_spark.pregel import MSG_COL_NAME

    # star: leaves 1,2,3 message hub 0 with their value; two collide
    v = spark.createDataFrame([(0, 0), (1, 5), (2, 5), (3, 7)], ["id", "value"])
    e = spark.createDataFrame([(1, 0), (2, 0), (3, 0)], ["src", "dst"])
    g = GraphFrame(v, e)

    def distinct_count(msgs):
        return (
            msgs.distinct()
            .groupBy("id")
            .agg(F.count("*").cast("long").alias(MSG_COL_NAME))
        )

    result = (
        g.pregel.withVertexColumn(
            "n_distinct",
            F.lit(0).cast("long"),
            F.coalesce(Pregel.msg(), F.lit(0).cast("long")),
        )
        .sendMsgToDst(Pregel.src("value"))
        .setMsgReducer(distinct_count)  # note: no aggMsgs set
        .setMaxIter(1)
        .run()
    )
    got = {(r["id"], r["n_distinct"]) for r in result.collect()}
    assert got == {(0, 2), (1, 0), (2, 0), (3, 0)}


def test_msg_reducer_wins_over_agg_msgs(spark):
    """When both are set, the reducer is used and aggMsgs is ignored
    (documented in the setMsgReducer docstring)."""
    from graphframes_spark.pregel import MSG_COL_NAME

    v = spark.createDataFrame([(0,), (1,), (2,)], ["id"])
    e = spark.createDataFrame([(1, 0), (2, 0)], ["src", "dst"])
    g = GraphFrame(v, e)

    def always_42(msgs):
        return msgs.groupBy("id").agg(
            F.lit(42).cast("long").alias(MSG_COL_NAME)
        )

    result = (
        g.pregel.withVertexColumn(
            "got",
            F.lit(0).cast("long"),
            F.coalesce(Pregel.msg(), F.lit(0).cast("long")),
        )
        .sendMsgToDst(F.lit(1).cast("long"))
        .aggMsgs(F.sum(Pregel.msg()))  # would give 2; reducer must win
        .setMsgReducer(always_42)
        .setMaxIter(1)
        .run()
    )
    got = {(r["id"], r["got"]) for r in result.collect()}
    assert got == {(0, 42), (1, 0), (2, 0)}
