import re

from pyspark.sql import functions as F

from graphframes_spark import GraphFrame


def test_find_simple_edge(friends):
    df = friends.find("(a)-[e]->(b)")
    assert df.columns == ["a", "e", "b"]
    assert df.count() == 8


def test_find_two_hop(friends):
    df = friends.find("(a)-[e]->(b); (b)-[e2]->(c)")
    assert df.columns == ["a", "e", "b", "e2", "c"]
    rows = df.collect()
    # verify join correctness by re-deriving by hand
    edges = {("a", "b"), ("b", "c"), ("c", "b"), ("f", "c"),
             ("e", "f"), ("e", "d"), ("d", "a"), ("a", "e")}
    expected = {
        (s1, d1, d2) for (s1, d1) in edges for (s2, d2) in edges if d1 == s2
    }
    got = {(r["a"]["id"], r["b"]["id"], r["c"]["id"]) for r in rows}
    assert got == expected


def test_find_hero_query(friends):
    # README hero query: mutual follows
    df = friends.find("(a)-[e]->(b); (b)-[e2]->(a)")
    got = {(r["a"]["id"], r["b"]["id"]) for r in df.collect()}
    assert got == {("b", "c"), ("c", "b")}


def test_find_negation(friends):
    df = friends.find("(a)-[]->(b); !(b)-[]->(a)")
    got = {(r["a"]["id"], r["b"]["id"]) for r in df.collect()}
    assert ("a", "b") in got
    assert ("b", "c") not in got and ("c", "b") not in got
    assert len(got) == 6


def test_find_anonymous_vertex(friends):
    df = friends.find("(a)-[e]->()")
    assert df.columns == ["a", "e"]
    assert df.count() == 8


def test_find_lone_named_vertex(friends):
    df = friends.find("(a)")
    assert df.columns == ["a"]
    assert df.count() == 7


def test_find_self_loop_pattern(spark):
    from graphframes_spark import GraphFrame

    v = spark.createDataFrame([(1,), (2,)], ["id"])
    e = spark.createDataFrame([(1, 1), (1, 2)], ["src", "dst"])
    g = GraphFrame(v, e)
    df = g.find("(a)-[e]->(a)")
    rows = df.collect()
    assert len(rows) == 1 and rows[0]["a"]["id"] == 1


def test_find_undirected_edge(friends):
    df = friends.find("(a)-[e]-(b)")
    assert "_pattern" in df.columns and "_direction" in df.columns
    assert df.count() == 16


def test_find_fixed_length(friends):
    df = friends.find("(a)-[e*2]->(b)")
    two_hop = friends.find("(x)-[]->(y); (y)-[]->(z)")
    assert df.count() == two_hop.count()


def test_find_var_length(friends):
    df = friends.find("(a)-[e*1..2]->(b)")
    assert "_hop" in df.columns
    c1 = friends.find("(a)-[e]->(b)").count()
    c2 = friends.find("(a)-[e*2]->(b)").count()
    assert df.count() == c1 + c2


# a left anti-join keyed on two struct id fields: "[b#5.id, a#4.id], [...], LeftAnti"
_ID_ANTI_JOIN = re.compile(r"Join \[(\w+)#\d+\.id, (\w+)#\d+\.id\], \[[^\]]*\], LeftAnti")


def _collect_with_plans(df):
    """``df``'s rows and the executed plans of every action that ran."""
    from tools.profile_actions import ActionProfiler

    with ActionProfiler(df.sparkSession) as prof:
        rows = df.collect()
    return rows, "\n".join(prof.plans)


def test_find_negation_only_vertex_augmented(friends):
    # vertex c appears only in the negated term -> augmented as positive
    df = friends.find("(a)-[]->(b); !(b)-[]->(c)")
    assert df.columns == ["a", "b", "c"]
    rows, plans = _collect_with_plans(df)
    assert len(rows) > 0
    # c is bound only by the augmenting vertex term: the except path,
    # an anti-join on whole rows
    assert "LeftAnti" in plans and not _ID_ANTI_JOIN.search(plans)


def test_find_negation_bound_ends_is_one_anti_join(spark):
    """A negated edge between two vertices bound by earlier edge terms
    runs as one anti-join on the id fields and returns what except
    returns, on a multigraph with duplicate edges and a self-loop."""
    v = spark.createDataFrame([(x,) for x in "abcde"], ["id"])
    e = spark.createDataFrame(
        [("a", "b"), ("a", "b"), ("b", "a"), ("b", "c"), ("b", "c"),
         ("c", "c"), ("c", "d"), ("d", "c"), ("d", "e"), ("e", "a")],
        ["src", "dst"],
    )
    g = GraphFrame(v, e)
    df = g.find("(a)-[]->(b); !(b)-[]->(a)")
    rows, plans = _collect_with_plans(df)
    got = sorted(rows)

    prev = g.find("(a)-[]->(b)")
    with_edge = prev.join(
        e, (F.col("b.id") == F.col("src")) & (F.col("a.id") == F.col("dst"))
    ).select("a", "b")
    expected = sorted(prev.subtract(with_edge).collect())
    assert got == expected
    assert {(r["a"]["id"], r["b"]["id"]) for r in got} == {
        ("b", "c"), ("d", "e"), ("e", "a")
    }
    m = _ID_ANTI_JOIN.search(plans)
    assert m and m.groups() == ("b", "a")


def test_find_filter_on_attributes(friends):
    df = friends.find("(a)-[e]->(b)").filter(
        (F.col("e.relationship") == "follow") & (F.col("b.age") < 35)
    )
    got = {(r["a"]["id"], r["b"]["id"]) for r in df.collect()}
    assert got == {("b", "c"), ("f", "c")}
