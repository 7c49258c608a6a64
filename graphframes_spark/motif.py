"""Motif query planner: compiles a parsed pattern list into DataFrame joins.

Left-deep incremental join planner mirroring the reference's semantics
(/root/reference/core/src/main/scala/org/graphframes/GraphFrame.scala:988-996,
1434-1618): each pattern term augments the accumulated DataFrame with
equi-joins on nested struct id fields; Catalyst then picks physical join
strategies (broadcast vs sort-merge) and join order within each term.

Matches are homomorphisms — distinct names may bind to the same vertex.
"""

from __future__ import annotations

import itertools
from typing import TYPE_CHECKING, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from graphframes_spark import patterns as P
from graphframes_spark.util import DST, ID, SRC, InvalidPatternError, nest_as_col

if TYPE_CHECKING:
    from graphframes_spark.graphframe import GraphFrame

_tmp_counter = itertools.count()


def _seen(v: P.NamedVertex, prev_patterns: list[P.Pattern]) -> bool:
    def seen1(p: P.Pattern) -> bool:
        if isinstance(p, P.Negation):
            return seen1(p.child)
        if isinstance(p, P.UndirectedEdge):
            return seen1(p.edge)
        if isinstance(p, (P.AnonymousEdge, P.NamedEdge)):
            return seen1(p.src) or seen1(p.dst)
        if isinstance(p, P.NamedVertex):
            return p == v
        return False

    return any(seen1(p) for p in prev_patterns)


def _bound_by_edge(v: P.Pattern, prev_patterns: list[P.Pattern]) -> bool:
    """Whether a positive edge term before this one binds ``v``. A vertex
    bound only by a bare vertex term (the cross join that augments
    vertices named only in negations) does not count."""
    edges = [
        p
        for p in prev_patterns
        if isinstance(p, (P.AnonymousEdge, P.NamedEdge, P.UndirectedEdge))
    ]
    return isinstance(v, P.NamedVertex) and _seen(v, edges)


def _maybe_cross_join(prev: Optional[DataFrame], b: DataFrame) -> DataFrame:
    return prev.crossJoin(b) if prev is not None else b


def _maybe_join(prev: Optional[DataFrame], b: DataFrame, cond) -> DataFrame:
    """cond: prev DataFrame -> join Column."""
    return prev.join(b, cond(prev)) if prev is not None else b


def find_simple(gf: "GraphFrame", pats: list[P.Pattern]) -> DataFrame:
    """Fold the pattern list into one DataFrame (GraphFrame.scala:988-996)."""
    handled: list[P.Pattern] = []
    df: Optional[DataFrame] = None
    names: list[str] = []
    for p in pats:
        df, names = _find_incremental(gf, handled, df, names, p)
        handled.append(p)
    if df is None:
        return gf.spark.createDataFrame([], "struct<>")
    return df


def _find_incremental(
    gf: "GraphFrame",
    prev_patterns: list[P.Pattern],
    prev: Optional[DataFrame],
    prev_names: list[str],
    pattern: P.Pattern,
) -> tuple[Optional[DataFrame], list[str]]:
    def nest_e(name: str) -> DataFrame:
        return gf.edges.select(nest_as_col(gf.edges, name))

    def nest_v(name: str) -> DataFrame:
        return gf.vertices.select(nest_as_col(gf.vertices, name))

    def fld(df: DataFrame, name: str, field: str) -> Column:
        # df-scoped nested field reference, disambiguates self-joins
        return df[name][field]

    if pattern is P.ANONYMOUS_VERTEX:
        return prev, prev_names

    if isinstance(pattern, P.NamedVertex):
        if _seen(pattern, prev_patterns):
            return prev, prev_names
        return (
            _maybe_cross_join(prev, nest_v(pattern.name)),
            prev_names + [pattern.name],
        )

    if isinstance(pattern, P.UndirectedEdge):
        edge = pattern.edge
        src_name = edge.src.name if isinstance(edge.src, P.NamedVertex) else ""
        dst_name = edge.dst.name if isinstance(edge.dst, P.NamedVertex) else ""
        edge_name = edge.name if isinstance(edge, P.NamedEdge) else ""
        pattern_str = f"({src_name})-[{edge_name}]->({dst_name})"
        reversed_str = f"({src_name})<-[{edge_name}]-({dst_name})"
        if isinstance(edge, P.NamedEdge):
            reversed_edge: P.Edge = P.NamedEdge(edge.name, edge.dst, edge.src)
        else:
            reversed_edge = P.AnonymousEdge(edge.dst, edge.src)

        df_in, _ = _find_incremental(gf, prev_patterns, prev, prev_names, reversed_edge)
        df_out, names = _find_incremental(gf, prev_patterns, prev, prev_names, edge)

        if df_in is not None:
            df_in = df_in.withColumn("_pattern", F.lit(reversed_str)).withColumn(
                "_direction", F.lit("in")
            )
        if df_out is not None:
            df_out = df_out.withColumn("_pattern", F.lit(pattern_str)).withColumn(
                "_direction", F.lit("out")
            )
        if df_in is not None and df_out is not None:
            df = df_in.unionByName(df_out, allowMissingColumns=True).orderBy("_direction")
        else:
            df = df_in if df_in is not None else df_out
        return df, names + ["_pattern", "_direction"]

    if isinstance(pattern, P.NamedEdge):
        name = pattern.name
        src, dst = pattern.src, pattern.dst
        e_ren = nest_e(name)
        src_is_named = isinstance(src, P.NamedVertex)
        dst_is_named = isinstance(dst, P.NamedVertex)

        if not src_is_named and not dst_is_named:
            return _maybe_cross_join(prev, e_ren), prev_names + [name]

        if not src_is_named and dst_is_named:
            if _seen(dst, prev_patterns):
                return (
                    _maybe_join(
                        prev, e_ren, lambda pv: fld(e_ren, name, DST) == fld(pv, dst.name, ID)
                    ),
                    prev_names + [name],
                )
            dst_v = nest_v(dst.name)
            return (
                _maybe_cross_join(prev, e_ren).join(
                    dst_v, fld(e_ren, name, DST) == fld(dst_v, dst.name, ID)
                ),
                prev_names + [name, dst.name],
            )

        if src_is_named and not dst_is_named:
            if _seen(src, prev_patterns):
                return (
                    _maybe_join(
                        prev, e_ren, lambda pv: fld(e_ren, name, SRC) == fld(pv, src.name, ID)
                    ),
                    prev_names + [name],
                )
            src_v = nest_v(src.name)
            return (
                _maybe_cross_join(prev, e_ren).join(
                    src_v, fld(e_ren, name, SRC) == fld(src_v, src.name, ID)
                ),
                prev_names + [src.name, name],
            )

        # both endpoints named
        src_seen = _seen(src, prev_patterns)
        dst_seen = _seen(dst, prev_patterns)
        if src_seen and dst_seen:
            return (
                _maybe_join(
                    prev,
                    e_ren,
                    lambda pv: (fld(e_ren, name, SRC) == fld(pv, src.name, ID))
                    & (fld(e_ren, name, DST) == fld(pv, dst.name, ID)),
                ),
                prev_names + [name],
            )
        if src_seen and not dst_seen:
            dst_v = nest_v(dst.name)
            return (
                _maybe_join(
                    prev, e_ren, lambda pv: fld(e_ren, name, SRC) == fld(pv, src.name, ID)
                ).join(dst_v, fld(e_ren, name, DST) == fld(dst_v, dst.name, ID)),
                prev_names + [name, dst.name],
            )
        if not src_seen and dst_seen:
            src_v = nest_v(src.name)
            return (
                _maybe_join(
                    prev, e_ren, lambda pv: fld(e_ren, name, DST) == fld(pv, dst.name, ID)
                ).join(src_v, fld(e_ren, name, SRC) == fld(src_v, src.name, ID)),
                prev_names + [src.name, name],
            )
        # neither seen
        if src.name != dst.name:
            src_v = nest_v(src.name)
            dst_v = nest_v(dst.name)
            return (
                _maybe_cross_join(prev, e_ren)
                .join(src_v, fld(e_ren, name, SRC) == fld(src_v, src.name, ID))
                .join(dst_v, fld(e_ren, name, DST) == fld(dst_v, dst.name, ID)),
                prev_names + [src.name, name, dst.name],
            )
        # self-loop: same new name on both ends
        src_v = nest_v(src.name)
        return (
            _maybe_cross_join(prev, e_ren).join(
                src_v,
                (fld(e_ren, name, SRC) == fld(src_v, src.name, ID))
                & (fld(e_ren, name, DST) == fld(src_v, src.name, ID)),
            ),
            prev_names + [src.name, name],
        )

    if isinstance(pattern, P.AnonymousEdge):
        tmp = f"__tmp{next(_tmp_counter)}"
        df, names = _find_incremental(
            gf, prev_patterns, prev, prev_names, P.NamedEdge(tmp, pattern.src, pattern.dst)
        )
        if df is not None:
            df = df.drop(tmp)
        return df, [n for n in names if n != tmp]

    if isinstance(pattern, P.Negation):
        if prev is None:
            raise InvalidPatternError(
                "A negated term cannot be the only constraint in a motif."
            )
        child = pattern.child
        if (
            isinstance(child, P.AnonymousEdge)
            and _bound_by_edge(child.src, prev_patterns)
            and _bound_by_edge(child.dst, prev_patterns)
        ):
            # both ends bound: the rows of prev with no such edge, which
            # is what except returns, as one anti-join on the id fields
            # instead of rebuilding prev ⋈ edges and anti-joining whole rows
            tmp = f"__tmp{next(_tmp_counter)}"
            e = gf.edges.select(
                F.col(SRC).alias(tmp + SRC), F.col(DST).alias(tmp + DST)
            )
            cond = (fld(prev, child.src.name, ID) == e[tmp + SRC]) & (
                fld(prev, child.dst.name, ID) == e[tmp + DST]
            )
            return prev.join(e, cond, "left_anti").distinct(), prev_names
        df, names = _find_incremental(gf, prev_patterns, prev, prev_names, child)
        if df is not None:
            # Dataset.except is EXCEPT DISTINCT -> PySpark subtract
            df = prev.subtract(df)
        return df, names

    raise InvalidPatternError(f"Unknown pattern node: {pattern!r}")  # pragma: no cover
