"""Plan-shape audit over the full query registry: the 100 TB scale
contract, asserted mechanically.

Every registry query's physical plan must be free of accidental
cartesian products / nested-loop joins. The only allowed exceptions are
the intentionally-quadratic exact-ANN baselines and the broadcast of a
bounded centroid table:

- dp_ann_topk            brute-force cosine top-k — THE exact baseline
- dp_lsh_exact           LSH with 0 planes = one bucket (degenerates to
                         exact; join keys equal on every row)
- dp_ivf_exact/dp_ivf_topk  the query x centroid probe is a crossJoin
                         against a BROADCAST num_cells-row table —
                         bounded, the classic IVF probe shape
- dp_tfidf               the corpus size N is a 1-row aggregate
                         broadcast onto every (doc, term) row — the
                         bounded scalar-join shape, not a data x data
                         cartesian
- transitivity/reciprocity/attr_assortativity/describe_graph/
  eigenvector/triad_census — 1-row aggregates cross-joined into a
                         final scalar expression (triad census) or
                         broadcast back as a normalizer (eigenvector
                         L2 norm) — 1x1/1xN scalar joins, not
                         data x data cartesians
"""

import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.001"

ALLOWED_QUADRATIC = {
    "dp_ann_topk", "dp_lsh_exact", "dp_ivf_exact", "dp_ivf_topk", "dp_tfidf",
    "transitivity", "reciprocity", "attr_assortativity", "describe_graph",
    "eigenvector", "triad_census",
    # dp_word_freq: 1-row corpus-total broadcast onto the vocab table;
    # dp_temp_sample: 1-row weight-total broadcast onto the |sources|-row
    # rate table (the data rows themselves join hash-broadcast on source)
    "dp_word_freq", "dp_temp_sample",
    # dp_bloom_decontam: the packed bloom word array is a 1-row broadcast
    # cross-joined onto the shingle stream (attach_bloom) — the whole
    # point is that this nested-loop join carries one row
    "dp_bloom_decontam",
    # dp_lm_score: the vocabulary size V is a 1-row broadcast onto the
    # scored bigram stream (same scalar-broadcast shape as dp_word_freq)
    "dp_lm_score",
    # dp_stream_contamination: same 1-row packed-bloom-bitset broadcast
    # as dp_bloom_decontam (attach_bloom), via the streaming operator
    "dp_stream_contamination",
    # effective_diameter: the final N(t_max) is a 1-row aggregate
    # cross-joined onto the (≤ max_hops)-row neighborhood curve — the
    # scalar-normalizer shape, not a data x data cartesian
    "effective_diameter",
}


@pytest.mark.parametrize("name", list(entry_mod.queries()))
def test_no_accidental_cartesian(spark, name):
    fn = entry_mod.queries()[name]
    df = fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    has_quadratic = "CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan
    if name in ALLOWED_QUADRATIC:
        return  # intentional exact baselines / broadcast probes
    assert not has_quadratic, f"{name} plan contains a cartesian/nested-loop join"


# Column pruning must reach the parquet scan: a dp-tier transform that
# needs (doc_id, text) must not read lang/source/n_chars — at 100 TB the
# difference is the whole scan.
PRUNING_CASES = {
    "dp_token_counts": {"doc_id", "text"},
    "dp_normalize": {"doc_id", "text"},
    "dp_fingerprint": {"doc_id", "text"},
    "dp_split": {"doc_id"},
    "dp_profile": {"source", "text"},
    "dp_boilerplate": {"doc_id", "text"},
    "dp_dup_spans": {"doc_id", "text"},
    "dp_word_freq": {"text"},
    "dp_temp_sample": {"doc_id", "source"},
    "dp_dup_coverage": {"doc_id", "text"},
    "dp_cross_dedup": {"doc_id", "source", "text"},
    "dp_remove_spans": {"doc_id", "text"},
    "dp_bloom_decontam": {"doc_id", "lang", "source", "text"},
}


# Deterministic-PIC's gap-cut must not funnel the distinct embedding
# values through one task: the round-8 review flagged the original
# unpartitioned Window.orderBy lag (single-partition global sort over up
# to O(n) distinct values). The two-level replacement range-partitions
# the values and lags locally per bucket — assert the physical plan has
# no SinglePartition exchange, and that the gaps equal the naive global
# lag on a value set spanning many buckets.
def test_pic_gap_plan_has_no_single_partition_window(spark):
    from pyspark.sql import functions as F

    from graphframes_spark.lib.pic import _distinct_value_gaps

    vals = spark.range(5000).select(
        (F.col("id").cast("double") * 0.001 + F.pow(F.col("id") % 7, 2)).alias(
            "_pic_emb"
        )
    )
    gaps = _distinct_value_gaps(vals, n_part=16)
    plan = gaps._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan, (
        "deterministic-PIC gap computation funnels through one partition:\n"
        + plan
    )
    got = {r["_pic_emb"]: r["_pic_gap"] for r in gaps.collect()}
    ordered = sorted(got)
    assert got[ordered[0]] is None
    for a, b in zip(ordered, ordered[1:]):
        assert got[b] == pytest.approx(b - a), (a, b, got[b])


@pytest.mark.parametrize("name", sorted(PRUNING_CASES))
def test_parquet_scan_column_pruning(spark, name):
    fn = entry_mod.queries()[name]
    df = fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    import re

    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert schemas, f"{name}: no parquet ReadSchema in plan"
    read_cols = {
        field.split(":")[0].strip()
        for schema in schemas
        for field in schema.split(",")
        if field.strip()
    }
    allowed = PRUNING_CASES[name]
    assert read_cols <= allowed, (
        f"{name} reads unpruned columns {read_cols - allowed} "
        f"(scan should touch only {allowed})"
    )


# ---------------------------------------------------------------- round 10
# ObjectHashAggregate audit (VERDICT r9 #3). CDLP's two-level-vote win
# came from spotting ONE ObjectHashAggregate (mode()) in a hot loop;
# tools/audit_object_hash.py mechanizes the sweep by capturing the plan
# of EVERY action a query performs (in-loop aggregates never appear in
# the returned DataFrame's plan — checkpoints cut lineage). The full
# 136-query sweep result lives as a table in SCALE.md: 21 queries carry
# ObjectHashAggregates, every one with a bounded-state argument
# (landmark-count maps, single-document reassembly, k-min-capped
# adjacency, fixed-size theta/bloom/HLL sketches, walk-length batches),
# a documented bounded alternative (dp_profile exact=False t-digest) or a
# per-operator argument (coloring's neighbor-color set, cycles' paths).
#
# This test pins the regression that actually bites at 100 TB: the
# ITERATIVE hot loops must stay free of object-hash aggregation — a
# per-group open hash map in a loop over hub-keyed groups is the
# allocation-churn defect class, regardless of which operator grows it
# next. It also pins the capture machinery itself against a known
# bounded hit, so a silent capture breakage cannot fake a green sweep.

HOT_LOOP_QUERIES = [
    "label_propagation",
    "seeded_lpa",
    "pagerank",
    "pagerank_weighted",
    "connected_components",
    "cc_skew_broadcast",
    "scc",
    "kcore",
    "bfs",
    "ppr",
]


def _sweep(spark, names):
    import os as _os
    import sys as _sys

    _repo_root = _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))
    if _repo_root not in _sys.path:
        _sys.path.insert(0, _repo_root)
    import __spark_entry__ as em
    from tools.audit_object_hash import matched_fragments
    from tools.profile_actions import ActionProfiler

    out = {}
    for name in names:
        with ActionProfiler(spark) as prof:
            em.queries()[name](spark, SF_DIR).count()
        out[name] = matched_fragments(prof.plans)
    return out


def test_iterative_hot_loops_free_of_object_hash_aggregate(spark):
    hits = _sweep(spark, HOT_LOOP_QUERIES)
    offenders = {k: v for k, v in hits.items() if v}
    assert not offenders, (
        "object-hash aggregation appeared in an iterative hot loop "
        f"(unbounded per-group state on potentially hub-keyed groups): {offenders}"
    )


def test_object_hash_audit_capture_detects_known_bounded_hit(spark):
    # shortest_paths ends in collect_list((landmark, dist)) by id — a
    # BOUNDED aggregate (<= |landmarks| entries) that MUST be visible to
    # the capture, proving the sweep cannot silently go blind
    hits = _sweep(spark, ["shortest_paths"])
    assert any(
        "collect_list" in frag for frag in hits["shortest_paths"]
    ), "plan capture lost sight of a known ObjectHashAggregate"


def test_object_hash_audit_capture_sees_in_loop_plans(spark):
    # kcore's supersteps run behind per-superstep checkpoints, so the
    # message column appears only in plans captured inside the loop: a
    # capture that sees just the returned DataFrame passes the hot-loop
    # test without ever looking at a loop
    from tools.profile_actions import ActionProfiler

    with ActionProfiler(spark) as prof:
        entry_mod.queries()["kcore"](spark, SF_DIR).count()
    assert any("_pregel_msg" in plan for plan in prof.plans[:-1])
