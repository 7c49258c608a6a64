"""Discovery sweep: every ObjectHashAggregate (and the collect_list /
collect_set aggregates that produce them) executed by ANY registry
query — including aggregates inside iterative loops, which never appear
in the final returned DataFrame's plan because checkpoints cut lineage.

CDLP's two-level-vote win came from spotting ONE ObjectHashAggregate in
a hot loop (mode() on hub-keyed groups — a per-group open hash map,
row-at-a-time, allocation churn). This sweep mechanizes that audit: the
plan of every action each query performs (``ActionProfiler.plans``) is
grepped for object-hash aggregation, and each hit must carry an explicit
boundedness argument (the allowlist lives in tests/test_plan_audit.py;
SCALE.md carries the table).

Usage: python tools/audit_object_hash.py [query ...]  (default: all)
Env: SPARK_GRAFT_SF_DIR (default: the sf0.001 testdata).
Prints one JSON object: {query: [matched plan fragments…]}.
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")

AGG_PATTERN = re.compile(
    r"ObjectHashAggregate|collect_list|collect_set|\bmode\(", re.IGNORECASE
)


def matched_fragments(plans: list[str]) -> list[str]:
    """Deduped single-line plan fragments that matched the audit regex."""
    hits = []
    seen = set()
    for plan in plans:
        for line in plan.splitlines():
            if AGG_PATTERN.search(line):
                frag = line.strip()[:300]
                if frag not in seen:
                    seen.add(frag)
                    hits.append(frag)
    return hits


def main() -> None:
    import bench
    import __spark_entry__ as entry_mod
    from tools.profile_actions import ActionProfiler

    spark = bench.build_session(len(os.sched_getaffinity(0)))
    spark.sparkContext.setLogLevel("ERROR")

    queries = entry_mod.queries()
    names = sys.argv[1:] or list(queries)
    report: dict[str, list[str]] = {}
    for name in names:
        try:
            with ActionProfiler(spark) as prof:
                queries[name](spark, SF_DIR).count()
        except Exception as exc:  # keep sweeping; report the failure
            report[name] = [f"ERROR: {type(exc).__name__}: {exc}"[:300]]
            continue
        hits = matched_fragments(prof.plans)
        if hits:
            report[name] = hits
        print(f"# {name}: {len(hits)} hit(s) in {len(prof.plans)} plans", file=sys.stderr)
    print(json.dumps(report, indent=2))


if __name__ == "__main__":
    main()
