"""bench.py's one-line JSON summary keeps or names every query."""

import json

import bench


def _compact(timings: dict[str, float], contaminated: list[str]) -> dict:
    return {
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": {k: round(v, 2) for k, v in timings.items()},
        "load": {
            "load1_median": 3.21,
            "load1_max": 7.65,
            "cotenant_cores_median": 0.12,
            "cotenant_cores_max": 1.34,
            "steal_cores_median": 0.01,
            "steal_cores_max": 0.45,
        },
        "contaminated_queries": contaminated,
        "sf": 0.1,
    }


def test_compact_line_names_every_query():
    # the 70 headline keys with fake, distinct times
    assert len(bench.HEADLINE) == 70
    timings = {k: 30.0 - i * 0.37 for i, k in enumerate(bench.HEADLINE)}
    line = bench.compact_line(_compact(timings, bench.HEADLINE[:3]), timings)
    assert len(line) <= bench.LINE_LIMIT
    out = json.loads(line)
    kept, omitted = out["queries"], out["queries_omitted"]
    assert set(kept) | set(omitted) == set(timings)
    assert not set(kept) & set(omitted)
    assert len(kept) == bench.KEEP_SLOWEST
    # the kept queries are the slowest ones
    assert min(timings[k] for k in kept) > max(timings[k] for k in omitted)


def test_compact_line_shrinks_further_rather_than_overflow():
    # a long contaminated list leaves less room than 40 kept queries need
    timings = {k: float(i) for i, k in enumerate(bench.HEADLINE)}
    line = bench.compact_line(_compact(timings, bench.HEADLINE[:20]), timings)
    assert len(line) <= bench.LINE_LIMIT
    out = json.loads(line)
    assert set(out["queries"]) | set(out["queries_omitted"]) == set(timings)
    assert len(out["queries"]) < bench.KEEP_SLOWEST


def test_compact_line_untouched_when_it_fits():
    timings = {"pagerank": 6.67, "sssp": 7.86}
    compact = _compact(timings, [])
    line = bench.compact_line(dict(compact), timings)
    assert json.loads(line) == compact
