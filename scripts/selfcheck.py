"""Driver-style correctness self-check: run every queries() entry on Spark and
compare against oracle_sql() in DuckDB at sf0.01 (rows + schema-width + values).

Usage: python scripts/selfcheck.py [query ...]   (no args = all)
Env: SPARK_GRAFT_SF_DIR (default: the sf0.01 testdata). The session is
``bench.build_session`` over the cores this process may run on.
"""

from __future__ import annotations

import math
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import __spark_entry__ as entry_mod

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 6)
    if isinstance(v, list):
        return tuple(norm_cell(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, norm_cell(x)) for k, x in v.items()))
    return v


def df_to_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    out.sort(key=repr)
    return [c for _, c in sorted(zip(cols, cols))], out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    only = set(sys.argv[1:])

    import bench

    spark = bench.build_session(len(os.sched_getaffinity(0)))
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as exc:  # noqa: BLE001
            failures.append(name)
            print(f"{name}: SPARK ERROR {exc}")
            continue
        if name not in oracles:
            print(f"{name}: rows-only ({len(srows)} rows)")
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as exc:  # noqa: BLE001
            failures.append(name)
            print(f"{name}: ORACLE ERROR {exc}")
            continue
        s_cols, s_vals = df_to_rows(scols, [tuple(r) for r in srows])
        o_cols, o_vals = df_to_rows(ocols, orows)
        if sorted(scols) != sorted(ocols):
            failures.append(name)
            print(f"{name}: SCHEMA MISMATCH spark={sorted(scols)} oracle={sorted(ocols)}")
        elif len(s_vals) != len(o_vals):
            failures.append(name)
            print(f"{name}: ROWS MISMATCH spark={len(s_vals)} oracle={len(o_vals)}")
        elif s_vals != o_vals:
            failures.append(name)
            bad = next(
                (i for i, (a, b) in enumerate(zip(s_vals, o_vals)) if a != b), -1
            )
            print(f"{name}: VALUE MISMATCH at sorted row {bad}:")
            print(f"  spark : {s_vals[bad]}")
            print(f"  oracle: {o_vals[bad]}")
        else:
            print(f"{name}: ok ({len(s_vals)} rows)")
    print(f"\n{'FAILURES: ' + ', '.join(failures) if failures else 'ALL GREEN'}")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
