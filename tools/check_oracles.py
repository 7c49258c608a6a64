"""Local replica of the driver's duckdb-oracle correctness check.

Runs every ``queries()`` entry against its ``oracle_sql()`` at a given SF
and compares row count, column names, and order-insensitive values.

Usage: python tools/check_oracles.py [sf_dir] [query ...]
(session: ``bench.build_session`` over the cores this process may run on)

Set CHECK_ORACLES_JSON=<path> to also write a machine-readable summary
(per-query status) mirroring the driver's CORRECTNESS file shape.
"""

from __future__ import annotations

import json
import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, ".")
import __spark_entry__ as entry_mod

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _all_midnight_or_dateonly(col: pd.Series) -> bool:
    nn = col.dropna()
    if len(nn) == 0:
        return True
    return bool((nn.str.endswith(" 00:00:00") | ~nn.str.contains(":")).all())


def canonicalize_pair(s: pd.DataFrame, o: pd.DataFrame):
    """Canonicalize a (spark, oracle) frame pair the way the driver's
    TYPE-SENSITIVE value hash sees them.

    Returns ``(s, o, dtype_problems)``. A non-empty ``dtype_problems``
    means the values may be numerically equal yet the driver hash would
    still mismatch (round-6 lesson: DuckDB promotes integer ``sum()`` to
    HUGEINT, pandas renders it float64, and the driver flagged
    ``dp_pack`` red while the old ``check_dtype=False`` compare said ok).

    - int vs int (any width): both to int64 — equal-width not required.
    - float vs float: both to float64 (NaN-bearing nullable-int
      promotions land here: both engines render nullable integer
      columns as float64-with-NaN).
    - int vs float: always a dtype SPLIT (failure) — an int64 column
      cannot hold the NaNs a genuine nullable pair would share, so
      equal values are impossible anyway and the split is the signal.
    - datetimes: ISO strings; the midnight suffix is stripped only when
      BOTH sides are date-granular (all values midnight or date-only),
      so a genuine timestamp column is compared at full precision.
    """
    s = s[sorted(s.columns)].copy()
    o = o[sorted(o.columns)].copy()
    problems = []
    for c in [c for c in s.columns if c in set(o.columns)]:
        sc, oc = s[c], o[c]
        s_dt = pd.api.types.is_datetime64_any_dtype(sc)
        o_dt = pd.api.types.is_datetime64_any_dtype(oc)
        if s_dt or o_dt:
            # full microsecond precision: truncating to whole seconds
            # would hide sub-second mismatches the driver hash sees
            ss = (
                sc.dt.strftime("%Y-%m-%d %H:%M:%S.%f") if s_dt else sc.astype(str)
            )
            oo = (
                oc.dt.strftime("%Y-%m-%d %H:%M:%S.%f") if o_dt else oc.astype(str)
            )

            def _whole_second(col: pd.Series) -> bool:
                nn = col.dropna()
                if len(nn) == 0:
                    return True
                return bool(
                    (nn.str.endswith(".000000") | ~nn.str.contains(".", regex=False)).all()
                )

            if _whole_second(ss) and _whole_second(oo):
                ss = ss.str.replace(".000000", "", regex=False)
                oo = oo.str.replace(".000000", "", regex=False)
            if _all_midnight_or_dateonly(ss) and _all_midnight_or_dateonly(oo):
                ss = ss.str.replace(" 00:00:00", "", regex=False)
                oo = oo.str.replace(" 00:00:00", "", regex=False)
            s[c], o[c] = ss, oo
            continue
        s_num = pd.api.types.is_numeric_dtype(sc) and sc.dtype != object
        o_num = pd.api.types.is_numeric_dtype(oc) and oc.dtype != object
        if s_num and o_num:
            s_bool = pd.api.types.is_bool_dtype(sc)
            o_bool = pd.api.types.is_bool_dtype(oc)
            s_int = pd.api.types.is_integer_dtype(sc)
            o_int = pd.api.types.is_integer_dtype(oc)
            if s_bool or o_bool:
                if s_bool and o_bool:
                    s[c], o[c] = sc.astype(bool), oc.astype(bool)
                else:
                    problems.append(f"{c}: bool-vs-numeric dtype split")
                continue
            if s_int and o_int:
                s[c], o[c] = sc.astype("int64"), oc.astype("int64")
            elif not s_int and not o_int:
                s[c], o[c] = sc.astype("float64"), oc.astype("float64")
            else:
                s[c], o[c] = sc.astype("float64"), oc.astype("float64")
                which = "oracle" if s_int else "spark"
                problems.append(
                    f"{c}: int-vs-float dtype split ({which} side is "
                    "float, e.g. DuckDB HUGEINT/DECIMAL) — driver "
                    "hash would mismatch even on equal values"
                )
            continue
        if sc.dtype == object:
            s[c] = sc.astype(str)
        if oc.dtype == object:
            o[c] = oc.astype(str)
    s = s.sort_values(by=list(s.columns), ignore_index=True)
    o = o.sort_values(by=list(o.columns), ignore_index=True)
    return s, o, problems


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import bench  # here, not at the top: perfbench imports canonicalize_pair

    spark = bench.build_session(len(os.sched_getaffinity(0)))
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        try:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
            )
        except Exception:
            pass

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = []
    summary = {}

    def record(name, status, rows=None, detail=None):
        summary[name] = {"status": status, "rows": rows, "detail": detail}

    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as ex:
            failures.append(name)
            record(name, "fail", detail=f"spark raised {type(ex).__name__}")
            print(f"FAIL {name}: spark query raised {type(ex).__name__}: {ex}")
            continue
        if name not in oracles:
            record(name, "rows_only", rows=len(sdf))
            print(f"SKIP {name}: no oracle ({len(sdf)} rows)")
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as ex:
            failures.append(name)
            record(name, "fail", detail=f"oracle raised {type(ex).__name__}")
            print(f"FAIL {name}: oracle raised {type(ex).__name__}: {ex}")
            continue
        try:
            s, o, dtype_problems = canonicalize_pair(sdf, odf)
        except Exception as ex:  # e.g. extension Int64-with-NA astype
            failures.append(name)
            record(name, "fail", detail=f"canonicalize raised {type(ex).__name__}")
            print(f"FAIL {name}: canonicalize raised {type(ex).__name__}: {ex}")
            continue
        if list(s.columns) != list(o.columns):
            failures.append(name)
            record(name, "fail", detail="column mismatch")
            print(f"FAIL {name}: columns {list(s.columns)} vs {list(o.columns)}")
            continue
        if len(s) != len(o):
            failures.append(name)
            record(name, "fail", detail=f"rows {len(s)} vs {len(o)}")
            print(f"FAIL {name}: rows {len(s)} vs {len(o)}")
            continue
        if dtype_problems:
            failures.append(name)
            record(name, "fail", detail="; ".join(dtype_problems))
            print(f"FAIL {name}: {'; '.join(dtype_problems)}")
            continue
        try:
            pd.testing.assert_frame_equal(
                s, o, check_dtype=False, check_exact=False, rtol=0, atol=0
            )
        except AssertionError as ex:
            failures.append(name)
            record(name, "fail", detail="values differ")
            print(f"FAIL {name}: values differ: {str(ex)[:300]}")
            continue
        record(name, "ok", rows=len(s))
        print(f"OK   {name}: {len(s)} rows")

    json_path = os.environ.get("CHECK_ORACLES_JSON")
    if json_path:
        with open(json_path, "w") as fh:
            json.dump({"sf_dir": sf_dir, "results": summary}, fh, indent=1)

    print(f"\n{len(failures)} failures" if failures else "\nall OK")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
