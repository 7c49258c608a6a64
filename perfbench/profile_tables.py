"""Print the key distributions the sf workload's queries depend on, for
one or more table directories, side by side.

    python3 perfbench/profile_tables.py <generated-dir> <reference-dir>

Used to check ``inputs.write_tpch_tables`` against a reference copy of the
testdata: customers with orders (cc_incremental's singleton components),
events per user (motif_negation's chains) and the (lang, n_chars) groups
(dp_exact_dedup's group sizes).
"""

from __future__ import annotations

import sys

import pandas as pd


def profile(sf_dir: str) -> dict[str, object]:
    def read(table: str, cols: list[str]) -> pd.DataFrame:
        return pd.read_parquet(f"{sf_dir}/{table}.parquet", columns=cols)

    customers = read("customer", ["c_custkey"])
    per_cust = read("orders", ["o_custkey"])["o_custkey"].value_counts()
    per_user = read("events", ["user_id"])["user_id"].value_counts()
    docs = read("documents", ["lang", "n_chars"])
    groups = docs.groupby(["lang", "n_chars"]).size()
    return {
        "customers": len(customers),
        "customers with orders": len(per_cust),
        "orders per customer (mean / max)": f"{per_cust.mean():.1f} / {per_cust.max()}",
        "users": len(per_user),
        "events per user (min / median / max)":
            f"{per_user.min()} / {per_user.median():.0f} / {per_user.max()}",
        "documents": len(docs),
        "lang shares": " ".join(f"{k} {v:.2f}" for k, v in
                                docs["lang"].value_counts(normalize=True).items()),
        "n_chars (min / median / max)":
            f"{docs['n_chars'].min()} / {docs['n_chars'].median():.0f} / {docs['n_chars'].max()}",
        "(lang, n_chars) groups": len(groups),
        "groups of size 1 / 2 / 3+": f"{(groups == 1).sum()} / {(groups == 2).sum()} / {(groups >= 3).sum()}",
        "largest group": groups.max(),
    }


def main(dirs: list[str]) -> int:
    if not dirs:
        print(__doc__, file=sys.stderr)
        return 2
    table = pd.DataFrame({d: profile(d) for d in dirs})
    print(table.to_string())
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
