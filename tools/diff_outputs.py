#!/usr/bin/env python3
"""Compare two graft.Verify output directories query by query.

Usage: python3 tools/diff_outputs.py <verifyOutDirA> <verifyOutDirB>

Each query directory holds parquet files. Two outputs are the same when they
have the same column names and DuckDB types, in order, and the same rows as
a multiset (exact values: floats compare by their shortest round-trip repr).
Prints one line per differing query and a summary; exits 1 if any differ.
"""
import collections, duckdb, glob, os, sys


def canon(v):
    """A hashable, exact rendering of one DuckDB value."""
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    if isinstance(v, dict):
        return tuple((k, canon(x)) for k, x in v.items())
    return repr(v)


def load(con, d):
    """(schema, row multiset) of one query directory; None if it is absent."""
    if not os.path.isdir(d):
        return None
    if not glob.glob(f"{d}/*.parquet"):
        return (), collections.Counter()
    rel = con.sql(f"SELECT * FROM '{d}/*.parquet'")
    schema = tuple(zip(rel.columns, map(str, rel.types)))
    return schema, collections.Counter(canon(r) for r in rel.fetchall())


def main(a_dir, b_dir):
    con = duckdb.connect()
    names = sorted({n for d in (a_dir, b_dir) for n in os.listdir(d)
                    if os.path.isdir(os.path.join(d, n))})
    n_diff = 0
    for name in names:
        a, b = (load(con, os.path.join(d, name)) for d in (a_dir, b_dir))
        if a is None or b is None:
            why = f"only in {a_dir if b is None else b_dir}"
        elif a[0] != b[0]:
            why = f"schema {list(a[0])} vs {list(b[0])}"
        elif a[1] != b[1]:
            only_a, only_b = a[1] - b[1], b[1] - a[1]
            why = (f"{sum(a[1].values())} vs {sum(b[1].values())} rows, "
                   f"{sum(only_a.values())} only in A, {sum(only_b.values())} only in B")
        else:
            continue
        n_diff += 1
        print(f"[DIFF] {name}: {why}")
    print(f"== {len(names) - n_diff} same, {n_diff} differ ==")
    return 1 if n_diff else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
