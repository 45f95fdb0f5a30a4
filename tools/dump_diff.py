#!/usr/bin/env python3
"""Row-by-row comparison of two Verify dumps.

Usage: python3 tools/dump_diff.py <verifyOutA> <verifyOutB> [row1,row2,...]

For every query directory present in either dump (or only the named
rows), load both parquet results and compare them as multisets with the
oracle compare's normalization (columns sorted by name, full-precision
floats, NaN == NaN; `oracle_check.norm_rows`). This is the only output
check for the rows-only registry entries, which no DuckDB oracle covers.

Prints one line per row (`same`, `DIFF`, or `missing`) and exits 1 if
any compared row differs or is missing from one side.
"""
import os
import sys

import duckdb

from oracle_check import norm_rows  # this script's directory is on sys.path


def query_dirs(out_dir):
    return {n for n in os.listdir(out_dir) if os.path.isdir(f"{out_dir}/{n}")}


def load(con, out_dir, name):
    rel = con.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'")
    cols = list(rel.columns)
    return sorted(cols), norm_rows(cols, rel.fetchall())


def main(dir_a, dir_b, only=None):
    con = duckdb.connect()
    names = query_dirs(dir_a) | query_dirs(dir_b)
    if only is not None:
        names = set(only)
    n_same = n_bad = 0
    for name in sorted(names):
        missing = [d for d in (dir_a, dir_b) if not os.path.isdir(f"{d}/{name}")]
        if missing:
            print(f"missing {name}: not in {', '.join(missing)}")
            n_bad += 1
            continue
        cols_a, rows_a = load(con, dir_a, name)
        cols_b, rows_b = load(con, dir_b, name)
        if cols_a != cols_b:
            print(f"DIFF {name}: cols A={cols_a} B={cols_b}")
            n_bad += 1
            continue
        if rows_a != rows_b:
            only_a = len(multiset_minus(rows_a, rows_b))
            only_b = len(multiset_minus(rows_b, rows_a))
            print(f"DIFF {name}: {len(rows_a)} vs {len(rows_b)} rows; "
                  f"{only_a} only in A, {only_b} only in B")
            n_bad += 1
            continue
        print(f"same {name} ({len(rows_a)} rows)")
        n_same += 1
    print(f"\n{n_same} same / {n_bad} differ or missing of {len(names)}")
    return 1 if n_bad else 0


def multiset_minus(xs, ys):
    """Elements of sorted list xs not matched by sorted list ys."""
    out, j = [], 0
    for x in xs:
        while j < len(ys) and ys[j] < x:
            j += 1
        if j < len(ys) and ys[j] == x:
            j += 1
        else:
            out.append(x)
    return out


if __name__ == "__main__":
    if len(sys.argv) not in (3, 4):
        sys.exit(__doc__)
    rows = sys.argv[3].split(",") if len(sys.argv) == 4 else None
    sys.exit(main(sys.argv[1], sys.argv[2], rows))
