#!/usr/bin/env python3
"""Identity check between two graft.Verify output directories.

Usage: python3 scripts/identity_check.py PARENT_OUT CHANGE_OUT

For a refactor that must not change any output (for example routing a
fixed-arity kernel to its general form): run graft.Verify on the same
rows and data before and after the change, then run this. It requires

  - oracle_sql.json byte-identical on both sides, and
  - every query directory present on both sides with the same parquet
    output row for row: column names, column types, values and row order.

Prints "N/N identical", then one line per query that differs and why.
Exits 1 on any difference, 0 otherwise.
"""
import os
import sys

import duckdb


def query_dirs(out):
    return {n for n in os.listdir(out) if os.path.isdir(os.path.join(out, n))}


def read(out, name):
    rel = duckdb.sql(f"SELECT * FROM '{os.path.join(out, name)}/*.parquet'")
    return rel.columns, [str(t) for t in rel.types], rel.fetchall()


def compare(parent, change, name):
    """Returns None when identical, else a short reason."""
    pc, pt, pr = read(parent, name)
    cc, ct, cr = read(change, name)
    if pc != cc:
        return f"columns {pc} vs {cc}"
    if pt != ct:
        return f"types {pt} vs {ct}"
    if len(pr) != len(cr):
        return f"row count {len(pr)} vs {len(cr)}"
    for i, (a, b) in enumerate(zip(pr, cr)):
        if a != b:
            return f"row {i}: {a} vs {b}"
    return None


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    parent, change = sys.argv[1], sys.argv[2]
    bad = []

    sql = [os.path.join(d, "oracle_sql.json") for d in (parent, change)]
    if not all(os.path.isfile(p) for p in sql):
        bad.append(("oracle_sql.json", "missing on one side"))
    else:
        with open(sql[0], "rb") as a, open(sql[1], "rb") as b:
            if a.read() != b.read():
                bad.append(("oracle_sql.json", "bytes differ"))

    pn, cn = query_dirs(parent), query_dirs(change)
    for n in sorted(pn ^ cn):
        bad.append((n, f"only in {'parent' if n in pn else 'change'}"))
    names = sorted(pn & cn)
    diffs = [(n, r) for n in names if (r := compare(parent, change, n))]
    print(f"{len(names) - len(diffs)}/{len(names)} identical")
    for n, reason in bad + diffs:
        print(f"DIFF {n}: {reason}")
    sys.exit(1 if bad or diffs else 0)


if __name__ == "__main__":
    main()
