#!/usr/bin/env python3
"""Parity diff of two graft.Verify output dirs, for refactors.

Usage: python3 tools/verify_diff.py <parentOut> <changeOut> [names]

For each query (the comma-separated `names`, else every result dir on
either side) it compares the two parquet results: the same column
names with the same types in the same order, and the same multiset of
rows (EXCEPT ALL both ways, so row order is ignored but duplicate
counts are not). It prints one SAME or DIFF line per query and exits 1
on any DIFF; a query missing on one side is a DIFF.
"""
import os
import sys

import duckdb


def result_dirs(out):
    return {d for d in os.listdir(out) if os.path.isdir(os.path.join(out, d))}


def compare(con, a, b):
    """None when the two results match, else the reason they differ."""
    ta = con.sql(f"DESCRIBE SELECT * FROM '{a}/*.parquet'").fetchall()
    tb = con.sql(f"DESCRIBE SELECT * FROM '{b}/*.parquet'").fetchall()
    sa = [(r[0], r[1]) for r in ta]
    sb = [(r[0], r[1]) for r in tb]
    if sa != sb:  # in order: a reordered projection is a schema change
        return f"schema {sa} vs {sb}"
    cols = ", ".join('"' + c.replace('"', '""') + '"' for c, _ in sa)
    na = con.sql(f"SELECT count(*) FROM '{a}/*.parquet'").fetchone()[0]
    nb = con.sql(f"SELECT count(*) FROM '{b}/*.parquet'").fetchone()[0]
    if na != nb:
        return f"{na} vs {nb} rows"
    for x, y, side in ((a, b, "parent"), (b, a, "change")):
        extra = con.sql(
            f"SELECT count(*) FROM (SELECT {cols} FROM '{x}/*.parquet' "
            f"EXCEPT ALL SELECT {cols} FROM '{y}/*.parquet')").fetchone()[0]
        if extra:
            return f"{extra} of {na} rows only on the {side} side"
    return None


def main(argv):
    if len(argv) < 3:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    parent, change = argv[1], argv[2]
    names = ([n for n in argv[3].split(",") if n] if len(argv) > 3
             else sorted(result_dirs(parent) | result_dirs(change)))
    con = duckdb.connect()
    diffs = 0
    for name in names:
        a, b = os.path.join(parent, name), os.path.join(change, name)
        missing = [side for side, d in (("parent", a), ("change", b)) if not os.path.isdir(d)]
        try:
            why = f"no result dir on the {' and '.join(missing)} side" if missing else compare(con, a, b)
        except duckdb.Error as e:
            why = f"unreadable: {e}"
        if why is None:
            print(f"SAME {name}")
        else:
            diffs += 1
            print(f"DIFF {name}: {why}")
    print(f"{len(names) - diffs} SAME, {diffs} DIFF")
    return 1 if diffs else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
