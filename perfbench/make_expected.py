#!/usr/bin/env python3
"""Regenerate perfbench/expected.json, the query digests the benchmark
checks its query workloads against.

    python3 perfbench/make_expected.py

Builds the harness (as run.py does), runs `graftbench.Expect` over the
benchmark data, and accepts a query's digest only when the digest of
its DuckDB oracle (`SparkEntry.oracleSql`) over the same parquet files
is identical. Exits non-zero, writing nothing, on any mismatch.
"""
import decimal
import glob
import hashlib
import json
import os
import sys
import tempfile

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

DATA = os.path.join(run.HERE, "data", "sf0.01")
OUT = os.path.join(run.HERE, "expected.json")


def cell(v):
    """Canonical text of one value; mirrors QueryBench.cell."""
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, decimal.Decimal):
        s = format(v.normalize(), "f")
        return "0" if s in ("0", "-0", "0.0") else s
    if isinstance(v, float):
        return str(int(v)) if v == int(v) and abs(v) < 1e15 else repr(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(cell(x) for x in v.values()) + "}"
    return str(v)


def digest(rel):
    cols = sorted(rel.columns)
    sel = ", ".join(f'"{c}"' for c in cols)
    rows = rel.query("r", f"SELECT {sel} FROM r").fetchall()
    lines = sorted("\u0001".join(cell(x) for x in row) for row in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return len(rows), h.hexdigest()


def main():
    target = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    os.makedirs(target, exist_ok=True)
    classes = run.build(target)
    with tempfile.TemporaryDirectory(dir=target) as work:
        code, out = run.run_child(run.java_cmd(classes, work, ["graftbench.Expect", DATA]), work, 900)
    if code != 0:
        sys.exit(f"graftbench.Expect exited {code}")
    spark = json.loads(out.strip().splitlines()[-1])
    con = duckdb.connect()
    for p in glob.glob(f"{DATA}/*.parquet"):
        con.sql(f"CREATE VIEW {os.path.basename(p)[:-8]} AS SELECT * FROM '{p}'")
    expected, bad = {}, 0
    for name, e in spark.items():
        if e["oracle"] is None:
            print(f"{name}: no oracle, rows only ({e['rows']})")
            expected[name] = {"rows": e["rows"], "sha256": ""}
            continue
        n, h = digest(con.sql(e["oracle"]))
        ok = (n, h) == (e["rows"], e["sha256"])
        print(f"{name}: spark {e['rows']} rows {e['sha256'][:12]}  duckdb {n} rows {h[:12]}  "
              f"{'OK' if ok else 'MISMATCH'}")
        bad += not ok
        expected[name] = {"rows": n, "sha256": h}
    if bad:
        sys.exit(f"{bad} queries disagree with their oracle; expected.json left unchanged")
    with open(OUT, "w") as fh:
        json.dump({"data": "data/sf0.01", "queries": expected}, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"wrote {OUT}")


if __name__ == "__main__":
    main()
