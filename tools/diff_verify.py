#!/usr/bin/env python3
"""Compare two `graft.Verify` output trees gate by gate.

    python3 tools/diff_verify.py A B

A and B are two Verify output directories, for example one written by the
parent commit and one by a change, on the same scale factor. Each gate is
a sub-directory of parquet files. For every gate the tool checks:

- that both trees hold the same gate set;
- that the gate has the same column names and types, in order, in both;
- that its rows are equal as multisets: DuckDB `EXCEPT ALL` is empty in
  both directions.

It prints one line per gate and exits non-zero on any difference.
"""
import os
import sys

import duckdb


def gates(root):
    return {n for n in os.listdir(root) if os.path.isdir(os.path.join(root, n))}


def main(a, b):
    con = duckdb.connect()
    ga, gb = gates(a), gates(b)
    bad = sorted(ga ^ gb)
    for name in bad:
        print(f"[{name}] only in {a if name in ga else b}")
    for name in sorted(ga & gb):
        ra, rb = (f"read_parquet('{os.path.join(r, name)}/*.parquet')" for r in (a, b))
        sa = con.sql(f"DESCRIBE SELECT * FROM {ra}").fetchall()
        sb = con.sql(f"DESCRIBE SELECT * FROM {rb}").fetchall()
        if [c[:2] for c in sa] != [c[:2] for c in sb]:
            bad.append(name)
            print(f"[{name}] SCHEMA {[c[:2] for c in sa]} != {[c[:2] for c in sb]}")
            continue
        only_a = con.sql(f"SELECT count(*) FROM (SELECT * FROM {ra} EXCEPT ALL SELECT * FROM {rb})").fetchone()[0]
        only_b = con.sql(f"SELECT count(*) FROM (SELECT * FROM {rb} EXCEPT ALL SELECT * FROM {ra})").fetchone()[0]
        rows = con.sql(f"SELECT count(*) FROM {ra}").fetchone()[0]
        if only_a or only_b:
            bad.append(name)
            print(f"[{name}] ROWS differ: {only_a} only in A, {only_b} only in B")
        else:
            print(f"[{name}] identical ({rows} rows)")
    print(f"DIFFERENT: {sorted(bad)}" if bad else f"ALL IDENTICAL ({len(ga)} gates)")
    return 1 if bad else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
