#!/usr/bin/env python3
"""Row identity between two Verify dumps.

Usage: compare_dumps.py <dumpA> <dumpB>

Each key's parquet dir in A must hold exactly the rows (as a multiset, with
column names and types) of the same key's dir in B. Keys dumped on one side
only are listed. Exits non-zero on any difference, so a refactor can be
checked against the parent commit's dump where the DuckDB oracle is too slow.
"""
import os
import sys

import duckdb


def keys(d):
    return {k for k in os.listdir(d) if os.path.isdir(os.path.join(d, k))}


def main(a, b):
    ka, kb = keys(a), keys(b)
    con = duckdb.connect()
    diff = []
    for k in sorted(ka & kb):
        ra = f"read_parquet('{a}/{k}/*.parquet')"
        rb = f"read_parquet('{b}/{k}/*.parquet')"
        sa = con.execute(f"DESCRIBE SELECT * FROM {ra}").fetchall()
        sb = con.execute(f"DESCRIBE SELECT * FROM {rb}").fetchall()
        if sa != sb:
            diff.append((k, "schema"))
            continue
        n = con.execute(
            f"SELECT (SELECT count(*) FROM (SELECT * FROM {ra} EXCEPT ALL SELECT * FROM {rb})) +"
            f" (SELECT count(*) FROM (SELECT * FROM {rb} EXCEPT ALL SELECT * FROM {ra}))").fetchone()[0]
        if n:
            diff.append((k, f"{n} rows differ"))
    for k, why in diff:
        print(f"DIFF {k}: {why}")
    for k in sorted(ka ^ kb):
        print(f"ONLY IN {'A' if k in ka else 'B'}: {k}")
    print(f"IDENTICAL {len(ka & kb) - len(diff)} of {len(ka & kb)} shared keys")
    return 1 if diff or ka != kb else 0


if __name__ == "__main__":
    sys.exit(main(*sys.argv[1:3]))
