#!/usr/bin/env python3
"""Row-level diff of two Verify output directories.

Usage:
  python3 tools/diff_results.py <verifyOutA> <verifyOutB>

Each argument is a directory written by
`sbt "runMain graft.Verify <sfDir> <outDir>"`: one parquet result dir per
catalog query plus `_failed.json` and `oracle_sql.json`. The two runs must
hold the same set of result dirs and both `_failed.json` files must be `{}`.
For every result, DuckDB runs `EXCEPT ALL` in both directions (a multiset
difference, so a duplicated or dropped row counts) after checking that the
column names and types agree. Prints one line per differing result and a
summary; exits 1 on any difference.
"""
import json
import os
import sys

import duckdb


def result_dirs(out_dir):
    return {d for d in os.listdir(out_dir)
            if os.path.isdir(os.path.join(out_dir, d)) and not d.startswith(("_", "."))}


def failed(out_dir):
    path = os.path.join(out_dir, "_failed.json")
    if not os.path.exists(path):
        return "missing _failed.json"
    got = json.load(open(path))
    return None if got == {} else f"_failed.json is {json.dumps(got)[:200]}"


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    a, b = sys.argv[1], sys.argv[2]
    problems = [f"{d}: {msg}" for d in (a, b) for msg in [failed(d)] if msg]
    ra, rb = result_dirs(a), result_dirs(b)
    if ra != rb:
        problems.append(f"result sets differ: only in A {sorted(ra - rb)}, "
                        f"only in B {sorted(rb - ra)}")
    con = duckdb.connect()
    differing = 0
    for name in sorted(ra & rb):
        sa = f"read_parquet('{a}/{name}/*.parquet')"
        sb = f"read_parquet('{b}/{name}/*.parquet')"
        schema_a = con.execute(f"DESCRIBE SELECT * FROM {sa}").fetchall()
        schema_b = con.execute(f"DESCRIBE SELECT * FROM {sb}").fetchall()
        if [c[:2] for c in schema_a] != [c[:2] for c in schema_b]:
            print(f"DIFF  {name}: schema A={[c[:2] for c in schema_a]} "
                  f"B={[c[:2] for c in schema_b]}")
            differing += 1
            continue
        only_a = con.execute(
            f"SELECT count(*) FROM (SELECT * FROM {sa} EXCEPT ALL SELECT * FROM {sb})").fetchone()[0]
        only_b = con.execute(
            f"SELECT count(*) FROM (SELECT * FROM {sb} EXCEPT ALL SELECT * FROM {sa})").fetchone()[0]
        if only_a or only_b:
            print(f"DIFF  {name}: {only_a} rows only in A, {only_b} rows only in B")
            differing += 1
    for p in problems:
        print(f"FAIL  {p}")
    same = len(ra & rb) - differing
    print(f"{same}/{len(ra | rb)} results row-identical"
          + ("" if not (differing or problems) else f"; {differing} differ, {len(problems)} run problems"))
    sys.exit(1 if differing or problems else 0)


if __name__ == "__main__":
    main()
