#!/usr/bin/env python3
"""Compare two oracle_sql.json dumps key by key.

Usage: python3 tools/oracle_diff.py <before oracle_sql.json> \
           <after oracle_sql.json> <sf_dir>

The equality check for a refactor that regenerates oracle SQL. Prints
one verdict per key:

  SAME_TEXT  equal once whitespace is collapsed
  SAME_ROWS  the texts differ, but DuckDB over <sf_dir> gives the same
             row count, sorted column names and canon hash
  DIFFERENT  anything else (a failing query included)
  ADDED / REMOVED  the key is in only one dump

and exits non-zero if any key is DIFFERENT, ADDED or REMOVED. The
hash and the table views are check_oracle.py's.
"""
import json
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from check_oracle import canon, connect  # noqa: E402


def collapse(sql):
    return " ".join(sql.split())


def answer(con, sql):
    rel = con.sql(sql)
    cols, rows = rel.columns, rel.fetchall()
    return len(rows), sorted(cols), canon(rows, cols)


def verdict(con, before, after):
    if collapse(before) == collapse(after):
        return "SAME_TEXT", ""
    try:
        b, a = answer(con(), before), answer(con(), after)
    except duckdb.Error as e:
        return "DIFFERENT", f" error: {str(e).splitlines()[0]}"
    if b == a:
        return "SAME_ROWS", f" rows={a[0]}"
    return "DIFFERENT", f" rows {b[0]} -> {a[0]}, hash {b[2]} -> {a[2]}"


def main(before_path, after_path, sfdir):
    before = json.load(open(before_path))
    after = json.load(open(after_path))
    conn = []

    def con():
        if not conn:
            conn.append(connect(sfdir))
        return conn[0]

    counts = {}
    for key in sorted(set(before) | set(after)):
        if key not in after:
            v, note = "REMOVED", ""
        elif key not in before:
            v, note = "ADDED", ""
        else:
            v, note = verdict(con, before[key], after[key])
        counts[v] = counts.get(v, 0) + 1
        print(f"{v:<9}  {key}{note}")
    print("\n" + ", ".join(f"{n} {v}" for v, n in sorted(counts.items())))
    bad = sum(counts.get(v, 0) for v in ("DIFFERENT", "ADDED", "REMOVED"))
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    if len(sys.argv) != 4:
        sys.exit(__doc__)
    main(sys.argv[1], sys.argv[2], sys.argv[3])
