#!/usr/bin/env python3
"""Compare graft.Verify query outputs, with DuckDB only.

Two modes:

  oracle_compare.py oracle <sfDir> <outDir>
      Registers every <sfDir>/<table>.parquet as a DuckDB view, runs each
      entry of <outDir>/oracle_sql.json (Verify has already substituted
      {OUT}), and compares its rows with the query's parquet output
      <outDir>/<query>/. Prints OK/FAIL per query and `N/M OK`.

  oracle_compare.py dirs <dirA> <dirB> [--noise <dirA2>]
      Compares two Verify output dirs query by query, row for row. With
      --noise, a second output dir of the same code as <dirA>: a query
      whose output differs between <dirA> and <dirA2> is reported as
      UNSTABLE and left out of the count. Prints SAME/DIFF per query and
      `N/M identical`.

Rows are compared as multisets: columns are sorted by name and each row
becomes a tuple of canonical Python values (ints and integral floats
compare equal, decimals become floats, lists/structs/maps become tuples).
Exit status is 0 when every counted query matches, 1 otherwise.
"""
import collections
import datetime
import decimal
import json
import math
import os
import sys

import duckdb


def canon(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        return None if math.isnan(v) else v
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    if isinstance(v, dict):
        # a DuckDB MAP may come back as {'key': [...], 'value': [...]}
        if set(v) == {"key", "value"} and isinstance(v["key"], list):
            v = dict(zip(v["key"], v["value"]))
        return tuple(sorted(((str(k), canon(x)) for k, x in v.items()), key=repr))
    return v


def rows(relation):
    """(sorted column names, Counter of canonical rows) of a relation."""
    cols = sorted(relation.columns)
    order = [relation.columns.index(c) for c in cols]
    counter = collections.Counter(
        tuple(canon(r[i]) for i in order) for r in relation.fetchall())
    return cols, counter


def parquet(con, path):
    return con.sql(f"SELECT * FROM read_parquet('{path}/*.parquet')")


def describe(a, b):
    (ca, ra), (cb, rb) = a, b
    if ca != cb:
        return f"columns {ca} vs {cb}"
    if ra != rb:
        only_a = sum((ra - rb).values())
        only_b = sum((rb - ra).values())
        return f"{sum(ra.values())} vs {sum(rb.values())} rows; {only_a} only left, {only_b} only right"
    return None


def query_dirs(d):
    return sorted(n for n in os.listdir(d) if os.path.isdir(os.path.join(d, n)))


def oracle_mode(sf_dir, out_dir):
    con = duckdb.connect()
    for f in sorted(os.listdir(sf_dir)):
        if f.endswith(".parquet"):
            con.sql(f"CREATE VIEW {f[:-len('.parquet')]} AS "
                    f"SELECT * FROM read_parquet('{os.path.join(sf_dir, f)}')")
    with open(os.path.join(out_dir, "oracle_sql.json")) as fh:
        oracles = json.load(fh)
    ok = 0
    for name in sorted(oracles):
        try:
            diff = describe(rows(con.sql(oracles[name])),
                            rows(parquet(con, os.path.join(out_dir, name))))
        except Exception as e:  # a failing query or a missing output
            diff = f"error: {str(e).splitlines()[0]}"
        ok += diff is None
        print(f"{'OK  ' if diff is None else 'FAIL'} {name}" + (f"  ({diff})" if diff else ""))
    print(f"{ok}/{len(oracles)} OK")
    return ok == len(oracles)


def dirs_mode(dir_a, dir_b, noise):
    con = duckdb.connect()
    names = sorted(set(query_dirs(dir_a)) | set(query_dirs(dir_b)))
    same = counted = 0
    unstable = []
    for name in names:
        def load(d):
            p = os.path.join(d, name)
            return rows(parquet(con, p)) if os.path.isdir(p) else None
        a, b = load(dir_a), load(dir_b)
        if noise is not None and load(noise) != a:
            unstable.append(name)
            print(f"UNSTABLE {name}")
            continue
        counted += 1
        if a is None or b is None:
            print(f"MISSING {name}  (in {'left' if a is None else 'right'})")
            continue
        diff = describe(a, b)
        same += diff is None
        print(f"{'SAME' if diff is None else 'DIFF'} {name}" + (f"  ({diff})" if diff else ""))
    print(f"{same}/{counted} identical" +
          (f"; {len(unstable)} unstable, excluded: {', '.join(unstable)}" if unstable else ""))
    return same == counted


def main(argv):
    if len(argv) == 4 and argv[1] == "oracle":
        return oracle_mode(argv[2], argv[3])
    if len(argv) in (4, 6) and argv[1] == "dirs":
        noise = None
        if len(argv) == 6:
            if argv[4] != "--noise":
                sys.exit(__doc__)
            noise = argv[5]
        return dirs_mode(argv[2], argv[3], noise)
    sys.exit(__doc__)


if __name__ == "__main__":
    sys.exit(0 if main(sys.argv) else 1)
