#!/usr/bin/env python3
"""Compare two graft.Verify output directories query by query.

Usage: python3 tools/diff_verify.py <verifyOutA> <verifyOutB>

For every query output directory (<name>/ parquet written by graft.Verify)
it checks, with DuckDB:
  - both runs wrote the same set of queries;
  - the same column names, in order;
  - the same rows in the same order (a hash over every row, values
    normalized as tools/check.py does).
It also checks that both oracle_sql.json files hold the same entries.

Unlike tools/check.py, which compares each output with its oracle, this
compares the outputs themselves, so it also catches a change in a query
that has no oracle or whose oracle tolerates it (order, extra columns).
Exit 0 = identical; 1 = differences (each printed on its own line).
"""
import glob, hashlib, json, math, os, sys
from decimal import Decimal

import duckdb


def norm(v):
    """One value as text, with tools/check.py's numeric canon."""
    if v is None:
        return "NULL"
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(0.0 if v == 0.0 else v)
    return str(v)


def outputs(d):
    return sorted(n for n in os.listdir(d) if os.path.isdir(os.path.join(d, n)))


def digest(con, path):
    """(column names, row count, ordered row hash) of one output dir."""
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        return None, 0, None
    # one explicit file list: part files sort by task index (they share
    # the write's UUID), which is the order Spark wrote the rows in
    cur = con.execute("SELECT * FROM read_parquet(?)", [files])
    cols = [c[0] for c in cur.description]
    h = hashlib.sha256()
    n = 0
    while True:
        batch = cur.fetchmany(10000)
        if not batch:
            break
        for r in batch:
            h.update(("\x1f".join(norm(v) for v in r) + "\x1e").encode())
        n += len(batch)
    return cols, n, h.hexdigest()


def main():
    if len(sys.argv) != 3:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    a, b = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    diffs = []
    qa, qb = outputs(a), outputs(b)
    for n in sorted(set(qa) - set(qb)):
        diffs.append(f"{n}: written only in {a}")
    for n in sorted(set(qb) - set(qa)):
        diffs.append(f"{n}: written only in {b}")
    common = sorted(set(qa) & set(qb))
    for n in common:
        ca, ra, ha = digest(con, os.path.join(a, n))
        cb, rb, hb = digest(con, os.path.join(b, n))
        if ca != cb:
            diffs.append(f"{n}: columns {ca} vs {cb}")
        elif ra != rb:
            diffs.append(f"{n}: {ra} rows vs {rb}")
        elif ha != hb:
            diffs.append(f"{n}: same row count ({ra}), different rows or order")
    oa = json.load(open(os.path.join(a, "oracle_sql.json")))
    ob = json.load(open(os.path.join(b, "oracle_sql.json")))
    for n in sorted(set(oa) | set(ob)):
        if oa.get(n) != ob.get(n):
            diffs.append(f"{n}: oracle_sql.json entries differ")
    for d in diffs:
        print(d)
    print(f"{len(common)} common outputs, {len(oa)}/{len(ob)} oracle entries, "
          f"{len(diffs)} differences")
    return 1 if diffs else 0


if __name__ == "__main__":
    sys.exit(main())
