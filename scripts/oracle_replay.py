#!/usr/bin/env python3
"""Replay the DuckDB oracle compare over a `graft.Verify` output directory.

Usage:
    python3 scripts/oracle_replay.py <verify-out-dir> <sf-dir> [--hashes FILE]

For every query in <verify-out-dir>/oracle_sql.json, runs the oracle SQL
in DuckDB over the sf tables and reads the engine's parquet output from
<verify-out-dir>/<query>/, then checks three things:

    rows    the engine and the oracle return the same number of rows
    schema  the same column names (in any order)
    value   the same value hash: every row's values taken in sorted
            column-name order, str()-ed, the rows sorted, SHA-256

One line per query: `<query> <rows> <schema> <value>` (True/False), then
a summary `<green>/<total> green`. Exit status 0 only when every query is
green. `--hashes FILE` also writes the engine-side value hash of every
query as a JSON object, so two builds' outputs compare byte for byte
(`cmp a.json b.json`) without the oracle in the loop.

DuckDB is a verification tool here, never a library dependency.
"""
import argparse
import hashlib
import json
import os
import sys

import duckdb

TABLES = ["lineitem", "orders", "events", "documents", "embeddings",
          "customer", "nation", "part", "supplier", "region"]


def value_hash(rows, cols):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = sorted(tuple(str(r[i]) for i in idx) for r in rows)
    return hashlib.sha256(str(canon).encode()).hexdigest()


def fetch(con, sql):
    cur = con.execute(sql)
    return [d[0] for d in cur.description], cur.fetchall()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out_dir", help="graft.Verify output directory")
    ap.add_argument("sf_dir", help="input tables the oracle SQL reads")
    ap.add_argument("--hashes", help="write engine-side value hashes here")
    args = ap.parse_args()

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"parquet_scan('{os.path.join(args.sf_dir, t)}.parquet')")
    with open(os.path.join(args.out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)

    green, hashes = 0, {}
    for q, sql in oracle.items():
        try:
            ocols, orows = fetch(con, sql)
            scols, srows = fetch(con, "SELECT * FROM parquet_scan("
                                 f"'{os.path.join(args.out_dir, q)}/*.parquet')")
        except duckdb.Error as e:
            print(q, "ERROR", str(e).splitlines()[0])
            continue
        hashes[q] = value_hash(srows, scols)
        ok = (len(srows) == len(orows), sorted(scols) == sorted(ocols),
              hashes[q] == value_hash(orows, ocols))
        green += all(ok)
        print(q, *ok)
    print(f"{green}/{len(oracle)} green")
    if args.hashes:
        with open(args.hashes, "w") as f:
            json.dump(hashes, f, indent=1, sort_keys=True)
            f.write("\n")
    sys.exit(0 if green == len(oracle) else 1)


if __name__ == "__main__":
    main()
