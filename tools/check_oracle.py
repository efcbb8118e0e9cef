#!/usr/bin/env python3
"""Local replica of the driver's t2 DuckDB-oracle check.

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir>

For each query result parquet written by graft.Verify, runs the matching
oracle SQL from oracle_sql.json in DuckDB (tables = <sfDir>/<name>.parquet),
sorts columns by name and rows by value, and compares cell-by-cell. Each
query in the failure record Verify writes beside it (verify_failures.json)
counts as FAIL(engine): it threw, so it has no parquet to compare.
"""
import json
import math
import os
import sys
import tempfile

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# Every connection is bounded: unbounded, an all-pairs oracle at sf0.1 grows
# to ~12 GB resident and, beside a Spark JVM, gets the process killed. Past
# the limit DuckDB spills to SPILL_DIR.
MEMORY_LIMIT = "6GB"
THREADS = min(4, os.cpu_count() or 1)
SPILL_DIR = os.path.join(tempfile.gettempdir(), "graft_oracle_spill")


def connect(sf_dir):
    """A bounded DuckDB connection with a view per base table of `sf_dir`."""
    con = duckdb.connect()
    con.execute(f"SET memory_limit = '{MEMORY_LIMIT}'")
    con.execute(f"SET threads = {THREADS}")
    con.execute(f"SET temp_directory = '{SPILL_DIR}'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                if math.isnan(v):
                    v = "NaN"
                else:
                    v = round(v, 9)
            vals.append(str(v))
        out.append(tuple(vals))
    return sorted(out), [cols[i] for i in order]


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    con = connect(sf_dir)
    with open(f"{out_dir}/oracle_sql.json") as f:
        oracles = json.load(f)
    import glob
    failures = {}
    if os.path.exists(f"{out_dir}/verify_failures.json"):
        with open(f"{out_dir}/verify_failures.json") as f:
            failures = json.load(f)
    names = sorted(
        os.path.basename(d) for d in glob.glob(f"{out_dir}/*")
        if os.path.isdir(d) and os.path.basename(d) not in failures)
    n_pass = n_fail = n_rowsonly = 0
    for name, err in sorted(failures.items()):
        n_fail += 1
        print(f"{'FAIL(engine)':18} {name:28} {err['class']}: {err['message']}")
    for name in names:
        got = con.execute(
            f"SELECT * FROM '{out_dir}/{name}/*.parquet'")
        grows, gcols = got.fetchall(), [d[0] for d in got.description]
        if name not in oracles:
            status = "ROWS_ONLY" if len(grows) > 0 else "ROWS_ONLY(EMPTY!)"
            n_rowsonly += 1
            print(f"{status:18} {name:28} rows={len(grows)}")
            continue
        want = con.execute(oracles[name])
        wrows, wcols = want.fetchall(), [d[0] for d in want.description]
        g, gc = canon(grows, gcols)
        w, wc = canon(wrows, wcols)
        if gc != wc:
            n_fail += 1
            print(f"{'FAIL(schema)':18} {name:28} spark={gc} oracle={wc}")
        elif g != w:
            n_fail += 1
            print(f"{'FAIL(data)':18} {name:28} rows spark={len(g)} oracle={len(w)}")
            for i, (a, b) in enumerate(zip(g, w)):
                if a != b:
                    print(f"    first diff at row {i}:\n      spark : {a}\n      oracle: {b}")
                    break
            if len(g) != len(w):
                only_g = [r for r in g if r not in set(w)][:2]
                only_w = [r for r in w if r not in set(g)][:2]
                print(f"    extra in spark: {only_g}\n    extra in oracle: {only_w}")
        else:
            n_pass += 1
            print(f"{'PASS':18} {name:28} rows={len(g)}")
    print(f"\n== {n_pass} pass, {n_fail} fail, {n_rowsonly} rows-only")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
