#!/usr/bin/env python3
"""Record (or check) the DuckDB oracles' answers per query and scale factor.

Usage: python3 tools/oracle_answers.py <oracle_sql.json> <dataRoot> [--check]

<oracle_sql.json> is the file graft.Verify writes (set SPARK_GRAFT_ONLY to a
name no query has to render it alone). <dataRoot> holds one directory per
scale factor (sf0.001, sf0.01, sf0.1), each with the base-table parquet files
check_oracle.py reads. Every oracle runs against each scale factor in turn.

Each answer is the row count and the sha256 of the canonical result: the
sorted column names and sorted rows of check_oracle.py's `canon`, as JSON.
Each connection runs under check_oracle.py's memory and thread bounds. An
oracle that runs longer than BUDGET_S seconds, or needs more memory than the
bound, is stopped and recorded as over budget; one that raises anything else
is recorded with its error. No oracle is dropped. ORACLE_ANSWERS.json, at the repository root, maps query -> scale
factor -> answer.

Without --check the file is written afresh from this run. With --check
nothing is written: the answers are compared with the file and any
difference (a changed answer, a missing or extra query) exits non-zero.
Its summary names the over-budget and error records apart: such an oracle
matched only in being uncertified, not in its answer.
"""
import argparse
import hashlib
import json
import os
import sys
import threading
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from check_oracle import canon, connect  # noqa: E402

BUDGET_S = 120
SCALE_FACTORS = ["sf0.001", "sf0.01", "sf0.1"]
ANSWERS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..",
                       "ORACLE_ANSWERS.json")


def answer(con, sql):
    """One oracle's answer, or its over-budget / error record."""
    timer = threading.Timer(BUDGET_S, con.interrupt)
    timer.start()
    try:
        cur = con.execute(sql)
        rows, cols = cur.fetchall(), [d[0] for d in cur.description]
    except (duckdb.InterruptException, duckdb.OutOfMemoryException):
        # no answer within the budget: BUDGET_S seconds under the
        # connection's memory limit
        return {"over_budget_s": BUDGET_S}
    except duckdb.Error as e:
        return {"error": f"{type(e).__name__}: {str(e).splitlines()[0]}"}
    finally:
        timer.cancel()
    rows, cols = canon(rows, cols)
    blob = json.dumps([cols, rows], separators=(",", ":")).encode()
    return {"rows": len(rows), "sha256": hashlib.sha256(blob).hexdigest()}


def run_sf(oracles, sf_dir):
    con = connect(sf_dir)
    out = {}
    start = time.time()
    for name in sorted(oracles):
        t0 = time.time()
        out[name] = answer(con, oracles[name])
        print(f"  {os.path.basename(sf_dir):8} {name:36} {time.time() - t0:7.1f}s "
              f"{json.dumps(out[name])}", file=sys.stderr, flush=True)
    con.close()
    print(f"{os.path.basename(sf_dir)}: {len(out)} oracles in "
          f"{time.time() - start:.0f} s", flush=True)
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("oracle_sql")
    ap.add_argument("data_root")
    ap.add_argument("--check", action="store_true")
    a = ap.parse_args()
    with open(a.oracle_sql) as f:
        oracles = json.load(f)
    got = {sf: run_sf(oracles, os.path.join(a.data_root, sf))
           for sf in SCALE_FACTORS}

    if a.check:
        with open(ANSWERS) as f:
            old = json.load(f)
        diffs, uncertified = [], []
        for name in sorted(set(old) | set(oracles)):
            for sf in SCALE_FACTORS:
                want = old.get(name, {}).get(sf)
                have = got[sf].get(name)
                if want != have:
                    diffs.append(f"{name} {sf}: committed {json.dumps(want)} "
                                 f"now {json.dumps(have)}")
                elif want is not None and "sha256" not in want:
                    uncertified.append(f"{name} {sf} {json.dumps(want)}")
        for d in diffs:
            print("DIFF " + d)
        for u in uncertified:
            print("UNCERTIFIED " + u)
        print(f"== {len(diffs)} differences over {len(oracles)} oracles x "
              f"{len(SCALE_FACTORS)} scale factors; {len(uncertified)} "
              f"uncertified (over budget or error on both sides)")
        sys.exit(1 if diffs else 0)

    answers = {name: {sf: got[sf][name] for sf in SCALE_FACTORS}
               for name in oracles}
    with open(ANSWERS, "w") as f:
        json.dump(answers, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {ANSWERS}: {len(answers)} oracles")


if __name__ == "__main__":
    main()
