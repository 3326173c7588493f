#!/usr/bin/env python3
"""Derives the benchmark's expected result hashes from the registered
DuckDB oracles, run on the sf0.1 test tables.

    python3 perfbench/make_expected.py

Writes perfbench/expected_sf0.1.json: for each workload query, its row
count and order-insensitive hash (benchlib.result_hash, which follows
tools/compare.py's normalization), or the reason the oracle gave none.
Run it once, from the root of a graft checkout; the benchmark only reads
the file.
"""
import json
import os
import subprocess
import sys
import threading
import time

import duckdb

import run
import benchlib

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
# An oracle still running after this long is recorded as unfinished.
ORACLE_TIMEOUT_S = 300


def main():
    data = os.environ.get("GRAFT_TESTDATA", os.path.expanduser("~/testdata"))
    full = os.path.join(data, "sf0.1")
    env = dict(os.environ, SPARK_HOME=run.spark_home())
    cp = run.build(env)
    names = sorted({n for qs in benchlib.WORKLOADS.values() for n in qs})
    os.makedirs(run.WORK, exist_ok=True)
    sql_file = os.path.join(run.WORK, "oracle_sql.json")
    proc = run.java(cp, ["oracle", sql_file, *names], run.WORK, env=env,
                    stdout=subprocess.DEVNULL)
    if proc.wait() != 0:
        run.fail("could not read the oracle SQL", 1)
    with open(sql_file) as f:
        oracle = json.load(f)

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(full, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    expected = {}
    for name in names:
        if name not in oracle:
            expected[name] = {"oracle": "no registered oracle"}
            continue
        timer = threading.Timer(ORACLE_TIMEOUT_S, con.interrupt)
        t0 = time.time()
        timer.start()
        try:
            expected[name] = benchlib.result_hash(con.execute(oracle[name]).fetch_df())
        except Exception as e:
            late = time.time() - t0 >= ORACLE_TIMEOUT_S
            expected[name] = {"oracle": f"did not finish within {ORACLE_TIMEOUT_S} s"
                              if late else f"failed: {e}"[:300]}
        finally:
            timer.cancel()
        expected[name]["oracle_s"] = round(time.time() - t0, 2)
        print(f"{name}: {expected[name]}", file=sys.stderr)
    with open(run.EXPECTED, "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
