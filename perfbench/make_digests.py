#!/usr/bin/env python3
"""Freezes the query_mix output digests.

Usage (from the repository root, after one query_mix run has left its
warm-up outputs in perfbench/work/mix-out):

    python3 perfbench/make_digests.py

For every name in perfbench/queries.txt that has an entry in
SparkEntry.oracleSql, runs the oracle SQL in DuckDB over the benchmark's
fixture tables and compares it with the engine's warm-up result in the
canonical form of tools/oracle_check.py. Matching results have their digest
written to perfbench/digests.json; a mismatch is reported and not frozen.
"""
import json
import os
import subprocess
import sys

import duckdb

import run

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main():
    cp = run.build()
    sql = json.loads(subprocess.run(
        ["java", "-cp", cp, "perfbench.Main", "--workload", "oracle-sql",
         "--query-list", run.QUERY_LIST],
        check=True, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True).stdout)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{run.FIXTURES}/{t}.parquet')")
    digests, bad = {}, 0
    for name in sorted(sql):
        oracle, rows = run.result_digest(con.sql(sql[name]))
        out = os.path.join(run.WORK, "mix-out", name)
        engine, _ = run.result_digest(con.sql(f"SELECT * FROM read_parquet('{out}/*.parquet')"))
        if engine == oracle:
            digests[name] = oracle
            print(f"PASS {name} ({rows} rows)")
        else:
            bad += 1
            print(f"FAIL {name}: engine {engine[:12]} oracle {oracle[:12]}")
    with open(run.DIGESTS, "w") as f:
        json.dump(digests, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"{len(digests)} digests frozen, {bad} mismatches")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
