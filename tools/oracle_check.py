#!/usr/bin/env python3
"""Local replica of the driver's t2 correctness gate.

Usage:  python3 tools/oracle_check.py <verify_out_dir> [sf_dir]

<verify_out_dir> is what `graft.Verify <sf_dir> <verify_out_dir>` wrote:
one parquet dir per query + oracle_sql.json. Runs each oracle SQL in
DuckDB against the sf parquet tables, then compares column-name-sorted,
row-sorted values exactly (mirrors the driver's hash compare).
Each oracle runs once: its result is stored in a temp table that both
the exact compare and the pandas dtype mirror read.
A query dir with no oracle entry passes when it holds at least one row.
"""
import sys, os, json, math
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def canon(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    return v

def rows_canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(canon(r[i]) for i in order) for r in rows]
    return sorted(cols), out

def fetch(con, sql):
    """Column names and rows of `sql`. Read through execute, not sql(): a
    failed sql() relation can leave the connection's transaction aborted
    for every later query."""
    cur = con.execute(sql)
    return [d[0] for d in cur.description], cur.fetchall()

def main():
    out_dir = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    with open(f"{out_dir}/oracle_sql.json") as f:
        oracle = json.load(f)
    n_pass = n_fail = 0
    for name in sorted(oracle):
        qdir = f"{out_dir}/{name}"
        if not os.path.isdir(qdir):
            print(f"FAIL {name}: no spark output at {qdir}")
            n_fail += 1
            continue
        spark_sql = f"SELECT * FROM read_parquet('{qdir}/*.parquet')"
        try:
            scols, srows = rows_canon(*fetch(con, spark_sql))
            con.execute(
                f"CREATE OR REPLACE TEMP TABLE oracle_result AS {oracle[name]}")
            dcols, drows = rows_canon(*fetch(
                con, "SELECT * FROM oracle_result"))
        except Exception as e:
            print(f"FAIL {name}: {e}")
            n_fail += 1
            continue
        # Mirror the DRIVER's pandas path too: fetchdf + sort_values.
        # fetchall() converts HUGEINT to Python int, but the driver's pandas
        # frame renders HUGEINT as float64 (hash mismatch, VERDICT r03 #2)
        # and dies outright on array columns (sort_values: unhashable
        # ndarray, VERDICT r03 #1) — so run both compares.
        pandas_err = None
        try:
            sdf = con.execute(spark_sql).fetchdf()
            ddf = con.execute("SELECT * FROM oracle_result").fetchdf()
            for df in (sdf, ddf):
                df.sort_values(by=list(df.columns), inplace=True)
            # kind, not exact width: the driver's value hash goes through
            # Python objects, so int32 vs int64 both hash as int (r03's
            # q_window_rank passed with rn int32/int64) while float64 vs
            # int64 renders 5.0 vs 5 and mismatches.
            skinds = {c: sdf[c].dtype.kind for c in sorted(sdf.columns)}
            dkinds = {c: ddf[c].dtype.kind for c in sorted(ddf.columns)}
            if skinds != dkinds:
                pandas_err = f"pandas dtype kinds spark={skinds} duck={dkinds}"
        except Exception as e:
            pandas_err = f"pandas compare died: {e}"
        if scols != dcols:
            print(f"FAIL {name}: columns spark={scols} duck={dcols}")
            n_fail += 1
        elif pandas_err:
            print(f"FAIL {name}: {pandas_err}")
            n_fail += 1
        elif srows != drows:
            diffs = [(a, b) for a, b in zip(srows, drows) if a != b]
            print(f"FAIL {name}: {len(srows)} vs {len(drows)} rows, "
                  f"{len(diffs)} differing; first: "
                  f"{diffs[0] if diffs else (srows[-1] if len(srows)>len(drows) else drows[-1], '<missing>')}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(srows)} rows)")
            n_pass += 1
    # queries without oracle → rows-only: a gated query must return rows
    for name in sorted(set(os.listdir(out_dir)) - set(oracle)):
        qdir = f"{out_dir}/{name}"
        if not os.path.isdir(qdir):
            continue
        try:
            n = con.execute(
                f"SELECT count(*) FROM read_parquet('{qdir}/*.parquet')"
            ).fetchone()[0]
        except Exception as e:
            print(f"FAIL {name}: {e}")
            n_fail += 1
            continue
        if n == 0:
            print(f"FAIL {name}: 0 rows")
            n_fail += 1
        else:
            print(f"PASS {name} ({n} rows, no oracle)")
            n_pass += 1
    print(f"== {n_pass} pass, {n_fail} fail ==")
    sys.exit(1 if n_fail else 0)

if __name__ == "__main__":
    main()
