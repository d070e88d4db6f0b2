#!/usr/bin/env python3
"""One-time cross-check of the pinned results against the DuckDB oracles.

    java <flags> -cp <.bench_build/classpath.txt> perfbench.Crosscheck OUT
    python3 perfbench/crosscheck.py OUT

perfbench.Crosscheck writes the benchmark's generated inputs and the Spark
result of every pinned query that declares an `oracleSql`; this script
replays each oracle over the same inputs in DuckDB and compares values
exactly (columns sorted by name, rows in materialized order). The pins are
digests of these same Spark results, so a full match vouches for them.
Exit 0 iff every oracle matches.
"""
import glob
import json
import math
import sys

import duckdb


def canon(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def fetch(con, sql):
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return [cols[i] for i in order], [tuple(canon(r[i]) for i in order) for r in cur.fetchall()]


def check(case_dir):
    con = duckdb.connect()
    for table_dir in glob.glob(f"{case_dir}/data/*.parquet"):
        name = table_dir.rsplit("/", 1)[1][:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{table_dir}/*.parquet')")
    with open(f"{case_dir}/results/oracle_sql.json") as f:
        oracle = json.load(f)
    bad = 0
    for name, sql in sorted(oracle.items()):
        files = sorted(glob.glob(f"{case_dir}/results/{name}/*.parquet"))
        scols, srows = fetch(con, f"SELECT * FROM read_parquet({files!r})")
        ocols, orows = fetch(con, sql)
        if (scols, srows) == (ocols, orows):
            continue
        bad += 1
        diff = next((i for i, (a, b) in enumerate(zip(srows, orows)) if a != b), None)
        print(f"FAIL {case_dir} {name}: cols {scols == ocols}, rows {len(srows)} vs "
              f"{len(orows)}, first diff at row {diff}")
    print(f"{case_dir}: {len(oracle) - bad}/{len(oracle)} oracle queries match")
    return bad


def main():
    out = sys.argv[1]
    cases = sorted(d.rsplit("/", 2)[0] for d in glob.glob(f"{out}/*/results/"))
    sys.exit(1 if sum(check(c) for c in cases) else 0)


if __name__ == "__main__":
    main()
