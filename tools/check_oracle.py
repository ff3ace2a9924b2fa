#!/usr/bin/env python3
"""Local pre-flight of the driver's correctness gate.

Runs graft.Verify (Spark) at a given SF, then replays each oracle SQL in
DuckDB over the same parquet tables and compares row-sets (columns sorted by
name, rows sorted, values stringified) — the same shape of comparison the
driver performs. Usage:

    python3 tools/check_oracle.py [sfDir] [outDir]
"""
import json
import math
import subprocess
import sys
from pathlib import Path

import duckdb

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
OUT = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
# The checkout this script lives in: its Verify is the code under test.
REPO = Path(__file__).resolve().parents[1]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # driver-style float canonicalization: repr to 12 significant digits
        return f"{v:.12g}"
    return str(v)


def canon_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(canon_cell(r[i]) for i in order) for r in rows]
    return sorted(cols), sorted(out)


def main():
    run_verify = "--skip-verify" not in sys.argv
    if run_verify:
        r = subprocess.run(
            ["sbt", "-batch", f'runMain graft.Verify {SF} {OUT}'],
            capture_output=True, text=True, cwd=REPO)
        if r.returncode != 0:
            print(r.stdout[-4000:], r.stderr[-4000:])
            sys.exit(1)

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")

    oracle = json.load(open(f"{OUT}/oracle_sql.json"))
    failures = 0
    for name, sql in sorted(oracle.items()):
        try:
            spark_rel = con.sql(f"SELECT * FROM read_parquet('{OUT}/{name}/*.parquet')")
            s_cols, s_rows = canon_rows(spark_rel.columns, spark_rel.fetchall())
        except Exception as e:
            print(f"FAIL {name}: cannot read spark output: {e}")
            failures += 1
            continue
        try:
            duck_rel = con.sql(sql)
            d_cols, d_rows = canon_rows(duck_rel.columns, duck_rel.fetchall())
        except Exception as e:
            print(f"FAIL {name}: oracle SQL error: {e}")
            failures += 1
            continue
        if s_cols != d_cols:
            print(f"FAIL {name}: columns differ spark={s_cols} duck={d_cols}")
            failures += 1
        elif s_rows != d_rows:
            print(f"FAIL {name}: {len(s_rows)} spark rows vs {len(d_rows)} duck rows")
            only_s = [r for r in s_rows if r not in set(d_rows)][:3]
            only_d = [r for r in d_rows if r not in set(s_rows)][:3]
            print(f"  spark-only: {only_s}\n  duck-only:  {only_d}")
            failures += 1
        else:
            print(f"OK   {name}: {len(s_rows)} rows")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
