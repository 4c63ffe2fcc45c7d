#!/usr/bin/env python3
"""Local mimic of the driver's correctness gate (dev tooling only, not part
of the engine): run graft.Verify at a given SF, then run each oracle SQL in
DuckDB over the same parquet fixtures and compare (row count, sorted-column
schema, sorted values with exact match on non-floats / tight tolerance on
floats). Usage: python3 scripts/local_verify.py [sfDir] [outDir] [--skip-spark]
"""
import json, math, subprocess, sys
from pathlib import Path

import duckdb
import pyarrow.parquet as pq

# The checkout this script belongs to: sbt builds and runs ITS sources.
REPO = Path(__file__).resolve().parents[1]

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
OUT = Path(sys.argv[2] if len(sys.argv) > 2 else "/tmp/graft_verify")
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

if "--skip-spark" not in sys.argv:
    r = subprocess.run(
        ["sbt", "-batch", f'runMain graft.Verify {SF_DIR} {OUT}'],
        cwd=REPO, capture_output=True, text=True, timeout=1800)
    # Verify rejects unknown SPARK_GRAFT_ONLY names with exit 2, which sbt
    # reports as its own exit 1: find its line and exit 2 here too.
    rejected = [l for l in (r.stdout + r.stderr).splitlines()
                if "[verify] unknown SPARK_GRAFT_ONLY keys:" in l]
    if r.returncode != 0 and rejected:
        print(rejected[0][rejected[0].index("[verify]"):]); sys.exit(2)
    print(r.stdout[-3000:])
    if r.returncode != 0:
        print(r.stderr[-3000:]); sys.exit(1)

con = duckdb.connect()
for t in TABLES:
    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
oracle = json.loads((OUT / "oracle_sql.json").read_text())

def norm(v):
    if isinstance(v, float):
        return round(v, 6)
    return v

def _key(row):
    # None-safe total order: nulls first within a column position.
    return tuple((v is not None, str(type(v)), v) for v in row)

def rows_of(cols, data):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        (tuple(norm(row[i]) for i in idx) for row in data), key=_key
    ), [cols[i] for i in idx]

def approx_eq(a, b):
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b

import os
only = {k.strip() for k in os.environ.get("SPARK_GRAFT_ONLY", "").split(",") if k.strip()}
unknown = only - set(oracle)
if unknown:
    # A typo'd name would otherwise skip everything and "0/0 passed"
    # would exit 0 — a focused run silently checking nothing.
    print(f"ERROR: SPARK_GRAFT_ONLY names not in oracle map: {sorted(unknown)}")
    sys.exit(2)

fails = 0
for name in sorted(oracle):
    if only and name not in only:
        continue
    sql = oracle[name]
    spark_dir = OUT / name
    if not spark_dir.exists():
        print(f"FAIL {name}: no spark output"); fails += 1; continue
    tbl = pq.read_table(spark_dir)
    s_cols = tbl.column_names
    s_data = [tuple(row[c] for c in s_cols) for row in tbl.to_pylist()]
    try:
        res = con.sql(sql)
        d_cols = res.columns
        d_data = res.fetchall()
    except Exception as e:
        print(f"FAIL {name}: oracle error: {e}"); fails += 1; continue
    s_rows, s_sorted_cols = rows_of(s_cols, s_data)
    d_rows, d_sorted_cols = rows_of(d_cols, d_data)
    if [c.lower() for c in s_sorted_cols] != [c.lower() for c in d_sorted_cols]:
        print(f"FAIL {name}: columns {s_sorted_cols} vs {d_sorted_cols}")
        fails += 1; continue
    if len(s_rows) != len(d_rows):
        print(f"FAIL {name}: rows {len(s_rows)} vs {len(d_rows)}")
        fails += 1; continue
    bad = None
    exact = True
    for sr, dr in zip(s_rows, d_rows):
        for a, b in zip(sr, dr):
            if a != b:
                exact = False
                if not approx_eq(a, b):
                    bad = (sr, dr)
                    break
        if bad:
            break
    if bad:
        print(f"FAIL {name}: value mismatch\n  spark={bad[0]}\n  duck ={bad[1]}")
        fails += 1
    else:
        flag = "exact" if exact else "APPROX-ONLY (hash would differ!)"
        print(f"PASS {name} ({len(s_rows)} rows, {flag})")

checked = len([n for n in oracle if not only or n in only])
print(f"\n{checked - fails}/{checked} passed")
if checked == 0:
    print("ERROR: zero queries checked")
    sys.exit(2)
sys.exit(1 if fails else 0)
