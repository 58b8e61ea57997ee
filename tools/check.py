#!/usr/bin/env python3
"""Local emulation of the driver's correctness gate.

Usage: python3 tools/check.py [sfDir] [outDir] [--skip-verify]

1. sbt runMain graft.Verify <sfDir> <outDir>   (unless --skip-verify)
2. register each <sfDir>/*.parquet in DuckDB under its bare table name
3. run every oracle_sql.json entry, compare to <outDir>/<name> parquet:
   columns sorted by name, rows sorted by all columns, exact value equality.
4. take the registered query names from <outDir>/registered.json: a dump dir
   outside that set is stale (named and ignored); a registered query with no
   dump dir, or an oracle entry with no registered query, is a failure.
"""
import json, subprocess, sys, glob, os

sf_dir = sys.argv[1] if len(sys.argv) > 1 and not sys.argv[1].startswith("-") else "/root/testdata/sf0.01"
out_dir = sys.argv[2] if len(sys.argv) > 2 and not sys.argv[2].startswith("-") else "/tmp/verify_out"

if "--skip-verify" not in sys.argv:
    r = subprocess.run(
        ["sbt", "-batch", f"runMain graft.Verify {sf_dir} {out_dir}"],
        cwd="/root/repo", capture_output=True, text=True, timeout=3600)
    sys.stdout.write(r.stdout[-3000:])
    if r.returncode != 0:
        sys.stderr.write(r.stderr[-3000:])
        sys.exit("verify failed")

import duckdb
import pandas as pd

con = duckdb.connect()
for p in glob.glob(f"{sf_dir}/*.parquet"):
    name = os.path.basename(p)[:-8]
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")

oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
registered = set(json.load(open(f"{out_dir}/registered.json")))
results = {}
for name, sql in sorted(oracle.items()):
    pq = f"{out_dir}/{name}"
    if not glob.glob(f"{pq}/*.parquet"):
        results[name] = "MISSING spark output"
        continue
    try:
        duck = con.execute(sql).fetchdf()
    except Exception as e:
        results[name] = f"ORACLE ERROR: {str(e)[:200]}"
        continue
    spark = pd.read_parquet(pq)
    d = duck.reindex(sorted(duck.columns), axis=1)
    s = spark.reindex(sorted(spark.columns), axis=1)
    if list(d.columns) != list(s.columns):
        results[name] = f"COLUMNS duck={list(d.columns)} spark={list(s.columns)}"
        continue
    if len(d) != len(s):
        results[name] = f"ROWS duck={len(d)} spark={len(s)}"
        continue
    d = d.sort_values(list(d.columns)).reset_index(drop=True)
    s = s.sort_values(list(s.columns)).reset_index(drop=True)
    try:
        pd.testing.assert_frame_equal(d, s, check_dtype=False, check_exact=True)
        results[name] = f"OK rows={len(d)}"
    except AssertionError as e:
        results[name] = "VALUES " + str(e).split("\n")[0][:200]

width = max(len(k) for k in results) if results else 0
fails = 0
for k, v in sorted(results.items()):
    print(f"{k:<{width}}  {v}")
    if not v.startswith("OK"):
        fails += 1
print(f"\n{len(results) - fails}/{len(results)} green")

# Canonical machine-derived surface counts: README/BENCH_NOTES quote THESE
# numbers, never a running tally. The registry is Verify's registered.json,
# not the dump dirs: Verify never clears outDir, so a reused dir keeps the
# dumps of queries a later build no longer registers.
dumped = {d for d in os.listdir(out_dir) if os.path.isdir(os.path.join(out_dir, d))}
stale = sorted(dumped - registered)
no_dump = sorted(registered - dumped)
rows_only = sorted(registered - set(oracle))
orphan_oracles = sorted(set(oracle) - registered)
print(f"[surface] registered={len(registered)} oracle_checked={len(oracle)} "
      f"rows_only={len(rows_only)}")
if rows_only:
    print(f"[surface] rows-only (no oracle entry): {', '.join(rows_only)}")
if stale:
    print(f"[surface] stale dump dirs (not registered, ignored): {', '.join(stale)}")
if no_dump:
    print(f"[surface] REGISTERED queries with no dump dir: {', '.join(no_dump)}")
    fails += 1
if orphan_oracles:
    print(f"[surface] ORPHAN oracle entries with no registered query: "
          f"{', '.join(orphan_oracles)}")
    fails += 1
sys.exit(1 if fails else 0)
