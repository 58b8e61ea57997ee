#!/usr/bin/env python3
"""Automated same-window DuckDB head-to-head (r14 verdict #3): for every
headline query in a BENCH_FULL.json whose Spark floor is >= 1 s and whose
oracle SQL is registered, time the oracle on the SAME parquet with one
DuckDB thread per host core, as many as graft.LocalSession gives Spark
(warm best-of-2, subprocess-per-query timeout like duck_bench.py) and MERGE
a machine-comparable block back into the artifact:

    "duck": {name: {"spark_sec": s, "duck_sec": d, "ratio": s/d}, ...},
    "duck_meta": {"threads": N, "timeout_sec": T, "min_spark_sec": 1.0,
                  "generated_unix_ms": ...}

ratio < 1 = Spark faster (the 0.27-0.75x class from BENCH_NOTES becomes a
machine-checked field instead of prose). DNFs record duck_sec = -1 and no
ratio. Run this IMMEDIATELY after the Spark bench, in the same host window,
or the comparison is window-confounded.

Usage:
  python3 tools/duck_ratio.py [benchJson] [sfDir] [oracleJson]

Defaults: benchJson=BENCH_FULL.json, sfDir=/root/testdata/sf0.1,
oracleJson=/tmp/verify_out/oracle_sql.json.
"""
import json
import os
import subprocess
import sys
import time

WORKER = r"""
import duckdb, glob, json, os, sys, time
sfdir, sql, runs, threads = sys.argv[1], sys.argv[2], int(sys.argv[3]), int(sys.argv[4])
con = duckdb.connect()
con.execute(f"SET threads TO {threads}")
try:
    con.execute("SET enable_progress_bar = false")
except Exception:
    pass
for p in glob.glob(os.path.join(sfdir, "*.parquet")):
    t = os.path.basename(p)[: -len(".parquet")]
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
best, rows = None, None
for _ in range(runs):
    t0 = time.time()
    rows = len(con.execute(sql).fetchall())
    dt = time.time() - t0
    best = dt if best is None else min(best, dt)
print(json.dumps({"sec": best, "rows": rows}))
"""

# the host's core count, as graft.LocalSession gives Spark, so a ratio
# compares equal thread counts
THREADS = os.cpu_count() or 1


def time_one(sfdir, sql, timeout):
    try:
        out = subprocess.run(
            [sys.executable, "-c", WORKER, sfdir, sql, "2", str(THREADS)],
            capture_output=True, text=True, timeout=timeout)
    except subprocess.TimeoutExpired:
        return -1.0, "DNF"
    if out.returncode != 0:
        msg = (out.stderr or "").strip().splitlines()
        return -1.0, f"ERROR {msg[-1] if msg else '?'}"
    # scan from the end for the JSON line (progress noise can precede/glue it)
    for line in reversed(out.stdout.strip().splitlines()):
        brace = line.rfind("{")
        if brace < 0:
            continue
        try:
            return json.loads(line[brace:])["sec"], None
        except (json.JSONDecodeError, KeyError):
            continue
    return -1.0, "ERROR no JSON in worker stdout"


def main():
    bench_path = sys.argv[1] if len(sys.argv) > 1 else "BENCH_FULL.json"
    sfdir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    oracle = sys.argv[3] if len(sys.argv) > 3 else "/tmp/verify_out/oracle_sql.json"
    timeout = int(os.environ.get("DUCK_BENCH_TIMEOUT_SEC", "300"))
    min_spark = float(os.environ.get("DUCK_RATIO_MIN_SPARK_SEC", "1.0"))

    doc = json.load(open(bench_path))
    sqls = json.load(open(oracle))
    queries = doc.get("queries", {})
    duck = {}
    for name, spark_sec in sorted(queries.items()):
        if spark_sec < min_spark:
            continue
        sql = sqls.get(name)
        if sql is None:
            print(f"[duck_ratio] {name}: no oracle SQL registered — skipped")
            continue
        sec, err = time_one(sfdir, sql, timeout)
        entry = {"spark_sec": round(spark_sec, 3), "duck_sec": round(sec, 3)}
        if err:
            entry["note"] = err
            print(f"[duck_ratio] {name:28s} spark {spark_sec:7.2f} s  duck {err}")
        else:
            entry["ratio"] = round(spark_sec / sec, 3) if sec > 0 else None
            print(f"[duck_ratio] {name:28s} spark {spark_sec:7.2f} s  "
                  f"duck {sec:7.2f} s  ratio {entry['ratio']}")
        duck[name] = entry
        sys.stdout.flush()

    doc["duck"] = duck
    doc["duck_meta"] = {"threads": THREADS, "timeout_sec": timeout,
                        "min_spark_sec": min_spark, "sf_dir": sfdir,
                        "generated_unix_ms": int(time.time() * 1000)}
    with open(bench_path, "w") as f:
        json.dump(doc, f)
    ratios = [v["ratio"] for v in duck.values() if v.get("ratio")]
    if ratios:
        print(f"[duck_ratio] merged {len(duck)} entries into {bench_path}; "
              f"ratio range {min(ratios):.2f}-{max(ratios):.2f} "
              f"(<1 = Spark faster)")
    else:
        print(f"[duck_ratio] merged {len(duck)} entries into {bench_path}")


if __name__ == "__main__":
    main()
