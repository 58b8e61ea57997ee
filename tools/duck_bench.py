#!/usr/bin/env python3
"""DuckDB side of the BENCH_NOTES head-to-head: time registered oracle SQL
(the reference's exact pipeline) on the sf0.1 parquet with one DuckDB thread
per host core (as many as graft.LocalSession gives Spark), warm best-of-2.

Usage:
  python3 tools/duck_bench.py [sfDir] [oracleJson] [q1,q2,... ]

Defaults: sfDir=/root/testdata/sf0.1, oracleJson=/tmp/verify_out/oracle_sql.json,
queries = the comparable set from BENCH_NOTES (>= 1 s class on either engine).
Per-query timeout: DUCK_BENCH_TIMEOUT_SEC (default 300) — a query that blows
it records DNF (DuckDB has no interrupt here; the timeout is enforced by a
fresh subprocess per query so a DNF cannot wedge the sweep).

Run this in the same host window as the Spark bench, right before or after
it, or the comparison is window-confounded.
"""
import json
import os
import subprocess
import sys
import time

DEFAULT_QUERIES = [
    "jac_self_part_ws_t05",
    "jac_self_part_q3_t05",
    "jac_bf_self_part_ws_t05",
    "jac_rs_cust_supp_q3_t03",
    "jac_self_docs_ws_t09",
    "jac_self_part_ws_t03",
    "jac_self_docs_ws_t05",
    "jac_rs_cust_supp_q3_t02",
    "winnow_overlap_docs",
    "fuzzy_cust_names",
    "bm25_topk_docs",
    "text_stats_docs",
    "dedup_minhash_oracle_docs",
    "dedup_simhash_oracle_docs",
    "dedup_exact_docs",
    "lm_bigram_docs",
    "substring_dup_docs",
]

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


def main():
    sfdir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    oracle = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out/oracle_sql.json"
    names = sys.argv[3].split(",") if len(sys.argv) > 3 else DEFAULT_QUERIES
    timeout = int(os.environ.get("DUCK_BENCH_TIMEOUT_SEC", "300"))
    sqls = json.load(open(oracle))
    print(f"| query | DuckDB ({THREADS} threads, warm best-of-2) | rows |")
    print(f"|---|---|---|")
    for name in names:
        sql = sqls.get(name)
        if sql is None:
            print(f"| {name} | no oracle SQL registered | |")
            continue
        t0 = time.time()
        try:
            out = subprocess.run(
                [sys.executable, "-c", WORKER, sfdir, sql, "2", str(THREADS)],
                capture_output=True, text=True, timeout=timeout)
            if out.returncode != 0:
                msg = (out.stderr or "").strip().splitlines()
                print(f"| {name} | ERROR {msg[-1] if msg else '?'} | |")
                continue
            # the worker may emit progress/warning noise on stdout around the
            # JSON line (observed r9: a non-JSON last line killed the whole
            # sweep) — scan from the end for the first parseable line
            r = None
            for line in reversed(out.stdout.strip().splitlines()):
                # DuckDB's progress bar can glue "100% ..." onto the JSON on
                # the SAME stdout line (observed r9) — parse from the last '{'
                brace = line.rfind("{")
                if brace < 0:
                    continue
                try:
                    r = json.loads(line[brace:])
                    break
                except json.JSONDecodeError:
                    continue
            if r is None:
                tail = out.stdout.strip().splitlines()[-1:]
                print(f"| {name} | ERROR no JSON in worker stdout ({tail}) | |")
                continue
            print(f"| {name} | {r['sec']:.2f} s | {r['rows']} |")
        except subprocess.TimeoutExpired:
            print(f"| {name} | DNF (> {timeout} s) | |")
        sys.stdout.flush()


if __name__ == "__main__":
    main()
