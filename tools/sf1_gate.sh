#!/bin/bash
# Round-close sf1 FLAGSHIP GATE (round-12 verdict #6, widened by round-14
# verdict #3 so every major family has a tracked decade ratio; SEVEN
# flagships): jac_self_docs_ws_t05 / _t09, dedup_minhash_docs,
# dedup_cluster_docs, pipeline_curate_docs (the original five), plus
# jac_rs_cust_supp_q3_t03 (R×S jaccard — needs the sf1 customer/supplier
# fixtures from tools/make_sf1_tpch.py) and dedup_simhash_docs (SimHash
# banding). RegistrySpec checks that every name below is registered.
# Scale regressions (e.g. the sf1 broadcast->SMJ shift at the 64 MB
# value-table threshold) become a tracked per-round number instead of an
# archaeology exercise. Walls from two different windows are not comparable
# on this host: time both builds in one window, interleaved.
#
# Usage: tools/sf1_gate.sh            (full artifact -> /tmp/sf1_gate.json)
# Knobs: SPARK_GRAFT_BENCH_RUNS (default 3 = warm best-of-3),
#        SPARK_GRAFT_BENCH_OUT, SPARK_DRIVER_MEM (heap; default half of
#        MemTotal clamped to 2-8 GiB, the rule build.sbt uses).
#
# Requires data/sf1/documents.parquet (a tracked fixture) and the
# customer/supplier fixtures checked below.
set -eu
cd "$(dirname "$0")/.."
test -f data/sf1/documents.parquet || { echo "data/sf1/documents.parquet missing" >&2; exit 1; }
test -f data/sf1/customer.parquet || { echo "data/sf1/customer.parquet missing - run tools/make_sf1_tpch.py" >&2; exit 1; }
test -f data/sf1/supplier.parquet || { echo "data/sf1/supplier.parquet missing - run tools/make_sf1_tpch.py" >&2; exit 1; }

ADD_OPENS="--add-opens java.base/java.io=ALL-UNNAMED \
--add-opens java.base/java.lang=ALL-UNNAMED \
--add-opens java.base/java.lang.invoke=ALL-UNNAMED \
--add-opens java.base/java.lang.reflect=ALL-UNNAMED \
--add-opens java.base/java.net=ALL-UNNAMED \
--add-opens java.base/java.nio=ALL-UNNAMED \
--add-opens java.base/java.util=ALL-UNNAMED \
--add-opens java.base/java.util.concurrent=ALL-UNNAMED \
--add-opens java.base/java.util.concurrent.atomic=ALL-UNNAMED \
--add-opens java.base/sun.nio.ch=ALL-UNNAMED \
--add-opens java.base/sun.nio.cs=ALL-UNNAMED \
--add-opens java.base/sun.security.action=ALL-UNNAMED \
--add-opens java.base/sun.util.calendar=ALL-UNNAMED"

HEAP="${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' 2>/dev/null </proc/meminfo || echo 2g)}"

exec env \
  SPARK_GRAFT_SF_DIR="$PWD/data/sf1" \
  SPARK_GRAFT_SHUFFLE_PARTITIONS="${SPARK_GRAFT_SHUFFLE_PARTITIONS:-64}" \
  SPARK_GRAFT_QUERIES=jac_self_docs_ws_t05,jac_self_docs_ws_t09,dedup_minhash_docs,dedup_cluster_docs,pipeline_curate_docs,jac_rs_cust_supp_q3_t03,dedup_simhash_docs \
  SPARK_GRAFT_BENCH_RUNS="${SPARK_GRAFT_BENCH_RUNS:-3}" \
  SPARK_GRAFT_BENCH_OUT="${SPARK_GRAFT_BENCH_OUT:-/tmp/sf1_gate.json}" \
  java $ADD_OPENS "-Xmx$HEAP" -Dspark.ui.enabled=false \
    -cp "target/scala-2.13/classes:/opt/spark/jars/*" graft.Bench
