#!/bin/bash
# Stage the sf1 PROFILE directory: the 10x documents fixture is tracked in
# git (tools/make_sf1.py); customer and supplier are REAL 10x fixtures too
# (tools/make_sf1_tpch.py — character-bijection replicas, qgram-disjoint
# across replicas, so the jac_rs decade ratio is a scaling signal); the
# remaining tables are verbatim sf0.1 copies so the FULL headline can run at
# "sf1" (docs/customer/supplier-side queries see 10x data; other
# TPC-H/event-side queries see sf0.1 — annotate ratios accordingly).
set -eu
cd "$(dirname "$0")/.."
for t in region nation part orders lineitem events; do
  cp -f "/root/testdata/sf0.1/$t.parquet" "data/sf1/$t.parquet"
done
for t in customer supplier; do
  test -f "data/sf1/$t.parquet" || python3 tools/make_sf1_tpch.py
done
echo "staged data/sf1 ($(ls data/sf1 | wc -l) tables)"
