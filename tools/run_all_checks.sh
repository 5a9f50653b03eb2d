#!/usr/bin/env bash
# Full local validation: unit/property/DAG tests (slow tier included),
# the benchmark harness's helper tests, DuckDB-oracle correctness
# at two scale factors, physical-plan audit, scaling probe, and the bench.
# Artifacts refreshed: PLANS.md, SCALE.md; bench prints its one JSON line.
set -euo pipefail
cd "$(dirname "$0")/.."
# size every Spark session to this host's cores (bench.py and
# check_correctness.py otherwise default to 32 and 8), as the Tier-1 run does
export SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(env -u OMP_NUM_THREADS nproc)}"
export SPARK_LOCAL_DIRS="${SPARK_LOCAL_DIRS:-/tmp/spark-local}"

echo "== pytest (all tiers) =="
python -m pytest tests/ -q -m ""

echo "== perfbench helper tests =="
python -m pytest perfbench/tests -q

echo "== oracle correctness sf0.01 =="
python tools/check_correctness.py /root/testdata/sf0.01

echo "== oracle correctness sf0.1 =="
python tools/check_correctness.py /root/testdata/sf0.1

echo "== physical-plan audit =="
python tools/explain_audit.py

echo "== scaling probe =="
python tools/scale_probe.py

echo "== bench =="
python bench.py
