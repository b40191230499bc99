#!/usr/bin/env bash
# Full local gate: unit/behavioral tests -> DuckDB oracle -> benchmark
# selftest -> rotating oracle -> bench.
set -euo pipefail
cd "$(dirname "$0")/.."

# same environment as the Tier-1 test run
export SPARK_GRAFT_CPUS="$(env -u OMP_NUM_THREADS nproc)"
export SPARK_LOCAL_DIRS=/tmp/spark-local

echo "== tests =="
python -m pytest tests/ -q

echo "== oracle gate (sf0.01) =="
python tools/check_oracle.py /root/testdata/sf0.01

echo "== benchmark contract selftest =="
python3 perfbench/selftest.py

echo "== rotating oracle batch (sf0.1) =="
# 12 names per run in registry order, cursor in .oracle_rotation —
# catches scale-dependent nondeterminism the sf0.01 gate can't see
python tools/rotate_oracle.py /root/testdata/sf0.1 12

echo "== bench (sf0.1) =="
python bench.py
