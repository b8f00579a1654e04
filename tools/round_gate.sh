#!/usr/bin/env bash
# Round-closing gate: everything that must be green before the driver
# snapshots the round, as one command. Order: cheap static audit first,
# then tests, then the full-registry driver mimic (the hard correctness
# signal), then the bench (longest).
#
#   bash tools/round_gate.sh [sf_dir]          (default /root/testdata/sf0.01)
#
# Produces /tmp/round_gate_{audit,pytest,mimic,bench}.log; exits non-zero
# on the first failing stage.
set -uo pipefail
cd "$(dirname "$0")/.."
SF_DIR="${1:-/root/testdata/sf0.01}"

echo "== 1/4 plan audit (all registered queries) =="
python tools/audit_plans.py > /tmp/round_gate_audit.log 2>&1 \
  || { tail -5 /tmp/round_gate_audit.log; exit 1; }
tail -1 /tmp/round_gate_audit.log

echo "== 2/4 pytest =="
# the ROADMAP's Tier-1 command: every test runs, none is masked by -x
env SPARK_GRAFT_CPUS="$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local \
  timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors \
  -p no:cacheprovider > /tmp/round_gate_pytest.log 2>&1 \
  || { tail -15 /tmp/round_gate_pytest.log; exit 1; }
tail -1 /tmp/round_gate_pytest.log

echo "== 3/4 full-registry driver mimic at ${SF_DIR} =="
# shellcheck disable=SC2046
python tools/check_driver_mimic.py "$SF_DIR" \
  $(python - <<'PY'
from content_analytics_etl_spark.plans.registry import all_queries
print(" ".join(all_queries()))
PY
) > /tmp/round_gate_mimic.log 2>&1 \
  || { grep -E "FAIL|ERR" /tmp/round_gate_mimic.log | head -20; exit 1; }
tail -1 /tmp/round_gate_mimic.log

echo "== 4/4 bench (sf0.1 headline) =="
python bench.py > /tmp/round_gate_bench.log 2>&1 \
  || { tail -5 /tmp/round_gate_bench.log; exit 1; }
python - <<'PY' || { tail -3 /tmp/round_gate_bench.log; exit 1; }
import json
lines = [l.strip() for l in open("/tmp/round_gate_bench.log")
         if l.strip().startswith('{"metric"')]
b = json.loads(lines[-1])
print("bench:", b["value"], "s over", len(b["queries"]), "queries at sf", b["sf"])
PY

echo "ROUND GATE: all green"
