#!/usr/bin/env bash
# Full local gate suite — the same checks the round driver runs, plus the
# unit tests. Usage: scripts/run_gates.sh [quick]
#   quick: skip the sf0.1 verify (the slow one)
set -euo pipefail
cd "$(dirname "$0")/.."

echo "== unit tests =="
sbt -batch test 2>&1 | grep -E "Tests: |All tests"

echo "== vanilla entry smoke (driver-like session) =="
sbt -batch "runMain graft.Smoke" 2>&1 | grep "\[smoke\]"

echo "== snapshot_churn: SnapshotTable against the pandas replay =="
churn=$(python3 perfbench/run.py --workload snapshot_churn --seed 1 \
  --seconds 60 --trace 0 | tail -1) || true
case "$churn" in
  *'"correct": true'*) echo "snapshot_churn correct" ;;
  *) echo "snapshot_churn FAILED: ${churn:0:400}"; exit 1 ;;
esac

for sf in 0.001 0.01 $([ "${1:-}" = quick ] || echo 0.1); do
  echo "== verify + DuckDB oracle @ sf$sf =="
  sbt -batch "runMain graft.Verify /root/testdata/sf$sf /tmp/graft_gate_$sf" \
    2>&1 | grep "\[verify\]" || true
  python3 scripts/check_oracle.py "/root/testdata/sf$sf" "/tmp/graft_gate_$sf" | tail -1
done

echo "== bench @ sf0.1 =="
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
  sbt -batch "runMain graft.Bench" 2>/dev/null | grep '"metric"' | sed 's/^\[info\] //'
