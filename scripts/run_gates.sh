#!/usr/bin/env bash
# Full local gate suite — the same checks the round driver runs, plus the
# unit tests. Usage: scripts/run_gates.sh [quick]
#   quick: skip the sf0.1 verify (the slow one)
set -euo pipefail
cd "$(dirname "$0")/.."

echo "== reachability: main code serves a query, a main, the harness or a hook =="
python3 scripts/reach.py

echo "== unit tests =="
sbt -batch test 2>&1 | grep -E "Tests: |All tests"

echo "== vanilla entry smoke (driver-like session) =="
sbt -batch "runMain graft.Smoke" 2>&1 | grep "\[smoke\]"

echo "== snapshot_churn: SnapshotTable against the pandas replay, fork count =="
# build without the recording first, so the only JVM that JAVA_TOOL_OPTIONS
# reaches below is the harness's
python3 -c 'import sys; sys.path.insert(0, "perfbench"); import run; run.build()'
jdir=$(mktemp -d)
churn=$(JAVA_TOOL_OPTIONS="-XX:StartFlightRecording=filename=$jdir/churn.jfr" \
  python3 perfbench/run.py --workload snapshot_churn --seed 1 \
  --seconds 60 --trace 0 | tail -1) || true
case "$churn" in
  *'"correct": true'*) echo "snapshot_churn correct" ;;
  *) echo "snapshot_churn FAILED: ${churn:0:400}"; exit 1 ;;
esac
# every child process the harness JVM started (a chmod or readlink per file
# written is the regression this catches)
forks=$(jfr summary "$jdir/churn.jfr" | awk '$1 == "jdk.ProcessStart" {print $2}')
rm -rf "$jdir"
if [ -z "$forks" ] || [ "$forks" -gt 10 ]; then
  echo "snapshot_churn harness JVM started ${forks:-an unknown number of} child processes (max 10)"
  exit 1
fi
echo "snapshot_churn harness JVM started $forks child processes"

for sf in 0.001 0.01 $([ "${1:-}" = quick ] || echo 0.1); do
  echo "== verify + DuckDB oracle @ sf$sf =="
  # sf0.001 runs with its own empty java.io.tmpdir: any graft* entry left
  # there once the JVM has exited is an artifact the run did not delete
  tmpset="" vtmp=""
  if [ "$sf" = 0.001 ]; then
    vtmp=$(mktemp -d)
    tmpset="set run / javaOptions += \"-Djava.io.tmpdir=$vtmp\""
  fi
  sbt -batch ${tmpset:+"$tmpset"} \
    "runMain graft.Verify /root/testdata/sf$sf /tmp/graft_gate_$sf" \
    2>&1 | grep "\[verify\]" || true
  if [ -n "$vtmp" ]; then
    left=$(find "$vtmp" -mindepth 1 -maxdepth 1 -name 'graft*')
    if [ -n "$left" ]; then
      echo "verify left artifacts in java.io.tmpdir: $left"; exit 1
    fi
    rm -rf "$vtmp"
    echo "verify left no graft* entry in java.io.tmpdir"
  fi
  python3 scripts/check_oracle.py "/root/testdata/sf$sf" "/tmp/graft_gate_$sf" | tail -1
done

echo "== bench @ sf0.1 =="
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
  sbt -batch "runMain graft.Bench" 2>/dev/null | grep '"metric"' | sed 's/^\[info\] //'
