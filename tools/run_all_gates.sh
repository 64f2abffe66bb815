#!/usr/bin/env bash
# Run every local gate in sequence: compile+specs, correctness oracle,
# parallelism-independence, the Python façade round-trip, and the lineage
# benchmark's correctness checks.
#   tools/run_all_gates.sh [sfdir]     (default /root/testdata/sf0.001)
set -euo pipefail
cd "$(dirname "$0")/.."
SF="${1:-/root/testdata/sf0.001}"

echo "=== 1/5 sbt test ==="
# FULL output goes to a log first, pass/fail judged on sbt's exit code,
# and failures are surfaced by grepping the log afterwards — the r16
# 1-in-6 flake lost its failing test's IDENTITY because output was
# filtered before the "*** FAILED ***" line printed (BUILD_NOTES r16);
# capture-then-grep makes the next flake name its test
rm -f /tmp/gate_sbt_test.log
if sbt -batch test > /tmp/gate_sbt_test.log 2>&1; then
  # `|| true`: a cosmetic summary-format change must not abort the gates
  # under set -e — pass/fail was already decided by sbt's exit code
  grep -E '^\[info\] (All tests passed|Tests: succeeded)' /tmp/gate_sbt_test.log | tail -2 || true
else
  echo "sbt test FAILED — failing suites/tests (full log: /tmp/gate_sbt_test.log):"
  grep -E '\*\*\* FAILED \*\*\*|ABORTED|Tests: succeeded|error\]' /tmp/gate_sbt_test.log | head -40
  exit 1
fi

echo "=== 2/5 correctness oracle ($SF) ==="
rm -rf /tmp/gate_verify
sbt -batch "runMain graft.Verify $SF /tmp/gate_verify" > /tmp/gate_verify.log 2>&1 \
  || { tail -20 /tmp/gate_verify.log; exit 1; }
grep '\[verify\]' /tmp/gate_verify.log || true
python3 tools/check_oracle.py "$SF" /tmp/gate_verify

echo "=== 3/5 parallelism independence (5 vs 16 threads) ==="
# each run logs to its own file, as gate 2 does: a failing run prints its
# log tail instead of ending the script with no message, and a run's
# per-entry [verify] failures are printed either way
for n in 5 16; do
  rm -rf /tmp/gate_det$n
  SPARK_GRAFT_CPUS=$n sbt -batch "runMain graft.Verify $SF /tmp/gate_det$n" > /tmp/gate_det$n.log 2>&1 \
    || { echo "Verify with $n threads FAILED (full log: /tmp/gate_det$n.log):"; tail -20 /tmp/gate_det$n.log; exit 1; }
  grep '\[verify\]' /tmp/gate_det$n.log || true
done
python3 tools/check_determinism.py /tmp/gate_det5 /tmp/gate_det16 | tail -2

echo "=== 4/5 Python façade ==="
# logged to a file, as gates 1-3 are: a failing test is named before the
# script stops, instead of the pipe's exit status ending it silently
rm -f /tmp/gate_python.log
if bash tools/run_python_tests.sh > /tmp/gate_python.log 2>&1; then
  tail -3 /tmp/gate_python.log
else
  echo "Python façade FAILED (full log: /tmp/gate_python.log):"
  grep -E '^(FAIL|ERROR):' /tmp/gate_python.log || true
  tail -20 /tmp/gate_python.log
  exit 1
fi

echo "=== 5/5 lineage benchmark checks (206 catalog goldens, per-Dataset pins) ==="
# one short lineage-tpcds run: its set-up and pass check every output, and
# its result line says "correct":true only if none failed
lineage=$(python3 flowbench/run.py --workload lineage-tpcds --seed 1 --seconds 1 | tail -1)
echo "$lineage"
grep -q '"correct":true' <<< "$lineage" || { echo "lineage benchmark checks FAILED"; exit 1; }

echo "ALL GATES GREEN"
