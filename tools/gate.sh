#!/usr/bin/env bash
# End-of-round build gate (VERDICT r12 task 3): rounds 3, 4 and 12 all
# shipped snapshots that did not compile, zeroing the round's
# CORRECTNESS/BENCH artifacts. Run this before EVERY commit that ends a
# work session; a non-zero exit means the snapshot must not ship.
#
#   tools/gate.sh          # compile + Test/compile (fast, ~30 s warm)
#   tools/gate.sh full     # + full test suite + sf0.01 oracle check
set -euo pipefail
cd "$(dirname "$0")/.."

echo "[gate] sbt compile Test/compile"
sbt -batch "compile; Test/compile" >/tmp/gate_compile.log 2>&1 || {
  tail -30 /tmp/gate_compile.log
  echo "[gate] FAIL: does not compile — do not ship this snapshot"
  exit 1
}
echo "[gate] compile OK"

if [[ "${1:-}" == "full" ]]; then
  # size the forked test JVM as the tier-1 run does: build.sbt's -Xmx
  # default (24g) is more than a 15 GB machine has. Only where unset.
  : "${SPARK_GRAFT_CPUS:=$(env -u OMP_NUM_THREADS nproc)}"
  : "${SPARK_DRIVER_MEM:=$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' 2>/dev/null </proc/meminfo || echo 2g)}"
  : "${SPARK_LOCAL_DIRS:=/tmp/spark-local}"
  export SPARK_GRAFT_CPUS SPARK_DRIVER_MEM SPARK_LOCAL_DIRS
  echo "[gate] sbt test (SPARK_DRIVER_MEM=$SPARK_DRIVER_MEM SPARK_GRAFT_CPUS=$SPARK_GRAFT_CPUS)"
  sbt -batch test >/tmp/gate_test.log 2>&1 || {
    tail -40 /tmp/gate_test.log
    echo "[gate] FAIL: tests red"
    exit 1
  }
  echo "[gate] tests OK"
  echo "[gate] Verify + DuckDB oracle at sf0.01"
  sbt -batch "runMain graft.Verify /root/testdata/sf0.01 /tmp/gate_verify" \
    >/tmp/gate_verify.log 2>&1 || {
    tail -30 /tmp/gate_verify.log
    echo "[gate] FAIL: Verify crashed"
    exit 1
  }
  python3 tools/check_oracle.py /root/testdata/sf0.01 /tmp/gate_verify || {
    echo "[gate] FAIL: oracle mismatch"
    exit 1
  }
  echo "[gate] oracle OK"
fi
echo "[gate] PASS"
