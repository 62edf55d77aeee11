#!/usr/bin/env bash
# Scale curve over the shipped queries: for each factor m, write the m×
# fixture of <sfDir> (graft.tools.ScaleCurve) and time it with
# graft.Bench, whose full artifact goes to bench/scalecurve_x<m>.json
# (per-query medians, iterations and the `rows` map that shows output
# growing m×). SCALECURVE.md records the curves.
#
#   tools/scalecurve.sh <sfDir> <factors>
#   SPARK_GRAFT_BENCH_ONLY=q30,q31 tools/scalecurve.sh /data/sf0.1 1,4,16
#
# Bench's own settings pass through the environment
# (SPARK_GRAFT_BENCH_ONLY, SPARK_GRAFT_BENCH_ITERS, SPARK_GRAFT_CPUS).
# Fixtures are written under ${TMPDIR:-/tmp}/graft_scalecurve; factor 1
# times <sfDir> itself. Each factor runs in fresh JVMs.
set -euo pipefail
if [[ $# -ne 2 ]]; then
  echo "usage: $0 <sfDir> <factors, e.g. 1,4,16>" >&2
  exit 2
fi
cd "$(dirname "$0")/.."
sf=$(cd "$1" && pwd)
root="${TMPDIR:-/tmp}/graft_scalecurve"
IFS=',' read -ra factors <<< "$2"
for m in "${factors[@]}"; do
  if [[ "$m" == 1 ]]; then
    dir="$sf"
  else
    dir="$root/x$m"
    echo "[scalecurve] writing the ${m}x fixture to $dir" >&2
    sbt -batch "runMain graft.tools.ScaleCurve $sf $root $m" >&2
  fi
  [[ -d "$dir" ]] || { echo "[scalecurve] FAIL: no fixture at $dir" >&2; exit 1; }
  echo "[scalecurve] timing the ${m}x tables" >&2
  SPARK_GRAFT_SF_DIR="$dir" SPARK_GRAFT_BENCH_OUT="bench/scalecurve_x$m.json" \
    sbt -batch "runMain graft.Bench"
done
