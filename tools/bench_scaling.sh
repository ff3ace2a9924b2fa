#!/usr/bin/env bash
# Scaling-efficiency evidence (BASELINE.md): `graft.Harness scaling` runs
# the identical flagship at local[8] and local[32] — both levels in ONE JVM
# (sequential SparkContexts), reps interleaved, medians reported. See the
# graft.harness.Scaling scaladoc for why one JVM: fresh-page faults on this
# virtualized host are slow and made per-JVM timings vary 10×.
#
# Usage: tools/bench_scaling.sh [sfDir]  (default /root/testdata/sf0.1)
set -euo pipefail
SF="${1:-/root/testdata/sf0.1}"
cd "$(dirname "$0")/.."
SPARK_GRAFT_SF_DIR="$SF" SPARK_DRIVER_MEM="${SPARK_DRIVER_MEM:-20g}" SPARK_GRAFT_PRETOUCH=1 \
  SPARK_GRAFT_REPS="${SPARK_GRAFT_REPS:-5}" \
  sbt -batch "runMain graft.Harness scaling" 2>/dev/null \
  | grep -o '{"metric".*}'
