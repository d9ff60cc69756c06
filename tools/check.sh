#!/usr/bin/env bash
# Full local gate: compile, specs, the service-path benchmark workloads,
# oracle verify at sf0.001 and sf0.01, bench at sf0.1.
set -euo pipefail
cd "$(dirname "$0")/.."
sbt -batch compile test
# the service path end to end: each run exits non-zero when its output
# check fails, which fails this gate (set -e)
for w in alert_live alert_bulk; do
  python3 perfbench/run.py --workload "$w" --seed 1 --seconds 20 --trace 0
done
# the oracle at both correctness scale factors
for sf in sf0.001 sf0.01; do
  OUT=$(mktemp -d)
  sbt -batch "runMain graft.Verify /root/testdata/$sf $OUT"
  python3 tools/verify_local.py "/root/testdata/$sf" "$OUT"
done
sbt -batch "runMain graft.ExplainAudit EXPLAIN_AUDIT.md"
# BENCH_LOCAL: the complete per-query line (the driver's tail capture
# truncates the head), committed per round for cross-round diffing
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 SPARK_DRIVER_MEM=32g \
  SPARK_GRAFT_BENCH_OUT="${SPARK_GRAFT_BENCH_OUT:-BENCH_LOCAL.json}" \
  sbt -batch "runMain graft.Bench" | grep '"metric"' || true
