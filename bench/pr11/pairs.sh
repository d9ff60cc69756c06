#!/usr/bin/env bash
# Alternating runs of one workload on two checkouts A and B. Each checkout
# has perfbench/.build already built. Records go to OUT as
# W_LABEL_seedN.json (traced runs also write W_LABEL_seedN_spans.json),
# and each run's wall time (s), process start to exit, is appended to
# OUT/wall.tsv. A runs first on even pair indexes.
# Usage: bench/pr11/pairs.sh A_LABEL A_DIR B_LABEL B_DIR OUT WORKLOAD TRACE SEED...
set -euo pipefail
la=$1 da=$2 lb=$3 db=$4 out=$(realpath "$5") w=$6 trace=$7; shift 7
run() { # label dir seed
  local t0 spans=()
  t0=$EPOCHREALTIME
  if [[ $trace == 1 ]]; then spans=(--spans "$out/${w}_$1_seed$3_spans.json"); fi
  (cd "$2" && python3 perfbench/run.py --workload "$w" --seed "$3" --seconds 20 \
    --trace "$trace" --record "$out/${w}_$1_seed$3.json" "${spans[@]}" \
    >/dev/null 2>&1) || echo "FAILED $w $1 $3"
  awk -v a="$t0" -v b="$EPOCHREALTIME" -v w="$w" -v s="$1" -v n="$3" \
    'BEGIN { printf "%s\t%s\t%s\t%.1f\n", w, s, n, b - a }' >> "$out/wall.tsv"
}
i=0
for s in "$@"; do
  if (( i % 2 == 0 )); then run "$la" "$da" "$s"; run "$lb" "$db" "$s"
  else run "$lb" "$db" "$s"; run "$la" "$da" "$s"; fi
  i=$((i + 1))
done
