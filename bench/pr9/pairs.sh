#!/usr/bin/env bash
# Alternating parent/change pairs of one workload. Each side is a checkout
# of its commit with perfbench/.build already built; records go to OUT as
# W_SIDE_seedN.json, and each run's wall time (s) is appended to
# OUT/wall.tsv. The parent runs first on even pair indexes.
# Usage: bench/pr9/pairs.sh PARENT_DIR CHANGE_DIR OUT WORKLOAD SEED...
set -euo pipefail
parent=$1 change=$2 out=$(realpath "$3") w=$4; shift 4
run() { # side dir seed
  local t0
  t0=$EPOCHREALTIME
  (cd "$2" && python3 perfbench/run.py --workload "$w" --seed "$3" --seconds 20 \
    --trace 0 --record "$out/${w}_$1_seed$3.json" >/dev/null 2>&1) || echo "FAILED $w $1 $3"
  awk -v a="$t0" -v b="$EPOCHREALTIME" -v w="$w" -v s="$1" -v n="$3" \
    'BEGIN { printf "%s\t%s\t%s\t%.1f\n", w, s, n, b - a }' >> "$out/wall.tsv"
}
i=0
for s in "$@"; do
  if (( i % 2 == 0 )); then run parent "$parent" "$s"; run change "$change" "$s"
  else run change "$change" "$s"; run parent "$parent" "$s"; fi
  i=$((i + 1))
done
