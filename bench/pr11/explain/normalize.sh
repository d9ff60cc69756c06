#!/usr/bin/env bash
# Print a `graft.ExplainAudit` file with what differs between two runs of
# identical plans blanked out: expression and plan ids, RDD ids, run and
# temp directory names, UUIDs and file URIs. Diffing two normalized files
# leaves only the lines whose plans differ (and object hash codes).
# Usage: bench/pr11/explain/normalize.sh EXPLAIN_AUDIT.md
sed -E 's/#[0-9]+L?//g; s/\[id=[0-9]+\]//g; s/plan_id=[0-9]+//g;
  s/RDD\[[0-9]+\]/RDD[N]/g; s/-[0-9]{6,}\//-N\//g;
  s/(graft_[a-z0-9_]*|graft-[a-z0-9_-]*|spark-[0-9a-f-]+|tmp[0-9a-z_]*)[0-9]+[^/ ,\]]*/P/g;
  s/[0-9a-f]{8}-[0-9a-f-]{27}/U/g; s/file:[^ ,\]]*/F/g;
  s/(ExistingRDD|Scan ExistingRDD|LogicalRDD|rdd)[^ ]*/R/g; s/_[0-9]+/_N/g' "$1"
