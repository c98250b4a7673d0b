#!/usr/bin/env bash
# Prints the six size counts a simplicity change reports before and
# after: src/main Scala lines, the lines of SnapshotTable.scala (the
# largest module, tracked on its own), the call sites of its manifest
# reader manifestLines (one, the Snapshot constructor, while every
# verb reads each table version once), distinct spark.graft.* options,
# distinct SPARK_GRAFT_* env names, and SparkSession.builder() calls
# (comment lines excluded). Also counts the rows of README.md's
# "Options" table and exits non-zero with a MISMATCH line when that
# differs from the option count, so the table cannot drift from the code.
# Also counts the stale spark.graft.* keys — those src/test or
# perfbench/src name but src/main never reads — and exits non-zero with
# a STALE line naming each: a spec that still sets a retired key would
# silently test the default.
#
# Usage: tools/simplicity_counts.sh [repo-dir]   (default: this repo)
set -euo pipefail
cd "${1:-$(dirname "$0")/..}"

lines=$(find src/main -name '*.scala' | xargs cat | wc -l)
snapshot=$(wc -l < src/main/scala/graft/sources/SnapshotTable.scala)
manifest_reads=$(grep -n 'manifestLines(' \
  src/main/scala/graft/sources/SnapshotTable.scala |
  grep -cvE '^[0-9]+:[[:space:]]*(\*|//)|def manifestLines\(' || true)
option_keys=$(grep -rhoE '"spark\.graft\.[a-zA-Z0-9_.]+' src/main | sort -u)
options=$(printf '%s' "$option_keys" | grep -c . || true)
stale_keys=$(comm -23 \
  <(grep -rhoE '"spark\.graft\.[a-zA-Z0-9_.]+' src/test perfbench/src |
    sort -u || true) \
  <(printf '%s\n' "$option_keys"))
stale=$(printf '%s' "$stale_keys" | grep -c . || true)
envs=$(grep -rhoE 'SPARK_GRAFT_[A-Z0-9_]+' src/main | sort -u | wc -l)
builders=$(grep -rn 'SparkSession.builder()' src/main |
  grep -cvE '^[^:]+:[0-9]+:[[:space:]]*(\*|//)' || true)
# rows of the table under "## Options", up to the next heading
readme_rows=$(awk '/^## /{in_opts = ($0 == "## Options"); next}
  in_opts && /^\| `spark\.graft\./' README.md | wc -l)

echo "src/main Scala lines:        $lines"
echo "SnapshotTable.scala lines:   $snapshot"
echo "manifestLines( call sites:   $manifest_reads"
echo "spark.graft.* options:       $options"
echo "SPARK_GRAFT_* names:         $envs"
echo "SparkSession.builder() calls: $builders"
echo "README Options table rows:   $readme_rows"
echo "stale spark.graft.* keys:    $stale"
status=0
if [ "$readme_rows" -ne "$options" ]; then
  echo "MISMATCH: README Options lists $readme_rows options, src/main reads $options"
  status=1
fi
for key in $stale_keys; do
  echo "STALE: ${key#\"} is set outside src/main, which never reads it"
  status=1
done
exit $status
