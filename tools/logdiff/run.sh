#!/bin/bash
# Byte-diff of the TxLog on-disk format between two checkouts.
#
#   tools/logdiff/run.sh <base checkout> <changed checkout> <work dir>
#
# Copies LogDiffHarness.scala into both checkouts' src/main/scala/graft
# (use throwaway copies), builds a fixture with the BASE checkout, runs
# every TxLog writer with both builds on copies of it, and then:
#   1. diffs the two _log/ trees and tx files (checkpoints included)
#      after masking commit instants, generated file names and the root;
#   2. has both builds read both trees (snapshot, zone maps, partition
#      values, deletion vectors, schema, properties, rows at every
#      version) and diffs the reports.
# Exits non-zero on any difference.
set -euo pipefail
BASE=$(realpath "$1"); CHG=$(realpath "$2"); mkdir -p "$3"; W=$(realpath "$3")
HERE=$(dirname "$(realpath "$0")")
export SPARK_DRIVER_MEM=${SPARK_DRIVER_MEM:-2g}
for d in "$BASE" "$CHG"; do cp "$HERE/LogDiffHarness.scala" "$d/src/main/scala/graft/"; done
run() { local dir=$1; shift
  (cd "$dir" && sbt --batch -Dsbt.log.noformat=true \
    "${@/#/runMain graft.LogDiffHarness }" >"$W/sbt.log" 2>&1) ||
    { tail -40 "$W/sbt.log"; exit 1; }; }
rm -rf "$W/fx" "$W/out_base" "$W/out_change"
run "$BASE" "fixture $W/fx"
for o in out_base out_change; do mkdir -p "$W/$o"; cp -a "$W/fx" "$W/$o/fx"; done
run "$BASE" "write $W/out_base"
run "$CHG" "write $W/out_change" \
  "report $W/out_base $W/rep_change_on_base.txt" \
  "report $W/out_change $W/rep_change_on_change.txt"
run "$BASE" "report $W/out_base $W/rep_base_on_base.txt" \
  "report $W/out_change $W/rep_base_on_change.txt"
rc=0
python3 "$HERE/maskdiff.py" "$W/out_base" "$W/out_change" || rc=1
for t in base change; do
  if diff "$W/rep_base_on_$t.txt" "$W/rep_change_on_$t.txt" >/dev/null; then
    echo "read reports on the $t tree: identical ($(wc -l <"$W/rep_base_on_$t.txt") lines)"
  else echo "read reports on the $t tree DIFFER"; rc=1; fi
done
exit $rc
