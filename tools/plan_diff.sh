#!/usr/bin/env bash
# Diff two plan dumps (ExplainAudit's `explain("formatted")` output) with
# the run-specific tokens stripped, so only real plan changes show.
#
#   tools/plan_diff.sh <before.txt> <after.txt>
#
# Stripped before the diff: expression ids (`#123`, `#123L`), exchange
# `plan_id=N`, RDD names and ids (`MapPartitionsRDD[166]`), callsites
# (`at File.scala:N`) and lambda identities (`Foo$$$Lambda/0x...@1a2b`).
# Exits 0 when the plans match, 1 when they differ (the diff is printed).
set -euo pipefail

if [ $# -ne 2 ]; then
  sed -n '2,10p' "$0" | sed 's/^# \{0,1\}//'
  exit 2
fi

strip() {
  sed -E \
    -e 's/#[0-9]+L?/#/g' \
    -e 's/plan_id=[0-9]+/plan_id=/g' \
    -e 's/[A-Za-z]*RDD\[[0-9]+\]/RDD[]/g' \
    -e 's/ at [A-Za-z0-9_$]+\.scala:[0-9]+/ at <callsite>/g' \
    -e 's/[A-Za-z0-9_.$]*\$\$Lambda[^ ,)]*/<lambda>/g' \
    "$1"
}

diff -u --label "$1" --label "$2" <(strip "$1") <(strip "$2")
