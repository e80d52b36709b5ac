#!/usr/bin/env bash
# Same-box A/B benchmark of this checkout against a parent revision.
#
#   tools/perf_ab.sh <parent-rev> <workload> <seed>...
#
# Run from the root of the checkout. The parent revision is checked out into
# a temporary git worktree (removed on exit). For each seed the script runs
# `perfbench/run.py --trace 0` once on each side, alternating which side runs
# first, and appends each run's `{"record": ...}` line to parent.jsonl or
# change.jsonl under .bench_build/perf_ab/ (both emptied at start). It ends
# with `perfbench/compare.py parent.jsonl change.jsonl`. The run length is
# BENCHMARK.json's run_seconds. The parent side builds its own benchmark
# from scratch, so its first run takes a few minutes longer.
set -euo pipefail

if [ $# -lt 3 ]; then
  sed -n '2,13p' "$0" | sed 's/^# \{0,1\}//'
  exit 2
fi
rev=$1 workload=$2
shift 2

change=$(pwd)
if [ ! -f "$change/perfbench/run.py" ] || [ ! -f "$change/BENCHMARK.json" ]; then
  echo "perf_ab: run from the root of a checkout" >&2
  exit 2
fi
seconds=$(python3 -c 'import json; print(json.load(open("BENCHMARK.json"))["run_seconds"])')
out="$change/.bench_build/perf_ab"
mkdir -p "$out"
: > "$out/parent.jsonl"
: > "$out/change.jsonl"

tmp=$(mktemp -d)
cleanup() {
  git -C "$change" worktree remove --force "$tmp/parent" 2>/dev/null || true
  git -C "$change" worktree prune
  rm -rf "$tmp"
}
trap cleanup EXIT
git -C "$change" worktree add --quiet --detach "$tmp/parent" "$rev"

# run_side <dir> <jsonl> <seed>: one run; its record line is appended
run_side() {
  local dir=$1 jsonl=$2 seed=$3
  (cd "$dir" && python3 perfbench/run.py --workload "$workload" --seed "$seed" \
      --seconds "$seconds" --trace 0) > "$tmp/run.log" 2> "$tmp/run.err" || {
    echo "perf_ab: run failed in $dir (seed $seed):" >&2
    tail -n 5 "$tmp/run.err" >&2
  }
  grep '^{"record"' "$tmp/run.log" >> "$jsonl" || true
  tail -n 1 "$tmp/run.log"
}

i=0
for seed in "$@"; do
  if [ $((i % 2)) -eq 0 ]; then
    order="parent change"
  else
    order="change parent"
  fi
  for side in $order; do
    echo "== seed $seed, $side"
    if [ "$side" = parent ]; then
      run_side "$tmp/parent" "$out/parent.jsonl" "$seed"
    else
      run_side "$change" "$out/change.jsonl" "$seed"
    fi
  done
  i=$((i + 1))
done

echo "== $out/parent.jsonl vs $out/change.jsonl"
python3 "$change/perfbench/compare.py" "$out/parent.jsonl" "$out/change.jsonl"
