#!/usr/bin/env bash
# Same-box A/B benchmark of this checkout against a parent revision.
#
#   tools/perf_ab.sh <parent-rev> <workload> <seed>...
#
# Run from the root of the checkout. The parent revision is unpacked with
# `git archive` into a temporary directory (removed on exit). For each seed
# the script runs `perfbench/run.py --trace 0 --keep` once on each side,
# alternating which side runs first, and appends each run's `{"record": ...}`
# line to parent.jsonl or change.jsonl under .bench_build/perf_ab/, and each
# operation's median latency (side, seed, calib_ms, op, median_s, count) to
# ops.tsv there (all three emptied at start); the kept run directory is then
# deleted. It ends with `perfbench/compare.py parent.jsonl change.jsonl` and a
# per-operation table from ops.tsv: each side's median over its runs of the
# per-run medians, and the change in percent. The run length is
# BENCHMARK.json's run_seconds. The parent side builds its own benchmark from
# scratch, so its first run takes a few minutes longer.
set -euo pipefail

if [ $# -lt 3 ]; then
  sed -n '2,17p' "$0" | sed 's/^# \{0,1\}//'
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
printf 'side\tseed\tcalib_ms\top\tmedian_s\tcount\n' > "$out/ops.tsv"

tmp=$(mktemp -d)
trap 'rm -rf "$tmp"' EXIT
mkdir "$tmp/parent"
git -C "$change" archive "$rev" | tar -x -C "$tmp/parent"

# op_medians <side> <seed> <record.json>: one ops.tsv line per operation
op_medians() {
  python3 - "$@" "$change/perfbench" >> "$out/ops.tsv" <<'PY'
import json, statistics, sys
side, seed, path, bench = sys.argv[1:5]
sys.path.insert(0, bench)
import analyze
rec = json.load(open(path))
by_op = {}
for op in rec["ops"]:
    if op["ok"]:
        by_op.setdefault(op["name"], []).append(analyze.latency_s(op))
for name in sorted(by_op):
    xs = by_op[name]
    print(f"{side}\t{seed}\t{rec['calib_ms']}\t{name}\t{statistics.median(xs):.4f}\t{len(xs)}")
PY
}

# run_side <side> <dir> <seed>: one run; its record line is appended to
# <side>.jsonl and its per-operation medians to ops.tsv
run_side() {
  local side=$1 dir=$2 seed=$3 kept
  (cd "$dir" && python3 perfbench/run.py --workload "$workload" --seed "$seed" \
      --seconds "$seconds" --trace 0 --keep) > "$tmp/run.log" 2> "$tmp/run.err" || {
    echo "perf_ab: run failed in $dir (seed $seed):" >&2
    tail -n 5 "$tmp/run.err" >&2
  }
  grep '^{"record"' "$tmp/run.log" >> "$out/$side.jsonl" || true
  kept=$(sed -n 's/^perfbench: run directory kept at //p' "$tmp/run.err")
  if [ -n "$kept" ]; then
    op_medians "$side" "$seed" "$kept/record.json" || echo "perf_ab: no op medians for $side seed $seed" >&2
    rm -rf "$kept"
  fi
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
      run_side parent "$tmp/parent" "$seed"
    else
      run_side change "$change" "$seed"
    fi
  done
  i=$((i + 1))
done

echo "== $out/parent.jsonl vs $out/change.jsonl"
python3 "$change/perfbench/compare.py" "$out/parent.jsonl" "$out/change.jsonl"

echo "== per-operation medians (s) from $out/ops.tsv"
python3 - "$out/ops.tsv" <<'PY'
import csv, statistics, sys
meds = {}
with open(sys.argv[1]) as fh:
    for row in csv.DictReader(fh, delimiter="\t"):
        meds.setdefault(row["op"], {}).setdefault(row["side"], []).append(float(row["median_s"]))
print(f"{'operation':<24}{'parent':>10}{'change':>10}{'change %':>10}{'runs':>8}")
for op in sorted(meds):
    p, c = meds[op].get("parent", []), meds[op].get("change", [])
    pm = statistics.median(p) if p else None
    cm = statistics.median(c) if c else None
    pct = f"{100 * (cm - pm) / pm:+.1f}" if pm and cm is not None else "-"
    fmt = lambda x: f"{x:.3f}" if x is not None else "-"
    print(f"{op:<24}{fmt(pm):>10}{fmt(cm):>10}{pct:>10}{len(p):>4}/{len(c):<3}")
PY
