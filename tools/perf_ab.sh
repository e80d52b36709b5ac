#!/usr/bin/env bash
# Same-box A/B benchmark of this checkout against a parent revision.
#
#   tools/perf_ab.sh <parent-rev> <workload> <seed>...
#
# Run from the root of the checkout. The parent revision is unpacked with
# `git archive` into a temporary directory (removed on exit). For each seed
# the script runs `perfbench/run.py --trace 0 --keep` once on each side,
# alternating which side runs first, and appends each run's `{"record": ...}`
# line to parent.jsonl or change.jsonl under .bench_build/perf_ab/, each
# operation's median latency (side, seed, calib_ms, op, median_s, count) to
# ops.tsv there, and each run's set-up parts (session_s, prepare_s, warmup_s
# and, for index_rw, export_s, a part of prepare_s) to setup.tsv (all four
# emptied at start); the kept run directory is then deleted. It ends with
# `perfbench/compare.py parent.jsonl change.jsonl`, a per-operation table
# from ops.tsv (each side's median over its runs of the per-run medians, and
# the change in percent) and the same table of the set-up parts from
# setup.tsv. The run length is BENCHMARK.json's run_seconds. The parent side
# builds its own benchmark from scratch, so its first run takes a few
# minutes longer.
set -euo pipefail

if [ $# -lt 3 ]; then
  sed -n '2,20p' "$0" | sed 's/^# \{0,1\}//'
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
printf 'side\tseed\tpart\tseconds\n' > "$out/setup.tsv"

tmp=$(mktemp -d)
trap 'rm -rf "$tmp"' EXIT
mkdir "$tmp/parent"
git -C "$change" archive "$rev" | tar -x -C "$tmp/parent"

# op_medians <side> <seed> <record.json>: one ops.tsv line per operation
# and one setup.tsv line per set-up part
op_medians() {
  python3 - "$@" "$change/perfbench" "$out/setup.tsv" >> "$out/ops.tsv" <<'PY'
import json, statistics, sys
side, seed, path, bench, setup = sys.argv[1:6]
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
# the parts of analyze.setup_s; session_s holds one time per session built,
# of which setup_s takes the median, and export_s is a part of prepare_s
parts = {"session_s": statistics.median(rec["session_s"]),
         "prepare_s": rec["prepare_s"], "warmup_s": rec["warmup_s"]}
if "export_s" in rec.get("workload_record", {}):
    parts["export_s"] = rec["workload_record"]["export_s"]
with open(setup, "a") as fh:
    for part, secs in parts.items():
        fh.write(f"{side}\t{seed}\t{part}\t{secs:.4f}\n")
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

# median_table <tsv> <key column> <value column> <title>: each side's median
# over its runs, the change in percent, and the runs per side
median_table() {
  python3 - "$@" <<'PY'
import csv, statistics, sys
path, key, value, title = sys.argv[1:5]
meds = {}
with open(path) as fh:
    for row in csv.DictReader(fh, delimiter="\t"):
        meds.setdefault(row[key], {}).setdefault(row["side"], []).append(float(row[value]))
print(f"{title:<24}{'parent':>10}{'change':>10}{'change %':>10}{'runs':>8}")
for op in sorted(meds):
    p, c = meds[op].get("parent", []), meds[op].get("change", [])
    pm = statistics.median(p) if p else None
    cm = statistics.median(c) if c else None
    pct = f"{100 * (cm - pm) / pm:+.1f}" if pm and cm is not None else "-"
    fmt = lambda x: f"{x:.3f}" if x is not None else "-"
    print(f"{op:<24}{fmt(pm):>10}{fmt(cm):>10}{pct:>10}{len(p):>4}/{len(c):<3}")
PY
}

echo "== per-operation medians (s) from $out/ops.tsv"
median_table "$out/ops.tsv" op median_s operation
echo "== set-up part medians (s) from $out/setup.tsv"
median_table "$out/setup.tsv" part seconds "set-up part"
