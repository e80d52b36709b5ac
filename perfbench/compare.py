#!/usr/bin/env python3
"""Compare two sets of benchmark results, A (the parent) and B (the change).

    python3 perfbench/compare.py A.jsonl B.jsonl

Each file holds one run record per line, as `run.py` appends them to
`.bench_build/results.jsonl` (a `{"record": ...}` line from its output works
too). For every workload and end-to-end metric in BENCHMARK.json it prints
both sides' median and quartiles, the share of A/B pairs that B won (pairs
match runs by seed, else by order) and a verdict:

- improved: B wins at least nine tenths of the pairs, ties counting for
  neither, and the medians differ by more than A's quartile spread;
- worse: B's median is worse than A's by more than the metric's bound;
- unresolved: A's or B's quartile spread, as a share of its median, is wider
  than the bound, unless every B run is better than every A run;
- unchanged: otherwise.

It also prints each side's hardware fingerprint (cpu, cores, the median of
the calibration loop), so that a difference of box shows.
"""
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(path):
    recs = []
    with open(path) as fh:
        for line in fh:
            line = line.strip()
            if not line.startswith("{"):
                continue
            r = json.loads(line)
            r = r.get("record", r)
            if "workload" in r and not r.get("trace"):
                recs.append(r)
    return recs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(a, b, better, bound):
    """Verdict for values `a` (parent) and `b` (change), paired in order."""
    sign = 1 if better == "higher" else -1
    a1, am, a3 = quartiles(a)
    b1, bm, b3 = quartiles(b)
    pairs = list(zip(a, b))
    wins = sum(1 for x, y in pairs if sign * (y - x) > 0)
    won = wins / len(pairs) if pairs else 0.0
    spread = max((a3 - a1) / am if am else 0.0, (b3 - b1) / bm if bm else 0.0)
    all_better = min(sign * y for y in b) > max(sign * x for x in a)
    if won >= 0.9 and abs(bm - am) > (a3 - a1) and sign * (bm - am) > 0:
        v = "improved"
    elif sign * (am - bm) > bound * abs(am):
        v = "worse"
    elif spread > bound and not all_better:
        v = "unresolved"
    else:
        v = "unchanged"
    return (a1, am, a3), (b1, bm, b3), won, v


def paired(recs_a, recs_b, metric):
    by_seed_a = {r["seed"]: r["metrics"][metric]["value"] for r in recs_a if metric in r["metrics"]}
    by_seed_b = {r["seed"]: r["metrics"][metric]["value"] for r in recs_b if metric in r["metrics"]}
    common = sorted(set(by_seed_a) & set(by_seed_b))
    if common:
        return [by_seed_a[s] for s in common], [by_seed_b[s] for s in common]
    return list(by_seed_a.values()), list(by_seed_b.values())


def fingerprint(recs):
    hw = [r["hw"] for r in recs if "hw" in r]
    if not hw:
        return "unknown"
    cpus = sorted({h["cpu"] for h in hw})
    cores = sorted({h["cores"] for h in hw})
    calib = statistics.median(h["calib_ms"] for h in hw)
    return f"{'; '.join(cpus)} | cores {cores} | calib_ms median {calib:.1f}"


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    a, b = load(sys.argv[1]), load(sys.argv[2])
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    print(f"A: {fingerprint(a)}")
    print(f"B: {fingerprint(b)}")
    print(f"{'workload':<12} {'metric':<14} {'A q1/med/q3':>32} {'B q1/med/q3':>32} "
          f"{'B won':>6}  verdict")
    for w in spec["workloads"]:
        wa = [r for r in a if r["workload"] == w["name"]]
        wb = [r for r in b if r["workload"] == w["name"]]
        if not wa or not wb:
            print(f"{w['name']:<12} (no runs on {'A' if not wa else 'B'})")
            continue
        for m in spec["end_to_end"]:
            xa, xb = paired(wa, wb, m["name"])
            if not xa or not xb:
                continue
            qa, qb, won, v = verdict(xa, xb, m["better"], m["bound"])
            fa = "/".join(f"{x:.4g}" for x in qa)
            fb = "/".join(f"{x:.4g}" for x in qb)
            print(f"{w['name']:<12} {m['name']:<14} {fa:>32} {fb:>32} {won:>6.0%}  {v}")


if __name__ == "__main__":
    main()
