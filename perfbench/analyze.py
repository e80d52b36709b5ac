"""Turns one harness run record into the benchmark's metrics.

Pure functions over the JSON record the harness writes; `run.py` calls
`end_to_end` for an untraced run and `per_layer` for a traced one.
"""
import math
import statistics

# Modules that start Spark jobs in these workloads. `functions` and `query`
# only build expressions and plans, and no operation here calls `api`,
# `dedup` or starts a job from `SparkEntry` itself, so their counts would
# read 0 on every run.
MODULES = ["chain", "io", "ops", "similarity", "core", "action"]


def tail(samples):
    """The highest percentile with at least ten samples beyond it.

    Percentiles are nearest-rank over the sorted samples. Returns
    (value, percentile, sample count); with fewer than 20 samples no
    percentile qualifies and the maximum is returned as percentile 100.
    """
    xs = sorted(samples)
    n = len(xs)
    for p in (99.9, 99.5, 99.0, 98.0, 95.0, 90.0, 80.0, 75.0, 50.0):
        rank = max(1, math.ceil(p / 100.0 * n))
        if n - rank >= 10:
            return xs[rank - 1], p, n
    return xs[-1], 100.0, n


def union_length(intervals, lo=None, hi=None):
    """Length of the union of [t0, t1] intervals, clipped to [lo, hi]."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    total, end = 0.0, None
    for a, b in sorted(clipped):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    t0, t1 = span
    return (t1 - t0) - union_length(children, t0, t1)


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def latency_s(op):
    """An operation's latency: the sum of its public calls' times."""
    return sum(c["t1"] - c["t0"] for c in op["calls"]) / 1000.0


def failures(record, oracle_failures):
    """(attempted, failed, reasons by operation name).

    Every measured operation and every end-of-run check counts as attempted.
    An operation fails when it threw, when its own check failed, or when its
    result differed from the oracle (`oracle_failures`: name -> reason; all
    runs of that query count, since each re-runs the same code on the same
    input).
    """
    reasons = {}
    failed = 0
    for op in record["ops"]:
        why = op["error"] if not op["ok"] else oracle_failures.get(op["name"])
        if why:
            failed += 1
            reasons.setdefault(op["name"], why)
    for f in record["finals"]:
        if not f["ok"]:
            failed += 1
            reasons.setdefault(f["name"], f["error"])
    return len(record["ops"]) + len(record["finals"]), failed, reasons


def _ok_ops(record):
    ok = [op for op in record["ops"] if op["ok"]]
    return ok or record["ops"]


def pass_wall(ops, complete_pass):
    """The time of one full pass from the medians: the sum, over the
    operations of a complete pass, of the median latency of each one's name,
    so every measured operation counts, partial passes too."""
    by_name = {}
    for op in ops:
        by_name.setdefault(op["name"], []).append(latency_s(op))
    return sum(statistics.median(by_name[op["name"]])
               for op in ops if op["pass"] == complete_pass)


def setup_s(record):
    """Median of the session set-ups, plus the workload's preparation and
    its warm-up pass."""
    return statistics.median(record["session_s"]) + record["prepare_s"] + record["warmup_s"]


def end_to_end(record):
    """The gated end-to-end metrics, and the latency percentiles that are only
    recorded: with the few operations a run holds, the tail is the maximum
    and the median falls between operations of unlike cost, and both spread
    more from run to run than any bound allows."""
    ops = _ok_ops(record)
    lat = [latency_s(op) for op in ops]
    by_name = {}
    for op, x in zip(ops, lat):
        by_name.setdefault(op["name"], []).append(x)
    t, p, n = tail(lat)
    return {
        "setup_s": (setup_s(record), "s"),
        "wall_s": (pass_wall(ops, record["complete_passes"][0]), "s"),
        "op_geomean_s": (geomean([statistics.median(v) for v in by_name.values()]), "s"),
        "heap_peak_mb": (max(op["heap_mb"] for op in record["ops"]), "MB"),
    }, {"op_p50_s": statistics.median(lat), "op_tail_s": t, "op_tail_percentile": p,
        "op_samples": n}


def _call_median(ops, op_names, call):
    xs = [(c["t1"] - c["t0"]) / 1000.0 for o in ops if o["name"] in op_names
          for c in o["calls"] if c["name"] == call]
    return (statistics.median(xs), "s") if xs else None


def _index_metrics(ops):
    """Index lifecycle metrics from the measured `index_rw` operations."""
    serves = [latency_s(o) * 1000 for o in ops if o["name"] == "serve_ann"]
    absorbs = [o for o in ops if o["name"].startswith("absorb")]
    out = {}
    if serves:
        out["serve_p50_ms"] = (statistics.median(serves), "ms")
        out["serve_tail_ms"] = (tail(serves)[0], "ms")
    write_s = sum(latency_s(o) for o in absorbs)
    if write_s > 0:
        out["ingest_rows_per_s"] = (sum(o["rows"] for o in absorbs) / write_s, "rows/s")
    states = [o["info"] for o in absorbs if o["info"].get("live_rows")]
    if states:
        out["index_bytes_per_row"] = (statistics.median(
            s["bytes"] / s["live_rows"] for s in states), "B/row")
        out["io.index_files"] = (statistics.median(s["files"] for s in states), "count")
        out["io.index_bytes"] = (statistics.median(s["bytes"] for s in states), "B")
        folds = [s["bytes"] for s in states if s["folded"]]
        if folds:
            out["io.compact_rewrite_bytes"] = (statistics.median(folds), "B")
    for metric, names, call in (
            ("serve_s", {"serve_ann"}, "AnnIndex.servedTopK"),
            ("append_s", {"absorb", "absorb_fold"}, "AnnIndex.appendDelta"),
            ("compact_s", {"absorb_fold"}, "AnnIndex.maintain")):
        v = _call_median(ops, names, call)
        if v:
            out[f"similarity.ann.{metric}"] = v
    return out


def trace_overhead(record):
    """Median over operation names of (traced median / untraced median) - 1."""
    ratios = []
    for name in {op["name"] for op in record["ops"]}:
        on = [latency_s(o) for o in record["ops"] if o["name"] == name and o["traced"]]
        off = [latency_s(o) for o in record["ops"] if o["name"] == name and not o["traced"]]
        if on and off:
            ratios.append(statistics.median(on) / statistics.median(off) - 1)
    return statistics.median(ratios) if ratios else 0.0


def per_layer(record):
    """Per-layer metrics from a traced run: sums over the traced operations
    divided by their number, times in seconds unless the name says
    otherwise."""
    tr = record["trace"]
    ops = [op for op in record["ops"] if op["traced"]]
    n_ops = max(1, len(ops))
    cores = record["cores"]
    jobs, stages, execs = tr["jobs"], {s["id"]: s for s in tr["stages"]}, tr["sql_execs"]

    # level 3 of the span tree: each job hangs under the call whose job group
    # it carries, or else under the call whose interval holds its start
    calls = [(op, c) for op in ops for c in op["calls"]]
    by_group = {c["group"]: (op, c) for op, c in calls}
    jobs_of_call, jobs_of_op = {}, {}
    for j in jobs:
        owner = by_group.get(j["group"])
        if owner is None:
            owner = next(((op, c) for op, c in calls if c["t0"] <= j["t0"] <= c["t1"]), None)
        if owner is None:
            continue
        op, c = owner
        jobs_of_call.setdefault(id(c), []).append(j)
        jobs_of_op.setdefault(op["seq"], []).append(j)

    op_jobs = [j for js in jobs_of_op.values() for j in js]
    op_stages = [stages[s] for j in op_jobs for s in j["stages"] if s in stages]
    op_wall_ms = sum(latency_s(op) for op in ops) * 1000

    def in_ops(t):
        return any(op["t0"] <= t <= op["t1"] for op in ops)

    ex = [e for e in execs if in_ops(e["t0"])]
    plan_ms = sum(e["analysis_ms"] + e["optimizer_ms"] + e["physical_ms"] for e in ex)

    def per_op(x):
        return x / n_ops

    def skew(op):
        worst = 0.0
        for j in jobs_of_op.get(op["seq"], []):
            for s in j["stages"]:
                st = stages.get(s)
                if st and st["tasks"] >= 2 and st["median_task_ms"] > 0:
                    worst = max(worst, st["max_task_ms"] / st["median_task_ms"])
        return worst

    driver_self = sum(self_time((c["t0"], c["t1"]),
                                [(j["t0"], j["t1"]) for j in jobs_of_call.get(id(c), [])])
                      for _, c in calls)
    tasks = sum(s["tasks"] for s in op_stages)
    run_ms = sum(s["run_ms"] for s in op_stages)
    m = {
        "spark.plan.analysis_ms": (per_op(sum(e["analysis_ms"] for e in ex)), "ms"),
        "spark.plan.optimizer_ms": (per_op(sum(e["optimizer_ms"] for e in ex)), "ms"),
        "spark.plan.physical_ms": (per_op(sum(e["physical_ms"] for e in ex)), "ms"),
        "spark.plan.sql_execs": (per_op(len(ex)), "count"),
        "spark.plan.share": (plan_ms / op_wall_ms if op_wall_ms else 0.0, "frac"),
        "spark.sched.jobs": (per_op(len(op_jobs)), "count"),
        "spark.sched.stages": (per_op(len(op_stages)), "count"),
        "spark.sched.tasks": (per_op(tasks), "count"),
        "spark.sched.tasks_per_job": (tasks / len(op_jobs) if op_jobs else 0.0, "count"),
        "spark.sched.delay_s": (per_op(sum(s["sched_delay_ms"] for s in op_stages)) / 1000, "s"),
        "spark.exec.run_s": (per_op(run_ms) / 1000, "s"),
        "spark.exec.cpu_s": (per_op(sum(s["cpu_ns"] for s in op_stages)) / 1e9, "s"),
        "spark.exec.gc_s": (per_op(sum(s["gc_ms"] for s in op_stages)) / 1000, "s"),
        "spark.exec.busy_frac": (run_ms / (op_wall_ms * cores) if op_wall_ms else 0.0, "frac"),
        "spark.exec.skew": (statistics.median(skew(op) for op in ops) if ops else 0.0, "ratio"),
        "spark.exec.failed_tasks": (per_op(sum(s["failed_tasks"] for s in op_stages)), "count"),
        "spark.shuffle.write_bytes": (per_op(sum(s["shuffle_write"] for s in op_stages)), "B"),
        "spark.shuffle.read_bytes": (per_op(sum(s["shuffle_read"] for s in op_stages)), "B"),
        "spark.shuffle.spill_bytes": (per_op(sum(s["spill"] for s in op_stages)), "B"),
        "spark.io.input_bytes": (per_op(sum(s["in_bytes"] for s in op_stages)), "B"),
        "spark.io.input_rows": (per_op(sum(s["in_rows"] for s in op_stages)), "count"),
        "spark.io.output_bytes": (per_op(sum(s["out_bytes"] for s in op_stages)), "B"),
        "spark.io.output_rows": (per_op(sum(s["out_rows"] for s in op_stages)), "count"),
        "driver.outside_jobs_s": (per_op(driver_self) / 1000, "s"),
        "driver.gc_s": (per_op(sum(op["gc_ms"] for op in ops)) / 1000, "s"),
    }
    for call in ("build", "action"):
        xs = [(c["t1"] - c["t0"]) / 1000.0 for _, c in calls if c["name"] == call]
        m[f"entry.{call}_s"] = (statistics.mean(xs) if xs else 0.0, "s")
    for mod in MODULES:
        js = [j for j in op_jobs if j["module"] == mod]
        m[f"module.{mod}.jobs"] = (per_op(len(js)), "count")
        m[f"module.{mod}.job_s"] = (per_op(sum(j["t1"] - j["t0"] for j in js)) / 1000, "s")

    index = _index_metrics(ops) if record["workload"] == "index_rw" else {}
    if "export_s" in record["workload_record"]:
        index["similarity.ann.export_s"] = (record["workload_record"]["export_s"], "s")
    for name, unit in INDEX_METRICS:
        m[name] = index.get(name, (0.0, unit))
    m["trace.overhead_frac"] = (trace_overhead(record), "frac")
    return m


# Reported as 0 on a workload that does not touch the index.
INDEX_METRICS = [
    ("serve_p50_ms", "ms"), ("serve_tail_ms", "ms"), ("ingest_rows_per_s", "rows/s"),
    ("index_bytes_per_row", "B/row"),
    ("similarity.ann.export_s", "s"), ("similarity.ann.append_s", "s"),
    ("similarity.ann.compact_s", "s"), ("similarity.ann.serve_s", "s"),
    ("io.index_files", "count"), ("io.index_bytes", "B"), ("io.compact_rewrite_bytes", "B"),
]
