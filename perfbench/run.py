#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload disco_jobs --seed 1 --seconds 20 --trace 0

Run from the root of a checkout of the repository. The first run builds the
library with the repository's own sbt build and then the harness in
`perfbench/harness`; later runs reuse both until a source file changes. The
run generates its inputs from the seed under `.bench_build/runs/`, drives one
workload in a fresh JVM, checks the outputs, and prints as its last line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (`--trace 0`) or the per-layer metrics
(`--trace 1`). The line before it is the full record (`{"record": ...}`),
which is also appended to `.bench_build/results.jsonl` for `compare.py`.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import platform
import random
import shutil
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import analyze  # noqa: E402
import gen  # noqa: E402

START = time.time()

# Each pass runs every operation once; a pass has to fit the run budget, so
# each family of Disco jobs keeps its cheaper members (see README.md).
DISCO_OPS = ["q_wordcount", "q_grep", "q_total_sort", "q_cnf_query", "q_chunk_format",
             "q_kmeans_assign", "q_exact_quantiles"]

# Operations and input sizes of each workload.
WORKLOADS = {
    "disco_jobs": {
        "ops": DISCO_OPS,
        "size": {"documents": 500, "embeddings": 500, "customer": 1500, "orders": 15000,
                 "lineitem": 60000, "events": 10000},
    },
    "index_rw": {
        "size": {"embeddings": 1000, "slices": 12, "batches": 8, "per_batch": 4},
    },
}

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

RUN_TIMEOUT_S = 175
FIRST_RUN_TIMEOUT_S = 880
CDS_ARCHIVE = "classes.jsa"


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp(root):
    """Hash of everything the build reads: library sources, build definition
    and the harness."""
    files = []
    for pat in ("build.sbt", "project/*.sbt", "project/*.scala", "project/build.properties",
                "src/main/**/*", "perfbench/harness/build.sbt",
                "perfbench/harness/project/build.properties", "perfbench/harness/src/**/*"):
        files += [f for f in glob.glob(os.path.join(root, pat), recursive=True) if os.path.isfile(f)]
    h = hashlib.sha256()
    for f in sorted(files):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def sbt_classpath(cwd, env, log):
    """Compile the sbt project in `cwd` and return its runtime classpath."""
    with open(log, "a") as fh:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=cwd, env=env, stdout=subprocess.PIPE, stderr=fh, text=True,
                           stdin=subprocess.DEVNULL)
        fh.write(p.stdout)
    if p.returncode != 0:
        fail(f"build failed in {cwd}; see {log}", 1)
    lines = [ln for ln in p.stdout.splitlines() if ".jar" in ln and not ln.startswith("[")]
    if not lines:
        fail(f"no classpath exported in {cwd}; see {log}", 1)
    return [e for e in lines[-1].strip().split(os.pathsep) if e]


def jar_dirs(cp, jar_dir):
    """The classpath with each directory replaced by a jar of its contents:
    the JVM's class-data archive accepts jars only."""
    os.makedirs(jar_dir, exist_ok=True)
    out = []
    for entry in cp:
        if not os.path.isdir(entry):
            out.append(entry)
            continue
        jar = os.path.join(jar_dir, hashlib.sha256(entry.encode()).hexdigest()[:16] + ".jar")
        with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
            for base, _, files in sorted(os.walk(entry)):
                for f in sorted(files):
                    p = os.path.join(base, f)
                    z.write(p, os.path.relpath(p, entry))
        out.append(jar)
    return out


def build(root, bdir):
    """Build library and harness unless the sources are unchanged; return the
    harness classpath and whether this call built it.

    A build also records a class-data archive of the classes one short
    `disco_jobs` run loads, which later runs map instead of loading those
    classes again from the jars."""
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala"))):
        fail("run from the root of a repository checkout (build.sbt and src/ not found)")
    stamp = source_stamp(root)
    stamp_file = os.path.join(bdir, "stamp")
    cp_file = os.path.join(bdir, "harness.cp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fh2:
                    return fh2.read().split("\n"), False
    os.makedirs(bdir, exist_ok=True)
    for stale in (stamp_file, cp_file, os.path.join(bdir, CDS_ARCHIVE)):
        if os.path.exists(stale):
            os.remove(stale)
    log = os.path.join(bdir, "build.log")
    env = sbt_env()
    lib = sbt_classpath(root, env, log)
    lib_file = os.path.join(bdir, "library.cp")
    with open(lib_file, "w") as fh:
        fh.write("\n".join(lib))
    env["PERFBENCH_LIBRARY_CP"] = lib_file
    cp = jar_dirs(sbt_classpath(os.path.join(root, "perfbench", "harness"), env, log),
                  os.path.join(bdir, "jars"))
    with open(cp_file, "w") as fh:
        fh.write("\n".join(cp))
    run_dir = os.path.join(bdir, "runs", "class-archive")
    code, _ = run_harness(cp, "disco_jobs", 0, 0, 0, run_dir, time.time() + 600,
                          [f"-XX:ArchiveClassesAtExit={os.path.join(bdir, CDS_ARCHIVE)}"])
    if code == 0:
        shutil.rmtree(run_dir, ignore_errors=True)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp, True


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def cpu_model():
    try:
        with open("/proc/cpuinfo") as fh:
            for line in fh:
                if line.startswith("model name"):
                    return line.split(":", 1)[1].strip()
    except OSError:
        pass
    return platform.processor() or "unknown"


def write_order(path, ops, seed, passes=64):
    """One line per pass: the operations in the seed's order for that pass."""
    r = random.Random(seed)
    with open(path, "w") as fh:
        for _ in range(passes):
            o = list(ops)
            r.shuffle(o)
            fh.write(",".join(o) + "\n")


def run_harness(cp, workload, seed, seconds, trace, run_dir, deadline, jvm_opts, t0=None):
    """Generate the inputs of `workload` under `run_dir` and run the harness
    on them; return (exit code or None on timeout, path of the run record)."""
    shutil.rmtree(run_dir, ignore_errors=True)
    inputs = os.path.join(run_dir, "inputs")
    scratch = os.path.join(run_dir, "scratch")
    tmp = os.path.join(run_dir, "tmp")
    for d in (inputs, scratch, tmp):
        os.makedirs(d)
    w = WORKLOADS[workload]
    gen.make_inputs(workload, seed, inputs, w["size"])
    if "ops" in w:
        write_order(os.path.join(inputs, "order.txt"), w["ops"], seed)
    out = os.path.join(run_dir, "record.json")
    cmd = ["java", "-Xmx3g", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", "-Xlog:cds=off", "-Xlog:cds+dynamic=off"]
    cmd += jvm_opts
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join(cp), "perfbench.Harness",
            "--workload", workload, "--seconds", str(seconds), "--trace", str(trace),
            "--inputs", inputs, "--scratch", scratch, "--out", out, "--cores", str(cores()),
            "--t0-ms", repr((t0 or time.time()) * 1000)]
    env = dict(os.environ, GRAFT_SCRATCH=os.path.join(scratch, "graft"),
               SPARK_LOCAL_DIRS=os.path.join(scratch, "spark-local"))
    with open(os.path.join(run_dir, "jvm.log"), "w") as fh:
        proc = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT, env=env,
                                stdin=subprocess.DEVNULL)
        try:
            return proc.wait(timeout=max(10, deadline - time.time())), out
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            return None, out


def norm_cell(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.9g}"
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return str(v)


def oracle_failures(record, inputs):
    """Compare each written query result with its DuckDB oracle over the same
    inputs (the `tools/check.py` rule: sorted column names, row count, rows
    sorted by all columns). Returns name -> reason for each mismatch."""
    checks = record["workload_record"].get("oracle", [])
    if not checks:
        return {}
    import duckdb
    con = duckdb.connect()
    for f in sorted(glob.glob(os.path.join(inputs, "*.parquet"))):
        t = os.path.basename(f)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{f}')")

    def norm(rel):
        cols = sorted(rel.columns)
        rows = rel.project(", ".join(f'"{c}"' for c in cols)).fetchall()
        return cols, sorted(tuple(norm_cell(v) for v in r) for r in rows)

    out = {}
    for c in checks:
        try:
            got = norm(con.sql(f"SELECT * FROM read_parquet('{c['dir']}/*.parquet')"))
            want = norm(con.sql(c["sql"]))
        except Exception as e:  # an unreadable result or a failing oracle is a mismatch
            out[c["op"]] = f"check could not run: {e}"[:300]
            continue
        if got[0] != want[0]:
            out[c["op"]] = f"columns differ: spark={got[0]} oracle={want[0]}"
        elif len(got[1]) != len(want[1]):
            out[c["op"]] = f"row count differs: spark={len(got[1])} oracle={len(want[1])}"
        else:
            bad = [(a, b) for a, b in zip(got[1], want[1]) if a != b]
            if bad:
                out[c["op"]] = f"{len(bad)} rows differ; first spark={bad[0][0]} oracle={bad[0][1]}"[:300]
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", action="store_true", help="keep the run directory")
    a = ap.parse_args()

    root = os.getcwd()
    bdir = os.path.join(root, ".bench_build")
    built = build(root, bdir)
    cp = built[0]
    # a run that built may take up to the first-run allowance
    deadline = START + (FIRST_RUN_TIMEOUT_S if built[1] else RUN_TIMEOUT_S)
    t0 = time.time()
    w = WORKLOADS[a.workload]

    run_dir = os.path.join(bdir, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    archive = os.path.join(bdir, CDS_ARCHIVE)
    jvm = [f"-XX:SharedArchiveFile={archive}"] if os.path.exists(archive) else []
    code, out = run_harness(cp, a.workload, a.seed, a.seconds, a.trace, run_dir, deadline,
                            jvm, t0)
    log = os.path.join(run_dir, "jvm.log")
    if code is None:
        fail(f"harness timed out; log kept in {log}", 1)
    if code != 0 or not os.path.exists(out):
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"harness exited with {code}; log kept in {log}", 1)
    inputs = os.path.join(run_dir, "inputs")
    input_digest = gen.digest(inputs)
    with open(out) as fh:
        record = json.load(fh)

    bad = oracle_failures(record, inputs)
    attempted, failed, reasons = analyze.failures(record, bad)
    if a.trace:
        metrics = analyze.per_layer(record)
        extra = {}
    else:
        metrics, extra = analyze.end_to_end(record)
    detail = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "input_sha256": input_digest,
        "hw": {"cpu": cpu_model(), "cores": cores(), "calib_ms": record["calib_ms"]},
        "session_s": record["session_s"], "prepare_s": record["prepare_s"],
        "warmup_s": record["warmup_s"], "failures": reasons, **extra,
        "ops": {name: sum(1 for op in record["ops"] if op["name"] == name)
                for name in sorted({op["name"] for op in record["ops"]})},
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    if a.workload == "index_rw":
        detail["absorbed_slices"] = len(record["workload_record"]["absorbed"])
    print(json.dumps({"record": detail}))
    with open(os.path.join(bdir, "results.jsonl"), "a") as fh:
        fh.write(json.dumps(detail) + "\n")
    if a.keep:
        print(f"perfbench: run directory kept at {run_dir}", file=sys.stderr)
    else:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": detail["metrics"]}))


if __name__ == "__main__":
    main()
