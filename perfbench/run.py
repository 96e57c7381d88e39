#!/usr/bin/env python3
"""The repository's benchmark: one command for every workload.

    python3 perfbench/run.py --workload crawl_bulk|crawl_api|curate_suite \
        --seed N --seconds S --trace 0|1

Run it from the root of a checkout. The first run builds the program from
source together with the benchmark (sbt, offline) into perfbench/target and
records the classpath in .bench_build/; later runs reuse the build while the
sources are unchanged. Each run owns a directory under .bench_work/ that
holds its pages tables, checkpoints, Spark local dirs and java.io.tmpdir; it
is deleted when the run ends, also after a failure. A traced run writes its
spans as JSON lines to .bench_trace/<workload>.jsonl and reports its own
end-to-end numbers minus those of the last untraced run of the workload
(kept in .bench_trace/<workload>.untraced.json) as the tracing overhead.

Every output is checked: crawl counters and result rows against the
generator's expectations, every API response against its host's page count,
every curation query against its DuckDB oracle (SparkEntry.oracleSql). The
report lines come first; the last line of standard output is one JSON object
with the keys correct, attempted, failed and metrics (end-to-end metrics with
--trace 0, per-layer metrics with --trace 1). The exit code is 0 only when
every check passed.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD_DIR = os.path.join(ROOT, ".bench_build")
WORK_ROOT = os.path.join(ROOT, ".bench_work")
TRACE_DIR = os.path.join(ROOT, ".bench_trace")
DEADLINE_S = 170
JVM_HEAP = "4g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
# the sf0.01 tables the listed curation queries and their oracles read
CURATE_TABLES = ["documents", "embeddings", "events"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_files():
    """Every file the build reads: the program's sources and the benchmark's."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    out = []
    for r in roots:
        if os.path.isfile(r):
            out.append(r)
        for d, _, fs in os.walk(r):
            out.extend(os.path.join(d, f) for f in fs)
    return sorted(out)


def build(started):
    """Compile with sbt unless the recorded build matches the sources."""
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    cp_file = os.path.join(BUILD_DIR, "classpath.json")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            rec = json.load(fh)
        if rec.get("stamp") == stamp and all(os.path.exists(p) for p in rec["classpath"]):
            return rec["classpath"]
    log("building the program and the benchmark with sbt (offline)")
    tmp = os.path.join(BUILD_DIR, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.override.build.repos=true", "-Dsbt.log.noformat=true",
            f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts.append(f"-Dsbt.repository.config={repos}")
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts + ["-Xmx2g"]))
    try:
        p = subprocess.run(["sbt", "-batch", *opts, "compile", "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
                           text=True, timeout=880 - (time.time() - started))
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed")
    lines = [l for l in p.stdout.splitlines() if not l.startswith("[") and ".jar" in l]
    if not lines:
        fail("sbt printed no classpath")
    classpath = lines[-1].strip().split(os.pathsep)
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(cp_file, "w") as fh:
        json.dump({"stamp": stamp, "classpath": classpath}, fh)
    return classpath


# ---- curation oracles: the canonical hash of tools/check_correctness.py ------

def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        x = v + 0.0
        if x == int(x) and abs(x) < 2**53:
            return repr(int(x))
        return "%.12g" % x
    return str(v)


def table_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(canon(r[i]) for i in order) for r in rows)
    return hashlib.md5("\n".join(lines).encode()).hexdigest()


def check_curation(work, data):
    """Compare every dumped query result with its DuckDB oracle.
    Returns (checked, mismatches)."""
    import duckdb
    out = os.path.join(work, "curate")
    with open(os.path.join(out, "oracle_sql.json")) as fh:
        oracles = json.load(fh)
    con = duckdb.connect()
    for t in CURATE_TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(data, t)}.parquet'")
    bad = []
    for name in sorted(oracles):
        try:
            o = con.sql(oracles[name])
            ocols = [c.lower() for c in o.columns]
            orows = o.fetchall()
            s = con.sql(f"SELECT * FROM '{os.path.join(out, name)}/*.parquet'")
            scols = [c.lower() for c in s.columns]
            srows = s.fetchall()
            if len(orows) != len(srows) or sorted(ocols) != sorted(scols) \
                    or table_hash(ocols, orows) != table_hash(scols, srows):
                bad.append(f"{name}: rows {len(srows)}/{len(orows)}, "
                           f"schema {sorted(scols) == sorted(ocols)}, hash mismatch")
        except Exception as e:  # a missing dump or a broken oracle is a failure
            bad.append(f"{name}: {e}")
    return len(oracles), bad


def report_overhead(args, spec, measured):
    """Keep an untraced run's end-to-end numbers; print a traced run's minus them."""
    path = os.path.join(TRACE_DIR, f"{args.workload}.untraced.json")
    e2e = {m["name"]: measured.get(m["name"]) for m in spec["end_to_end"] if m["name"] != "setup_s"}
    if not args.trace:
        os.makedirs(TRACE_DIR, exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"seed": args.seed, "metrics": e2e}, fh)
        return
    if not os.path.exists(path):
        print("tracing overhead: no untraced run of this workload recorded yet")
        return
    with open(path) as fh:
        base = json.load(fh)
    for name, v in e2e.items():
        b = base["metrics"].get(name)
        if isinstance(v, (int, float)) and isinstance(b, (int, float)) and b:
            print(f"tracing overhead: {name} {v:.6g} traced - {b:.6g} untraced (seed {base['seed']}) "
                  f"= {v - b:+.6g} ({(v - b) / b:+.1%})")


def main():
    started = time.time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("run from the root of a checkout: BENCHMARK.json not found")
    with open(spec_path) as fh:
        spec = json.load(fh)
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {args.workload}")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("the program's sources (src/main/scala/graft) are not in this checkout")
    tuning = sorted(k for k in os.environ if k.startswith("SPARK_GRAFT_"))
    if tuning:
        fail(f"refusing to run with tuning variables set: {', '.join(tuning)}")

    classpath = build(started)
    work = os.path.join(WORK_ROOT, f"{args.workload}-{os.getpid()}")
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d))
    data = os.path.join(HERE, "data", "sf0.01")
    out = os.path.join(work, "result.json")
    cmd = ["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:+UseG1GC",
           *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-cp", os.pathsep.join(classpath), "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--work", work, "--data", data, "--out", out,
           "--spans", os.path.join(TRACE_DIR, f"{args.workload}.jsonl")]
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_")}
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")

    proc = None

    def stop(signum, _frame):
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdin=subprocess.DEVNULL,
                                stdout=sys.stderr, stderr=sys.stderr)
        try:
            proc.wait(timeout=max(10, DEADLINE_S - (time.time() - started)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail("the run exceeded its time limit")
        if not os.path.exists(out):
            fail(f"the JVM wrote no result (exit code {proc.returncode})")
        with open(out) as fh:
            res = json.load(fh)
        attempted, failed, errors = res["attempted"], res["failed"], list(res["errors"])
        if args.workload == "curate_suite" and os.path.exists(os.path.join(work, "curate", "oracle_sql.json")):
            checked, bad = check_curation(work, data)
            attempted += checked
            failed += len(bad)
            errors += bad
    finally:
        shutil.rmtree(work, ignore_errors=True)

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        v = res["metrics"].get(m["name"])
        if isinstance(v, (int, float)) and math.isfinite(v):
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        else:
            errors.append(f"metric {m['name']} was not measured")
    correct = failed == 0 and len(metrics) == len(wanted) and proc.returncode == 0

    for line in res["report"]:
        print(line)
    report_overhead(args, spec, res["metrics"])
    print("conditions: " + ", ".join(f"{k}={v}" for k, v in res["conditions"].items()))
    for e in errors:
        print(f"CHECK FAILED: {e}")
    for name, m in metrics.items():
        print(f"{name} = {m['value']:.6g} {m['unit']}")
    print(f"checks: {attempted - failed} of {attempted} passed; error_rate = "
          f"{failed / max(1, attempted):.4g}")
    print(json.dumps({"correct": correct, "attempted": max(1, attempted), "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
