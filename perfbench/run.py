#!/usr/bin/env python3
"""graft benchmark: one command runs one workload and checks its output.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root. A run first builds graft and the
harness from source with sbt (perfbench/build.sbt) unless the build in
.bench_build/ was made from the same sources; each run then starts one
JVM. Inputs are generated from --seed inside .bench_work/,
which the run removes again, keeping only its report and spans under
.bench_work/reports/.

Workloads (one client thread, closed loop, local[nproc]):
  medallion_incremental  Bronze -> Silver -> DQ -> Gold over Delta, JSON
                         micro-batches, one Trigger.AvailableNow per stage;
                         times a fixed four batches whatever --seconds says
  gold_queries           a fixed mix of SparkEntry.queries over parquet;
                         whole passes until --seconds is up, at least three

The last stdout line is the result:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 its per-layer metrics. The line before it is the full
report: provenance, the workload's own named metrics with units, output
checks and, when traced, self times per layer.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()
HERE = os.path.join(ROOT, "perfbench")
WORKLOADS = ("medallion_incremental", "gold_queries")
JVM_TIMEOUT_S = 150
# names a run may report beside its metrics (all in seconds), with units
NAMED = {"query_p75_s": "s", "query_p90_s": "s", "query_p99_s": "s",
         "space_amp": "ratio", "failed_ratio": "ratio"}
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def classpath(inputs):
    """Builds graft plus the harness with sbt's incremental compile when
    the digest `inputs` of their sources differs from that of the last
    build in this checkout, and returns the runtime classpath."""
    bdir = os.path.join(ROOT, ".bench_build")
    stamp = os.path.join(bdir, "perfbench.classpath.json")
    if os.path.exists(stamp):
        s = json.load(open(stamp))
        cp = s.get("classpath", "")
        if (s.get("inputs") == inputs and s.get("root") == ROOT and cp
                and all(os.path.exists(p) for p in cp.split(os.pathsep))):
            return cp
    os.makedirs(bdir, exist_ok=True)
    log = os.path.join(bdir, "sbt.log")
    with open(log, "w") as f:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, stdout=f, stderr=subprocess.STDOUT, timeout=700)
    lines = [l.strip() for l in open(log) if l.strip()]
    if r.returncode != 0 or not lines or "classes" not in lines[-1]:
        die(f"build failed, see {log}", 1)
    json.dump({"inputs": inputs, "root": ROOT, "classpath": lines[-1]},
              open(stamp, "w"))
    return lines[-1]


def loadavg():
    try:
        return [float(x) for x in open("/proc/loadavg").read().split()[:3]]
    except OSError:
        return None


def build_inputs():
    """The files the harness build reads: graft's main sources and
    resources, and the harness's sources and build definition."""
    files = (glob.glob(os.path.join(ROOT, "src/main/**/*"), recursive=True) +
             glob.glob(os.path.join(HERE, "src/**/*"), recursive=True) +
             [os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")])
    return sorted(p for p in files if os.path.isfile(p))


def build_digest():
    h = hashlib.sha256()
    for p in build_inputs():
        h.update(os.path.relpath(p, ROOT).encode() + b"\0")
        h.update(open(p, "rb").read())
    return h.hexdigest()


def commit():
    """The commit hash when git knows the tree (an exported checkout
    has no .git, and its provenance is the source digest alone)."""
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
        if r.returncode == 0:
            return {"commit": r.stdout.strip()}
    except (OSError, subprocess.SubprocessError):
        pass
    return {}


# ---- DuckDB oracle for gold_queries ---------------------------------------

def _render(v):
    if v is None or (isinstance(v, float) and v != v):
        return "<null>"
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, int) and not isinstance(v, bool):
        return str(v)
    return repr(v)


def _canon(cur):
    cols = [d[0] for d in cur.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted("|".join(_render(r[i]) for i in order) for r in cur.fetchall())
    return [cols[i] for i in order], rows


def oracle_check(report):
    """Runs each query's oracleSql in DuckDB over the run's parquet
    tables and compares it with graft's result: same columns, same
    rendered rows as a multiset, ints never matching floats."""
    import duckdb
    con = duckdb.connect()
    data = report["oracle_data"]
    for d in sorted(glob.glob(os.path.join(data, "*.parquet"))):
        t = os.path.basename(d)[:-len(".parquet")]
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{d}/*.parquet'")
    res = {}
    for q, sql in sorted(report["oracle"].items()):
        files = glob.glob(os.path.join(report["oracle_results"], q, "*.parquet"))
        if not files:
            res[q] = "missing"
            continue
        try:
            want = _canon(con.execute(sql))
        except Exception as e:  # an oracle that fails is a failed check
            res[q] = f"oracle error: {str(e)[:120]}"
            continue
        got = _canon(con.execute(
            f"SELECT * FROM '{report['oracle_results']}/{q}/*.parquet'"))
        if want[0] != got[0]:
            res[q] = f"columns {want[0]} vs {got[0]}"
        elif len(want[1]) != len(got[1]):
            res[q] = f"rows {len(want[1])} vs {len(got[1])}"
        elif want[1] != got[1]:
            bad = sum(1 for a, b in zip(want[1], got[1]) if a != b)
            res[q] = f"{bad} rows differ"
        else:
            res[q] = "ok"
    return res


# ---- main ------------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("run from the root of a graft checkout (src/main/scala/graft missing)")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        die("java and sbt must be on PATH")
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))

    load_start = loadavg()
    sources = build_digest()
    cp = classpath(sources)
    work_root = os.path.join(ROOT, ".bench_work")
    work = os.path.join(work_root, f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out_file = os.path.join(work, "outcome.json")
    heap = "3g"
    # A run is short and cold. C1 only: C2 compiles would compete with
    # the task threads for the cores, at times that vary run to run.
    # The parallel collector has cheaper write barriers than G1, and
    # skipping verification of classpath classes (built from source
    # above) and of generated code shortens class loading.
    cmd = (["java", f"-Xmx{heap}", "-XX:TieredStopAtLevel=1",
            "-XX:+UseParallelGC", "-XX:+UnlockDiagnosticVMOptions",
            "-XX:-BytecodeVerificationRemote",
            f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Dderby.system.home=" + os.path.join(work, "derby")] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", cp, "perfbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--out", out_file])
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as f:
        p = subprocess.Popen(cmd, cwd=work, stdout=f, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            die(f"JVM did not finish within {JVM_TIMEOUT_S}s, see {log}", 1)
    if rc != 0 or not os.path.exists(out_file):
        sys.stderr.write("".join(open(log).readlines()[-40:]))
        die(f"JVM exited with {rc}", 1)
    r = json.load(open(out_file))

    attempted, failed = r["attempted"], r["failed"]
    checks = dict(r["checks"])
    if "oracle" in r:
        oracle = oracle_check(r)
        r["oracle_checks"] = oracle
        for q, v in oracle.items():
            attempted += 1
            ok = v == "ok"
            failed += 0 if ok else 1
            checks[f"oracle:{q}"] = ok
            if not ok:
                print(f"perfbench: oracle mismatch {q}: {v}", file=sys.stderr)
        for k in ("oracle", "oracle_data", "oracle_results"):
            r.pop(k, None)
    correct = bool(checks) and all(checks.values())

    if a.trace:  # a layer the workload leaves idle reads 0
        metrics = {m["name"]: {"value": r["layer"].get(m["name"], 0.0), "unit": m["unit"]}
                   for m in bench["per_layer"]}
    else:
        missing = [m["name"] for m in bench["end_to_end"] if m["name"] not in r["metrics"]]
        if missing:
            die(f"metrics {missing} missing from the run", 1)
        metrics = {m["name"]: {"value": r["metrics"][m["name"]], "unit": m["unit"]}
                   for m in bench["end_to_end"]}

    report = dict(r)
    named = dict(r["metrics"])
    named.update({k: r[k] for k in NAMED if k in r})
    named["failed_ratio"] = failed / max(1, attempted)
    report.update({
        "checks": checks, "attempted": attempted, "failed": failed,
        "named_metrics": {k: {"value": v, "unit": NAMED.get(k, "s")}
                          for k, v in sorted(named.items())},
        "provenance": dict(seed=a.seed, nproc=os.cpu_count(),
                           jvm_heap=heap, jvm_heap_max_bytes=r["jvm_heap_max_bytes"],
                           loadavg_start=load_start, loadavg_end=loadavg(),
                           source_sha256=sources, **commit()),
    })
    reports = os.path.join(work_root, "reports")
    os.makedirs(reports, exist_ok=True)
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    json.dump(report, open(os.path.join(reports, tag + ".json"), "w"), indent=1)
    shutil.copy(log, os.path.join(reports, tag + ".jvm.log"))
    if os.path.exists(os.path.join(work, "spans.jsonl")):
        shutil.copy(os.path.join(work, "spans.jsonl"),
                    os.path.join(reports, tag + ".spans.jsonl"))
    shutil.rmtree(work, ignore_errors=True)

    print(json.dumps(report, sort_keys=True))
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
