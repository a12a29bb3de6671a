#!/usr/bin/env python3
"""Steadiness report for the graft benchmark.

    python3 perfbench/steadiness.py [--seeds 1-10] [--sets 1] [--trace]
                                    [--workloads a,b] [--reuse]

Run it from the repository root. For every workload of BENCHMARK.json
and every seed it runs perfbench/run.py, `--sets` times over the same
seeds. Per end-to-end metric and workload it prints each set's median
and quartiles (Python's statistics.quantiles(values, n=4)) and the
spread (q3 - q1) / median, and checks:

  - each spread against the metric's bound, and against a third of it
    (the margin the benchmark aims for); setup_s is held to this too,
    although a driver that compares two builds needs only its median;
  - from the second set on, that the median is not worse than the first
    set's by more than the bound (setup_s included).

With --trace it also makes a traced run per seed and set, checks that
the counts perfbench/metrics.json marks exact repeat exactly for each seed across
sets, and reports tracing overhead (traced minus untraced median).
Every run's last line is kept in .bench_work/steadiness/; --reuse reads
those instead of running again. Exits 1 if a check fails.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".bench_work", "steadiness")


def seeds_of(spec):
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def run(bench, workload, seed, trace, tag, reuse):
    path = os.path.join(OUT, f"{tag}-{workload}-s{seed}-t{trace}.json")
    if reuse and os.path.exists(path):
        return json.load(open(path))
    cmd = bench["command"] + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(bench["run_seconds"]),
                              "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=1000)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        sys.stderr.write(p.stderr[-2000:])
        raise SystemExit(f"{workload} seed {seed} trace {trace}: exit {p.returncode}")
    res = {"result": json.loads(lines[-1]), "report": json.loads(lines[-2])}
    os.makedirs(OUT, exist_ok=True)
    json.dump(res, open(path, "w"))
    return res


def quartiles(vs):
    q1, q2, q3 = statistics.quantiles(vs, n=4)
    return q1, q2, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--sets", type=int, default=1)
    ap.add_argument("--trace", action="store_true")
    ap.add_argument("--workloads")
    ap.add_argument("--reuse", action="store_true")
    a = ap.parse_args()
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    workloads = (a.workloads.split(",") if a.workloads
                 else [w["name"] for w in bench["workloads"]])
    seeds = seeds_of(a.seeds)
    ok = True
    report = {}
    for w in workloads:
        sets = []
        traced = []
        for s in range(a.sets):
            rs = [run(bench, w, seed, 0, f"set{s}", a.reuse) for seed in seeds]
            sets.append(rs)
            if a.trace:
                traced.append([run(bench, w, seed, 1, f"set{s}", a.reuse)
                               for seed in seeds])
        bad = [(s, r["report"]["seed"]) for s, rs in enumerate(sets) for r in rs
               if not r["result"]["correct"] or r["result"]["failed"]]
        if bad:
            ok = False
            print(f"{w}: incorrect or failed runs (set, seed): {bad}")
        report[w] = {}
        for m in bench["end_to_end"]:
            name, bound = m["name"], m["bound"]
            rows = []
            for s, rs in enumerate(sets):
                vs = [r["result"]["metrics"][name]["value"] for r in rs]
                q1, med, q3 = quartiles(vs)
                spread = (q3 - q1) / med
                row = {"median": med, "q1": q1, "q3": q3, "spread": spread,
                       "values": vs}
                row["within_bound"] = spread <= bound
                row["within_third"] = spread <= bound / 3
                ok &= row["within_bound"]
                if s > 0:
                    worse = (med - rows[0]["median"]) / rows[0]["median"]
                    if m["better"] == "higher":
                        worse = -worse
                    row["worse_than_first"] = worse
                    row["median_within_bound"] = worse <= bound
                    ok &= row["median_within_bound"]
                rows.append(row)
            report[w][name] = rows
            for s, row in enumerate(rows):
                flags = " ".join(f"{k}={row[k]}" for k in
                                 ("within_bound", "within_third", "median_within_bound")
                                 if k in row)
                print(f"{w:24s} {name:10s} set{s} median={row['median']:.4f} "
                      f"q1={row['q1']:.4f} q3={row['q3']:.4f} "
                      f"spread={row['spread']:.3f} bound={bound} {flags}")
        if a.trace:
            exact = json.load(open(os.path.join(ROOT, "perfbench", "metrics.json")))["exact"]
            varying = []
            for name in exact:
                for i, seed in enumerate(seeds):
                    vals = {t[i]["report"]["layer"].get(name) for t in traced}
                    if len(vals) > 1:
                        varying.append((name, seed, sorted(vals, key=str)))
            names = sorted({v[0] for v in varying})
            report[w]["exact_repeat"] = [n for n in exact if n not in names]
            report[w]["exact_varying"] = names
            print(f"{w:24s} exact counts repeating across sets: "
                  f"{len(exact) - len(names)}/{len(exact)}; varying: {names}")
            overhead = {}
            for m in bench["end_to_end"]:
                un = statistics.median(r["result"]["metrics"][m["name"]]["value"]
                                       for r in sets[0])
                tr = statistics.median(r["report"]["metrics"][m["name"]]
                                       for r in traced[0])
                overhead[m["name"]] = {"traced": tr, "untraced": un,
                                       "overhead": tr - un}
                print(f"{w:24s} {m['name']:10s} tracing overhead "
                      f"{tr - un:+.4f} (traced {tr:.4f}, untraced {un:.4f})")
            report[w]["tracing_overhead"] = overhead
    os.makedirs(OUT, exist_ok=True)
    json.dump(report, open(os.path.join(OUT, "report.json"), "w"), indent=1)
    print("steady" if ok else "NOT steady")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
