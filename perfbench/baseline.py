#!/usr/bin/env python3
"""Runs the benchmark over several seeds and records the results.

    python3 perfbench/baseline.py --seeds 1-10 --out perfbench/baseline/<name>.json

For each seed, each workload runs once untraced (workloads interleaved, so
a slow spell of the host lands on both); then each workload runs once
traced. The record keeps every run's result line and full record, and per
end-to-end metric the median, quartiles and spread (quartile distance over
median) next to the metric's bound in BENCHMARK.json.
"""
import argparse
import datetime
import json
import os
import platform
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402


def seeds_of(spec):
    out = []
    for part in spec.split(","):
        if "-" in part:
            lo, hi = part.split("-")
            out += range(int(lo), int(hi) + 1)
        else:
            out.append(int(part))
    return out


def run_once(workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace)]
    t0 = time.time()
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True, cwd=ROOT)
    wall = time.time() - t0
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        return {"workload": workload, "seed": seed, "trace": trace,
                "exit": p.returncode, "wall_s": wall,
                "stderr": p.stderr[-2000:]}
    return {"workload": workload, "seed": seed, "trace": trace, "exit": 0,
            "wall_s": wall, "result": json.loads(lines[-1]),
            "record": json.loads(lines[-2])["record"]}


def host():
    model = ""
    try:
        with open("/proc/cpuinfo") as fh:
            model = next((l.split(":", 1)[1].strip() for l in fh
                          if l.startswith("model name")), "")
    except OSError:
        pass
    mem_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    return {"cpus": os.cpu_count(), "cpu_model": model,
            "mem_gb": round(mem_gb, 1), "platform": platform.platform()}


def summarize(runs, bench):
    out = {}
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for w in bench_workloads(bench):
        ok = [r for r in runs if r["workload"] == w and r["trace"] == 0
              and r["exit"] == 0]
        per = {}
        for name, bound in bounds.items():
            xs = [r["result"]["metrics"][name]["value"] for r in ok]
            if not xs:
                continue
            q1, q2, q3 = stats.quartiles(xs)
            per[name] = {"median": q2, "q1": q1, "q3": q3,
                         "spread": stats.spread(xs), "bound": bound,
                         "runs": len(xs)}
        out[w] = per
    return out


def bench_workloads(bench):
    return [w["name"] for w in bench["workloads"]]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    workloads = bench_workloads(bench)
    seconds = bench["run_seconds"]
    seeds = seeds_of(a.seeds)
    started = datetime.datetime.now(datetime.timezone.utc).isoformat()
    runs = []
    for s in seeds:
        for w in workloads:
            runs.append(run_once(w, s, seconds, 0))
            print(json.dumps({k: runs[-1].get(k) for k in
                              ("workload", "seed", "trace", "exit", "wall_s")}),
                  file=sys.stderr)
    for w in workloads:
        runs.append(run_once(w, seeds[-1] + 1, seconds, 1))
    record = {
        "command": "python3 perfbench/baseline.py --seeds " + a.seeds,
        "started_utc": started,
        "finished_utc": datetime.datetime.now(
            datetime.timezone.utc).isoformat(),
        "host": host(),
        "summary": summarize(runs, bench),
        "wall_s_total": sum(r["wall_s"] for r in runs),
        "runs": runs,
    }
    os.makedirs(os.path.dirname(os.path.abspath(a.out)), exist_ok=True)
    with open(a.out, "w") as fh:
        json.dump(record, fh, indent=1, sort_keys=True)
    print(json.dumps(record["summary"], indent=1, sort_keys=True))
    return 0 if all(r["exit"] == 0 for r in runs) else 1


if __name__ == "__main__":
    sys.exit(main())
