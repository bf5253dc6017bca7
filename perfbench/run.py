#!/usr/bin/env python3
"""Benchmark of the crawl engine and its operator leaves.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The program is compiled from the
checkout's sources on first use (perfbench/build.py). One JVM runs the
workload as a closed loop with one client on local[4]; its raw record is
turned into metrics here, the query_suite outputs are checked against
DuckDB, and the last stdout line is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. The line before it is the full record (every metric with
its unit, sample counts, the hardware control, per-leaf times).

    python3 perfbench/run.py --self-test     # the benchmark's own tests
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("bulk_crawl", "query_suite")
JVM_TIMEOUT_S = 160  # leaves the DuckDB check room inside 180 s
# a fixed heap: the JVM's resident set then tracks what the run touches,
# not when the collector chose to grow the heap
HEAP = "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def java_cmd(cp, main, args, tmp):
    # no hsperfdata file: the JVM writes nothing outside the checkout
    return (["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss8m",
             f"-Djava.io.tmpdir={tmp}"] +
            [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS] +
            ["-cp", cp, main] + args)


def run_jvm(cmd, log_path):
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             cwd=ROOT)
        try:
            return p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return None


def tail(path, n=30):
    try:
        with open(path, errors="replace") as fh:
            return "".join(fh.readlines()[-n:])
    except OSError:
        return ""


def self_test():
    """Statistics unit tests plus the listener attribution check."""
    import unittest
    suite = unittest.defaultTestLoader.discover(HERE, pattern="test_*.py")
    ok = unittest.TextTestRunner(verbosity=2).run(suite).wasSuccessful()
    cp = build.ensure(ROOT)
    base = os.path.join(ROOT, ".bench_run", f"selftest-{os.getpid()}")
    os.makedirs(os.path.join(base, "tmp"), exist_ok=True)
    try:
        rc = subprocess.run(java_cmd(cp, "perfbench.ListenerCheck", [base],
                                     os.path.join(base, "tmp")),
                            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                            text=True, cwd=ROOT, timeout=JVM_TIMEOUT_S)
        print(rc.stdout.strip())
        ok = ok and rc.returncode == 0
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        print("error: run from a checkout holding the program's sources "
              "(src/main/scala not found)", file=sys.stderr)
        return 2
    if a.self_test:
        return self_test()
    if not a.workload:
        ap.error("--workload is required")

    t0 = time.time()
    cp = build.ensure(ROOT)
    build_s = time.time() - t0
    base = os.path.join(ROOT, ".bench_run", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(base, ignore_errors=True)
    tmp = os.path.join(base, "tmp")
    os.makedirs(tmp)
    raw_path = os.path.join(base, "raw.json")
    log_path = os.path.join(ROOT, ".bench_run", f"{a.workload}-last.log")
    try:
        t_jvm = time.time()
        rc = run_jvm(java_cmd(cp, "perfbench.Main", [
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--base", base, "--out", raw_path], tmp),
            log_path)
        jvm_wall_s = time.time() - t_jvm
        if rc != 0 or not os.path.isfile(raw_path):
            why = "timed out" if rc is None else f"exited {rc}"
            print(f"error: benchmark JVM {why}; log tail:\n{tail(log_path)}",
                  file=sys.stderr)
            return 1
        with open(raw_path) as fh:
            raw = json.load(fh)
        record = summarize(raw, a)
        record["build_s"] = build_s
        record["phases_s"]["jvm_process_s"] = jvm_wall_s
    finally:
        shutil.rmtree(base, ignore_errors=True)
    print(json.dumps({"record": record}, sort_keys=True))
    metrics = record["end_to_end"] if a.trace == 0 else record["per_layer"]
    print(json.dumps({
        "correct": record["failed"] == 0,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": {k: {"value": v["value"], "unit": v["unit"]}
                    for k, v in metrics.items()},
    }))
    return 0


def summarize(raw, a):
    """Checks and metrics of one run, as one JSON-able record."""
    t0 = time.time()
    attempted = raw["check"]["attempted"]
    failed = raw["check"]["failed"]
    failures = list(raw["check"]["failures"])
    if a.workload == "query_suite":
        import check
        leaves = sorted(raw["units"][0]["leaves"])
        run_dir = os.path.dirname(raw["suite_out"])
        fails, check_secs = check.compare(
            raw["data_dir"], raw["suite_out"],
            os.path.join(run_dir, "oracle_sql.json"), leaves,
            os.path.join(run_dir, "check"))
        # the first pass is checked against DuckDB; a leaf that raised
        # fails in every pass it raised in
        for u in raw["units"]:
            for leaf, err in u["errors"].items():
                fails.setdefault(leaf, err)
        attempted += sum(len(u["leaves"]) for u in raw["units"])
        failed += len(fails) + sum(
            len([k for k in u["errors"] if k not in fails])
            for u in raw["units"][1:])
        failures += [f"{k}: {v}" for k, v in sorted(fails.items())]
    check_s = time.time() - t0
    e2e, n_rounds = stats.end_to_end(raw)
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "attempted": attempted, "failed": failed,
        "failures": failures, "duckdb_check_s": check_s,
        "ops_failed_ratio": stats.failure_ratio(attempted, failed),
        "round_samples": n_rounds,
        "round_highest_supported_percentile": stats.highest_supported(n_rounds),
        "units": len(raw["units"]),
        "setup_samples_s": raw["setup_s"],
        "warmup_s": raw.get("warmup_s"),
        "session_s": raw["session_s"],
        "phases_s": {k: raw[k] for k in ("jvm_s", "loop_s", "outputs_s", "stop_s")
                     if k in raw},
        "control_canon_rows_per_s": {"pre": raw["control_pre"],
                                     "post": raw["control_post"]},
        "end_to_end": {k: {"value": v, "unit": stats.UNITS[k]}
                       for k, v in e2e.items()},
    }
    rounds = [r for u in raw["units"] for r in u["rounds"]]
    record["round_vs_engine_wall_ms_max_abs"] = max(
        (abs(r["ms"] - r["engine_ms"]) for r in rounds), default=0)
    if a.workload == "query_suite":
        plain = [u for u in raw["units"] if not u["traced"]]
        record["leaf_s"] = {k: stats.median([u["leaves"][k] for u in plain])
                            for k in plain[0]["leaves"]}
        record["check_slowest_s"] = dict(sorted(
            check_secs.items(), key=lambda kv: -kv[1])[:5])
        record["module_s"] = {k: stats.median([u["modules"][k] for u in plain])
                              for k in plain[0]["modules"]}
    if a.trace == 1:
        units = stats.per_layer_units()
        record["per_layer"] = {k: {"value": v, "unit": units[k]}
                               for k, v in stats.per_layer(raw).items()}
        record["replay_rounds"] = {k: v["round"]
                                   for k, v in raw["replay"].items()}
        record["listener_rounds"] = len(raw["round_listener"])
        sites = {}
        for r in raw["round_listener"]:
            for site, v in r["by_site"].items():
                s = sites.setdefault(site, {"jobs": 0, "tasks": 0, "run_ms": 0})
                for k in s:
                    s[k] += v[k]
        record["jobs_by_root_call_site"] = sites
    return record


if __name__ == "__main__":
    sys.exit(main())
