"""Statistics of the benchmark, and the mapping from the JVM's raw record
(samples) to a run's metrics.

A "unit" is what the closed-loop client submits and waits for: one
CrawlEngine.run for bulk_crawl, one pass over the declared leaves for
query_suite. Units may be traced (a SparkListener attached) or untraced;
end-to-end metrics use only untraced units.
"""
import statistics

# percentiles the benchmark may report, lowest first
PERCENTILES = (50, 75, 90, 95, 99)


def median(xs):
    if not xs:
        raise ValueError("median of no samples")
    return float(statistics.median(xs))


def quartiles(xs):
    """(first quartile, median, third quartile) as
    statistics.quantiles(xs, n=4) gives them (its default 'exclusive'
    method); a single sample is its own quartiles."""
    if not xs:
        raise ValueError("quartiles of no samples")
    if len(xs) == 1:
        x = float(xs[0])
        return x, x, x
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def spread(xs):
    """Distance between the quartiles as a share of the median."""
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / abs(q2) if q2 else float("inf")


def percentile(xs, p):
    """p-th percentile, linear between closest ranks (the 'inclusive'
    definition: the 0th is the minimum, the 100th the maximum)."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no samples")
    k = (len(s) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def beyond(n, p):
    """How many of n sorted samples lie strictly above the p-th
    percentile's position (ties at that position are not counted)."""
    return n - 1 - ((n - 1) * p) // 100


def highest_supported(n, min_beyond=10):
    """Highest of PERCENTILES with at least `min_beyond` samples beyond
    it, or None when even the median lacks them."""
    best = None
    for p in PERCENTILES:
        if beyond(n, p) >= min_beyond:
            best = p
    return best


def failure_ratio(attempted, failed):
    """Failed share of attempted operations."""
    if attempted < 1:
        raise ValueError("nothing attempted")
    if not 0 <= failed <= attempted:
        raise ValueError("failed must lie in [0, attempted]")
    return failed / attempted


# ---------------- raw record -> metrics ----------------

LISTENER = [  # (metric, raw key)
    ("engine.jobs_per_round", "jobs"),
    ("engine.tasks_per_round", "tasks"),
    ("engine.exec_run_ms", "run_ms"),
    ("engine.sched_delay_ms", "sched_delay_ms"),
    ("engine.driver_gap_ms", "gap_ms"),
    ("engine.shuffle_write_bytes", "shuffle_write_bytes"),
    ("engine.shuffle_read_bytes", "shuffle_read_bytes"),
    ("engine.spill_bytes", "spill_bytes"),
    ("engine.output_bytes", "output_bytes"),
    ("engine.output_files", "output_files"),
]

REPLAY = [
    "replay.scan_ms", "canon.canonicalize_ms", "canon.rows_per_s",
    "dedup.bloom_probe_ms", "dedup.bloom_pass_ratio",
    "dedup.exact_antijoin_ms", "dedup.first_occurrence_ms",
    "dedup.filter_build_ms", "dedup.new_ratio",
    "politeness.robots_filter_ms", "politeness.budget_rank_ms",
    "politeness.carried_ratio", "engine.assign_seq_ms", "engine.checkpoint_ms",
    "engine.fetch_ms",
    "engine.fetch_ok_ratio", "router.route_ms", "engine.sink_write_ms",
    "engine.commit_ms",
]

# end-to-end metrics measured inside the loop, whose tracing overhead the
# traced run reports (set-up, memory and disk are per run, not per unit)
LOOP_METRICS = ["urls_per_s", "round_p50_ms", "round_p75_ms", "suite_s"]


def loop_metrics(units):
    """Throughput, round latency and per-unit seconds over `units`."""
    rounds = [r["ms"] for u in units for r in u["rounds"]]
    sched = sum(u["scheduled"] for u in units)
    crawl_s = sum(u["crawl_s"] for u in units)
    return {
        "urls_per_s": sched / crawl_s,
        "round_p50_ms": percentile(rounds, 50),
        "round_p75_ms": percentile(rounds, 75),
        "suite_s": median([u["wall_s"] for u in units]),
    }, len(rounds)


UNITS = {"setup_s": "s", "urls_per_s": "urls/s", "round_p50_ms": "ms",
         "round_p75_ms": "ms", "suite_s": "s", "peak_rss_mb": "MB",
         "work_dir_mb": "MB"}


def end_to_end(raw):
    plain = [u for u in raw["units"] if not u["traced"]]
    m, n_rounds = loop_metrics(plain)
    m["setup_s"] = median(raw["setup_s"]) + raw.get("warmup_s", 0.0)
    m["peak_rss_mb"] = raw["peak_rss_mb"]
    m["work_dir_mb"] = median(raw["work_dir_mb"])
    return m, n_rounds


def per_layer(raw):
    """Listener means per crawl round, replayed layer timings of the
    heaviest and median round, and traced-minus-untraced overheads."""
    out = {}
    rows = raw["round_listener"]
    n = len(rows)
    for name, key in LISTENER:
        out[name] = sum(r[key] for r in rows) / n
    wall = sum(r["wall_ms"] for r in rows)
    out["engine.core_util"] = sum(r["run_ms"] for r in rows) / \
        (wall * raw["cpus"])
    for which, prefix in (("heaviest", ""), ("median", "median_round.")):
        got = raw["replay"][which]["metrics"]
        for name in REPLAY:
            out[prefix + name] = got[name]
    # units before the first traced one only warm up: compare the traced
    # unit with the untraced units that follow it
    units = raw["units"]
    first = next(i for i, u in enumerate(units) if u["traced"])
    plain, _ = loop_metrics([u for u in units[first:] if not u["traced"]])
    traced, _ = loop_metrics([u for u in units if u["traced"]])
    for name in LOOP_METRICS:
        out["overhead." + name] = traced[name] - plain[name]
    return out


def per_layer_units():
    units = {}
    for name, key in LISTENER:
        units[name] = "ms" if name.endswith("_ms") else (
            "bytes" if name.endswith("_bytes") else "count")
    units["engine.core_util"] = "ratio"
    for prefix in ("", "median_round."):
        for name in REPLAY:
            units[prefix + name] = "ms" if name.endswith("_ms") else (
                "rows/s" if name.endswith("_per_s") else "ratio")
    for name in LOOP_METRICS:
        units["overhead." + name] = UNITS[name]
    return units
