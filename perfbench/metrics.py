"""Turns one run's raw samples (written by the JVM harness) into metrics.

Kept free of I/O so test_metrics.py can check the arithmetic on canned input.
"""
import statistics

MB = 1e6


def median(values):
    return statistics.median(values) if values else float("nan")


def percentile(values, p):
    """Nearest-rank percentile (p in 0..100) with the count of samples above it."""
    if not values:
        return float("nan"), 0
    s = sorted(values)
    k = max(1, -(-p * len(s) // 100))  # ceil(p/100 * n), at least the first rank
    v = s[int(k) - 1]
    return v, sum(1 for x in s if x > v)


def error_rate(attempted, failed):
    return failed / attempted if attempted else 1.0


def self_time(outer, inner):
    """Time of a layer measured as an outer run minus the inner run it wraps."""
    return outer - inner


def setup_s(raw):
    return median([s["total_s"] for s in raw["setups"]])


def xml_end_to_end(raw):
    """Passes run from input to complete output files; only untraced passes
    count, so the traced run's spans never inflate end-to-end figures."""
    untraced = [p for p in raw["passes"] if not p["traced"]]
    walls = [p["wall_s"] for p in untraced]
    wall = median(walls)
    return {
        "setup_s": (setup_s(raw), "s", len(raw["setups"])),
        "wall_s": (wall, "s", len(walls)),
        "cpu_s": (median([p["cpu_s"] for p in untraced]), "s", len(walls)),
        "input_mb_s": (raw["input_bytes"] / MB / wall, "MB/s", len(walls)),
        "peak_rss_mb": (raw["peak_rss_mb"], "MB", 1),
    }


def timed_visits(raw, traced=False):
    """Visits of the timed passes (warm-up passes excluded), traced or not."""
    return [v for v in raw["visits"] if not v["warm"] and v["traced"] == traced]


def complete_passes(visits, n_queries, key=lambda v: v["construct_s"] + v["execute_s"]):
    """Per-pass sums of `key` (default construct + execute time) over the
    passes that visited every query."""
    by_pass = {}
    for v in visits:
        by_pass.setdefault(v["pass"], []).append(key(v))
    return [sum(ts) for ts in by_pass.values() if len(ts) == n_queries]


def visit_latency(raw):
    """p50 and p90 of one timed query visit, each with the number of visits
    above it (a percentile is only trustworthy with ten or more above it)."""
    per_visit = [v["construct_s"] + v["execute_s"] for v in timed_visits(raw)]
    return {f"query_p{p}_s": percentile(per_visit, p) + (len(per_visit),) for p in (50, 90)}


def curation_end_to_end(raw, n_queries):
    visits = timed_visits(raw)
    walls = complete_passes(visits, n_queries)
    wall = median(walls)
    return {
        "setup_s": (setup_s(raw), "s", len(raw["setups"])),
        "wall_s": (wall, "s", len(walls)),
        "cpu_s": (median(complete_passes(visits, n_queries, lambda v: v["cpu_s"])), "s",
                  len(walls)),
        "input_mb_s": (raw["input_bytes"] / MB / wall, "MB/s", len(walls)),
        "peak_rss_mb": (raw["peak_rss_mb"], "MB", 1),
    }


def jit_per_pass(raw, workload_is_xml, n_queries):
    """Median CPU of the JIT compiler threads over one untraced timed pass:
    the share of process CPU that cpu_s leaves out."""
    if workload_is_xml:
        return median([p["jit_s"] for p in raw["passes"] if not p["traced"]])
    return median(complete_passes(timed_visits(raw), n_queries, lambda v: v["jit_s"]))


def attempts(raw, workload_is_xml, oracle_failures):
    """(attempted, failed): every timed pass or visit and every untimed check
    (warm passes, the DSv2 select pass, curation verification visits)."""
    if workload_is_xml:
        items = raw["passes"] + raw["checks"]
        return len(items), sum(1 for p in items if not p["ok"])
    items = raw["visits"]
    failed = sum(1 for v in items if not v["ok"]) + len(oracle_failures)
    return len(items) + len(raw["verified_rows"]) + len(raw["verify_errors"]), failed


def _roots(spans):
    """Map span id -> id of its top-level ancestor."""
    parent = {s["id"]: s["parent"] for s in spans}
    root = {}
    for sid in parent:
        r = sid
        while parent.get(r, -1) != -1:
            r = parent[r]
        root[sid] = r
    return root


def spark_per_pass(spans, cpus):
    """Spark counters of the traced passes, averaged per pass."""
    by_id = {s["id"]: s for s in spans}
    root = _roots(spans)
    passes = [s for s in spans if s["name"] == "pass"]
    n = len(passes)
    mine = [s for s in spans if by_id[root[s["id"]]]["name"] == "pass"]
    if not n:
        return {}

    def total(key):
        return sum(s[key] for s in mine)

    wall = sum(p["end_s"] - p["start_s"] for p in passes)
    skews = [k for s in mine for k in s["stage_skew"]]
    return {
        "spark.jobs": (total("jobs") / n, "count"),
        "spark.stages": (total("stages") / n, "count"),
        "spark.tasks": (total("tasks") / n, "count"),
        "spark.sched_overhead_s": ((total("task_s") - total("run_s")) / n, "s"),
        "spark.executor_cpu_s": (total("cpu_s") / n, "s"),
        "spark.busy_ratio": (total("run_s") / (wall * cpus) if wall else 0.0, "ratio"),
        "spark.task_skew": (median(skews) if skews else 1.0, "ratio"),
        "spark.shuffle_write_mb": (total("shuffle_write_b") / MB / n, "MB"),
        "spark.shuffle_read_mb": (total("shuffle_read_b") / MB / n, "MB"),
        "spark.spill_disk_mb": (total("spill_disk_b") / MB / n, "MB"),
        "spark.spill_mem_mb": (total("spill_mem_b") / MB / n, "MB"),
        "spark.gc_s": (total("gc_s") / n, "s"),
        "spark.peak_exec_mem_mb": (max(s["peak_exec_mem_b"] for s in mine) / MB, "MB"),
    }


def query_layers(spans, visits, query_names):
    """Construction versus execution, per traced pass, and each query's median
    time over its successful timed visits."""
    n = sum(1 for s in spans if s["name"] == "pass")
    out = {}
    for phase in ("construct", "execute"):
        mine = [s for s in spans if s["name"] == phase]
        out[f"queries.{phase}_s"] = (
            sum(s["end_s"] - s["start_s"] for s in mine) / n if n else 0.0, "s")
        out[f"queries.{phase}_jobs"] = (sum(s["jobs"] for s in mine) / n if n else 0.0, "count")
    for q in query_names:
        ts = [v["construct_s"] + v["execute_s"] for v in visits
              if v["q"] == q and v["ok"] and not v["warm"]]
        out[f"query.{q}_s"] = (median(ts) if ts else 0.0, "s")
    return out


def xml_layers(raw):
    """Layer self-times from the traced probes (each a median of its repeats)."""
    p = {k: median(v) for k, v in raw["probes"].items()}
    ip = raw["inprocess"]
    return {
        "xml.read_s": (p["read"], "s"),
        "xml.fold_s": (self_time(p["rows"], p["tuples"]), "s"),
        "xml.sink_s": (self_time(p["full"], p["rows"]), "s"),
        "xml.sink_mb": (raw["sink_bytes"] / MB, "MB"),
        "sources.graft_xml_s": (p["graft_xml"], "s"),
        "sources.graft_xml_partitions": (raw["graft_xml_partitions"], "count"),
        "xml.pivot_window_s": (self_time(p["pivot"], p["tuples_from_fragments"]), "s"),
        "xml.scan_ns_per_byte": (median(ip["scan_s"]) * 1e9 / ip["scan_bytes"], "ns/B"),
        "xml.scan_fragments": (ip["fragments"], "count"),
        "xml.project_ns_per_fragment": (
            median(ip["project_s"]) * 1e9 / ip["fragments"] if ip["fragments"] else 0.0, "ns"),
        "xml.project_tuples": (ip["tuples"], "count"),
    }


def trace_overhead(raw, workload_is_xml, n_queries):
    """Traced minus untraced pass time, both measured in the traced run. The
    listener stays attached in both, so this is the cost of the spans and the
    per-job attribution; compare with wall_s of an untraced run for the rest."""
    if workload_is_xml:
        t = [p["wall_s"] for p in raw["passes"] if p["traced"]]
        u = [p["wall_s"] for p in raw["passes"] if not p["traced"]]
    else:
        t = complete_passes(timed_visits(raw, traced=True), n_queries)
        u = complete_passes(timed_visits(raw), n_queries)
    return median(t) - median(u) if t and u else 0.0
