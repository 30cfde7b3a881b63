"""Self-test of the benchmark's arithmetic on canned samples.

    python3 perfbench/test_metrics.py
"""
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import metrics  # noqa: E402

BENCH = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
WORKLOADS = json.load(open(os.path.join(HERE, "workloads.json")))


def span(i, name, parent=-1, start=0.0, end=1.0, **counters):
    base = {"id": i, "name": name, "parent": parent, "workload": "w",
            "start_s": start, "end_s": end, "jobs": 0, "stages": 0, "tasks": 0,
            "task_s": 0.0, "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
            "shuffle_write_b": 0, "shuffle_read_b": 0, "spill_disk_b": 0,
            "spill_mem_b": 0, "peak_exec_mem_b": 0, "stage_skew": []}
    base.update(counters)
    return base


SETUPS = [{"session_s": 4.0, "warmup_s": 2.0, "total_s": 6.0},
          {"session_s": 0.5, "warmup_s": 1.0, "total_s": 1.5},
          {"session_s": 0.4, "warmup_s": 1.2, "total_s": 1.6}]


def xml_raw():
    walls = [1.0, 1.2, 0.9, 1.1, 5.0]
    return {
        "setups": SETUPS, "input_bytes": 50_000_000, "peak_rss_mb": 900.0,
        "passes": [{"wall_s": w, "cpu_s": 2 * w, "jit_s": w / 2, "ok": True, "traced": False}
                   for w in walls]
        + [{"wall_s": 1.3, "cpu_s": 2.6, "jit_s": 9.0, "ok": False, "traced": True}],
        "probes": {"read": [0.4, 0.5, 0.6], "rows": [0.8, 0.7, 0.9], "tuples": [0.5, 0.5, 0.6],
                   "full": [1.4, 1.2, 1.3], "graft_xml": [2.0, 2.2, 2.1],
                   "tuples_from_fragments": [2.3, 2.4, 2.5], "pivot": [2.6, 2.9, 2.8]},
        "graft_xml_partitions": 4,
        "checks": [{"name": "dsv2_select", "ok": True}, {"name": "warm_pass", "ok": False}],
        "sink_bytes": 3_000_000,
        "inprocess": {"scan_s": [0.1, 0.1, 0.2], "scan_bytes": 50_000_000, "fragments": 1000,
                      "project_s": [0.002, 0.001, 0.003], "tuples": 2000},
        "spans": [span(0, "pass", end=2.0, jobs=1, stages=2, tasks=8, task_s=3.0, run_s=2.0,
                       cpu_s=1.5, stage_skew=[1.5, 2.5]),
                  span(1, "probe.read", jobs=5)],
    }


def curation_raw():
    visits = []
    for p in range(3):
        for q, t in (("qa", 1.0), ("qb", 2.0)):
            visits.append({"q": q, "pass": p, "construct_s": 0.1 * (p + 1), "execute_s": t,
                           "cpu_s": 3 * t, "jit_s": t / 2, "ok": True, "traced": p == 2,
                           "warm": False})
    visits.append({"q": "qa", "pass": 3, "construct_s": 0.0, "execute_s": 9.0,
                   "cpu_s": 1.0, "jit_s": 7.0, "ok": False, "traced": False,
                   "warm": False})  # incomplete
    visits.append({"q": "qa", "pass": -1, "construct_s": 5.0, "execute_s": 5.0,
                   "cpu_s": 9.0, "jit_s": 7.0, "ok": True, "traced": False, "warm": True})
    return {"setups": SETUPS, "input_bytes": 2_000_000, "peak_rss_mb": 1200.0,
            "visits": visits, "verified_rows": {"qa": 3, "qb": 4}, "verify_errors": {},
            "spans": [span(0, "pass", end=4.0), span(1, "query.qa", 0),
                      span(2, "construct", 1, 0.0, 0.5, jobs=2),
                      span(3, "execute", 1, 0.5, 1.5, jobs=3)]}


class Arithmetic(unittest.TestCase):
    def test_percentile_reports_samples_above(self):
        values = list(range(1, 101))
        self.assertEqual(metrics.percentile(values, 50), (50, 50))
        self.assertEqual(metrics.percentile(values, 90), (90, 10))
        self.assertEqual(metrics.percentile([3.0], 90), (3.0, 0))

    def test_error_rate(self):
        self.assertEqual(metrics.error_rate(40, 0), 0.0)
        self.assertEqual(metrics.error_rate(40, 10), 0.25)
        self.assertEqual(metrics.error_rate(0, 0), 1.0)

    def test_self_time(self):
        self.assertAlmostEqual(metrics.self_time(0.8, 0.5), 0.3)

    def test_xml_end_to_end_uses_untraced_passes(self):
        m = metrics.xml_end_to_end(xml_raw())
        self.assertEqual(m["wall_s"], (1.1, "s", 5))
        self.assertEqual(m["cpu_s"], (2.2, "s", 5))
        self.assertAlmostEqual(m["input_mb_s"][0], 50 / 1.1)
        self.assertEqual(m["setup_s"], (1.6, "s", 3))

    def test_curation_end_to_end_counts_complete_passes_only(self):
        m = metrics.curation_end_to_end(curation_raw(), n_queries=2)
        self.assertAlmostEqual(m["wall_s"][0], 3.3)  # passes 0 and 1: 3.2, 3.4
        self.assertEqual(m["wall_s"][2], 2)
        self.assertEqual(m["cpu_s"], (9.0, "s", 2))
        self.assertAlmostEqual(m["input_mb_s"][0], 2 / 3.3)

    def test_visit_latency_counts_untraced_visits(self):
        lat = metrics.visit_latency(curation_raw())
        # untraced visits: 1.1, 1.2, 2.1, 2.2 and the failed 9.0
        v, above, n = lat["query_p50_s"]
        self.assertAlmostEqual(v, 2.1)
        self.assertEqual((above, n), (2, 5))
        self.assertEqual(lat["query_p90_s"], (9.0, 0, 5))

    def test_attempts(self):
        self.assertEqual(metrics.attempts(xml_raw(), True, {}), (8, 2))
        self.assertEqual(metrics.attempts(curation_raw(), False, {"qb": "rows"}), (10, 2))

    def test_xml_layers_subtract_inner_runs(self):
        out = metrics.xml_layers(xml_raw())
        self.assertAlmostEqual(out["xml.fold_s"][0], 0.8 - 0.5)
        self.assertAlmostEqual(out["xml.sink_s"][0], 1.3 - 0.8)
        self.assertEqual(out["xml.read_s"][0], 0.5)
        self.assertAlmostEqual(out["xml.pivot_window_s"][0], 2.8 - 2.4)
        self.assertAlmostEqual(out["xml.scan_ns_per_byte"][0], 0.1 * 1e9 / 50e6)
        self.assertAlmostEqual(out["xml.project_ns_per_fragment"][0], 2000.0)

    def test_spark_counters_per_pass_exclude_probes(self):
        out = metrics.spark_per_pass(xml_raw()["spans"], cpus=4)
        self.assertEqual(out["spark.jobs"][0], 1)
        self.assertAlmostEqual(out["spark.sched_overhead_s"][0], 1.0)
        self.assertAlmostEqual(out["spark.busy_ratio"][0], 2.0 / (2.0 * 4))
        self.assertEqual(out["spark.task_skew"][0], 2.0)

    def test_query_layers(self):
        raw = curation_raw()
        out = metrics.query_layers(raw["spans"], raw["visits"], ["qa"])
        self.assertEqual(out["queries.construct_jobs"][0], 2)
        self.assertEqual(out["queries.execute_jobs"][0], 3)
        self.assertAlmostEqual(out["query.qa_s"][0], 1.2)

    def test_jit_per_pass_counts_untraced_timed_passes(self):
        self.assertAlmostEqual(metrics.jit_per_pass(xml_raw(), True, 0), 0.55)
        self.assertAlmostEqual(metrics.jit_per_pass(curation_raw(), False, 2), 1.5)

    def test_trace_overhead(self):
        self.assertAlmostEqual(metrics.trace_overhead(xml_raw(), True, 0), 1.3 - 1.1)


class Names(unittest.TestCase):
    def test_every_emitted_name_is_declared(self):
        e2e = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
        for m in (metrics.xml_end_to_end(xml_raw()),
                  metrics.curation_end_to_end(curation_raw(), 2)):
            self.assertEqual({k: u for k, (_, u, _) in m.items()}, e2e)
        layers = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
        raw = curation_raw()
        emitted = {}
        emitted.update(metrics.spark_per_pass(xml_raw()["spans"], 4))
        emitted.update(metrics.xml_layers(xml_raw()))
        emitted.update(metrics.query_layers(raw["spans"], raw["visits"],
                                            WORKLOADS["curation"]["queries"]))
        for k, (_, unit) in emitted.items():
            self.assertIn(k, layers)
            self.assertEqual(unit, layers[k], k)

    def test_workloads_match(self):
        self.assertEqual({w["name"] for w in BENCH["workloads"]}, set(WORKLOADS))


if __name__ == "__main__":
    unittest.main()
