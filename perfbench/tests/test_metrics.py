"""Every metric BENCHMARK.json names is emitted, with its unit, for every
workload. The fast tests feed report.py the raw-sample shape each
workload's JVM driver writes; set GRAFTBENCH_E2E=1 to also run each
workload for real through run.py (several minutes)."""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import report  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)
with open(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")) as fh:
    OBJECTS = report.entry_objects(fh.read())
KINDS = {"catalog": ["query", "query", "query"], "admit_serve": ["admit", "serve", "serve"]}


def op(kind, i, traced, pass_no=0):
    o = {"pass": pass_no, "kind": kind, "name": f"{kind}-{i}", "traced": traced,
         "wall_s": 1.0 + i, "ok": True, "construct_s": 0.1, "pinned_peak_bytes": 4096 * (i + 1),
         "persisted_rdds": 1}
    if traced:
        o.update({"jobs": 3, "unended_jobs": 0, "stages": 4, "tasks": 8, "job_union_s": 0.7,
                  "first_job_at_s": 0.05, "task_s": 1.5, "plan_s": 0.02,
                  "shuffle_write_bytes": 1 << 20, "shuffle_read_bytes": 1 << 20,
                  "spill_bytes": 0, "task_s_by_object": {"Dedup": 1.0, "-": 0.5}})
    return o


def raw_sample(workload, traced):
    """An untraced run makes untraced passes; a traced run alternates an
    untraced and a traced one."""
    flags = [False, True] if traced else [False]
    checks = {}
    if workload == "admit_serve":
        checks = {"reports": [{"pass": 0, "name": "admit-0", "input": 4, "admitted": 3,
                               "exact_rejected": 1, "near_dup_rejected": 0,
                               "semantic_rejected": 0, "intra_rejected": 0}],
                  "served": [{"pass": 0, "name": "serve-1", "queries": 2, "self_hits": 1,
                              "rows_per_query": [10, 10]}]}
    return {
        "session_s": 4.0, "setup_s": 10.0, "measured_s": 5.0,
        "passes": [{"pass": n, "traced": t, "wall_s": 5.0 + t, "codegen_s": 0.5,
                    "codegen_n": 40, "store": {"files": 3, "bytes": 2048}}
                   for n, t in enumerate(flags)],
        "ops": [op(k, i, t, n) for n, t in enumerate(flags)
                for i, k in enumerate(KINDS[workload])],
        "checks": checks,
        "probe": {q: {"noop_s": 1.2, "count_s": 1.0}
                  for q in ("q95_semdedup", "q14_anomaly_zscore", "q71_alert_rules",
                            "q21_dedup_minhash")},
    }


class EveryMetricIsEmitted(unittest.TestCase):
    def check(self, emitted, spec):
        self.assertEqual(set(emitted), {m["name"] for m in spec})
        for m in spec:
            self.assertIn(m["name"], emitted)
            value, unit = emitted[m["name"]]
            self.assertEqual(unit, m["unit"], m["name"])
            self.assertIsInstance(value, (int, float), m["name"])

    def test_end_to_end(self):
        for w in KINDS:
            with self.subTest(workload=w):
                emitted = report.end_to_end(raw_sample(w, traced=False))
                self.check(emitted, SPEC["end_to_end"])
                for m in SPEC["end_to_end"]:
                    self.assertGreater(emitted[m["name"]][0], 0, m["name"])

    def test_per_layer(self):
        for w in KINDS:
            with self.subTest(workload=w):
                raw = raw_sample(w, traced=True)
                emitted = report.per_layer(raw, raw["checks"], OBJECTS)
                self.check(emitted, SPEC["per_layer"])
                self.assertAlmostEqual(emitted["trace_overhead_frac"][0], 0.2)

    def test_spec_lists_no_metric_twice(self):
        names = [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]]
        self.assertEqual(len(names), len(set(names)))


@unittest.skipUnless(os.environ.get("GRAFTBENCH_E2E") == "1", "set GRAFTBENCH_E2E=1")
class RealRuns(unittest.TestCase):
    def test_each_workload_prints_every_metric(self):
        for w in (x["name"] for x in SPEC["workloads"]):
            for trace, key in ((0, "end_to_end"), (1, "per_layer")):
                with self.subTest(workload=w, trace=trace):
                    out = subprocess.run(
                        [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                         "--seed", "3", "--seconds", str(SPEC["run_seconds"]),
                         "--trace", str(trace)],
                        cwd=ROOT, capture_output=True, text=True, check=True)
                    last = json.loads(out.stdout.strip().splitlines()[-1])
                    self.assertEqual(set(last), {"correct", "attempted", "failed", "metrics"})
                    self.assertTrue(last["correct"])
                    self.assertEqual(last["failed"], 0)
                    self.assertEqual(set(last["metrics"]), {m["name"] for m in SPEC[key]})


if __name__ == "__main__":
    unittest.main()
