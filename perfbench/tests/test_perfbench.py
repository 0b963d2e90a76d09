"""Self-test of the benchmark at sf0.001 input sizes.

Run from the repository root:

    python3 -m unittest discover -s perfbench/tests -v

Each case starts the real runner on tiny inputs, so the whole file takes a
few minutes. It checks that every declared metric is emitted with a unit, and
that a corrupted expected answer, a near-dup stage that finds nothing and an
ANN search that misses its neighbours are reported as failures, never as
passes.
"""
import json
import os
import subprocess
import sys
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
RUN = os.path.join(ROOT, "perfbench", "run.py")

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)

NAMED = {
    "relational_mix": ["setup_s", "error_rate", "retained_heap_mb", "query_p50_s", "query_p90_s",
                       "queries_per_s"],
    "curation_batch": ["setup_s", "error_rate", "retained_heap_mb", "batch_p50_s", "docs_per_s",
                       "neardup_recall"],
    "vector_serve": ["setup_s", "error_rate", "retained_heap_mb", "index_build_s", "search_p50_s",
                     "search_p90_s", "ingest_p50_s", "search_recall"],
}


def run(workload, *extra):
    proc = subprocess.run([sys.executable, RUN, "--workload", workload, "--seed", "3",
                           "--seconds", "1", "--scale", "tiny", *extra],
                          cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        raise AssertionError(f"run.py exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1]), proc.stderr


class MetricsEmitted(unittest.TestCase):
    def check_metrics(self, metrics, declared):
        self.assertEqual(set(metrics), {m["name"] for m in declared})
        for m in declared:
            self.assertEqual(metrics[m["name"]]["unit"], m["unit"], m["name"])
            self.assertIsInstance(metrics[m["name"]]["value"], (int, float), m["name"])

    def test_every_workload_emits_its_metrics(self):
        for w in [w["name"] for w in SPEC["workloads"]]:
            with self.subTest(workload=w):
                report, result, _ = run(w)
                self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
                self.assertTrue(result["correct"], report)
                self.assertGreaterEqual(result["attempted"], 1)
                self.check_metrics(result["metrics"], SPEC["end_to_end"])
                for name in NAMED[w]:
                    self.assertIn(name, report["metrics"])
                    self.assertTrue(report["metrics"][name]["unit"])
                self.assertEqual(report["metrics"]["error_rate"]["value"], 0.0)
                for key in ["nproc", "jvm", "spark", "driver_heap_max_mb", "git_commit"]:
                    self.assertIn(key, report["env"])

    def test_traced_run_emits_every_layer_metric(self):
        report, result, _ = run("vector_serve", "--trace", "1")
        self.check_metrics(result["metrics"], SPEC["per_layer"])
        self.assertGreater(result["metrics"]["Similarity.self_s"]["value"], 0)
        self.assertGreater(result["metrics"]["Similarity.jobs"]["value"], 0)
        self.assertGreater(result["metrics"]["Similarity.shortlist_rows"]["value"], 0)


class CorruptedAnswerFails(unittest.TestCase):
    def assert_fails(self, workload, mode, reason=""):
        report, result, log = run(workload, "--corrupt", mode)
        self.assertFalse(result["correct"])
        self.assertGreater(result["failed"], 0)
        self.assertGreater(report["metrics"]["error_rate"]["value"], 0.0)
        self.assertIn(reason, log)

    def test_corrupted_expected_answer_raises_error_rate(self):
        for w in ["relational_mix", "curation_batch", "vector_serve"]:
            with self.subTest(workload=w):
                self.assert_fails(w, "expected")

    def test_missing_near_dup_pairs_fail_on_recall(self):
        self.assert_fails("curation_batch", "no-pairs", "near-dup recall")

    def test_degraded_ann_results_fail_on_recall(self):
        self.assert_fails("vector_serve", "weak-ann", "search recall")


if __name__ == "__main__":
    unittest.main()
