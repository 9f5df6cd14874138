"""Smoke test for the benchmark itself.

Runs every workload end to end on tiny inputs (a few thousand generated
points, a 200-document corpus, a short HW3 phase) and asserts that

  * an untraced run passes all its output checks and prints every
    end-to-end metric of BENCHMARK.json with its unit;
  * a traced run prints every per-layer metric with its unit, attributes
    every job to exactly one span, and reports the tracing overhead;
  * each output check fails when its observed result is deliberately
    perturbed (--perturb), and a perturbed run reports correct=false;
  * the benchmark refuses to run without the library sources.

    python3 -m unittest discover -s bench/tests -v      (from the repo root)

A full run takes several minutes: each run starts a JVM and Spark.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)

DRAINS = ("q_dedup_stream", "q_neardup_stream", "q_emb_stream",
          "q_token_drift_stream", "q_lexicon_upsert_stream", "q_ingest_pipeline")
CHECKS = {
    "reference_hw": [
        "hw1.cell_sizes_sum", "hw1.neighbor_stats", "hw1.summary_n",
        "hw1.topk_cells", "hw1.outlier_bounds", "hw1.outliers_topk",
        "hw2.radius_recompute", "hw2.summary_n", "kmeans.sizes",
        "hw3.exact_counts", "hw3.true_frequent"],
    "artifact_lifecycle": [
        "lifecycle.redelivery_noop", "lifecycle.compaction_identical",
        "lifecycle.maintain_rebuild", "lifecycle.bm25_served_twin",
        "lifecycle.ann_served_twin", "lifecycle.sq8_served_twin"],
    "ingest_stream": ["ingest.index_upsert_twin"]
    + [f"oracle.{k}" for k in DRAINS] + [f"ingest.{k}.stable" for k in DRAINS],
}


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run(workload, trace, perturb=(), cwd=ROOT):
    cmd = [sys.executable, os.path.join("bench", "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "2", "--trace", str(trace), "--scale", "tiny"]
    if perturb:
        cmd += ["--perturb", ",".join(perturb)]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)
    return p


def result(p):
    lines = p.stdout.strip().splitlines()
    assert p.returncode == 0, p.stderr[-3000:]
    assert lines, p.stderr[-3000:]
    return json.loads(lines[-1])


def failed_checks(p):
    for line in p.stderr.splitlines():
        if line.startswith("bench: failed checks: "):
            return set(line.split(": ", 2)[2].split(","))
    return set()


class Smoke(unittest.TestCase):
    def assert_metrics(self, out, wanted):
        self.assertEqual(set(out), {"correct", "attempted", "failed", "metrics"})
        self.assertGreaterEqual(out["attempted"], 1)
        names = {m["name"]: m["unit"] for m in wanted}
        self.assertEqual(set(out["metrics"]), set(names))
        for name, m in out["metrics"].items():
            self.assertEqual(set(m), {"value", "unit"})
            self.assertEqual(m["unit"], names[name], name)
            self.assertIsInstance(m["value"], (int, float), name)

    def untraced(self, workload):
        out = result(run(workload, 0))
        self.assert_metrics(out, spec()["end_to_end"])
        self.assertTrue(out["correct"], out)
        self.assertEqual(out["failed"], 0)
        for name, m in out["metrics"].items():
            self.assertGreater(m["value"], 0, name)

    def traced_and_perturbed(self, workload):
        checks = CHECKS[workload]
        p = run(workload, 1, perturb=checks)
        out = result(p)
        self.assert_metrics(out, spec()["per_layer"])
        m = {k: v["value"] for k, v in out["metrics"].items()}
        self.assertEqual(m["trace.unattributed_jobs"], 0)
        self.assertEqual(m["trace.layer_sum_violations"], 0)
        self.assertGreater(m["driver.jobs"], 0)
        self.assertGreater(m["runtime.trace_overhead"], 0)
        self.assertFalse(out["correct"])
        self.assertEqual(failed_checks(p), set(checks))
        # checks that run on every pass fail once per pass
        self.assertGreaterEqual(out["failed"], len(checks))

    def test_reference_hw(self):
        self.untraced("reference_hw")
        self.traced_and_perturbed("reference_hw")

    def test_artifact_lifecycle(self):
        self.untraced("artifact_lifecycle")
        self.traced_and_perturbed("artifact_lifecycle")

    def test_ingest_stream(self):
        self.untraced("ingest_stream")
        self.traced_and_perturbed("ingest_stream")

    def test_refuses_without_sources(self):
        os.makedirs(os.path.join(BENCH, ".runs"), exist_ok=True)
        d = tempfile.mkdtemp(dir=os.path.join(BENCH, ".runs"))
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(BENCH, os.path.join(d, "bench"),
                            ignore=shutil.ignore_patterns("target", ".runs", "results",
                                                          "__pycache__"))
            p = subprocess.run([sys.executable, "bench/run.py", "--workload",
                                "reference_hw", "--seed", "1", "--seconds", "1",
                                "--trace", "0"], cwd=d, capture_output=True,
                               text=True, timeout=180)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout.strip(), "")
        finally:
            shutil.rmtree(d)


if __name__ == "__main__":
    unittest.main()
