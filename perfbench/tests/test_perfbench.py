"""The benchmark's own tests: every workload at tiny scale.

    python3 -m unittest discover -s perfbench/tests -v

Each workload runs once clean and untraced (correct, every end-to-end
metric with its unit) and once traced with corrupted expectations (every
per-layer metric with its unit, and the corruption counted as failed).
A directory holding only the benchmark must fail without a result, and
the corpus generator must be seeded.
"""

import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH_DIR)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
# explorer_http is runnable by hand but not in BENCHMARK.json (see perfbench/README.md)
WORKLOADS = [w["name"] for w in SPEC["workloads"]] + ["explorer_http"]


def run(workload, trace, corrupt=0, cwd=ROOT):
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
           "--seed", "3", "--seconds", "3", "--trace", str(trace), "--scale", "tiny",
           "--corrupt", str(corrupt)]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=1200)


def result(proc):
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    assert proc.returncode == 0 and lines, proc.stderr[-3000:]
    return json.loads(lines[-1])


def wrong(proc):
    """The run's own account of each failed operation."""
    return [l for l in proc.stderr.splitlines() if "wrong:" in l]


class WorkloadTest(unittest.TestCase):

    def check_metrics(self, got, wanted):
        self.assertEqual(sorted(got), sorted(m["name"] for m in wanted))
        for m in wanted:
            self.assertEqual(got[m["name"]]["unit"], m["unit"], m["name"])
            self.assertIsInstance(got[m["name"]]["value"], (int, float), m["name"])

    def test_workloads(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                proc = run(w, 0)
                clean = result(proc)
                self.assertEqual(sorted(clean), ["attempted", "correct", "failed", "metrics"])
                self.assertTrue(clean["correct"], wrong(proc))
                self.assertEqual(clean["failed"], 0)
                self.assertGreater(clean["attempted"], 0)
                self.check_metrics(clean["metrics"], SPEC["end_to_end"])
                for m in SPEC["end_to_end"]:
                    self.assertGreater(clean["metrics"][m["name"]]["value"], 0, m["name"])

                corrupt = result(run(w, 1, corrupt=1))
                self.assertFalse(corrupt["correct"])
                self.assertGreater(corrupt["failed"], 0)
                self.check_metrics(corrupt["metrics"], SPEC["per_layer"])
                self.assertGreater(corrupt["metrics"]["error_rate"]["value"], 0)
                if w != "catalog":  # the direct Endpoints replay ran
                    self.assertNotEqual(corrupt["metrics"]["api.render_ms"]["value"], 0)
                    self.assertGreater(corrupt["metrics"]["spark.construct_ms"]["value"], 0)


class ContractTest(unittest.TestCase):

    def test_bare_directory_fails_without_result(self):
        with tempfile.TemporaryDirectory() as tmp:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp)
            shutil.copytree(BENCH_DIR, os.path.join(tmp, "perfbench"),
                            ignore=shutil.ignore_patterns("target", "__pycache__"))
            proc = run(SPEC["workloads"][0]["name"], 0, cwd=tmp)
            self.assertNotEqual(proc.returncode, 0)
            self.assertFalse([l for l in proc.stdout.splitlines() if l.startswith("{")])

    def test_corpus_is_seeded(self):
        sys.path.insert(0, BENCH_DIR)
        import corpus
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory() as tmp:
            for name, seed in (("a", 5), ("b", 5), ("c", 6)):
                corpus.generate(os.path.join(tmp, name), 0.001, seed)
            read = lambda d: pq.read_table(os.path.join(tmp, d, "events.parquet"))
            self.assertTrue(read("a").equals(read("b")))
            self.assertFalse(read("a").equals(read("c")))


if __name__ == "__main__":
    unittest.main()
