"""Tests of the benchmark itself. Run from the root of a checkout:

    python3 -m unittest discover -s perfbench/tests -v

They compile the engine and the benchmark (as run.py does) and run the
JVM self-tests: input determinism per seed, checker sensitivity to a
dropped or duplicated record, and metric names against BENCHMARK.json.
"""
import json
import os
import pathlib
import shutil
import subprocess
import sys
import unittest

ROOT = pathlib.Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT / "perfbench"))
import run  # noqa: E402


class PerfbenchTest(unittest.TestCase):

    def test_jvm_self_tests(self):
        os.chdir(ROOT)
        jars = run.spark_jars()
        classes, _ = run.build(jars)
        done = subprocess.run(
            ["java", "-cp", os.pathsep.join([str(classes), str(jars / "*")]),
             "graft.perfbench.SelfTest", "BENCHMARK.json"],
            capture_output=True, text=True, timeout=300)
        print(done.stdout)
        self.assertEqual(done.returncode, 0, done.stdout + done.stderr)
        self.assertIn("all self-tests passed", done.stdout)

    def test_fails_without_engine_sources(self):
        # a directory with only BENCHMARK.json and the benchmark's files
        bare = ROOT / ".bench_build" / "bare"
        shutil.rmtree(bare, ignore_errors=True)
        bare.mkdir(parents=True)
        shutil.copy(ROOT / "BENCHMARK.json", bare)
        shutil.copytree(ROOT / "perfbench", bare / "perfbench",
                        ignore=shutil.ignore_patterns("__pycache__"))
        done = subprocess.run(
            ["python3", "perfbench/run.py", "--workload", "etl_batch", "--seed", "1",
             "--seconds", "1", "--trace", "0"],
            cwd=bare, capture_output=True, text=True, timeout=170)
        shutil.rmtree(bare, ignore_errors=True)
        self.assertNotEqual(done.returncode, 0)
        self.assertNotIn('"correct"', done.stdout)

    def compare(self, base, changed):
        out = ROOT / ".bench_build" / "compare-test"
        out.mkdir(parents=True, exist_ok=True)
        (out / "a.jsonl").write_text(json.dumps(base) + "\n")
        (out / "b.jsonl").write_text(json.dumps(changed) + "\n")
        done = subprocess.run(
            ["python3", str(ROOT / "perfbench" / "compare.py"), str(out / "a.jsonl"),
             str(out / "b.jsonl")], capture_output=True, text=True, timeout=60)
        shutil.rmtree(out, ignore_errors=True)
        return done

    @staticmethod
    def record():
        return {"env": {"nproc": "4", "max_heap_mb": "3072", "workload": "etl_batch",
                        "seconds": "20"},
                "result": {"correct": True, "attempted": 10, "failed": 0,
                           "metrics": {"setup_s": {"value": 1.0, "unit": "s"}}}}

    def test_compare_accepts_same_environment(self):
        done = self.compare(self.record(), self.record())
        self.assertEqual(done.returncode, 0, done.stderr)

    def test_compare_refuses_different_environments(self):
        changed = self.record()
        changed["env"]["nproc"] = "8"
        done = self.compare(self.record(), changed)
        self.assertEqual(done.returncode, 2, done.stderr)
        self.assertIn("different environments", done.stderr)

    def test_compare_refuses_failed_runs(self):
        changed = self.record()
        changed["result"].update(correct=False, failed=1)
        changed["result"]["metrics"]["setup_s"]["value"] = 0.5
        done = self.compare(self.record(), changed)
        self.assertEqual(done.returncode, 2, done.stderr)
        self.assertIn("correctness check", done.stderr)


if __name__ == "__main__":
    unittest.main()
