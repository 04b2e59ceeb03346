"""Tests of the benchmark itself, at smoke sizes.

    python3 -m unittest discover -s perfbench/tests -v     # from the repo root

They run every declared workload end to end (traced and untraced) and check
the result line against BENCHMARK.json, run the Scala self-test (each output
check must reject a deliberately wrong result), and check that a directory
holding only the benchmark fails without printing a result. The first test
to run compiles the program (about 30 s).
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def bench(*args, cwd=ROOT):
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=900)


class BenchmarkTest(unittest.TestCase):
    def test_self_test_rejects_wrong_results(self):
        r = bench("--self-test")
        self.assertEqual(r.returncode, 0, r.stdout[-4000:] + r.stderr[-2000:])
        self.assertIn("self-test: all passed", r.stdout)
        self.assertNotIn("FAIL ", r.stdout)

    def test_result_line_matches_declared_metrics(self):
        for w in SPEC["workloads"]:
            for trace, declared in (("0", SPEC["end_to_end"]), ("1", SPEC["per_layer"])):
                with self.subTest(workload=w["name"], trace=trace):
                    r = bench("--workload", w["name"], "--seed", "3", "--seconds", "2",
                              "--trace", trace, "--smoke")
                    self.assertEqual(r.returncode, 0, r.stderr[-3000:])
                    res = json.loads(r.stdout.strip().splitlines()[-1])
                    self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
                    self.assertTrue(res["correct"])
                    self.assertEqual(res["failed"], 0)
                    self.assertGreaterEqual(res["attempted"], 1)
                    self.assertEqual({k: v["unit"] for k, v in res["metrics"].items()},
                                     {m["name"]: m["unit"] for m in declared})

    def test_fails_without_the_program(self):
        work = os.path.join(ROOT, "perfbench", ".work")
        os.makedirs(work, exist_ok=True)
        bare = tempfile.mkdtemp(dir=work)
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
            for p in SPEC["paths"]:
                shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                                ignore=shutil.ignore_patterns(".build", ".work", "__pycache__"))
            r = bench("--workload", SPEC["workloads"][0]["name"], "--seed", "1",
                      "--seconds", "1", "--trace", "0", cwd=bare)
            self.assertNotEqual(r.returncode, 0)
            self.assertFalse(r.stdout.strip().startswith("{\"correct\""))
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
