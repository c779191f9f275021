"""Tests of the benchmark itself. Run from the repository root:

    python3 -m unittest discover -s perfbench/tests -v

The smoke tests compile graft on first use and start one JVM per
workload and mode, so the whole file takes several minutes.
"""
import filecmp
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
SCRATCH = os.path.join(ROOT, ".bench_build", "tests")
sys.path.insert(0, BENCH)

import gen  # noqa: E402


def same_tree(a, b):
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


class InputsTest(unittest.TestCase):
    def setUp(self):
        shutil.rmtree(SCRATCH, ignore_errors=True)

    def test_same_seed_gives_identical_inputs(self):
        a = gen.feed(os.path.join(SCRATCH, "a"), gen.BASES["smoke"], 7)
        b = gen.feed(os.path.join(SCRATCH, "b"), gen.BASES["smoke"], 7)
        self.assertTrue(same_tree(a, b))
        a = gen.tables(os.path.join(SCRATCH, "a"), "x10", ROOT)
        b = gen.tables(os.path.join(SCRATCH, "b"), "x10", ROOT)
        self.assertTrue(same_tree(a, b))

    def test_other_seed_gives_other_feed(self):
        a = gen.feed(os.path.join(SCRATCH, "a"), gen.BASES["smoke"], 7)
        b = gen.feed(os.path.join(SCRATCH, "b"), gen.BASES["smoke"], 8)
        self.assertFalse(filecmp.cmp(os.path.join(a, "plan.json"),
                                     os.path.join(b, "plan.json"), shallow=False))


def run_bench(workload, trace, cwd=ROOT):
    return subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=900)


class SmokeTest(unittest.TestCase):
    """Each workload at sf0.001: correct, and every named metric present."""

    @classmethod
    def setUpClass(cls):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            cls.spec = json.load(f)

    def check(self, workload, trace, key):
        p = run_bench(workload, trace)
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        result = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertEqual(sorted(result), ["attempted", "correct", "failed", "metrics"])
        self.assertTrue(result["correct"], p.stderr[-3000:])
        self.assertGreaterEqual(result["attempted"], 1)
        self.assertEqual(result["failed"], 0)
        want = {m["name"]: m["unit"] for m in self.spec[key]}
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        self.assertEqual(got, want)
        return result["metrics"]

    def test_workloads(self):
        for w in [x["name"] for x in self.spec["workloads"]] + ["registry_mix"]:
            with self.subTest(workload=w):
                m = self.check(w, 0, "end_to_end")
                self.assertGreater(m["run_s"]["value"], 0)
                self.assertGreater(m["setup_s"]["value"], 0)

    def test_traced_runs(self):
        for w in [x["name"] for x in self.spec["workloads"]]:
            with self.subTest(workload=w):
                m = self.check(w, 1, "per_layer")
                self.assertGreater(m["spark.exec.tasks"]["value"], 0)
                if w == "feeder_sweep":
                    self.assertGreater(m["sources.jdbc_append_rows"]["value"], 0)
                else:
                    self.assertGreater(m["functions.hashed_shingles_ns_row"]["value"], 0)
                    self.assertGreater(m["Queries.build_s"]["value"], 0)


class BareCheckoutTest(unittest.TestCase):
    def test_fails_without_the_program(self):
        bare = os.path.join(SCRATCH, "bare")
        shutil.rmtree(bare, ignore_errors=True)
        shutil.copytree(BENCH, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        p = run_bench("feeder_sweep", 0, cwd=bare)
        self.assertNotEqual(p.returncode, 0)
        self.assertEqual(p.stdout.strip(), "")
        shutil.rmtree(bare)


if __name__ == "__main__":
    unittest.main()
