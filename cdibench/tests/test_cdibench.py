"""Tests of the CDI benchmark itself. Run from the root of a checkout:

    python3 -m unittest discover -s cdibench/tests -v

They build the program on first use and start Spark, so they take a few
minutes. Run them alone, not next to benchmark runs.
"""
import filecmp
import json
import os
import shutil
import subprocess
import sys
import unittest

ROOT = os.path.abspath(os.path.join(os.path.dirname(__file__), "..", ".."))
RUN = os.path.join("cdibench", "run.py")
SCRATCH = os.path.join(ROOT, ".bench_work", "tests")


def run(args, cwd=ROOT, timeout=900):
    return subprocess.run([sys.executable, RUN] + args, cwd=cwd, capture_output=True, text=True,
                          timeout=timeout)


def same_tree(a, b):
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


class CdiBenchTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        shutil.rmtree(SCRATCH, ignore_errors=True)
        os.makedirs(SCRATCH)
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            cls.spec = json.load(fh)

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(SCRATCH, ignore_errors=True)

    def generate(self, workload, seed, name):
        out = os.path.join(SCRATCH, name)
        p = run(["--workload", workload, "--seed", str(seed), "--generate", out])
        self.assertEqual(p.returncode, 0, p.stderr)
        return out

    def test_same_seed_gives_byte_identical_inputs(self):
        for w in ("cdi_daily", "cdi_catchup", "corpus_dedup"):
            a = self.generate(w, 7, f"{w}-a")
            b = self.generate(w, 7, f"{w}-b")
            c = self.generate(w, 8, f"{w}-c")
            self.assertTrue(same_tree(a, b), f"{w}: seed 7 twice gave different files")
            self.assertFalse(same_tree(a, c), f"{w}: seeds 7 and 8 gave the same files")

    def test_each_check_fails_on_a_dropped_or_altered_record(self):
        p = run(["--selftest"])
        self.assertEqual(p.returncode, 0, p.stderr[-4000:])
        self.assertIn("all checks behave", p.stderr)

    def test_metric_names_match_benchmark_json(self):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            p = run(["--workload", "corpus_dedup", "--seed", "3", "--seconds", "1", "--trace", str(trace)])
            self.assertEqual(p.returncode, 0, p.stderr[-4000:])
            res = json.loads(p.stdout.strip().splitlines()[-1])
            self.assertEqual(sorted(res), ["attempted", "correct", "failed", "metrics"])
            self.assertTrue(res["correct"])
            self.assertEqual(res["failed"], 0)
            want = {m["name"]: m["unit"] for m in self.spec[key]}
            self.assertEqual(sorted(res["metrics"]), sorted(want))
            for name, m in res["metrics"].items():
                self.assertEqual(sorted(m), ["unit", "value"])
                self.assertEqual(m["unit"], want[name])
                self.assertIsInstance(m["value"], (int, float))

    def test_refuses_to_run_without_the_program(self):
        bare = os.path.join(SCRATCH, "bare")
        os.makedirs(bare)
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(os.path.join(ROOT, "cdibench"), os.path.join(bare, "cdibench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        p = run(["--workload", "cdi_daily", "--seed", "1", "--seconds", "1", "--trace", "0"], cwd=bare,
                timeout=180)
        self.assertNotEqual(p.returncode, 0)
        self.assertEqual(p.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()
