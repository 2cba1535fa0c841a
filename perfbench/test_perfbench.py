"""Tests of the benchmark itself.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

Run from the repository root.  The corrupted-output tests build the
program and start a JVM per workload (a few minutes in all); set
PERFBENCH_SKIP_JVM=1 to run only the fast tests.
"""

import filecmp
import json
import os
import re
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import gen  # noqa: E402
import run  # noqa: E402

SCRATCH = os.path.join(ROOT, ".bench_build", "test")
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _tree(d):
    return sorted(os.path.relpath(os.path.join(p, f), d)
                  for p, _, fs in os.walk(d) for f in fs)


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        shutil.rmtree(SCRATCH, ignore_errors=True)

    def tearDown(self):
        shutil.rmtree(SCRATCH, ignore_errors=True)

    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        for w in gen.GENERATORS:
            a, b, c = (os.path.join(SCRATCH, w, x) for x in "abc")
            gen.generate(w, 7, a)
            gen.generate(w, 7, b)
            gen.generate(w, 8, c)
            files = _tree(a)
            self.assertEqual(files, _tree(b))
            _, mismatch, errors = filecmp.cmpfiles(a, b, files, shallow=False)
            self.assertEqual((mismatch, errors), ([], []), w)
            inputs = [f for f in files if f.startswith("inputs")]
            _, mismatch, _ = filecmp.cmpfiles(a, c, inputs, shallow=False)
            self.assertTrue(mismatch, "%s: seed 8 gave the inputs of seed 7" % w)

    def test_misspelling_tail_exceeds_the_fuzzy_memo(self):
        self.assertGreater(gen.PARAMS["sentiment_score"]["misspelling_tail"], 1 << 17)


class MetricNamesTest(unittest.TestCase):
    def test_names_units_and_bounds(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
        names += [w["name"] for w in spec["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, NAME)
        for m in spec["end_to_end"] + spec["per_layer"]:
            self.assertRegex(m["unit"], UNIT)
        self.assertEqual([(m["name"], m["unit"], m["better"], m["bound"]) for m in spec["end_to_end"]],
                         [tuple(m) for m in run.END_TO_END])
        self.assertEqual([(m["name"], m["unit"]) for m in spec["per_layer"]],
                         [tuple(m) for m in run.PER_LAYER])
        self.assertEqual([w["name"] for w in spec["workloads"]], list(run.WORKLOADS))
        bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
        self.assertTrue(all(0 < b <= 0.25 for b in bounds.values()))
        self.assertEqual(bounds["setup_s"], max(bounds.values()))


def _bench(cwd, *args):
    return subprocess.run([sys.executable, os.path.join(cwd, "perfbench", "run.py")] + list(args),
                          cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                          timeout=900)


class WithoutProgramTest(unittest.TestCase):
    def test_fails_without_printing_a_result(self):
        bare = os.path.join(SCRATCH, "bare")
        shutil.rmtree(bare, ignore_errors=True)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        try:
            r = _bench(bare, "--workload", "index_serve", "--seed", "1", "--seconds", "1",
                       "--trace", "0")
            self.assertNotEqual(r.returncode, 0)
            self.assertNotIn("{", r.stdout)
        finally:
            shutil.rmtree(bare, ignore_errors=True)


@unittest.skipIf(os.environ.get("PERFBENCH_SKIP_JVM"), "PERFBENCH_SKIP_JVM is set")
class CorruptedOutputTest(unittest.TestCase):
    """A deliberately corrupted output must count as a failed operation."""

    def check(self, workload, trace, failure):
        r = _bench(ROOT, "--workload", workload, "--seed", "3", "--seconds", "1",
                   "--trace", trace, "--corrupt", "1")
        self.assertEqual(r.returncode, 0, r.stderr[-2000:])
        lines = r.stdout.strip().splitlines()
        out = json.loads(lines[-1])
        self.assertFalse(out["correct"])
        self.assertGreater(out["failed"], 0)
        ratio = "failed_frac" if trace == "1" else "ok_frac"
        self.assertNotEqual(out["metrics"][ratio]["value"], 0.0 if trace == "1" else 1.0)
        failures = json.loads(lines[-2])["detail"]["failures"]
        self.assertTrue(any(failure in f for f in failures), failures)

    def test_sentiment_score(self):
        self.check("sentiment_score", "0", "scores in [-1, 1]")

    def test_index_serve(self):
        self.check("index_serve", "0", "equals ivfSearch")

    def test_curate_stream_tail(self):
        """The streaming tail runs in traced index_serve runs only."""
        self.check("index_serve", "1", "admits no id twice")


if __name__ == "__main__":
    unittest.main()
