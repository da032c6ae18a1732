"""Metric names: what the benchmark emits is what BENCHMARK.json declares.

The fast tests check the name literals in the JVM code and in ``run.py``
against the declaration.  With ``PERFBENCH_SLOW=1`` every workload is also
run for real, traced and untraced, and the emitted names are compared both
ways (``run.py`` itself refuses to report a declared name it did not get).
"""
import json
import os
import re
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import run  # noqa: E402


class DeclaredNamesTest(unittest.TestCase):
    def setUp(self):
        self.e2e, self.layers = run.declared()

    def test_literal_names_in_the_jvm_code_are_declared(self):
        names = set()
        for f in os.listdir(os.path.join(HERE, "scala")):
            with open(os.path.join(HERE, "scala", f)) as src:
                names |= set(re.findall(r'metrics\("([a-z0-9_.]+)"\)', src.read()))
                src.seek(0)
                names |= set(re.findall(r'\bm\("([a-z0-9_.]+)"\)', src.read()))
        self.assertTrue(names)
        self.assertEqual(sorted(n for n in names if n not in self.e2e and n not in self.layers), [])

    def test_families_expand_to_declared_names(self):
        for q in run.BATCH_QUERIES:
            self.assertIn("jobs.%s" % q, self.layers)
        for layer in run.SELF_LAYERS:
            self.assertIn("trace.self_ms.%s" % layer, self.layers)
        for name in ("dedup", "analytics"):
            self.assertEqual(16, sum(1 for n in self.layers if n.startswith("streaming.%s." % name)))
        self.assertIn("setup_s", self.e2e)

    def test_not_applicable_names_are_declared(self):
        for w, prefixes in run.NOT_APPLICABLE.items():
            for p in prefixes:
                self.assertTrue(any(n == p or n.startswith(p) for n in self.layers), (w, p))


@unittest.skipUnless(os.environ.get("PERFBENCH_SLOW") == "1", "set PERFBENCH_SLOW=1")
class EmittedNamesTest(unittest.TestCase):
    def test_every_workload_emits_exactly_the_declared_names(self):
        e2e, layers = run.declared()
        for w in run.WORKLOADS:
            for t in (0, 1):
                out = subprocess.run(
                    [sys.executable, os.path.join(HERE, "run.py"), "--workload", w, "--seed", "3",
                     "--seconds", "6", "--trace", str(t)],
                    cwd=ROOT, capture_output=True, text=True, check=True).stdout
                res = json.loads(out.strip().splitlines()[-1])
                self.assertTrue(res["correct"], (w, t))
                self.assertEqual(set(res["metrics"]), set(layers if t else e2e), (w, t))
                with open(os.path.join(ROOT, ".bench_work", "results",
                                       "%s-s3-t%d.json" % (w, t))) as f:
                    every = json.load(f)["all_metrics"]
                extra = set(every) - set(e2e) - set(layers) - run.INTERNAL
                self.assertEqual(extra, set(), (w, t))


if __name__ == "__main__":
    unittest.main()
