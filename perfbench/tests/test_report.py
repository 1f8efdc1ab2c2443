"""Tests of the benchmark's own logic: python3 -m unittest discover -s perfbench/tests"""
import hashlib
import os
import re
import shutil
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import gen_elt  # noqa: E402
import report  # noqa: E402
import run  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(report.percentile(list(range(99)), 0.9))
        self.assertEqual(report.percentile(list(range(100)), 0.9), 89)
        self.assertEqual(report.percentile(list(range(1000)), 0.99), 989)
        self.assertIsNone(report.percentile(list(range(999)), 0.99))
        self.assertIsNone(report.percentile([], 0.5))

    def test_median_rank(self):
        self.assertEqual(report.percentile(list(range(40, 0, -1)), 0.5), 20)


# the contract's syntax of metric names and units
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


class MetricNames(unittest.TestCase):
    def test_syntax_rule(self):
        for good in ("setup_s", "kernel.DecSum.ns_per_row", "9x", "a-b.c"):
            self.assertRegex(good, NAME)
        for bad in ("", "_x", ".x", "a b", "a/b", "x" * 65):
            self.assertNotRegex(bad, NAME)
        for good in ("ms", "s", "1/s", "count", "%", "MiB"):
            self.assertRegex(good, UNIT)
        for bad in ("", "per second", "x" * 17):
            self.assertNotRegex(bad, UNIT)

    def test_every_metric_is_valid_and_unique(self):
        spec = report.spec()
        metrics = spec["end_to_end"] + spec["per_layer"]
        names = [m["name"] for m in metrics]
        self.assertEqual(len(names), len(set(names)))
        for m in metrics:
            self.assertRegex(m["name"], NAME)
            self.assertRegex(m["unit"], UNIT)
            self.assertIn(m["better"], ("higher", "lower"))
        self.assertEqual([w["name"] for w in spec["workloads"]],
                         sorted(run.WORKLOADS))

    def test_every_layer_metric_says_what_it_moves(self):
        layers = report.layer_spec()
        self.assertEqual(sorted(layers),
                         sorted(m["name"] for m in report.spec()["per_layer"]))
        moved = [m["name"] for m in report.spec()["end_to_end"]] + [
            n for n, _ in report.PRINTED_ONLY]
        for name, m in layers.items():
            # twins, tracing figures and kernels no workload runs move
            # nothing, and say so with an empty list
            self.assertTrue(m["module"] and m["what"], name)
            self.assertIsInstance(m["moves"], list, name)
            for mv in m["moves"]:
                self.assertIn(mv["workload"], run.WORKLOADS)
                self.assertIn(mv["metric"], moved)


def digest(d):
    h = {}
    for name in sorted(os.listdir(d)):
        if name.endswith(".yaml") or name.startswith("_"):
            continue
        with open(os.path.join(d, name), "rb") as f:
            h[name] = hashlib.sha256(f.read()).hexdigest()
    return h


class GeneratorDeterminism(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def gen(self, seed):
        d = os.path.join(self.tmp, "out")
        shutil.rmtree(d, ignore_errors=True)
        gen_elt.generate(d, seed)
        return digest(d)

    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        a, b, c = self.gen(7), self.gen(7), self.gen(8)
        self.assertEqual(len(a), gen_elt.N_TABLES)
        self.assertEqual(a, b)
        for name in a:
            self.assertNotEqual(a[name], c[name], name)

    def test_expectations_follow_the_sources(self):
        recs = gen_elt.source_rows(3, 1, 500)
        rows = gen_elt.expected_rows(recs)
        nulls = gen_elt.null_counts(recs)
        self.assertEqual(nulls["note"], 500)
        self.assertEqual(nulls.get("label", 0),
                         sum(r[1] is None for r in rows))
        self.assertTrue(all(r[3] is None or r[3].count(".") == 1
                            and len(r[3].split(".")[1]) == 2 for r in rows))


class SourceDigest(unittest.TestCase):
    """The build and the generated tables are reused only while the
    sources they came from are unchanged."""

    def test_follows_sources_not_outputs(self):
        with tempfile.TemporaryDirectory() as root:
            def write(rel, text):
                path = os.path.join(root, rel)
                os.makedirs(os.path.dirname(path), exist_ok=True)
                with open(path, "w") as f:
                    f.write(text)
            write("build.sbt", "name := \"x\"")
            write("project/build.properties", "sbt.version=1.10.0")
            write("src/main/scala/A.scala", "object A")
            first = run.source_digest(root)
            write("target/scala-2.13/classes/A.class", "bytes")
            write("src/test/scala/ASpec.scala", "class ASpec")
            self.assertEqual(run.source_digest(root), first)
            write("src/main/scala/A.scala", "object A { val x = 1 }")
            self.assertNotEqual(run.source_digest(root), first)


if __name__ == "__main__":
    unittest.main()
