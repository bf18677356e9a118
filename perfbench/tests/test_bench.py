"""Self-tests of the benchmark's own logic: generator determinism, the pin
comparator and the percentile rule.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import shutil
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        os.makedirs(os.path.join(HERE, "work"), exist_ok=True)
        self.tmp = tempfile.mkdtemp(dir=os.path.join(HERE, "work"))

    def tearDown(self):
        shutil.rmtree(self.tmp, ignore_errors=True)

    def generated(self, workload, seed, name):
        out = os.path.join(self.tmp, name)
        gen.generate(workload, seed, out)
        return gen.tree_digest(out)

    def test_same_seed_gives_byte_identical_inputs(self):
        for w in run.WORKLOADS:
            with self.subTest(workload=w):
                self.assertEqual(self.generated(w, 7, f"{w}-a"), self.generated(w, 7, f"{w}-b"))

    def test_other_seed_gives_other_inputs(self):
        for w in run.WORKLOADS:
            with self.subTest(workload=w):
                self.assertNotEqual(self.generated(w, 7, f"{w}-a"), self.generated(w, 8, f"{w}-b"))

    def test_cache_maps_seeds_onto_their_input_sets(self):
        a = gen.ensure("migrate", 5, self.tmp)
        self.assertEqual(a, gen.ensure("migrate", 5, self.tmp))
        self.assertNotEqual(a, gen.ensure("migrate", 6, self.tmp))
        self.assertEqual(gen.input_key("sql_mix", 3), gen.input_key("sql_mix", 3 + gen.REGISTRY_POOL))

    def test_stated_shares(self):
        out = os.path.join(self.tmp, "m")
        facts = gen.generate("migrate", 3, out)
        m = gen.MIGRATE
        self.assertEqual(facts["bad_records"],
                         round(m["customers"] * m["bad_share"]) + 2 * round(m["tickets"] * m["bad_share"]))
        facts = gen.generate("curation", 3, os.path.join(self.tmp, "c"))
        self.assertEqual(facts["near_duplicate_docs"],
                         round(gen.SHAPES["curation"]["docs"] * gen.SHAPES["curation"]["dup_share"]))


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(run.percentile(xs, 50), 50)
        self.assertEqual(run.percentile(xs, 90), 90)
        self.assertEqual(run.percentile(xs, 100), 100)
        self.assertEqual(run.percentile([5.0], 99), 5.0)
        self.assertEqual(run.percentile([3, 1, 2], 50), 2)

    def test_tail_keeps_ten_samples_beyond(self):
        self.assertIsNone(run.tail_percentile(10))
        self.assertEqual(run.tail_percentile(200), 95)
        self.assertEqual(run.tail_percentile(100), 90)
        self.assertEqual(run.tail_percentile(1000), 99)
        for n in range(11, 2000):
            p = run.tail_percentile(n)
            beyond = n - -(-p * n // 100)          # samples above the nearest rank
            beyond_next = n - -(-(p + 1) * n // 100)
            self.assertGreaterEqual(beyond, 10, n)
            self.assertLess(beyond_next, 10, n)


class PinTest(unittest.TestCase):
    PINS = {"q1": {"rows": 3, "digest": "11"}, "q2": {"error": "oracle FAIL rows"}}

    def test_matching_outputs_pass(self):
        self.assertEqual(run.compare_pins({"q1": [{"rows": 3, "digest": "11", "count": 4}]},
                                          self.PINS), (0, []))

    def test_every_disagreeing_execution_counts(self):
        failed, why = run.compare_pins({
            "q1": [{"rows": 3, "digest": "11", "count": 2}, {"rows": 3, "digest": "12", "count": 1}],
            "q2": [{"rows": 1, "digest": "5", "count": 2}],
            "q3": [{"rows": 1, "digest": "5", "count": 1}]}, self.PINS)
        self.assertEqual(failed, 4)
        self.assertEqual([n for n, _ in why], ["q1", "q2", "q3"])
        self.assertIn("oracle FAIL", why[1][1])


if __name__ == "__main__":
    unittest.main()
