"""Self-tests for the benchmark's own code: python3 -m unittest discover -s perfbench"""
import json
import os
import shutil
import tempfile
import unittest

import gen
import run


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self.dir = tempfile.mkdtemp(dir=os.path.dirname(os.path.abspath(__file__)))

    def tearDown(self):
        shutil.rmtree(self.dir)

    def digest(self, kind, seed, name):
        return open(os.path.join(gen.generate(
            kind, seed, os.path.join(self.dir, name)), "DONE")).read()

    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        for kind in gen.KINDS:
            a = self.digest(kind, 7, f"{kind}-a")
            self.assertEqual(a, self.digest(kind, 7, f"{kind}-b"), kind)
            self.assertNotEqual(a, self.digest(kind, 8, f"{kind}-c"), kind)


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = [15, 20, 35, 40, 50]
        self.assertEqual(run.nearest_rank(xs, 30), (20, 5))
        self.assertEqual(run.nearest_rank(xs, 40), (20, 5))
        self.assertEqual(run.nearest_rank(xs, 50), (35, 5))
        self.assertEqual(run.nearest_rank(xs, 100), (50, 5))
        ys = [20, 16, 15, 13, 10, 8, 8, 7, 6, 3]
        self.assertEqual([run.nearest_rank(ys, p)[0] for p in (25, 50, 75, 90)],
                         [7, 8, 15, 16])
        self.assertEqual(run.nearest_rank([4.5], 90), (4.5, 1))
        with self.assertRaises(ValueError):
            run.nearest_rank([], 50)


def fake_result(traced):
    counters = {k: 10 for k in (
        "jobs", "stages", "tasks", "cpu_ns", "run_ms", "shuffle_write_b",
        "shuffle_read_b", "shuffle_records", "spill_b", "input_rows", "gc_ms",
        "jit_ms", "compiles", "compile_ns", "gen_ns")}
    passes = [{"idx": i, "wall_ns": 10**9 + i, "traced": traced and i % 2 == 1,
               "stored_peak_b": 0, "heap_live_mb": 50.0, "counters": counters}
              for i in range(4)]
    ops = [{"pass": i, "name": f"q{j}", "ns": 10**6 * (j + 1), "error": None}
           for i in range(4) for j in range(3)]
    return {"ops_per_pass": 3, "setup_s": 4.0, "passes": passes,
            "ops": ops}


class NamesTest(unittest.TestCase):
    def test_printed_names_are_declared(self):
        e2e, layers = run.declared()
        metrics, n = run.end_to_end(fake_result(False))
        run.check_names(metrics, e2e)
        self.assertEqual(n, 9)
        self.assertLessEqual(set(run.pass_layers(fake_result(True))), set(layers))

    def test_undeclared_or_missing_name_is_refused(self):
        e2e, _ = run.declared()
        metrics, _ = run.end_to_end(fake_result(False))
        with self.assertRaises(ValueError):
            run.check_names(dict(metrics, extra_ms=1.0), e2e)
        with self.assertRaises(ValueError):
            run.check_names({k: v for k, v in metrics.items() if k != "pass_s"}, e2e)

    def test_benchmark_json_shape(self):
        spec = json.load(open(os.path.join(run.ROOT, "BENCHMARK.json")))
        self.assertLessEqual({w["name"] for w in spec["workloads"]},
                             set(run.INPUTS))
        self.assertIn("setup_s", run.declared()[0])


if __name__ == "__main__":
    unittest.main()
