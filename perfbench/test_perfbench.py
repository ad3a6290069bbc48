"""Self-tests of the benchmark.

Run from the root of a checkout:
  python3 perfbench/test_perfbench.py          # all, ~1-2 min (builds once)
  python3 perfbench/test_perfbench.py -k Unit  # no engine runs, seconds
"""
import filecmp
import json
import os
import shutil
import subprocess
import sys
import time
import unittest

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import ab  # noqa: E402
import milan_gen  # noqa: E402
import run  # noqa: E402

SCRATCH = os.path.join(ROOT, ".bench_work", "tests")
SMALL = {"n_files": 2, "traffic_rows": 3000, "mobility_rows": 2000}


def benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


class UnitGenerator(unittest.TestCase):
    def setUp(self):
        shutil.rmtree(SCRATCH, ignore_errors=True)

    def tearDown(self):
        shutil.rmtree(SCRATCH, ignore_errors=True)

    def gen(self, name, seed):
        d = os.path.join(SCRATCH, name)
        milan_gen.generate(d, seed, **SMALL)
        return d

    def test_same_seed_gives_identical_bytes(self):
        a, b = self.gen("a", 7), self.gen("b", 7)
        files = sorted(os.listdir(a))
        self.assertEqual(files, sorted(os.listdir(b)))
        self.assertEqual(len(files), 2 * SMALL["n_files"] + 1)
        _, mismatch, errors = filecmp.cmpfiles(a, b, files, shallow=False)
        self.assertEqual((mismatch, errors), ([], []))

    def test_other_seed_gives_other_inputs(self):
        a, b = self.gen("a", 7), self.gen("b", 8)
        for f in sorted(os.listdir(a)):
            if f.endswith(".csv"):
                self.assertFalse(filecmp.cmp(os.path.join(a, f), os.path.join(b, f),
                                             shallow=False), f)

    def test_expected_counts_match_an_independent_count(self):
        import duckdb
        d = self.gen("a", 3)
        exp = milan_gen.generate(os.path.join(SCRATCH, "b"), 3, **SMALL)
        valid = ("try_strptime(datetime, '%Y-%m-%d %H:%M:%S') IS NOT NULL "
                 "AND CAST(CellID AS BIGINT) BETWEEN 0 AND 9999")
        traffic = duckdb.sql(
            f"SELECT count(*) FROM read_csv('{d}/sms-call-internet-mi-*.csv', "
            f"header = true, all_varchar = true) WHERE {valid}").fetchone()[0]
        mobility = duckdb.sql(
            f"SELECT count(*) FROM read_csv('{d}/mi-to-provinces-*.csv', "
            f"header = true, all_varchar = true) WHERE {valid} "
            "AND provinceName <> 'atlantis'").fetchone()[0]
        self.assertEqual(traffic, exp["traffic_fact_rows"])
        self.assertEqual(mobility, exp["mobility_fact_rows"])
        self.assertLess(traffic, exp["traffic_rows"])  # the filters drop rows


class UnitContract(unittest.TestCase):
    def test_metric_names_and_units_match_benchmark_json(self):
        b = benchmark_json()
        self.assertEqual({m["name"]: m["unit"] for m in b["end_to_end"]}, run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in b["per_layer"]}, run.PER_LAYER)
        self.assertTrue({w["name"] for w in b["workloads"]} <= set(run.WORKLOADS))

    def test_tail_is_highest_percentile_with_ten_samples_above(self):
        value, p, n = run.tail([float(i) for i in range(1, 101)])
        self.assertEqual((value, p, n), (90.0, 90, 100))
        self.assertEqual(sum(1 for i in range(1, 101) if i > value), 10)
        self.assertEqual(run.tail([3.0, 1.0, 2.0])[1], 50)

    def test_oracle_failure_fails_every_sample_of_the_query(self):
        res = {"samples": [["q1", 1.0, False], ["q1", 1.0, True], ["q2", 1.0, True],
                           ["q3", 1.0, False]]}
        self.assertEqual(run.check_failures(res, {"q1"}), 3)
        self.assertEqual(run.check_failures(res, set()), 2)

    def test_ab_verdicts(self):
        parent = [10.0 + 0.1 * (i % 3) for i in range(10)]
        self.assertEqual(ab.verdict(parent, [x - 2 for x in parent], "lower", 0.1),
                         ("better", 10))
        self.assertEqual(ab.verdict(parent, [x + 2 for x in parent], "lower", 0.1)[0], "worse")
        self.assertEqual(ab.verdict(parent, parent, "lower", 0.1)[0], "no difference")
        noisy = [10.0, 20.0] * 5
        self.assertEqual(ab.verdict(noisy, parent, "lower", 0.1)[0], "unresolved")


class EngineSmoke(unittest.TestCase):
    """Runs the engine on tiny inputs (the first run also builds it)."""

    def bench(self, *extra):
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", "milan_etl",
               "--seed", "5", "--seconds", "1", "--trace", "0", "--smoke", *extra]
        r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                           text=True, timeout=600)
        self.assertEqual(r.returncode, 0, r.stderr[-3000:])
        return json.loads(r.stdout.strip().splitlines()[-1])

    def test_smoke_run_is_correct_and_prints_every_metric(self):
        run.build.build()
        t0 = time.monotonic()
        res = self.bench()
        elapsed = time.monotonic() - t0
        self.assertTrue(res["correct"], res)
        self.assertEqual((res["failed"], set(res["metrics"])), (0, set(run.END_TO_END)))
        for m in res["metrics"].values():
            self.assertGreater(m["value"], 0)
        self.assertLess(elapsed, 120)

    def test_corrupted_expected_digest_is_a_failure(self):
        res = self.bench("--corrupt-digest")
        self.assertFalse(res["correct"])
        self.assertGreater(res["failed"], 0)


if __name__ == "__main__":
    unittest.main()
