"""Self-tests of the benchmark harness.

    python3 -m unittest discover -s lakebench/tests -v

The twin test builds the engine and starts one small JVM (~30 s); the
rest are pure Python.
"""
import filecmp
import json
import os
import sys
import tempfile
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402
import pctl  # noqa: E402
import run  # noqa: E402

import pandas as pd  # noqa: E402


def scratch_dir():
    build.OUT.mkdir(exist_ok=True)
    return tempfile.TemporaryDirectory(dir=build.OUT, prefix="selftest-")


class PercentileTest(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond_it(self):
        self.assertEqual(pctl.percentile(list(range(100)), 90, min_tail=10), (89, 100))
        self.assertEqual(pctl.percentile(list(range(99)), 90, min_tail=10), (None, 99))
        self.assertEqual(pctl.percentile([], 90, min_tail=10), (None, 0))

    def test_count_is_reported_and_order_ignored(self):
        xs = [5.0, 1.0, 3.0, 2.0, 4.0]
        self.assertEqual(pctl.percentile(xs, 50), (3.0, 5))
        self.assertEqual(pctl.percentile(xs, 100), (5.0, 5))
        self.assertEqual(pctl.median(xs), 3.0)
        self.assertIsNone(pctl.median([]))


class GeneratorTest(unittest.TestCase):
    def _tables(self, seed, d):
        gen.write_tables(d, seed, "sf0.001")
        return sorted(os.listdir(d))

    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        with scratch_dir() as t:
            a, b, c = (os.path.join(t, x) for x in "abc")
            for d in (a, b, c):
                os.mkdir(d)
            names = self._tables(7, a)
            self._tables(7, b)
            self._tables(8, c)
            tables = checks.oracle_rules(str(build.ROOT)).TABLES
            self.assertEqual(names, sorted(f"{t}.parquet" for t in tables))
            match, mismatch, _ = filecmp.cmpfiles(a, b, names, shallow=False)
            self.assertEqual(match, names)
            _, differ, _ = filecmp.cmpfiles(a, c, names, shallow=False)
            self.assertIn("lineitem.parquet", differ)
            self.assertIn("documents.parquet", differ)

    def test_feeds_and_op_lists_are_seeded(self):
        self.assertEqual(gen.feed_day(3, 2), gen.feed_day(3, 2))
        self.assertNotEqual(gen.feed_day(3, 2)[1], gen.feed_day(4, 2)[1])
        self.assertEqual(gen.txlog_rounds(3, 6000), gen.txlog_rounds(3, 6000))
        self.assertNotEqual(gen.txlog_rounds(3, 6000), gen.txlog_rounds(4, 6000))
        self.assertEqual(gen.query_orders(3, gen.FLOOR_QUERIES),
                         gen.query_orders(3, gen.FLOOR_QUERIES))
        self.assertNotEqual(gen.query_orders(3, gen.FLOOR_QUERIES),
                            gen.query_orders(4, gen.FLOOR_QUERIES))

    def test_feed_counts_follow_the_records(self):
        date, body, counts = gen.feed_day(5, 0)
        recs = json.loads(body)["near_earth_objects"][date]
        self.assertEqual(counts["silver"], len(recs))
        self.assertLess(counts["dim_asteroid"], counts["silver"])  # duplicate ids
        self.assertTrue(any(not r["close_approach_data"] for r in recs))
        self.assertTrue(any(len(r["close_approach_data"]) > 1 for r in recs))

    def test_dml_ranges_cover_one_percent(self):
        for rnd in gen.txlog_rounds(9, 6000):
            for op in rnd["ops"]:
                if op["op"] in ("update", "delete", "merge"):
                    self.assertEqual(op["hi"] - op["lo"], 60)


class OracleCompareTest(unittest.TestCase):
    def setUp(self):
        self.rules = checks.oracle_rules(str(build.ROOT))
        self.exp = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.25, 2.0], "s": ["a", "b", "c"]})

    def test_equal_result_passes_in_any_row_and_column_order(self):
        got = self.exp.iloc[::-1][["s", "v", "k"]]
        self.assertIsNone(checks.compare(got, self.exp, self.rules))

    def test_perturbed_results_are_rejected(self):
        bad = self.exp.copy()
        bad.loc[1, "v"] = 1.2500001
        self.assertIn("values differ", checks.compare(bad, self.exp, self.rules))
        self.assertIn("rows differ", checks.compare(self.exp.iloc[:2], self.exp, self.rules))
        self.assertIn("columns differ",
                      checks.compare(self.exp.rename(columns={"v": "w"}), self.exp, self.rules))

    def test_txlog_check_rejects_a_twin_mismatch(self):
        ok = {"commits": 4, "table_final": [10, "7"], "twin_final": [10, "7"],
              "table_mid": [9, "3"], "twin_mid": [9, "3"]}
        self.assertEqual(checks.check_txlog(ok), [])
        self.assertTrue(checks.check_txlog(dict(ok, twin_mid=[9, "4"])))


class ContractTest(unittest.TestCase):
    def test_benchmark_json_matches_the_harness(self):
        spec = json.loads((build.ROOT / "BENCHMARK.json").read_text())
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]}, run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]}, run.PER_LAYER)
        for w in spec["workloads"]:
            self.assertIn(w["name"], run.WORKLOADS)


class DmlTwinTest(unittest.TestCase):
    def test_twin_agrees_with_txlog_on_a_tiny_table(self):
        b = build.ensure()
        with scratch_dir() as t:
            scratch = Path(t)
            cfg = {"min_passes": 2, "scale": "sf0.001"}
            plan, _, _ = run.prepare("txlog_dml", 5, scratch, cfg)
            plan.update(workload="txlog_dml", seed=5, cores=2, scratch=str(scratch),
                        seconds=0, trace=False, min_passes=2, cap_s=60)
            (scratch / "plan.json").write_text(json.dumps(plan))
            rc, _ = run.run_jvm(b, scratch / "plan.json", scratch, 2, 150)
            self.assertEqual(rc, 0, (scratch / "jvm.log").read_text()[-3000:])
            res = json.loads((scratch / "result.json").read_text())
            self.assertEqual(res["failed"], 0, res["errors"])
            self.assertGreaterEqual(res["checks"]["commits"], 8)
            self.assertEqual(checks.check_txlog(res["checks"]), [])


if __name__ == "__main__":
    unittest.main()
