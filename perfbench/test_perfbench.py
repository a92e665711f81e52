"""Self-tests of the benchmark: its order statistics, and that each output
check rejects a tampered result.

    python3 perfbench/test_perfbench.py
"""
import csv
import json
import os
import shutil
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import duckdb  # noqa: E402

import checks  # noqa: E402
import manifests  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


class TempDir(unittest.TestCase):
    def setUp(self):
        self.dir = tempfile.mkdtemp(prefix="perfbench-test-")

    def tearDown(self):
        shutil.rmtree(self.dir, ignore_errors=True)


class StatsTest(unittest.TestCase):
    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)
        self.assertEqual(stats.median([7]), 7)
        with self.assertRaises(ValueError):
            stats.median([])

    def test_percentile_interpolates_like_numpy(self):
        xs = [10, 1, 4, 3, 2]
        self.assertEqual(stats.percentile(xs, 50), 3)
        self.assertEqual(stats.percentile(xs, 0), 1)
        self.assertEqual(stats.percentile(xs, 100), 10)
        self.assertAlmostEqual(stats.percentile([1, 2, 3, 4], 90), 3.7)
        self.assertEqual(stats.percentile([5], 90), 5)
        with self.assertRaises(ValueError):
            stats.percentile(xs, 101)


class TableCheckTest(TempDir):
    ROWS = 200

    def setUp(self):
        super().setUp()
        con = duckdb.connect()
        con.execute(checks._BLANK_MACRO)
        # a valid output made from the SQL restatement itself, with planted
        # defects like CodeFiles.generate's
        con.execute(f"""CREATE TABLE v AS
            WITH src AS (SELECT range AS id,
                    CASE WHEN range % 7 = 0 THEN 'bad repo' ELSE 'repo_' || range END AS repo,
                    'src/a.py' AS path, repeat('a', 40) AS commit,
                    CASE WHEN range % 5 = 0 THEN 'klingon' ELSE 'python' END AS lang,
                    CASE WHEN range % 11 = 0 THEN NULL ELSE 'w' || range END AS content
                 FROM range({self.ROWS}))
            SELECT *, {checks._EXPECTED_VIOLATIONS} AS n FROM src""")
        con.execute("""CREATE TABLE out AS SELECT id, repo, path, commit, lang,
            content, range(n) AS violations, sha256(content) AS content_sha256,
            n = 0 AS passed, CASE WHEN n > 0 THEN 'errors' END AS error FROM v""")
        self.con = con
        self.write_outputs()

    def write_outputs(self, drop_violation=False, invalid_delta=0):
        d = self.dir
        for sub in ("validated/lang=python", "violations/lang=python", "manifest"):
            shutil.rmtree(os.path.join(d, sub.split("/")[0]), ignore_errors=True)
        for sub in ("validated/lang=python", "violations/lang=python", "manifest"):
            os.makedirs(os.path.join(d, sub))
        self.con.execute(f"COPY out TO '{d}/validated/lang=python/p.parquet'")
        skip = "OFFSET 1" if drop_violation else ""
        self.con.execute(f"""COPY (SELECT id AS row_id FROM out, unnest(violations)
            ORDER BY id {skip}) TO '{d}/violations/lang=python/p.parquet'""")
        self.con.execute(f"""COPY (SELECT 'python' AS partition, 'ok' AS status,
            count(*) AS n_rows,
            count(*) FILTER (WHERE NOT passed) + {invalid_delta} AS n_invalid,
            sum(len(violations)) AS n_violations FROM out)
            TO '{d}/manifest/p.parquet'""")

    def check(self):
        return checks.check_table_run(duckdb.connect(), self.dir, self.ROWS, 1)

    def test_accepts_correct_output(self):
        self.assertGreater(self.con.sql("SELECT count(*) FROM out WHERE NOT passed")
                           .fetchone()[0], 0)
        self.assertEqual(self.check(), [])

    def test_rejects_flipped_passed(self):
        self.con.execute("UPDATE out SET passed = NOT passed WHERE id = 7")
        self.write_outputs()
        self.assertTrue(any("passed" in p for p in self.check()))

    def test_rejects_dropped_violation_row(self):
        self.write_outputs(drop_violation=True)
        self.assertTrue(any("violation rows" in p for p in self.check()))

    def test_rejects_wrong_manifest_totals(self):
        self.write_outputs(invalid_delta=1)
        self.assertTrue(any("manifest totals" in p for p in self.check()))

    def test_rejects_wrong_sha(self):
        self.con.execute("UPDATE out SET content_sha256 = sha256('x') WHERE id = 3")
        self.write_outputs()
        self.assertTrue(any("content_sha256" in p for p in self.check()))


class ManifestCheckTest(TempDir):
    def setUp(self):
        super().setUp()
        self.expected = manifests.generate(self.dir, seed=5, count=1, rows=60)
        (self.path, self.flags), = self.expected.items()
        self.out = os.path.join(self.dir, "out")

    def call(self, flip_row=None, reported_delta=0):
        """What a correct CLI call writes, optionally tampered with."""
        os.makedirs(self.out, exist_ok=True)
        with open(self.path, newline="") as f:
            rows = list(csv.reader(f))[1:]
        with open(os.path.join(self.out, "part-00000.csv"), "w", newline="") as f:
            w = csv.writer(f)
            w.writerow(manifests.FIELDS + ["errors"])
            for i, (r, bad) in enumerate(zip(rows, self.flags)):
                err = "[errors found on row]" if bad != (i == flip_row) else ""
                w.writerow(r + [err])
        n_bad = sum(self.flags)
        return {"manifest": self.path, "out": self.out, "exit": 1 if n_bad else 0,
                "invalid_reported": n_bad + reported_delta}

    def test_plants_invalid_rows(self):
        self.assertTrue(0.1 < sum(self.flags) / len(self.flags) < 0.6)

    def test_accepts_correct_output(self):
        self.assertEqual(manifests.check_call(self.call(), self.flags), [])

    def test_rejects_flipped_verdict(self):
        self.assertNotEqual(manifests.check_call(self.call(flip_row=4), self.flags), [])

    def test_rejects_wrong_invalid_count(self):
        self.assertNotEqual(
            manifests.check_call(self.call(reported_delta=1), self.flags), [])


class CatalogCheckTest(TempDir):
    def setUp(self):
        super().setUp()
        self.sf = os.path.join(self.dir, "sf")
        self.check_dir = os.path.join(self.dir, "check")
        os.makedirs(self.sf)
        os.makedirs(os.path.join(self.check_dir, "q_sum.parquet"))
        self.con = duckdb.connect()
        self.con.execute(f"""COPY (SELECT range % 3 AS k, range AS x FROM range(30))
            TO '{self.sf}/t.parquet'""")
        with open(os.path.join(self.check_dir, "oracle_sql.json"), "w") as f:
            json.dump({"q_sum": "SELECT k, sum(x) AS s FROM t GROUP BY k"}, f)

    def write_output(self, sql):
        self.con.execute(f"COPY ({sql}) TO '{self.check_dir}/q_sum.parquet/part-0.parquet'")

    def check(self):
        return checks.check_catalog(duckdb.connect(), self.sf, self.check_dir)

    def test_accepts_matching_output(self):
        self.write_output(f"SELECT k, sum(x) AS s FROM '{self.sf}/t.parquet' GROUP BY k")
        self.assertEqual(self.check(), {"q_sum": []})

    def test_rejects_altered_row(self):
        self.write_output(f"""SELECT k, sum(x) + (k = 1)::INT AS s
            FROM '{self.sf}/t.parquet' GROUP BY k""")
        self.assertNotEqual(self.check()["q_sum"], [])


class BenchmarkJsonTest(unittest.TestCase):
    def test_metric_lists_match_the_runner(self):
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual([m["name"] for m in spec["end_to_end"]], run.END_TO_END)
        self.assertEqual([m["name"] for m in spec["per_layer"]], run.PER_LAYER)
        for m in spec["end_to_end"] + spec["per_layer"]:
            self.assertEqual(m["unit"], run.unit(m["name"]), m["name"])
        self.assertEqual([w["name"] for w in spec["workloads"]], list(run.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
