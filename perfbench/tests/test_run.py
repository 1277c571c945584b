"""Tests of the benchmark's own checks and aggregation (no JVM needed).

Run from the repository root: python3 -m unittest discover -s perfbench/tests
"""
import copy
import json
import os
import shutil
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import duckdb  # noqa: E402
import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402

import run  # noqa: E402


def sample_record():
    """A real traced record of sql_sf0.01, cut to three queries per pass."""
    with open(os.path.join(HERE, "data", "record_trace.json")) as f:
        return json.load(f)


class DigestCheck(unittest.TestCase):
    def setUp(self):
        os.makedirs(os.path.join(run.ROOT, ".bench_build"), exist_ok=True)
        self.dir = tempfile.mkdtemp(dir=os.path.join(run.ROOT, ".bench_build"))

    def tearDown(self):
        shutil.rmtree(self.dir)

    def test_digest_ignores_row_and_column_order(self):
        df = pd.DataFrame({"b": [1.5, 2.25, None], "a": ["x", "y", "z"]})
        shuffled = df.iloc[[2, 0, 1]][["a", "b"]]
        self.assertEqual(run.digest(df), run.digest(shuffled))

    def test_perturbed_result_is_caught(self):
        """A result one ulp off in one float, or with one row changed, fails
        the check exactly like a query that threw; so does a query whose
        oracle returns no rows, since an empty match verifies nothing."""
        con = duckdb.connect()
        fixture = os.path.join(self.dir, "fixture")
        os.makedirs(fixture)
        con.execute("COPY (SELECT range AS k, range * 0.1 AS v FROM range(50)) "
                    f"TO '{fixture}/lineitem.parquet' (FORMAT PARQUET)")
        sql = "SELECT k % 5 AS g, sum(v) AS s FROM lineitem GROUP BY 1"
        empty_sql = "SELECT k FROM lineitem WHERE k < 0"
        record = {"fixture_dir": fixture, "queries": ["ok", "ulp", "row", "empty"],
                  "oracle_sql": {"ok": sql, "ulp": sql, "row": sql, "empty": empty_sql}}
        con.execute(f"CREATE VIEW lineitem AS SELECT * FROM '{fixture}/lineitem.parquet'")
        good = con.execute(sql).fetchdf()
        ulp = good.copy()
        ulp.loc[3, "s"] = np.nextafter(ulp.loc[3, "s"], np.inf)
        row = good.copy()
        row.loc[0, "g"] = 7
        empty = con.execute(empty_sql).fetchdf()
        for name, df in (("ok", good), ("ulp", ulp), ("row", row), ("empty", empty)):
            os.makedirs(os.path.join(self.dir, "results", name))
            con.register("r", df)
            con.execute(f"COPY r TO '{self.dir}/results/{name}/part-0.parquet' "
                        "(FORMAT PARQUET)")
            con.unregister("r")
        verdict = run.check_results(record, os.path.join(self.dir, "results"))
        self.assertIsNone(verdict["ok"])
        self.assertEqual(verdict["ulp"], "result differs from the oracle")
        self.assertEqual(verdict["row"], "result differs from the oracle")
        self.assertEqual(verdict["empty"], "oracle returned 0 rows (vacuous check)")


class FailureAccounting(unittest.TestCase):
    def test_throwing_query_counts_as_failed_and_in_pass_time(self):
        r = sample_record()
        before = run.end_to_end(r, *run.failures(r, {})[:2])
        self.assertEqual(before["ok_frac"], 1.0)
        # the harness records a throwing query with its error and keeps its
        # time in the pass: make one timed execution throw after 2 s
        timed = [p for p in r["passes"] if p["kind"] == "timed" and not p["traced"]]
        bad = timed[0]["execs"][0]
        bad["error"] = "java.lang.IllegalStateException: boom"
        bad["wall_s"] += 2.0
        timed[0]["wall_s"] += 2.0
        attempted, failed, reasons = run.failures(r, {})
        self.assertEqual(failed, 1)
        self.assertIn(bad["q"], reasons)
        after = run.end_to_end(r, attempted, failed)
        self.assertAlmostEqual(after["ok_frac"], 1 - 1 / attempted)
        self.assertGreater(after["pass_s"], before["pass_s"])
        self.assertIn(bad["wall_s"], [e["wall_s"] for p in timed for e in p["execs"]])

    def test_wrong_result_fails_every_execution_of_its_query(self):
        r = sample_record()
        q = r["queries"][0]
        attempted, failed, reasons = run.failures(r, {q: "result differs from the oracle"})
        runs_of_q = sum(e["q"] == q for p in r["passes"] for e in p["execs"])
        self.assertEqual(failed, runs_of_q)
        self.assertEqual(reasons, {q: "result differs from the oracle"})


class MetricNames(unittest.TestCase):
    def test_every_printed_metric_is_declared_with_its_unit(self):
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        units = run.load_units()
        r = sample_record()
        attempted, failed, _ = run.failures(r, {})
        for metrics, declared in ((run.end_to_end(r, attempted, failed), spec["end_to_end"]),
                                  (run.per_layer(r), spec["per_layer"])):
            line = json.loads(run.result_line(metrics, units, attempted, failed))
            self.assertEqual(set(line), {"correct", "attempted", "failed", "metrics"})
            want = {m["name"]: m["unit"] for m in declared}
            got = {k: v["unit"] for k, v in line["metrics"].items()}
            self.assertEqual(got, want)
            for v in line["metrics"].values():
                self.assertIsInstance(v["value"], (int, float))

    def test_workloads_match_the_declaration(self):
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual(tuple(w["name"] for w in spec["workloads"]), run.WORKLOADS)


class SelfTime(unittest.TestCase):
    def test_self_time_subtracts_the_union_of_children(self):
        spans = [
            {"id": 1, "parent": 0, "name": "pass", "start_ms": 0, "end_ms": 100},
            {"id": 2, "parent": 1, "name": "query", "start_ms": 0, "end_ms": 100},
            {"id": 3, "parent": 2, "name": "action", "start_ms": 10, "end_ms": 90},
            {"id": 4, "parent": 3, "name": "spark.job", "start_ms": 20, "end_ms": 50},
            {"id": 5, "parent": 3, "name": "spark.job", "start_ms": 40, "end_ms": 60},
        ]
        (acc,) = run.self_times(spans)
        self.assertEqual(acc["pass"], 0)
        self.assertEqual(acc["query"], 20)
        self.assertEqual(acc["action"], 40)
        self.assertEqual(acc["spark.job"], 50)


if __name__ == "__main__":
    unittest.main()
