"""Tests that the benchmark's correctness checks fail on wrong output.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

They run without Spark: the pipeline check reads a generated page chain's
ground truth and a CSV written here, the query check compares a parquet
file written here against DuckDB, the timed-op check compares result
fingerprints. The end-to-end form of the same planted
failures is `python3 perfbench/run.py ... --plant`.
"""
import os
import tempfile
import unittest

import duckdb
import pandas as pd

import check
import gen


def write_csv(out, truth):
    """A CSV shaped like CsvSink.write's, with the rows the truth expects."""
    os.makedirs(out)
    rows = []
    for label, n in truth["labels"].items():
        rows += [label] * n
    rows += ["N/A"] * truth["bypassed"]
    with open(os.path.join(out, "part-00000-x.csv"), "w") as f:
        f.write(",".join(check.CSV_HEADER + [check.AI_COLUMN]) + "\n")
        for i, label in enumerate(rows):
            f.write(",".join([f"NCT{i:08d}"] + ["x"] * (len(check.CSV_HEADER) - 1) + [label]) + "\n")


class EtlCheckTest(unittest.TestCase):
    def setUp(self):
        self.dir = tempfile.TemporaryDirectory()
        self.truth = gen.pages(os.path.join(self.dir.name, "pages"), 3, 3, 50, 20)
        self.out = os.path.join(self.dir.name, "csv")
        write_csv(self.out, self.truth)
        self.facts = {"out": self.out, "rows": self.truth["rows"],
                      "processed": self.truth["processed"], "bypassed": self.truth["bypassed"]}

    def tearDown(self):
        self.dir.cleanup()

    def test_generated_truth_is_consistent(self):
        t = self.truth
        self.assertEqual(t["studies"], 2 * 50 + 20)
        self.assertEqual(t["processed"] + t["bypassed"], t["rows"])
        self.assertEqual(sum(t["labels"].values()), t["processed"])
        self.assertGreater(t["processed"], 0)
        self.assertGreater(t["bypassed"], 0)

    def test_correct_output_passes(self):
        self.assertIsNone(check.check_etl(self.facts, self.truth))

    def test_dropped_csv_row_fails(self):
        part = os.path.join(self.out, "part-00000-x.csv")
        with open(part) as f:
            lines = f.readlines()
        with open(part, "w") as f:
            f.writelines(lines[:-1])
        self.assertIsNotNone(check.check_etl(self.facts, self.truth))

    def test_wrong_observed_counter_fails(self):
        self.facts["processed"] += 1
        self.assertIsNotNone(check.check_etl(self.facts, self.truth))


class QueryCheckTest(unittest.TestCase):
    SQL = "SELECT k, sum(v) AS s FROM t GROUP BY k"

    def setUp(self):
        self.dir = tempfile.TemporaryDirectory()
        self.con = duckdb.connect()
        self.con.execute("CREATE TABLE t AS SELECT i % 5 AS k, i * 1.5 AS v FROM range(100) r(i)")
        self.out = os.path.join(self.dir.name, "q")
        os.makedirs(self.out)
        self.want = self.con.sql(self.SQL).df()

    def tearDown(self):
        self.dir.cleanup()

    def dump(self, df):
        df.to_parquet(os.path.join(self.out, "part-0.parquet"), index=False)

    def test_same_result_passes(self):
        self.dump(self.want.sample(frac=1, random_state=1))  # row order does not matter
        reason, hs, ho = check.query_check(self.con, self.SQL, self.out)
        self.assertIsNone(reason)
        self.assertEqual(hs, ho)

    def test_perturbed_result_fails(self):
        bad = self.want.copy()
        bad.loc[0, "s"] += 1
        self.dump(bad)
        reason, hs, ho = check.query_check(self.con, self.SQL, self.out)
        self.assertIsNotNone(reason)
        self.assertNotEqual(hs, ho)

    def test_dropped_row_fails(self):
        self.dump(self.want.iloc[1:])
        self.assertIsNotNone(check.query_check(self.con, self.SQL, self.out)[0])

    def test_empty_result_fails(self):
        self.dump(self.want.iloc[:0])
        self.assertIsNotNone(check.query_check(self.con, self.SQL, self.out)[0])


class QueryOpCheckTest(unittest.TestCase):
    DUMP = {"fingerprint": {"rows": 5, "hash": "-123456789"}}

    def test_same_fingerprint_passes(self):
        self.assertIsNone(check.check_query_op({"fingerprint": {"rows": 5, "hash": "-123456789"}}, self.DUMP))

    def test_perturbed_timed_result_fails(self):
        self.assertIsNotNone(check.check_query_op({"fingerprint": {"rows": 5, "hash": "-123456788"}}, self.DUMP))
        self.assertIsNotNone(check.check_query_op({"fingerprint": {"rows": 4, "hash": "-123456789"}}, self.DUMP))

    def test_missing_fingerprint_fails(self):
        self.assertIsNotNone(check.check_query_op({}, self.DUMP))
        self.assertIsNotNone(check.check_query_op(self.DUMP, {}))


class StreamCheckTest(unittest.TestCase):
    def test_drift_fails(self):
        base = {"state_bytes": 100, "report_rows": 7, "report_hash": "12"}
        self.assertIsNone(check.check_stream(dict(base, state_bytes=101), base))
        self.assertIsNotNone(check.check_stream(dict(base, report_rows=6), base))
        self.assertIsNotNone(check.check_stream(dict(base, report_hash="13"), base))
        self.assertIsNotNone(check.check_stream(dict(base), dict(base, report_rows=0)))


if __name__ == "__main__":
    unittest.main()
