"""Tests of the DuckDB output check: python3 -m unittest discover -s perfbench/tests"""
import os
import sys
import tempfile
import unittest

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import oracle  # noqa: E402

ROWS = "SELECT * FROM (VALUES (1, 'a', 1.5), (2, 'b', 2.5), (3, 'c', NULL)) t(k, s, x)"


class OracleCheck(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.data = os.path.join(self.tmp.name, "data")
        os.makedirs(self.data)
        con = duckdb.connect()
        con.execute(f"COPY ({ROWS}) TO '{self.data}/t.parquet' (FORMAT PARQUET)")
        con.close()

    def tearDown(self):
        self.tmp.cleanup()

    def result(self, sql):
        d = os.path.join(self.tmp.name, "result")
        os.makedirs(d, exist_ok=True)
        con = duckdb.connect()
        con.execute(f"COPY ({sql}) TO '{d}/part-0.parquet' (FORMAT PARQUET)")
        con.close()
        return d

    def check(self, oracle_sql="SELECT k, s, x FROM t"):
        return oracle.check_all(self.data, self.tmp.name, ["result"],
                                {"result": oracle_sql})["result"]

    def test_same_rows_in_another_order_and_column_order_pass(self):
        self.result(f"SELECT x, s, k FROM ({ROWS}) ORDER BY k DESC")
        ok, msg = self.check()
        self.assertTrue(ok, msg)

    def test_one_altered_row_fails(self):
        self.result(f"SELECT k, CASE WHEN k = 2 THEN 'B' ELSE s END AS s, x FROM ({ROWS})")
        ok, msg = self.check()
        self.assertFalse(ok)
        self.assertIn("1 only in Spark", msg)

    def test_one_altered_value_in_the_last_place_fails(self):
        self.result(f"SELECT k, s, CASE WHEN k = 1 THEN 1.5000000000000002 ELSE x END "
                    f"AS x FROM ({ROWS})")
        self.assertFalse(self.check()[0])

    def test_missing_row_and_missing_result_fail(self):
        self.result(f"SELECT * FROM ({ROWS}) WHERE k < 3")
        self.assertFalse(self.check()[0])
        ok, msg = oracle.check_all(self.data, self.tmp.name, ["absent"],
                                   {"absent": "SELECT 1"})["absent"]
        self.assertEqual((ok, msg), (False, "no result written"))

    def test_entry_without_oracle_fails(self):
        self.result(ROWS)
        ok, msg = oracle.check_all(self.data, self.tmp.name, ["result"], {})["result"]
        self.assertEqual((ok, msg), (False, "no oracle"))

    def test_oracle_error_fails(self):
        self.result(ROWS)
        ok, msg = self.check(oracle_sql="SELECT nope FROM t")
        self.assertFalse(ok)
        self.assertIn("oracle error", msg)


if __name__ == "__main__":
    unittest.main()
