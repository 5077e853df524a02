"""Tests of tools/diff_outputs.py on tiny parquet fixtures written by DuckDB.

    python3 -m unittest tools/test_diff_outputs.py
"""
import contextlib
import io
import os
import sys
import tempfile
import unittest

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import diff_outputs  # noqa: E402


class DiffOutputsTest(unittest.TestCase):

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.a = os.path.join(self.tmp.name, "a")
        self.b = os.path.join(self.tmp.name, "b")
        self.con = duckdb.connect()

    def tearDown(self):
        self.con.close()
        self.tmp.cleanup()

    def write(self, side, query, select):
        """One query directory of `side` holding the rows of `select`."""
        d = os.path.join(side, query)
        os.makedirs(d)
        self.con.sql(f"COPY ({select}) TO '{d}/part-00000.parquet' (FORMAT parquet)")

    def diff(self):
        out = io.StringIO()
        with contextlib.redirect_stdout(out):
            status = diff_outputs.main(self.a, self.b)
        return status, out.getvalue().splitlines()

    def test_identical_outputs_are_same(self):
        for side in (self.a, self.b):
            self.write(side, "q1", "SELECT * FROM (VALUES (1, 'x', 0.5), (2, 'y', 0.25)) t(id, v, s)")
            self.write(side, "q2", "SELECT [1, 2] AS arr")
        status, lines = self.diff()
        self.assertEqual(status, 0)
        self.assertEqual(lines, ["== 2 same, 0 differ =="])

    def test_a_duplicated_row_differs(self):
        # the same set of rows, but B holds one of them twice
        self.write(self.a, "q1", "SELECT * FROM (VALUES (1, 'x'), (2, 'y')) t(id, v)")
        self.write(self.b, "q1", "SELECT * FROM (VALUES (1, 'x'), (2, 'y'), (2, 'y')) t(id, v)")
        status, lines = self.diff()
        self.assertEqual(status, 1)
        self.assertEqual(lines, ["[DIFF] q1: 2 vs 3 rows, 0 only in A, 1 only in B",
                                 "== 0 same, 1 differ =="])

    def test_a_column_type_change_differs(self):
        self.write(self.a, "q1", "SELECT CAST(1 AS BIGINT) AS id")
        self.write(self.b, "q1", "SELECT CAST(1 AS INTEGER) AS id")
        status, lines = self.diff()
        self.assertEqual(status, 1)
        self.assertEqual(lines, ["[DIFF] q1: schema [('id', 'BIGINT')] vs [('id', 'INTEGER')]",
                                 "== 0 same, 1 differ =="])

    def test_a_query_on_one_side_only_differs(self):
        for side in (self.a, self.b):
            self.write(side, "q1", "SELECT 1 AS id")
        self.write(self.a, "q2", "SELECT 2 AS id")
        status, lines = self.diff()
        self.assertEqual(status, 1)
        self.assertEqual(lines, [f"[DIFF] q2: only in {self.a}", "== 1 same, 1 differ =="])

    def test_any_difference_exits_1(self):
        # one same query does not mask one that differs by a value
        for side, v in ((self.a, 1), (self.b, 2)):
            self.write(side, "q1", "SELECT 1 AS id")
            self.write(side, "q2", f"SELECT {v} AS id")
        status, lines = self.diff()
        self.assertEqual(status, 1)
        self.assertEqual(lines, ["[DIFF] q2: 1 vs 1 rows, 1 only in A, 1 only in B",
                                 "== 1 same, 1 differ =="])


if __name__ == "__main__":
    unittest.main()
