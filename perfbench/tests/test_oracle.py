"""Tests for the recall check of approximate catalog queries.

Run from the repository root:  python3 -m unittest discover perfbench/tests
"""
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

from pb import oracle  # noqa: E402

WANT = "SELECT CAST(i AS BIGINT) AS vec_id FROM range(10) t(i)"


class RecallTest(unittest.TestCase):
    def check(self, ids, recall=0.9):
        with tempfile.TemporaryDirectory() as d:
            pq.write_table(pa.table({"vec_id": pa.array(ids, pa.int64())}),
                           os.path.join(d, "part-0.parquet"))
            return oracle.check_recall(oracle.connect(d), d, WANT, recall)

    def test_the_whole_answer_passes(self):
        self.assertIsNone(self.check(list(range(10))))

    def test_a_missed_row_within_the_recall_passes(self):
        self.assertIsNone(self.check(list(range(9))))

    def test_too_many_missed_rows_fail(self):
        self.assertIn("recall 8/10", self.check(list(range(8))))

    def test_a_row_outside_the_answer_fails(self):
        self.assertIn("outside", self.check(list(range(9)) + [42]))

    def test_a_repeated_row_fails(self):
        self.assertIn("repeated", self.check(list(range(10)) + [3]))


if __name__ == "__main__":
    unittest.main()
