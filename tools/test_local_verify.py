"""Exit-status checks for tools/local_verify.py on a tiny dump.

    python3 -m unittest discover -s tools -p 'test_*.py'
"""
import contextlib
import io
import json
import os
import sys
import tempfile
import unittest

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import local_verify  # noqa: E402


class ExitStatusTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.out = os.path.join(self.tmp.name, "out")
        self.sf = os.path.join(self.tmp.name, "sf")
        os.makedirs(self.sf)
        # "good" matches its oracle; "no_oracle" has a dump only.
        for name in ("good", "no_oracle"):
            os.makedirs(os.path.join(self.out, name))
            pd.DataFrame({"x": [1, 2]}).to_parquet(
                os.path.join(self.out, name, "part-0.parquet"))
        with open(os.path.join(self.out, "oracle_sql.json"), "w") as f:
            json.dump({"good": "SELECT * FROM (VALUES (1), (2)) t(x)",
                       "no_dump": "SELECT 1 AS x"}, f)

    def tearDown(self):
        self.tmp.cleanup()

    def run_main(self, *names):
        argv = sys.argv
        sys.argv = ["local_verify.py", self.out, self.sf, *names]
        out = io.StringIO()
        try:
            with contextlib.redirect_stdout(out), self.assertRaises(SystemExit) as e:
                local_verify.main()
        finally:
            sys.argv = argv
        return e.exception.code, out.getvalue()

    def test_requested_match_passes(self):
        code, out = self.run_main("good")
        self.assertEqual(code, 0, out)
        self.assertIn("OK", out)

    def test_unfiltered_run_passes_on_rows_only_dumps(self):
        code, out = self.run_main()
        self.assertEqual(code, 0, out)
        self.assertIn("rows-only", out)

    def test_requested_name_without_dump_fails(self):
        code, out = self.run_main("good", "no_dump")
        self.assertEqual(code, 1, out)
        self.assertIn("no_dump", out)
        self.assertIn("NO DUMP", out)

    def test_misspelt_name_fails(self):
        code, out = self.run_main("goood")
        self.assertEqual(code, 1, out)
        self.assertIn("NO DUMP", out)

    def test_requested_name_without_oracle_fails(self):
        code, out = self.run_main("no_oracle")
        self.assertEqual(code, 1, out)
        self.assertIn("NO ORACLE", out)

    def test_hash_mismatch_fails(self):
        pd.DataFrame({"x": [1, 3]}).to_parquet(
            os.path.join(self.out, "good", "part-0.parquet"))
        code, out = self.run_main("good")
        self.assertEqual(code, 1, out)
        self.assertIn("FAIL", out)


if __name__ == "__main__":
    unittest.main()
