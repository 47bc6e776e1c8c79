"""Verdict checks for tools/perf_pairs.py on canned result lines.

    python3 -m unittest discover -s tools -p 'test_*.py'
"""
import contextlib
import io
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import perf_pairs  # noqa: E402


def line(op_ms, mb=2.0, correct=True, failed=0):
    return {"correct": correct, "failed": failed,
            "metrics": {"op_ms": {"value": op_ms, "unit": "ms"},
                        "output_mb": {"value": mb, "unit": "MB"}}}


def records(pairs, workload="daily_snapshot"):
    out = []
    for seed, (parent, change) in enumerate(pairs, start=21):
        out.append({"workload": workload, "seed": seed, "side": "parent", "line": parent})
        out.append({"workload": workload, "seed": seed, "side": "change", "line": change})
    return out


def row(rows, metric):
    return next(r for r in rows if r["metric"] == metric)


class VerdictTest(unittest.TestCase):
    def test_clear_gain_holds(self):
        # parent 5000..5900 (IQR 450), change ~900 ms lower on every pair
        pairs = [(line(5000 + 100 * i), line(4100 + 100 * i)) for i in range(10)]
        r = row(perf_pairs.summarize(records(pairs)), "op_ms")
        self.assertEqual((r["pairs"], r["wins"], r["ties"]), (10, 10, 0))
        self.assertTrue(r["gain_holds"] and r["all_correct"])
        self.assertEqual(r["parent_median"], 5450)

    def test_eight_of_ten_wins_is_not_a_gain(self):
        pairs = [(line(5000 + 100 * i), line(4000 + 100 * i)) for i in range(8)]
        pairs += [(line(5000), line(5100)), (line(5000), line(5200))]
        r = row(perf_pairs.summarize(records(pairs)), "op_ms")
        self.assertEqual(r["wins"], 8)
        self.assertFalse(r["gain_holds"])

    def test_gap_inside_parent_iqr_is_not_a_gain(self):
        # every pair won by 50 ms, but the parent's runs spread over 2 s
        pairs = [(line(4000 + 250 * i), line(3950 + 250 * i)) for i in range(10)]
        r = row(perf_pairs.summarize(records(pairs)), "op_ms")
        self.assertEqual(r["wins"], 10)
        self.assertFalse(r["gain_holds"])

    def test_identical_output_counts_ties_and_higher_is_better_flips(self):
        pairs = [(line(5000, mb=2.0), line(4000, mb=2.0)) for _ in range(3)]
        rows = perf_pairs.summarize(records(pairs), {"op_ms": "higher"})
        self.assertEqual(row(rows, "output_mb")["ties"], 3)
        self.assertEqual(row(rows, "output_mb")["wins"], 0)
        self.assertEqual(row(rows, "op_ms")["wins"], 0)

    def test_incorrect_run_and_unpaired_seed(self):
        recs = records([(line(5000), line(4000, correct=False))] * 2)
        recs.append({"workload": "daily_snapshot", "seed": 99, "side": "parent",
                     "line": line(1)})
        r = row(perf_pairs.summarize(recs), "op_ms")
        self.assertEqual(r["pairs"], 2)
        self.assertFalse(r["all_correct"])

    def test_report_reads_kept_lines(self):
        pairs = [(line(5000 + 100 * i), line(4000 + 100 * i)) for i in range(10)]
        with tempfile.TemporaryDirectory() as d:
            path = os.path.join(d, "pairs.jsonl")
            with open(path, "w") as f:
                f.writelines(json.dumps(r) + "\n" for r in records(pairs))
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                perf_pairs.main(["--report", path])
        self.assertIn("daily_snapshot op_ms 10 | 5450", buf.getvalue())
        self.assertIn("| 10 0 | GAIN", buf.getvalue())

    def test_median_worse_than_bound_is_a_regression(self):
        # change median 30 % above the parent's: outside a 25 % bound
        pairs = [(line(4000 + 10 * i), line(5200 + 10 * i)) for i in range(10)]
        rows = perf_pairs.summarize(records(pairs), bounds={"op_ms": 0.25})
        self.assertTrue(row(rows, "op_ms")["regression"])
        self.assertFalse(row(rows, "output_mb")["regression"])

    def test_median_worse_within_bound_is_not_a_regression(self):
        pairs = [(line(4000 + 10 * i), line(4800 + 10 * i)) for i in range(10)]
        rows = perf_pairs.summarize(records(pairs), bounds={"op_ms": 0.25})
        self.assertFalse(row(rows, "op_ms")["regression"])
        # no bound declared: never a regression
        rows = perf_pairs.summarize(records([(line(1000), line(9000))] * 3))
        self.assertFalse(row(rows, "op_ms")["regression"])

    def test_regression_follows_the_better_direction(self):
        pairs = [(line(5000), line(3000))] * 4
        rows = perf_pairs.summarize(records(pairs), {"op_ms": "higher"}, {"op_ms": 0.25})
        self.assertTrue(row(rows, "op_ms")["regression"])
        rows = perf_pairs.summarize(records(pairs), {}, {"op_ms": 0.25})
        self.assertFalse(row(rows, "op_ms")["regression"])

    def test_report_prints_regression_and_per_pair_ratios(self):
        pairs = [(line(4000), line(6000, mb=2.0)), (line(5000), line(7500, mb=2.0))]
        with tempfile.TemporaryDirectory() as d:
            path = os.path.join(d, "pairs.jsonl")
            with open(path, "w") as f:
                f.writelines(json.dumps(r) + "\n" for r in records(pairs))
            with open(os.path.join(d, "BENCHMARK.json"), "w") as f:
                json.dump({"end_to_end": [
                    {"name": "op_ms", "better": "lower", "bound": 0.25},
                    {"name": "output_mb", "better": "lower", "bound": 0.05}]}, f)
            buf = io.StringIO()
            cwd = os.getcwd()
            os.chdir(d)
            try:
                with contextlib.redirect_stdout(buf):
                    perf_pairs.main(["--report", path])
            finally:
                os.chdir(cwd)
        out = buf.getvalue()
        self.assertIn("| 0 0 | no gain REGRESSION", out)
        self.assertIn("daily_snapshot op_ms | 21:1.500 22:1.500", out)
        self.assertIn("daily_snapshot output_mb | 21:1.000 22:1.000", out)

    def test_seed_range(self):
        self.assertEqual(perf_pairs.seed_range("21-24"), [21, 22, 23, 24])
        self.assertEqual(perf_pairs.seed_range("7"), [7])


if __name__ == "__main__":
    unittest.main()
