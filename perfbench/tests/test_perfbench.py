"""Self-tests of the benchmark harness.

    python3 -m unittest discover -s perfbench/tests -v

The tiny-run tests build graft on first use and start one JVM per
workload, so the whole suite takes a few minutes.
"""
import hashlib
import io
import json
import os
import sys
import tempfile
import unittest
from contextlib import redirect_stdout

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


def digest(path):
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(path)):
        for f in sorted(files):
            h.update(f.encode())
            with open(os.path.join(d, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_inputs_other_seed_other_inputs(self):
        for w in gen.WORKLOADS:
            with tempfile.TemporaryDirectory() as t:
                a, b, c = (os.path.join(t, x) for x in "abc")
                gen.generate(w, 7, a, tiny=True)
                gen.generate(w, 7, b, tiny=True)
                gen.generate(w, 8, c, tiny=True)
                self.assertEqual(digest(a), digest(b), w)
                self.assertNotEqual(digest(a), digest(c), w)

    def test_planted_clusters_are_disjoint_and_in_range(self):
        with tempfile.TemporaryDirectory() as t:
            gen.generate("curate_corpus", 3, t, tiny=True)
            with open(os.path.join(t, "plants.json")) as f:
                plants = json.load(f)
            n = gen.load_sizes("curate_corpus", tiny=True)["documents"]["docs"]
            ids = [d for c in plants["clusters"] for d in c["doc_ids"]]
            self.assertEqual(len(ids), len(set(ids)))
            self.assertTrue(all(0 <= d < n for d in ids))
            self.assertTrue(plants["pii"])


def tiny_run(workload, trace):
    out = io.StringIO()
    with redirect_stdout(out):
        run.main(["--workload", workload, "--seed", "11", "--seconds", "1",
                  "--trace", str(trace), "--tiny"])
    return json.loads(out.getvalue().strip().splitlines()[-1])


class TinyRunTest(unittest.TestCase):
    """A tiny run of each workload passes its own correctness check and
    emits exactly the metrics BENCHMARK.json declares, under valid names."""

    @classmethod
    def setUpClass(cls):
        with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
            cls.spec = json.load(f)

    def check(self, workload, trace):
        res = tiny_run(workload, trace)
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(res["correct"], res)
        self.assertEqual(res["failed"], 0)
        self.assertGreaterEqual(res["attempted"], 1)
        declared = self.spec["per_layer" if trace else "end_to_end"]
        self.assertEqual(set(res["metrics"]), {m["name"] for m in declared})
        for m in declared:
            self.assertEqual(res["metrics"][m["name"]]["unit"], m["unit"])
        for name in res["metrics"]:
            self.assertRegex(name, stats.NAME)

    def test_daily_snapshot(self):
        self.check("daily_snapshot", 0)

    def test_curate_corpus_traced(self):
        self.check("curate_corpus", 1)


class DeclarationTest(unittest.TestCase):
    def test_declared_names_are_valid_and_unique(self):
        with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
            spec = json.load(f)
        names = [m["name"] for k in ("end_to_end", "per_layer") for m in spec[k]]
        names += [w["name"] for w in spec["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, stats.NAME)
        self.assertEqual({m["name"] for m in spec["end_to_end"]}, set(run.END_TO_END))


if __name__ == "__main__":
    unittest.main()
