"""The benchmark's own tests. Run from the root of a source checkout:

    python3 -m unittest discover -s perfbench/tests -v

The end-to-end cases build the program on first use and start a JVM
each (about three minutes in all on 4 cores).
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)
import run  # noqa: E402


def bench(*args):
    """Run the benchmark; returns (result line, harness document)."""
    with tempfile.NamedTemporaryFile(suffix=".json", dir=run.BUILD if os.path.isdir(run.BUILD) else None,
                                     delete=False) as f:
        raw = f.name
    try:
        p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--seed", "0",
                            "--raw-out", raw, *args],
                           capture_output=True, text=True, timeout=900)
        if p.returncode != 0:
            raise AssertionError(f"benchmark failed: {p.stderr[-3000:]}")
        with open(raw) as f:
            return json.loads(p.stdout.strip().splitlines()[-1]), json.load(f)
    finally:
        if os.path.exists(raw):
            os.remove(raw)


class TailPercentile(unittest.TestCase):
    def test_names_the_percentile_its_sample_count_supports(self):
        for n, p in ((100, 0.90), (40, 0.75), (24, 0.58), (20, 0.50), (50, 0.80)):
            samples = list(range(n))
            got_p, value = run.tail(samples)
            self.assertEqual(got_p, p, n)
            self.assertGreaterEqual(sum(s > value for s in samples), 10, n)
            # one percent higher would leave fewer than 10 beyond
            self.assertLess(n - (got_p + 0.01) * n, 10 + 1e-9, n)

    def test_too_few_samples_have_no_tail_percentile(self):
        self.assertEqual(run.tail([3.0, 1.0, 2.0]), (None, 3.0))

    def test_workloads_declare_the_tail_they_report(self):
        for name, w in run.CONFIG["workloads"].items():
            self.assertEqual(run.tail(list(range(w["op_samples"])))[0], w["tail_percentile"], name)


class FullResultAndFailures(unittest.TestCase):
    """One traced run over a heavy row, a cheap row and a row that throws,
    with one reference digest corrupted, plus the same heavy row under
    the legacy count() timing."""

    @classmethod
    def setUpClass(cls):
        rows = "q_graph_pagerank,q_agg_distinct,q_no_such_row"
        cls.result, cls.doc = bench("--workload", "sql_mix", "--trace", "1", "--rows", rows,
                                    "--corrupt-ref", "q_agg_distinct")
        cls.count_result, cls.count_doc = bench("--workload", "sql_mix", "--trace", "1",
                                                "--rows", "q_graph_pagerank", "--count-mode")

    @staticmethod
    def stages(doc, row):
        return [o["exec.stages"] for o in doc["op_layers"]
                if o["row"] == row and o["pass"] == "warm1"]

    def test_full_result_executes_what_count_prunes(self):
        full = self.stages(self.doc, "q_graph_pagerank")
        counted = self.stages(self.count_doc, "q_graph_pagerank")
        self.assertTrue(full and counted)
        # count() prunes the 5 rank iterations; the noop sink runs them
        self.assertGreater(min(full), max(counted))

    def test_throwing_operation_is_failed_and_untimed(self):
        failed_ops = [o for o in self.doc["ops"] if o["row"] == "q_no_such_row"]
        self.assertTrue(failed_ops)
        self.assertTrue(all(not o["ok"] and o["ms"] is None for o in failed_ops))
        self.assertTrue(any(f.endswith("q_no_such_row: NoSuchElementException: key not found: q_no_such_row")
                            or "q_no_such_row" in f for f in self.doc["failures"]))
        # pass times are sums over the operations that succeeded only
        ok = [o for o in self.doc["ops"] if o["ok"] and o["pass"] == "cold"]
        self.assertAlmostEqual(self.doc["cold_ms"], sum(o["ms"] for o in ok), places=6)
        self.assertFalse(self.result["correct"])

    def test_corrupted_reference_digest_is_a_failure(self):
        self.assertTrue(any(f.startswith("check q_agg_distinct: digest") for f in self.doc["failures"]))
        # the uncorrupted rows pass their checks
        self.assertFalse(any(f.startswith("check q_graph_pagerank") for f in self.doc["failures"]))
        self.assertTrue(self.count_result["correct"])

    def test_failed_frac_counts_every_failure(self):
        r = self.result
        ops = len(self.doc["ops"])
        self.assertEqual(r["attempted"], ops + 3)  # plus one output check per row
        # q_no_such_row: one failed op per pass plus its check; q_agg_distinct: its check
        passes = len({o["pass"] for o in self.doc["ops"]})
        self.assertEqual(r["failed"], passes + 2)


if __name__ == "__main__":
    unittest.main()
