"""Tests of tools/perf_pairs.py's report and exit status on synthetic runs.

    python3 -m unittest tools/test_perf_pairs.py
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

SPECS = {"triples_per_s": ("higher", 0.25), "setup_s": ("lower", 0.25), "canon.rounds": ("lower", None)}


def result(correct=True, **metrics):
    return {"correct": correct, "metrics": {k: {"value": v} for k, v in metrics.items()}}


def pairs(base, new, metric="triples_per_s"):
    return [(result(**{metric: b, "setup_s": 1.0}), result(**{metric: n, "setup_s": 1.0}))
            for b, n in zip(base, new)]


def report(ps, counts=None):
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        verdicts = perf_pairs.report("w", ps, SPECS, counts)
    return verdicts, out.getvalue()


class ReportTest(unittest.TestCase):

    def test_verdicts(self):
        tight = [100, 101, 99, 100, 102, 98, 100, 100]
        # 30% below a tight baseline: worse
        v, _ = report(pairs(tight, [70] * 8))
        self.assertEqual(v["triples_per_s"], "worse")
        # 10% below a tight baseline: within the 0.25 bound
        v, _ = report(pairs(tight, [90] * 8))
        self.assertEqual(v["triples_per_s"], "not worse")
        self.assertEqual(v["setup_s"], "not worse")
        # a baseline spread wider than the bound cannot show no regression...
        wide = [50, 150, 60, 140, 70, 130, 80, 120]
        v, _ = report(pairs(wide, [100] * 8))
        self.assertEqual(v["triples_per_s"], "unresolved")
        # ...unless every change run beats every baseline run
        v, _ = report(pairs(wide, [200] * 8))
        self.assertEqual(v["triples_per_s"], "not worse")
        # lower is better: a setup_s 50% above the baseline is worse
        v, _ = report([(result(triples_per_s=1, setup_s=1.0), result(triples_per_s=1, setup_s=1.5))] * 4)
        self.assertEqual(v["setup_s"], "worse")

    def test_metric_without_bound_has_no_verdict(self):
        ps = [(result(**{"canon.rounds": 3}), result(**{"canon.rounds": 9}))] * 3
        v, _ = report(ps)
        self.assertEqual(v, {"canon.rounds": "-"})

    def test_prints_counts_and_verdicts(self):
        _, out = report(pairs([100] * 4, [70] * 4), {"baseline": (0, 0, 4), "change": (1, 2, 7)})
        self.assertIn("== w: 4 pairs ==", out)
        self.assertIn("baseline: 0 failed, 0 incorrect of 4 runs", out)
        self.assertIn("change: 1 failed, 2 incorrect of 7 runs", out)
        line = next(ln for ln in out.splitlines() if ln.startswith("triples_per_s"))
        self.assertTrue(line.endswith("worse") and "0/4" in line, line)


class MainTest(unittest.TestCase):
    """main() with run_one replaced: the exit status and the --log record."""

    def run_main(self, fake):
        real = perf_pairs.run_one
        perf_pairs.run_one = fake
        try:
            with tempfile.TemporaryDirectory() as d:
                for side in ("base", "change"):
                    os.makedirs(os.path.join(d, side))
                    with open(os.path.join(d, side, "BENCHMARK.json"), "w") as fh:
                        json.dump({"end_to_end": [{"name": k, "better": b, "bound": n}
                                                  for k, (b, n) in SPECS.items()], "per_layer": []}, fh)
                log = os.path.join(d, "log.jsonl")
                out, err = io.StringIO(), io.StringIO()
                with contextlib.redirect_stdout(out), contextlib.redirect_stderr(err):
                    status = perf_pairs.main([os.path.join(d, "base"), os.path.join(d, "change"),
                                              "--seeds", "1-2", "--workloads", "w", "--log", log])
                with open(log) as fh:
                    records = [json.loads(ln) for ln in fh]
            return status, out.getvalue(), records
        finally:
            perf_pairs.run_one = real

    def test_complete_pairs_exit_zero(self):
        status, out, records = self.run_main(lambda *a: (result(triples_per_s=100, setup_s=1.0), ["log"]))
        self.assertEqual(status, 0)
        self.assertIn("== w: 2 pairs ==", out)
        self.assertEqual(len(records), 4)
        self.assertTrue(all("stderr_tail" not in r for r in records))

    def test_a_side_that_always_fails_exits_nonzero_and_logs_its_stderr(self):
        def fake(checkout, *a):
            if checkout.endswith("base"):
                return None, ["java.lang.ClassNotFoundException: perfbench.Main"]
            return result(triples_per_s=100, setup_s=1.0), []
        status, out, records = self.run_main(fake)
        self.assertEqual(status, 1)
        self.assertIn("== w: 0 pairs ==", out)
        self.assertIn("baseline: 2 failed, 0 incorrect of 2 runs", out)
        failed = [r for r in records if r["side"] == "baseline"]
        self.assertEqual([r["stderr_tail"] for r in failed],
                         [["java.lang.ClassNotFoundException: perfbench.Main"]] * 2)

    def test_an_incorrect_run_exits_nonzero(self):
        runs = iter([result(triples_per_s=1, setup_s=1.0)] * 3 + [result(False, triples_per_s=1, setup_s=1.0)])
        status, out, _ = self.run_main(lambda *a: (next(runs), []))
        self.assertEqual(status, 1)
        self.assertIn("== w: 1 pairs ==", out)
        self.assertIn("1 incorrect of 2 runs", out)


if __name__ == "__main__":
    unittest.main()
