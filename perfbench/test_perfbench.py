"""The benchmark's own tests: both workloads and the defect probes at
smoke size, and the refusal to run outside a checkout of the engine.

    python3 perfbench/test_perfbench.py
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
E2E = {"setup_s", "peak_rss_mb", "pass_s", "op_p50_ms"}


def run(workload, trace, cwd=ROOT, bench=BENCH):
    p = subprocess.run([sys.executable, os.path.join(bench, "run.py"), "--workload", workload,
                        "--seed", "5", "--seconds", "1", "--trace", str(trace), "--smoke"],
                       cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                       timeout=300)
    return p


class SmokeTest(unittest.TestCase):

    def check(self, workload, trace):
        """A well-formed result whose failure count matches the failed
        ops the report lists (program defects are reported, not
        asserted away: the harness is what is under test here)."""
        p = run(workload, trace)
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        report, line = [json.loads(x) for x in p.stdout.strip().split("\n")[-2:]]
        self.assertEqual(set(line), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual(line["failed"], len(report["checks"]["failed_ops"]))
        self.assertEqual(line["correct"], line["failed"] == 0)
        self.assertGreaterEqual(line["attempted"], 1)
        for m in line["metrics"].values():
            self.assertEqual(set(m), {"value", "unit"})
        if report["checks"]["failed_ops"]:
            print(f"\n{workload}: failed ops {report['checks']['failed_ops']}")
        self.attempted = line["attempted"]
        return report, line["metrics"]

    def test_etl_weekly(self):
        report, m = self.check("etl_weekly", 0)
        self.assertEqual(report["checks"]["failed_ops"], {})
        self.assertEqual(set(m), E2E)
        self.assertTrue(all(v["value"] > 0 for v in m.values()))
        self.assertEqual(report["named"]["dash_samples"], 30)
        self.assertLessEqual(report["checks"]["distinct_requests"], 45)
        report, m = self.check("etl_weekly", 1)
        self.assertGreater(m["model.load_ms.fact_player_match"]["value"], 0)
        self.assertGreater(m["exec.jobs"]["value"], 0)
        self.assertEqual(report["coverage_outside_10pct"], [])

    def test_analytics(self):
        report, m = self.check("analytics", 0)
        self.assertEqual(set(m), E2E)
        self.assertEqual(report["timed_ops"], 5)
        report, m = self.check("analytics", 1)
        self.assertGreater(m["queries.build_ms"]["value"], 0)
        self.assertGreater(m["streaming.batches"]["value"], 0)
        self.assertEqual(report["coverage_outside_10pct"], [])
        # one pass at --seconds 1: each query is run once
        self.assertEqual(len(report["repeatability"]["single_run"]), 5)

    def test_defect_probes(self):
        """Each probe is attempted; a failing one is listed by name."""
        report, m = self.check("defect_probes", 0)
        self.assertEqual(set(m), E2E)
        self.assertEqual(self.attempted, 3)
        self.assertEqual(report["checks"]["octile_payer"], "q83_equidepth_histogram")
        failed = {k.split()[1] for k in report["checks"]["failed_ops"]}
        self.assertLessEqual(failed, {"q83_equidepth_histogram", "q93_equidepth_kll",
                                      "etl_two_row_header"})


class RefusalTest(unittest.TestCase):

    def test_refuses_outside_a_checkout(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copytree(BENCH, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            p = run("etl_weekly", 0, cwd=d, bench=os.path.join(d, "perfbench"))
            self.assertNotEqual(p.returncode, 0)
            self.assertNotIn('"metrics"', p.stdout)


if __name__ == "__main__":
    unittest.main()
