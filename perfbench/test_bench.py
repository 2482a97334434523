#!/usr/bin/env python3
"""The benchmark's own tests: a tiny run of each workload, a traced run, and
a deliberately broken operation that must count as failed and stay out of
every timing. Run from the root of a checkout (takes a few minutes):

    python3 perfbench/test_bench.py
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def bench(workload, *extra, cwd=ROOT, runner=os.path.join(HERE, "run.py")):
    p = subprocess.run([sys.executable, runner, "--workload", workload, "--seed", "7",
                        "--seconds", "1", *extra], cwd=cwd, capture_output=True, text=True,
                       timeout=900)
    lines = p.stdout.strip().splitlines()
    return p.returncode, lines, p.stderr


class TinyRuns(unittest.TestCase):

    def check_result(self, workload, trace):
        rc, lines, err = bench(workload, "--trace", str(trace), "--scale", "0.05")
        self.assertEqual(rc, 0, err[-2000:])
        report, result = json.loads(lines[-2]), json.loads(lines[-1])
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"], report["failures"])
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)
        names = SPEC["per_layer"] if trace else SPEC["end_to_end"]
        self.assertEqual(set(result["metrics"]), {m["name"] for m in names})
        for m in names:
            self.assertEqual(result["metrics"][m["name"]]["unit"], m["unit"])
        for fact in ("nproc", "xmx_mb", "master", "spark_version", "scala_version",
                     "git_commit", "seed", "inputs", "confs"):
            self.assertIn(fact, report["facts"])
        return report, result

    def test_each_workload_end_to_end(self):
        for w in SPEC["workloads"]:
            with self.subTest(workload=w["name"]):
                _, result = self.check_result(w["name"], 0)
                for m in SPEC["end_to_end"]:
                    self.assertGreater(result["metrics"][m["name"]]["value"], 0)

    def test_traced_forage_reports_layers(self):
        _, result = self.check_result("forage_national", 1)
        m = result["metrics"]
        self.assertGreater(m["ml.gwr.wall_s"]["value"], 0)
        self.assertGreater(m["pipeline.jobs"]["value"], 0)
        self.assertGreater(m["ml.gwr.fits_per_s"]["value"], 0)
        self.assertIn("trace.overhead_frac", m)


class BrokenOperation(unittest.TestCase):

    def test_forage_failure_is_counted_not_timed(self):
        rc, lines, err = bench("forage_national", "--trace", "0", "--scale", "0.05",
                               "--inject-failure")
        self.assertEqual(rc, 0, err[-2000:])
        report, result = json.loads(lines[-2]), json.loads(lines[-1])
        self.assertFalse(result["correct"])
        self.assertEqual(result["failed"], 1)
        self.assertEqual(report["failures"][0]["op"], "forage_job_1")
        # the timing rests on the runs that succeeded, and only on them
        self.assertEqual(report["report"]["job_s"]["samples"], result["attempted"] - 1)
        self.assertAlmostEqual(report["report"]["failed_frac"]["value"],
                               1 / result["attempted"])

    def test_registry_failure_is_counted_not_timed(self):
        rc, lines, err = bench("registry", "--trace", "0", "--inject-failure")
        self.assertEqual(rc, 0, err[-2000:])
        report, result = json.loads(lines[-2]), json.loads(lines[-1])
        self.assertFalse(result["correct"])
        # the probe fails once in every pass, and nothing else fails
        self.assertEqual(result["failed"], report["report"]["job_s"]["samples"])
        self.assertEqual({f["op"] for f in report["failures"]}, {"perfbench_broken_probe"})
        queries = report["facts"]["inputs"]["queries"]
        self.assertEqual(report["report"]["query_p50_s"]["samples"], queries - 1)


class WithoutTheProgram(unittest.TestCase):

    def test_refuses_without_sources(self):
        scratch = os.path.join(ROOT, ".perfbench")
        os.makedirs(scratch, exist_ok=True)
        with tempfile.TemporaryDirectory(dir=scratch) as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(HERE, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("target", "project"))
            rc, lines, _ = bench("forage_national", "--trace", "0", cwd=d,
                                 runner=os.path.join(d, "perfbench", "run.py"))
            self.assertNotEqual(rc, 0)
            self.assertEqual(lines, [])


if __name__ == "__main__":
    unittest.main(verbosity=2)
