#!/usr/bin/env python3
"""Tests of the benchmark's own parts.

    python3 perfbench/test_metrics.py            # pure parts, then the JVM checks
    python3 perfbench/test_metrics.py Pure       # pure parts only

The JVM checks build the harness if needed, run the digest self-test,
and run the benchmark with an injected failing op to prove that a
failure is counted, named and fails the command.
"""
import json
import os
import shutil
import statistics
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import metrics  # noqa: E402

SINKS_SITE = """org.apache.spark.sql.DataFrameWriter.json(DataFrameWriter.scala:512)
graft.extract.Sinks$.writeJsonGz(Sinks.scala:37)
graft.extract.Sinks$.write(Sinks.scala:51)
graft.extract.ExtractJob$.extract$1(ExtractJob.scala:81)
graft.extract.ExtractJob$.$anonfun$run$5(ExtractJob.scala:102)
scala.concurrent.Future$.$anonfun$apply$1(Future.scala:687)
java.base/java.util.concurrent.ThreadPoolExecutor.runWorker(ThreadPoolExecutor.java:1136)"""

# A broadcast or adaptive stage submitted from Spark's own worker thread:
# nothing of graft is on this stack.
WORKER_SITE = """org.apache.spark.sql.execution.SQLExecution$.$anonfun$withThreadLocalCaptured$2(SQLExecution.scala:329)
java.base/java.util.concurrent.CompletableFuture$AsyncSupply.run(CompletableFuture.java:1768)
java.base/java.util.concurrent.ThreadPoolExecutor.runWorker(ThreadPoolExecutor.java:1136)
java.base/java.lang.Thread.run(Thread.java:840)"""

GRAPH_EXECUTION = """org.apache.spark.sql.Dataset.localCheckpoint(Dataset.scala:700)
graft.operators.Graph$.cut(Graph.scala:58)
graft.operators.Graph$.$anonfun$pagerank$3(Graph.scala:412)
perfbench.Harness$Queries.one(Harness.scala:155)"""

HARNESS_SITE = """org.apache.spark.sql.Dataset.collect(Dataset.scala:3500)
perfbench.Harness$Queries.$anonfun$one$3(Harness.scala:159)
perfbench.Tracer.span(Trace.scala:88)"""


class Pure(unittest.TestCase):
    def test_median_and_percentile(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0]
        self.assertEqual(metrics.median(xs), 3.0)
        self.assertEqual(metrics.median([1.0, 2.0, 3.0, 10.0]), 2.5)
        self.assertAlmostEqual(metrics.percentile(xs, 90), 4.6)
        self.assertEqual(metrics.percentile([7.0], 90), 7.0)
        self.assertEqual(metrics.percentile(xs, 0), 1.0)
        self.assertEqual(metrics.percentile(xs, 100), 5.0)
        ys = [0.3, 1.9, 2.2, 0.7, 5.1, 3.3, 4.0, 1.1, 2.8, 0.2]
        q = statistics.quantiles(ys, n=4, method="inclusive")
        self.assertAlmostEqual(metrics.percentile(ys, 25), q[0])
        self.assertAlmostEqual(metrics.percentile(ys, 75), q[2])
        with self.assertRaises(ValueError):
            metrics.percentile([], 50)

    def test_union_length(self):
        self.assertEqual(metrics.union_length([]), 0.0)
        self.assertEqual(metrics.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(metrics.union_length([(5, 6), (0, 10)]), 10)

    def test_attribution_takes_first_graft_frame(self):
        self.assertEqual(metrics.attribute(SINKS_SITE), ("extract.Sinks", "writeJsonGz"))

    def test_attribution_strips_lambdas_and_local_defs(self):
        site = "x.Y.z(Y.scala:1)\ngraft.extract.ExtractJob$.introspect$1(ExtractJob.scala:52)"
        self.assertEqual(metrics.attribute(site), ("extract.ExtractJob", "introspect"))
        site = "graft.extract.ExtractJob$.$anonfun$run$2(ExtractJob.scala:99)"
        self.assertEqual(metrics.attribute(site), ("extract.ExtractJob", "run"))

    def test_completable_future_job_uses_its_execution_site(self):
        self.assertEqual(metrics.attribute(WORKER_SITE), ("other", ""))
        self.assertEqual(metrics.attribute(WORKER_SITE, GRAPH_EXECUTION),
                         ("operators.Graph", "cut"))

    def test_benchmark_frames_only_when_no_graft_frame(self):
        self.assertEqual(metrics.attribute(HARNESS_SITE)[0], "perfbench")
        self.assertEqual(metrics.attribute(HARNESS_SITE + "\n" + SINKS_SITE)[0], "extract.Sinks")
        self.assertEqual(metrics.module_key("operators.Skew"), "other")

    def test_verdicts(self):
        expected = {"iterative": {"ops": {"q_a": {"rows": 3, "digest": "9"},
                                         "q_b": {"rows": 2, "digest": None}}}}
        ops = [{"pass": 0, "name": "q_a", "error": None, "observed": {"rows": 3, "digest": "9"}},
               {"pass": 0, "name": "q_b", "error": None, "observed": {"rows": 2, "digest": "x"}},
               {"pass": 1, "name": "q_a", "error": None, "observed": {"rows": 3, "digest": "8"}},
               {"pass": 1, "name": "q_b", "error": "boom", "observed": {}},
               {"pass": 1, "name": "q_c", "error": None, "observed": {"rows": 1}}]
        f = metrics.verdicts("iterative", ops, expected)
        self.assertEqual([(x["pass"], x["op"]) for x in f], [(1, "q_a"), (1, "q_b"), (1, "q_c")])
        self.assertIn("digest", f[0]["reason"])
        self.assertEqual(f[1]["reason"], "boom")
        self.assertEqual(f[2]["reason"], "no stored expectation")
        self.assertEqual(len(metrics.verdicts("iterative", ops[:2], expected, True)), 1)

    def test_unreconciled_load_fails(self):
        expected = {"elt": {"ops": {"t": {"rows": 5}}}}
        ops = [{"pass": 0, "name": "t", "error": None, "observed": {"rows": 5, "rows_loaded": 4}}]
        self.assertIn("rows_loaded=4", metrics.verdicts("elt", ops, expected)[0]["reason"])


class Jvm(unittest.TestCase):
    def test_digest_is_stable(self):
        import build
        import run
        classpath = build.build()
        work = os.path.join(build.ROOT, ".bench_build", "work", f"selftest-{os.getpid()}")
        os.makedirs(work, exist_ok=True)
        try:
            out = os.path.join(work, "selftest.json")
            try:
                run.jvm(classpath, ["selftest", "0", "0", "0", "", work, "", out], work, 170)
            except SystemExit:
                pass
            with open(out) as fh:
                checks = json.load(fh)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        self.assertTrue(all(checks.values()), checks)

    def bench(self, *extra):
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload",
                            "extract", "--seed", "3", "--seconds", "0", "--trace", "0",
                            *extra], capture_output=True, text=True, timeout=200)
        lines = p.stdout.strip().splitlines()
        return p.returncode, [json.loads(x) for x in lines]

    def test_injected_failing_op_fails_the_run(self):
        code, lines = self.bench("--inject", "throw")
        result = lines[-1]
        self.assertNotEqual(code, 0)
        self.assertFalse(result["correct"])
        self.assertEqual(result["attempted"], 15)
        self.assertEqual(result["failed"], 1)
        named = [x["failed_op"]["op"] for x in lines if "failed_op" in x]
        self.assertEqual(named, ["injected_missing_table"])
        self.assertGreater(result["metrics"]["run_s"]["value"], 0)

    def test_injected_mismatch_fails_the_run(self):
        code, lines = self.bench("--inject", "mismatch")
        self.assertNotEqual(code, 0)
        self.assertEqual(lines[-1]["failed"], 1)
        self.assertIn("expected", [x for x in lines if "failed_op" in x][0]["failed_op"]["reason"])


if __name__ == "__main__":
    unittest.main()
