"""Self-tests of the benchmark itself:

    python3 perfbench/test_perfbench.py

They build the harness (as a benchmark run would) and run it once, traced,
over a registry with a deliberately throwing query.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402


class SelfTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        classes, _ = build.build()
        cls.tmp = tempfile.mkdtemp(dir=build.WORK)
        data = os.path.join(cls.tmp, "data")
        gen.write(data, 0.001, 1)
        out = os.path.join(cls.tmp, "raw.json")
        run.run_jvm(run.jvm_cmd(classes, "graft.perfbench.SelfTest", data,
                                os.path.join(cls.tmp, "scratch"), out), 170)
        with open(out) as fh:
            cls.raw = json.load(fh)

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.tmp, ignore_errors=True)

    def test_printed_metric_names_equal_benchmark_json(self):
        declared = run.declared_metrics()
        for trace in (0, 1):
            names = set(metrics.printed(self.raw, trace, 0, 2))
            self.assertEqual(names, {m["name"] for m in declared[trace]})

    def test_throwing_query_is_failed_not_fast(self):
        failed = metrics.failures(self.raw)
        self.assertTrue(failed)
        self.assertEqual({f[1] for f in failed}, {"always_throws"})
        self.assertEqual({f[2] for f in failed},
                         {"java.lang.IllegalStateException"})
        self.assertTrue(all(f[3] == "deliberate failure" for f in failed))
        timed = metrics.query_times(self.raw["passes"])
        self.assertNotIn("always_throws", timed)
        self.assertIn("ok_range", timed)
        traced = metrics.printed(self.raw, 1, 0, 2)
        self.assertAlmostEqual(traced["failed_frac"], 0.5)

    def test_traced_run_has_spans_down_to_stages(self):
        layers = {s["layer"] for s in self.raw["spans"]}
        self.assertTrue({"workload", "setup", "pass", "query", "build",
                         "action", "job", "stage"} <= layers)


class CorrectnessCheck(unittest.TestCase):
    """run.check over a dumped result and timed row counts, against a
    hand-made oracle answer: a differing output sets correct to false and
    carries its reason and known cause."""
    QUERY = "d07_dedup_clusters"
    ANSWER = (["cluster", "doc_id"], [(1, 1), (1, 2), (3, 3)])

    def setUp(self):
        os.makedirs(os.path.join(build.WORK, "tmp"), exist_ok=True)
        self.dump = tempfile.mkdtemp(dir=build.WORK)
        self.addCleanup(shutil.rmtree, self.dump, ignore_errors=True)

    def _run(self, clusters, pass_rows):
        import pyarrow as pa
        import pyarrow.parquet as pq
        os.makedirs(os.path.join(self.dump, self.QUERY))
        pq.write_table(pa.table({"doc_id": [1, 2, 3], "cluster": clusters}),
                       os.path.join(self.dump, self.QUERY, "part-0.parquet"))
        raw = {"first_pass": {"queries": [{"name": self.QUERY, "s": 1.0}]},
               "passes": [{"index": 0, "traced": False, "queries": [
                   {"name": self.QUERY, "build_s": 0.1, "action_s": 0.2,
                    "rows": pass_rows}]}]}
        wrong, failed = run.check(raw, {self.QUERY: self.ANSWER}, self.dump)
        return raw, wrong, failed

    def test_matching_output_is_correct(self):
        raw, wrong, failed = self._run([1, 1, 3], 3)
        self.assertTrue(run.correct(wrong, failed))
        self.assertEqual(metrics.shares(raw, len(wrong), 1)["wrong_frac"], 0)

    def test_differing_output_is_wrong_with_its_cause(self):
        raw, wrong, failed = self._run([1, 2, 3], 3)
        self.assertFalse(run.correct(wrong, failed))
        self.assertEqual(failed, [])
        self.assertIn("rows differ", wrong[self.QUERY]["reason"])
        self.assertEqual(wrong[self.QUERY]["cause"], run.ORACLE_LIMITS[self.QUERY])
        self.assertGreater(metrics.shares(raw, len(wrong), 1)["wrong_frac"], 0)

    def test_timed_row_count_is_checked(self):
        _, wrong, failed = self._run([1, 1, 3], 2)
        self.assertFalse(run.correct(wrong, failed))
        self.assertIn("counted 2 rows, oracle 3", wrong[self.QUERY]["reason"])


class PercentileRule(unittest.TestCase):
    def test_p90_omitted_below_ten_samples_beyond(self):
        self.assertIsNone(metrics.tail_percentile(list(range(50))))
        self.assertIsNone(metrics.tail_percentile([]))

    def test_p90_reported_with_ten_samples_beyond(self):
        p = metrics.tail_percentile(list(range(110)))
        self.assertEqual(p, 99)
        self.assertEqual(sum(1 for x in range(110) if x > p), 10)


class WithoutTheProgram(unittest.TestCase):
    def test_fails_fast_with_only_the_benchmark_files(self):
        with tempfile.TemporaryDirectory(dir=build.WORK) as d:
            shutil.copy(os.path.join(build.ROOT, "BENCHMARK.json"), d)
            shutil.copytree(build.BENCH, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns(".work", "__pycache__"))
            proc = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload", "query_mix",
                 "--seed", "1", "--seconds", "1", "--trace", "0"],
                cwd=d, capture_output=True, text=True, timeout=170)
            self.assertNotEqual(proc.returncode, 0)
            self.assertEqual(proc.stdout, "")


if __name__ == "__main__":
    unittest.main()
