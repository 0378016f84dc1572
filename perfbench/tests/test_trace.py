"""Checks that the benchmark's trace is trustworthy.

Run from the root of a checkout (it builds the program and starts one JVM):
  python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import build  # noqa: E402
import run  # noqa: E402

COUNTERS = ("jobs", "stages", "tasks")


class TraceTest(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        root = os.getcwd()
        classes = build.build(root)
        cls.dir = os.path.join(root, ".bench_run", "test-trace")
        shutil.rmtree(cls.dir, ignore_errors=True)
        os.makedirs(cls.dir)
        ops = ["q_global_counts", "q_agg_time", "q_knn_brute"]
        plan = [f"tables\t{run.TABLES}", "cores\t2", f"warehouse\t{cls.dir}/warehouse",
                "min_passes\t2"]
        plan += [f"op\t0\t1\t1\tquery\t{q}" for q in ops]
        plan += [f"op\t1\t1\t1\tetl\t{cls.dir}/etl"]
        with open(os.path.join(cls.dir, "plan.tsv"), "w") as f:
            f.write("\n".join(plan) + "\n")
        out = os.path.join(cls.dir, "records.jsonl")
        cmd = run.java_cmd(classes, cls.dir) + ["run", os.path.join(cls.dir, "plan.tsv"), out]
        env = dict(os.environ, SPARK_GRAFT_INDEX_ROOT=os.path.join(cls.dir, "index"),
                   SPARK_LOCAL_DIRS=os.path.join(cls.dir, "local"))
        with open(os.path.join(cls.dir, "jvm.log"), "w") as log:
            subprocess.run(cmd, env=env, cwd=cls.dir, stdout=log, stderr=subprocess.STDOUT,
                           check=True, timeout=300)
        with open(out) as f:
            cls.records = [json.loads(line) for line in f]
        with open(os.path.join(os.path.dirname(HERE), "golden.json")) as f:
            cls.golden = json.load(f)

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.dir, ignore_errors=True)
        if not os.listdir(os.path.dirname(cls.dir)):
            os.rmdir(os.path.dirname(cls.dir))

    def ops(self):
        return [r for r in self.records if r["kind"] == "op"]

    def test_global_counts_launches_at_least_ten_jobs(self):
        op = next(o for o in self.ops() if o["op"] == "q_global_counts")
        self.assertGreaterEqual(op["jobs"], 10)

    def test_operation_counters_sum_to_pass_totals(self):
        for p in (r for r in self.records if r["kind"] == "pass"):
            ops = [o for o in self.ops() if o["pass"] == p["pass"]]
            for k in COUNTERS:
                self.assertEqual(sum(o[k] for o in ops), p[k], f"{k} in pass {p['pass']}")
            self.assertEqual(sum(round(o["executor_run_s"] * 1000) for o in ops),
                             p["executor_run_ms"])

    def test_construct_plus_action_within_latency_and_busy_time(self):
        for o in self.ops():
            self.assertLessEqual(o["construct_s"], o["latency_s"])
            self.assertLessEqual(o["busy_s"], o["latency_s"] + 0.01)
            self.assertGreater(o["jobs"], 0)

    def test_etl_steps_attributed(self):
        etl = next(o for o in self.ops() if o["op"] == "etl")
        for step in ("job1", "job2", "lineage"):
            self.assertGreater(etl["steps"].get(step, 0.0), 0.0, step)
        self.assertLessEqual(sum(etl["steps"].values()), etl["latency_s"] * 4 + 0.01)

    def test_results_match_golden(self):
        for o in self.ops():
            self.assertEqual(o["digest"], self.golden[o["op"]]["digest"], o["op"])


if __name__ == "__main__":
    unittest.main()
