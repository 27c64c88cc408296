"""Smoke run of each workload on the sf0.001-shaped tables. Slow (each
case builds if needed, then runs a Spark JVM for a minute or two), so it
runs only with PERFBENCH_SMOKE=1."""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN = os.path.join(HERE, "run.py")


@unittest.skipUnless(os.environ.get("PERFBENCH_SMOKE") == "1", "set PERFBENCH_SMOKE=1")
class SmokeTest(unittest.TestCase):
    def run_workload(self, workload, trace):
        r = subprocess.run([sys.executable, RUN, "--workload", workload, "--seed", "11",
                            "--seconds", "4", "--trace", str(trace), "--scale", "0.1"],
                           stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                           timeout=900, cwd=os.path.dirname(HERE))
        self.assertEqual(r.returncode, 0, r.stderr[-3000:])
        res = json.loads(r.stdout.strip().splitlines()[-1])
        self.assertEqual(sorted(res), ["attempted", "correct", "failed", "metrics"])
        self.assertTrue(res["correct"], r.stdout[-3000:])
        self.assertGreaterEqual(res["attempted"], 1)
        self.assertEqual(res["failed"], 0)
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            b = json.load(f)
        want = [m["name"] for m in b["per_layer" if trace else "end_to_end"]]
        self.assertEqual(sorted(res["metrics"]), sorted(want))
        return res, r.stdout

    def test_etl_scan(self):
        self.run_workload("etl_scan", 0)

    def test_serve_maintain(self):
        res, out = self.run_workload("serve_maintain", 0)
        self.assertIn("report wave_p50_s", out)

    def test_traced_run_emits_layers(self):
        res, out = self.run_workload("serve_maintain", 1)
        self.assertGreater(res["metrics"]["ops.memo.tower_s"]["value"], 0)
        self.assertGreater(res["metrics"]["streaming.commit_ms"]["value"], 0)
        # the delete wave makes the index compaction due
        self.assertGreater(res["metrics"]["streaming.compact_index_ms"]["value"], 0)
        self.assertIn('"index_compactions": 1', out)


if __name__ == "__main__":
    unittest.main()
