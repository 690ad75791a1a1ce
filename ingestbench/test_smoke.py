"""Smoke test of the benchmark: every workload at smoke size, untraced and
traced, must check out correct and report exactly the metrics BENCHMARK.json
lists; and without graft's sources the benchmark must fail without a result.

    python3 -m unittest ingestbench/test_smoke.py     # from the repository root
"""
import json
import pathlib
import shutil
import subprocess
import sys
import tempfile
import unittest

BENCH = pathlib.Path(__file__).resolve().parent
ROOT = BENCH.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def run(workload, trace, cwd=ROOT):
    cmd = [sys.executable, f"{BENCH.name}/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--smoke"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)


class Smoke(unittest.TestCase):
    def check(self, workload, trace):
        r = run(workload, trace)
        self.assertEqual(r.returncode, 0, r.stderr[-3000:])
        result = json.loads(r.stdout.strip().splitlines()[-1])
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"], r.stderr[-3000:])
        self.assertGreaterEqual(result["attempted"], 1)
        self.assertEqual(result["failed"], 0)
        listed = SPEC["per_layer"] if trace else SPEC["end_to_end"]
        self.assertEqual({m["name"]: m["unit"] for m in listed},
                         {k: v["unit"] for k, v in result["metrics"].items()})
        if not trace:
            for name, v in result["metrics"].items():
                self.assertGreater(v["value"], 0, name)
        return result

    def test_workloads_untraced(self):
        for w in [w["name"] for w in SPEC["workloads"]] + ["cdc_replay_cow"]:
            with self.subTest(workload=w):
                self.check(w, 0)

    def test_workloads_traced(self):
        for w in [w["name"] for w in SPEC["workloads"]]:
            with self.subTest(workload=w):
                m = self.check(w, 1)["metrics"]
                self.assertGreater(m["trace.wall_s"]["value"], 0)
                layers = sum(v["value"] for k, v in m.items() if k.startswith("trace.self_s."))
                self.assertAlmostEqual(layers + m["trace.unattributed_s"]["value"],
                                       m["trace.wall_s"]["value"], places=6)

    def test_fails_without_sources(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copy(ROOT / "BENCHMARK.json", d)
            shutil.copytree(BENCH, pathlib.Path(d) / BENCH.name,
                            ignore=shutil.ignore_patterns("__pycache__"))
            r = run(SPEC["workloads"][0]["name"], 0, cwd=d)
            self.assertNotEqual(r.returncode, 0)
            self.assertNotIn('"correct"', r.stdout)


if __name__ == "__main__":
    unittest.main()
