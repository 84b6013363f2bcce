"""The benchmark's own tests: a short smoke run of every workload at the
smallest input size, the metric contract of BENCHMARK.json, and the
correctness gate failing on a wrong golden checksum.

    python3 -m unittest perfbench/test_perfbench.py      # from the repo root
"""
import json
import shutil
import subprocess
import sys
import unittest
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
GOLDEN = BENCH / "golden_smoke.json"
GOLDEN_SEED = 7


def run(workload, trace=0, seed=GOLDEN_SEED, golden=None, cwd=ROOT):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", "2", "--trace", str(trace), "--smoke"]
    if golden:
        cmd += ["--golden", str(golden)]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def result(proc):
    return json.loads(proc.stdout.strip().splitlines()[-1])


class SmokeTest(unittest.TestCase):
    def assert_metrics(self, res, specs):
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(res["correct"])
        self.assertGreaterEqual(res["attempted"], 1)
        self.assertEqual(res["failed"], 0)
        for m in specs:
            self.assertIn(m["name"], res["metrics"])
            self.assertEqual(res["metrics"][m["name"]]["unit"], m["unit"])
            self.assertIsInstance(res["metrics"][m["name"]]["value"], (int, float))
        self.assertEqual(set(res["metrics"]), {m["name"] for m in specs})

    def test_every_workload_prints_every_metric_with_its_unit(self):
        for w in SPEC["workloads"]:
            with self.subTest(workload=w["name"]):
                proc = run(w["name"], golden=GOLDEN if w["name"] == "analytics" else None)
                self.assertEqual(proc.returncode, 0, proc.stderr[-3000:])
                res = result(proc)
                self.assert_metrics(res, SPEC["end_to_end"])
                for m in SPEC["end_to_end"]:
                    self.assertGreater(res["metrics"][m["name"]]["value"], 0, m["name"])
            with self.subTest(workload=w["name"], trace=1):
                proc = run(w["name"], trace=1)
                self.assertEqual(proc.returncode, 0, proc.stderr[-3000:])
                self.assert_metrics(result(proc), SPEC["per_layer"])

    def test_wrong_golden_checksum_fails_the_gate(self):
        golden = json.loads(GOLDEN.read_text())
        name = sorted(golden)[0]
        golden[name] ^= 1
        bad = BENCH / ".work" / "golden_wrong.json"
        bad.parent.mkdir(exist_ok=True)
        bad.write_text(json.dumps(golden))
        proc = run("analytics", golden=bad)
        self.assertNotEqual(proc.returncode, 0)
        res = result(proc)
        self.assertFalse(res["correct"])
        self.assertGreaterEqual(res["failed"], 1)

    def test_refuses_to_run_without_the_library_sources(self):
        bare = BENCH / ".work" / "bare"
        shutil.rmtree(bare, ignore_errors=True)
        shutil.copytree(BENCH, bare / "perfbench",
                        ignore=shutil.ignore_patterns(".work", "target", "out", "__pycache__"))
        shutil.copy(ROOT / "BENCHMARK.json", bare)
        try:
            proc = subprocess.run(SPEC["command"] + ["--workload", "ingest", "--seed", "1",
                                                     "--seconds", "1", "--trace", "0"],
                                  cwd=bare, capture_output=True, text=True, timeout=180)
            self.assertNotEqual(proc.returncode, 0)
            self.assertNotIn("metrics", proc.stdout)
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
