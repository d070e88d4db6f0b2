"""Tests of the benchmark harness.

    python3 -m unittest discover -s perfbench/tests

The last test runs `run.py --selftest` (a few ops of every workload,
untraced and traced, with every result check) and takes a few minutes.
"""
import json
import subprocess
import sys
import unittest
from pathlib import Path

BENCH = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(BENCH))
import run  # noqa: E402


class SpecTest(unittest.TestCase):
    def setUp(self):
        self.spec = run.bench_spec()

    def test_keys_and_limits(self):
        self.assertEqual(set(self.spec), {"command", "paths", "run_seconds", "workloads",
                                          "end_to_end", "per_layer"})
        self.assertEqual([w["name"] for w in self.spec["workloads"]], run.WORKLOADS)
        names = [m["name"] for k in ("end_to_end", "per_layer") for m in self.spec[k]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
        bounds = {m["name"]: m["bound"] for m in self.spec["end_to_end"]}
        self.assertTrue(all(0 < b <= 0.25 for b in bounds.values()))
        self.assertEqual(max(bounds.values()), bounds["setup_s"])

    def test_jvm_flags_match_root_build(self):
        self.assertEqual(run.jvm_flag_parity(), [])


class ValidateTest(unittest.TestCase):
    def test_accepts_a_well_formed_result(self):
        result = {"correct": True, "attempted": 3, "failed": 0,
                  "metrics": {"a": {"value": 1.5, "unit": "ms"}}}
        self.assertEqual(run.validate(result, ["a"], "w"), [])

    def test_rejects_missing_metric_and_failures(self):
        result = {"correct": False, "attempted": 3, "failed": 1, "metrics": {}}
        errors = run.validate(result, ["a"], "w")
        self.assertTrue(any("missing" in e for e in errors))
        self.assertTrue(any("failed=1" in e for e in errors))


class SelftestTest(unittest.TestCase):
    def test_selftest_passes(self):
        out = subprocess.run([sys.executable, str(BENCH / "run.py"), "--selftest"],
                             cwd=BENCH.parent, capture_output=True, text=True, timeout=1800)
        self.assertEqual(out.returncode, 0, out.stderr[-4000:])
        self.assertEqual(json.loads(out.stdout.strip().splitlines()[-1])["selftest"], "ok")


if __name__ == "__main__":
    unittest.main()
