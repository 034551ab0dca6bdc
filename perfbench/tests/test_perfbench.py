"""Tests of the collector benchmark: generator determinism and a tiny smoke
run of each workload in both modes. Run from the repository root:

    python3 -m unittest discover -s perfbench/tests -v
"""
import importlib.util
import json
import os
import subprocess
import sys
import unittest

ROOT = os.path.abspath(os.path.join(os.path.dirname(__file__), "..", ".."))
RUN = os.path.join("perfbench", "run.py")


def runner():
    spec = importlib.util.spec_from_file_location("perfbench_run", os.path.join(ROOT, RUN))
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


class GeneratorDeterminism(unittest.TestCase):

    def digest(self, launch, seed):
        opts = [o for o in launch if not o.startswith(("-Xmx", "-Xms"))]
        p = subprocess.run(["java", "-Xmx512m"] + opts + [
            "perfbench.Main", "--workload", "live_mix", "--seed", str(seed),
            "--seconds", "3", "--digest", "1"], cwd=ROOT, capture_output=True, text=True,
            timeout=120)
        self.assertEqual(p.returncode, 0, p.stderr[-2000:])
        line = next(l for l in p.stdout.splitlines() if "sha256" in l)
        return line.split("sha256 ")[1].strip()

    def test_same_seed_gives_the_same_request_stream(self):
        cwd = os.getcwd()
        os.chdir(ROOT)
        try:
            m = runner()
            launch = m.build(m.source_stamp())
        finally:
            os.chdir(cwd)
        first, again, other = self.digest(launch, 5), self.digest(launch, 5), self.digest(launch, 6)
        self.assertEqual(first, again)
        self.assertNotEqual(first, other)


class Smoke(unittest.TestCase):
    """Each workload at a three-second window, untraced and traced."""

    def run_bench(self, workload, trace):
        p = subprocess.run([sys.executable, RUN, "--workload", workload, "--seed", "3",
                            "--seconds", "3", "--trace", str(trace)],
                           cwd=ROOT, capture_output=True, text=True, timeout=900)
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        result = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"], p.stdout[-3000:])
        self.assertEqual(result["failed"], 0)
        self.assertGreater(result["attempted"], 0)
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        declared = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
        self.assertEqual({k: v["unit"] for k, v in result["metrics"].items()}, declared)
        for name, m in result["metrics"].items():
            self.assertIsInstance(m["value"], (int, float), name)
        return p.stdout

    def test_live_mix(self):
        self.run_bench("live_mix", 0)
        out = self.run_bench("live_mix", 1)
        self.assertIn("tracing overhead", out)
        self.assertTrue(os.path.exists(os.path.join(
            ROOT, ".bench_build", "perfbench", "spans", "spans-live_mix-3.jsonl")))

    def test_pixel_flood(self):
        self.run_bench("pixel_flood", 0)
        self.run_bench("pixel_flood", 1)


if __name__ == "__main__":
    unittest.main()
