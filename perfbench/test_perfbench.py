"""Tests of the benchmark package, from the root of a checkout:

    python3 -m unittest perfbench/test_perfbench.py

Each workload runs at its smoke-test size (the sf0.001 part table, three
registry queries) untraced and traced, and must print every metric that
BENCHMARK.json declares for that mode, with its unit; that includes
etl_reload_20k, which runs from the command line but BENCHMARK.json
does not declare. The negative tests show that the output checks fail
on tampered data.
"""
import json
import os
import subprocess
import sys
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    BENCH = json.load(fh)
WORKLOADS = [w["name"] for w in BENCH["workloads"]] + ["etl_reload_20k"]


def bench(*args):
    return subprocess.run([sys.executable, "perfbench/run.py", *args],
                          cwd=ROOT, capture_output=True, text=True,
                          timeout=900)


def result(proc):
    return json.loads(proc.stdout.strip().splitlines()[-1])


class SmokeTest(unittest.TestCase):

    def test_every_workload_prints_every_metric_with_its_unit(self):
        for name in WORKLOADS:
            for trace, kind in (("0", "end_to_end"), ("1", "per_layer")):
                with self.subTest(workload=name, trace=trace):
                    p = bench("--workload", name, "--seed", "5",
                              "--seconds", "1", "--trace", trace, "--tiny")
                    self.assertEqual(p.returncode, 0, p.stderr[-3000:])
                    out = result(p)
                    self.assertTrue(out["correct"])
                    self.assertEqual(out["failed"], 0)
                    self.assertGreaterEqual(out["attempted"], 1)
                    want = {m["name"]: m["unit"] for m in BENCH[kind]}
                    got = {k: v["unit"] for k, v in out["metrics"].items()}
                    self.assertEqual(got, want)


class NegativeTest(unittest.TestCase):

    def test_a_tampered_pin_fails_the_run(self):
        pins = os.path.join(ROOT, "perfbench", "pins", "registry_sf0.001.tsv")
        tampered = os.path.join(ROOT, ".bench_build", "tampered_pins.tsv")
        os.makedirs(os.path.dirname(tampered), exist_ok=True)
        with open(pins) as fh:
            lines = fh.read().splitlines()
        with open(tampered, "w") as fh:
            for line in lines:
                if not line.startswith("#"):
                    name, fp = line.split("\t")
                    line = "%s\t%s" % (name, fp[:-1] + ("2" if fp[-1] == "1" else "1"))
                fh.write(line + "\n")
        p = bench("--workload", "registry_sf0.001", "--seed", "5",
                  "--seconds", "1", "--trace", "0", "--tiny",
                  "--pins", tampered)
        self.assertEqual(p.returncode, 1, p.stderr[-3000:])
        out = result(p)
        self.assertFalse(out["correct"])
        self.assertGreaterEqual(out["failed"], 1)

    def test_selftest_tampered_row_and_fingerprint(self):
        p = bench("--selftest")
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        self.assertNotIn("FAIL", p.stderr)


if __name__ == "__main__":
    unittest.main()
