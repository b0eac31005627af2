"""Tiny-seed smoke runs of every workload, untraced and traced, through the
benchmark's command line; and the BENCHMARK.json description against the
metrics the report produces. Builds the benchmark on first use."""

import json
import os
import re
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.normpath(os.path.join(HERE, "..", ".."))
sys.path.insert(0, os.path.join(HERE, ".."))

import report  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def bench():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


def run(workload, trace):
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
                        "--seconds", "1", "--trace", str(trace), "--scale", "0.1"],
                       cwd=ROOT, capture_output=True, text=True, timeout=900)
    return p.returncode, p.stdout, p.stderr


class ContractTest(unittest.TestCase):
    def test_metric_lists_match_the_report(self):
        b = bench()
        self.assertEqual([(m["name"], m["unit"]) for m in b["end_to_end"]], report.END_TO_END)
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in b["per_layer"]],
                         report.PER_LAYER)
        self.assertTrue({w["name"] for w in b["workloads"]} <= set(report.KINDS))

    def test_names_and_bounds(self):
        b = bench()
        names = [m["name"] for m in b["end_to_end"] + b["per_layer"]] + [w["name"] for w in b["workloads"]]
        self.assertTrue(all(NAME.match(n) for n in names), names)
        self.assertEqual(len(names), len(set(names)))
        bounds = {m["name"]: m["bound"] for m in b["end_to_end"]}
        self.assertTrue(all(0 < v <= 0.25 for v in bounds.values()))
        self.assertEqual(bounds["setup_s"], max(bounds.values()))


class SmokeTest(unittest.TestCase):
    def check(self, workload, trace):
        code, out, err = run(workload, trace)
        self.assertEqual(code, 0, err[-2000:])
        result = json.loads(out.strip().splitlines()[-1])
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"], out)
        self.assertEqual(result["failed"], 0)
        want = report.END_TO_END if trace == 0 else [(n, u) for n, u, _ in report.PER_LAYER]
        self.assertEqual({k: v["unit"] for k, v in result["metrics"].items()}, dict(want))
        if trace == 0:
            self.assertTrue(all(v["value"] > 0 for v in result["metrics"].values()), result)
        return out

    def test_nightly_sync(self):
        self.check("nightly_sync", 0)
        out = self.check("nightly_sync", 1)
        self.assertRegex(out, r"layer pipeline\.jobs = [1-9]")
        self.assertRegex(out, r"layer ledger\.writes = [1-9]")

    def test_backfill_sync(self):
        self.check("backfill_sync", 0)
        out = self.check("backfill_sync", 1)
        self.assertRegex(out, r"layer store\.files_written = [1-9]")

    def test_curate_corpus(self):
        self.check("curate_corpus", 0)
        out = self.check("curate_corpus", 1)
        self.assertRegex(out, r"layer ext\.minhash\.call_s = [0-9.]*[1-9]")
        self.assertRegex(out, r"layer ext\.lsh\.candidate_yield = 0\.[0-9]*[1-9]")


if __name__ == "__main__":
    unittest.main()
