"""Unit tests of tools/ab_table.py over tiny saved run outputs.

    python3 -m unittest tools/test_ab_table.py
"""

import contextlib
import io
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import ab_table  # noqa: E402

BENCHMARK = {"end_to_end": [
    {"name": "side_p50_s", "unit": "s", "better": "lower", "bound": 0.24},
    {"name": "work_per_s", "unit": "1/s", "better": "higher", "bound": 0.24},
]}


def run_output(workload, seed, side_p50_s, work_per_s, failed=0):
    result = {"correct": failed == 0, "attempted": 10, "failed": failed, "metrics": {
        "side_p50_s": {"value": side_p50_s, "unit": "s"},
        "work_per_s": {"value": work_per_s, "unit": "1/s"}}}
    return (f"workload {workload} seed {seed} trace 0 cores 4 wall 60.0 s\n"
            f"metric side_p50_s = {side_p50_s} s  [bulk_p50_s]\n"
            + json.dumps(result) + "\n")


class AbTableTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.addCleanup(self.tmp.cleanup)
        root = self.tmp.name
        self.parent = os.path.join(root, "parent")
        self.change = os.path.join(root, "change")
        os.mkdir(self.parent)
        os.mkdir(self.change)
        self.bench = os.path.join(root, "BENCHMARK.json")
        with open(self.bench, "w") as f:
            json.dump(BENCHMARK, f)
        # five paired seeds: the change is faster in four, and a parent-only seed
        parent = [(1, 20.0, 150.0), (2, 22.0, 140.0), (3, 21.0, 145.0), (4, 24.0, 130.0),
                  (5, 18.0, 160.0), (6, 30.0, 100.0)]
        change = [(1, 17.0, 180.0), (2, 18.0, 170.0), (3, 22.0, 140.0), (4, 19.0, 160.0),
                  (5, 16.0, 190.0)]
        for directory, runs, tag in ((self.parent, parent, "p"), (self.change, change, "c")):
            for seed, side, work in runs:
                with open(os.path.join(directory, f"curate_corpus-{tag}{seed}.txt"), "w") as f:
                    f.write(run_output("curate_corpus", seed, side, work))
        with open(os.path.join(self.change, "notes.txt"), "w") as f:
            f.write("not a run\n")

    def output(self):
        out = io.StringIO()
        with contextlib.redirect_stdout(out), contextlib.redirect_stderr(io.StringIO()):
            ab_table.main([self.parent, self.change, "--benchmark", self.bench])
        return out.getvalue().splitlines()

    def row(self, lines, metric):
        [row] = [line for line in lines if f"`{metric}`" in line]
        return [c.strip() for c in row.strip("|").split("|")]

    def test_medians_quartiles_wins_and_bound(self):
        lines = self.output()
        side = self.row(lines, "side_p50_s")
        # parent 18, 20, 21, 22, 24: median 21, exclusive quartiles 19 and 23
        self.assertEqual(side[2], "21.000 [19.000–23.000] (4.000)")
        # change 16, 17, 18, 19, 22: median 18, quartiles 16.5 and 20.5
        self.assertEqual(side[3], "18.000 [16.500–20.500]")
        self.assertEqual(side[4], "-14.3%")
        self.assertEqual(side[5], "4/5")
        self.assertEqual(side[6], "24%")
        work = self.row(lines, "work_per_s")
        self.assertEqual(work[4], "+17.2%")
        self.assertEqual(work[5], "4/5")  # higher is better for a rate

    def test_unpaired_runs_are_named_and_left_out(self):
        lines = self.output()
        self.assertIn("unpaired: curate_corpus seed 6 (parent only)", lines)
        self.assertTrue(any(line.startswith("curate_corpus: 5 pairs") for line in lines))

    def test_two_runs_of_one_seed_on_a_side_are_refused(self):
        with open(os.path.join(self.change, "dup.txt"), "w") as f:
            f.write(run_output("curate_corpus", 1, 17.5, 175.0))
        with self.assertRaises(SystemExit):
            self.output()

    def test_reads_the_repo_declaration_by_default(self):
        out = io.StringIO()
        with contextlib.redirect_stdout(out), contextlib.redirect_stderr(io.StringIO()):
            ab_table.main([self.parent, self.change])
        # the repo declares both fixture metrics; the fixture runs carry no others
        self.assertEqual(sum(1 for line in out.getvalue().splitlines()
                             if line.startswith("| `curate_corpus`")), 2)


if __name__ == "__main__":
    unittest.main()
