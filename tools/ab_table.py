#!/usr/bin/env python3
"""Parent-vs-change table of perfbench end-to-end metrics.

    python3 tools/ab_table.py PARENT_DIR CHANGE_DIR [--benchmark BENCHMARK.json]

Each directory holds the saved stdout of `perfbench/run.py --trace 0` runs,
one file per run (any file name). A run is identified by its
`workload <name> seed <n> ...` line and its last line, the result object.
Runs of the two sides are paired by (workload, seed); a run without a
partner is reported and left out.

The metrics, their units, which direction is `better` and each bound come
from the benchmark declaration (`BENCHMARK.json` at the repo root by
default), which this script only reads. For each workload and end-to-end
metric it prints one markdown row: the parent's median [Q1-Q3] and IQR, the
change's median [Q1-Q3], the change of the median in percent, the pairs the
change wins (strictly better), and the bound. Quartiles are
`statistics.quantiles(values, n=4)`, as in perfbench/README.md.
"""

import argparse
import json
import os
import re
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN_LINE = re.compile(r"^workload (\S+) seed (-?\d+) ")


def parse_run(text):
    """(workload, seed, result) of one run's stdout, or None."""
    key = None
    result = None
    for line in text.splitlines():
        m = RUN_LINE.match(line)
        if m:
            key = (m.group(1), int(m.group(2)))
        elif line.startswith("{"):
            try:
                obj = json.loads(line)
            except ValueError:
                continue
            if isinstance(obj, dict) and "metrics" in obj:
                result = obj
    if key is None or result is None:
        return None
    return key[0], key[1], result


def load_side(directory):
    """{(workload, seed): result} of every run file in `directory`."""
    runs = {}
    for name in sorted(os.listdir(directory)):
        path = os.path.join(directory, name)
        if not os.path.isfile(path):
            continue
        with open(path, encoding="utf-8", errors="replace") as f:
            run = parse_run(f.read())
        if run is None:
            print(f"ab_table: {path}: no run line and result object, skipped", file=sys.stderr)
            continue
        workload, seed, result = run
        if (workload, seed) in runs:
            raise SystemExit(f"ab_table: {directory} holds two runs of {workload} seed {seed}")
        runs[(workload, seed)] = result
    return runs


def spread(values):
    """(median, Q1, Q3) of `values`."""
    med = statistics.median(values)
    if len(values) < 2:
        return med, med, med
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3


def table(parent, change, end_to_end):
    """The markdown rows for paired runs of the two sides."""
    rows = ["| workload | metric | parent median [Q1–Q3] (IQR) | change median [Q1–Q3] "
            "| Δ median | change wins | bound |",
            "|---|---|---|---|---|---|---|"]
    notes = []
    for key in sorted(set(parent) ^ set(change)):
        side = "parent" if key in parent else "change"
        notes.append(f"unpaired: {key[0]} seed {key[1]} ({side} only)")
    workloads = sorted({w for w, _ in set(parent) & set(change)})
    for w in workloads:
        seeds = sorted(s for (pw, s) in set(parent) & set(change) if pw == w)
        failed_p = sum(parent[(w, s)].get("failed", 0) for s in seeds)
        failed_c = sum(change[(w, s)].get("failed", 0) for s in seeds)
        notes.append(f"{w}: {len(seeds)} pairs (seeds {', '.join(map(str, seeds))}); "
                     f"failed operations parent {failed_p}, change {failed_c}")
        for m in end_to_end:
            name = m["name"]
            pairs = [(parent[(w, s)]["metrics"][name]["value"],
                      change[(w, s)]["metrics"][name]["value"])
                     for s in seeds
                     if name in parent[(w, s)]["metrics"] and name in change[(w, s)]["metrics"]]
            if not pairs:
                continue
            pv = [p for p, _ in pairs]
            cv = [c for _, c in pairs]
            pm, pq1, pq3 = spread(pv)
            cm, cq1, cq3 = spread(cv)
            lower = m["better"] == "lower"
            wins = sum(1 for p, c in pairs if (c < p if lower else c > p))
            delta = "n/a" if pm == 0 else f"{(cm - pm) / abs(pm) * 100:+.1f}%"
            rows.append(
                f"| `{w}` | `{name}` ({m['better']} better, {m['unit']}) "
                f"| {pm:.3f} [{pq1:.3f}–{pq3:.3f}] ({pq3 - pq1:.3f}) "
                f"| {cm:.3f} [{cq1:.3f}–{cq3:.3f}] | {delta} | {wins}/{len(pairs)} "
                f"| {m['bound'] * 100:g}% |")
    return rows, notes


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent_dir")
    ap.add_argument("change_dir")
    ap.add_argument("--benchmark", default=os.path.join(ROOT, "BENCHMARK.json"))
    args = ap.parse_args(argv)
    with open(args.benchmark, encoding="utf-8") as f:
        end_to_end = json.load(f)["end_to_end"]
    rows, notes = table(load_side(args.parent_dir), load_side(args.change_dir), end_to_end)
    print("\n".join(rows))
    for n in notes:
        print(n)


if __name__ == "__main__":
    main()
