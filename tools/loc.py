#!/usr/bin/env python3
"""Code-line counts of src/main/scala, parent tree vs change tree.

    python3 tools/loc.py PARENT_TREE CHANGE_TREE

Each tree is a checkout of the repo (a `git archive` or `git clone` of the
parent, the working tree of the change). A counted line is non-blank and,
after its indent, does not start with `*`, `//` or `/*`, so doc comments and
comment-only lines do not count. One markdown row is printed for every file
under src/main/scala whose text differs between the trees (a file present on
one side only counts 0 on the other): its path, the parent's count, the
change's count and the delta. A last row gives the totals over all of
src/main/scala.
"""

import argparse
import os
import sys

SOURCES = os.path.join("src", "main", "scala")


def code_lines(text):
    """Lines that are neither blank nor comment-only."""
    return sum(1 for line in text.splitlines()
               if line.strip() and not line.strip().startswith(("*", "//", "/*")))


def sources(tree):
    """Path under src/main/scala → file text, for every file of one tree."""
    base = os.path.join(tree, SOURCES)
    if not os.path.isdir(base):
        sys.exit(f"loc.py: no {SOURCES} under {tree}")
    out = {}
    for directory, _, files in os.walk(base):
        for name in files:
            path = os.path.join(directory, name)
            with open(path, encoding="utf-8") as f:
                out[os.path.relpath(path, base)] = f.read()
    return out


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent", help="the parent tree")
    ap.add_argument("change", help="the change's tree")
    args = ap.parse_args(argv)
    parent, change = sources(args.parent), sources(args.change)
    print("| file | parent | change | delta |")
    print("|---|---|---|---|")
    for path in sorted(parent.keys() | change.keys()):
        if parent.get(path) != change.get(path):
            p, c = code_lines(parent.get(path, "")), code_lines(change.get(path, ""))
            print(f"| `{path}` | {p} | {c} | {c - p:+d} |")
    p = sum(map(code_lines, parent.values()))
    c = sum(map(code_lines, change.values()))
    print(f"| total ({SOURCES}) | {p} | {c} | {c - p:+d} |")


if __name__ == "__main__":
    main()
