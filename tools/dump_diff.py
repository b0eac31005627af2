#!/usr/bin/env python3
"""Compare two graft.Verify output dirs gate by gate as row multisets.

Usage: python3 tools/dump_diff.py <verify_dir_a> <verify_dir_b> [gate ...]

With no gate names, every gate dumped in both dirs is compared. A gate is
equal when `EXCEPT ALL` is empty both ways in DuckDB, i.e. the two dumps
hold the same rows with the same multiplicities, in any order. Prints one
line per gate and exits non-zero when any compared gate differs or is
missing from either side.
"""
import os
import sys

import duckdb


def gates_in(d):
    return {g for g in os.listdir(d) if os.path.isdir(os.path.join(d, g))}


def rows(d, gate):
    return f"SELECT * FROM read_parquet('{os.path.join(d, gate)}/*.parquet')"


def main(argv):
    if len(argv) < 3:
        print(__doc__.strip())
        return 2
    a, b = argv[1], argv[2]
    names = argv[3:] or sorted(gates_in(a) & gates_in(b))
    con = duckdb.connect()
    bad = 0
    for g in names:
        if not (os.path.isdir(os.path.join(a, g)) and os.path.isdir(os.path.join(b, g))):
            print(f"MISSING {g}")
            bad += 1
            continue
        ra, rb = rows(a, g), rows(b, g)
        only_a = con.execute(f"SELECT count(*) FROM ({ra} EXCEPT ALL {rb})").fetchone()[0]
        only_b = con.execute(f"SELECT count(*) FROM ({rb} EXCEPT ALL {ra})").fetchone()[0]
        n = con.execute(f"SELECT count(*) FROM ({ra})").fetchone()[0]
        if only_a or only_b:
            print(f"DIFF {g}: {only_a} rows only in a, {only_b} only in b")
            bad += 1
        else:
            print(f"same {g}: {n} rows")
    print(f"DIFFERENT: {bad} of {len(names)}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
