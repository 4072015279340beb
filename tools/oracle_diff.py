#!/usr/bin/env python3
"""Check that two graft.Verify oracle dumps hold the same oracle SQL.

Usage: tools/oracle_diff.py A/oracle_sql.json B/oracle_sql.json

Exits 0 iff both files name the same queries and every query's SQL is
equal once each run of whitespace is collapsed to one space and the
ends are stripped. Otherwise prints each missing name and each differing
query (with the first differing position) and exits 1. Use it to show
that a refactor of the oracle builders left every oracle unchanged.
"""
import json
import sys


def collapse(sql: str) -> str:
    return " ".join(sql.split())


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    with open(argv[1]) as f:
        a = json.load(f)
    with open(argv[2]) as f:
        b = json.load(f)
    bad = same = 0
    for name in sorted(a.keys() - b.keys()):
        print(f"only in {argv[1]}: {name}")
        bad += 1
    for name in sorted(b.keys() - a.keys()):
        print(f"only in {argv[2]}: {name}")
        bad += 1
    for name in sorted(a.keys() & b.keys()):
        x, y = collapse(a[name]), collapse(b[name])
        if x == y:
            same += 1
        else:
            i = next((i for i, (p, q) in enumerate(zip(x, y)) if p != q),
                     min(len(x), len(y)))
            print(f"differs: {name} at char {i}:\n"
                  f"  A: ...{x[max(0, i - 60):i + 60]}...\n"
                  f"  B: ...{y[max(0, i - 60):i + 60]}...")
            bad += 1
    print(f"{same} identical, {bad} problem(s)")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
