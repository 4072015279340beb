#!/usr/bin/env python3
"""Summarizes benchmark run records and compares two sets of them.

    python3 lakebench/compare_runs.py RUNS.jsonl [OTHER.jsonl]

Reads the records run.py appends to .bench_results/runs.jsonl. For one
file it prints, per workload and metric, the run count, the median and
the spread (interquartile distance over the median). For two files it
also prints the second median as a share of the first. It refuses to
compare records taken with different core counts: timings from another
host class are not a baseline.
"""
import json
import statistics
import sys


class HostMismatch(Exception):
    pass


def load(path):
    with open(path) as f:
        return [json.loads(l) for l in f if l.strip()]


def spread(values):
    if len(values) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / med if med else float("inf")


def table(records):
    """{(workload, metric): [values]} over untraced records."""
    out = {}
    for r in records:
        if r.get("trace"):
            continue
        for name, m in r["result"]["metrics"].items():
            out.setdefault((r["workload"], name), []).append(m["value"])
    return out


def compare(first, second=None):
    cores = {r["host"]["nproc"] for r in first + (second or [])}
    if len(cores) > 1:
        raise HostMismatch(f"records come from hosts with {sorted(cores)} cores")
    a = table(first)
    b = table(second) if second else {}
    rows = []
    for key in sorted(a):
        row = [key[0], key[1], len(a[key]), statistics.median(a[key]),
               spread(a[key])]
        if key in b:
            row += [statistics.median(b[key]) / statistics.median(a[key])
                    if statistics.median(a[key]) else float("nan"),
                    spread(b[key])]
        rows.append(row)
    return rows


def main(argv):
    recs = [load(p) for p in argv[1:3]]
    try:
        rows = compare(*recs)
    except HostMismatch as e:
        sys.exit(f"refusing to compare: {e}")
    for r in rows:
        extra = f"  second/first={r[5]:.4f} spread2={r[6]:.4f}" if len(r) > 5 else ""
        print(f"{r[0]:12s} {r[1]:14s} n={r[2]:2d} median={r[3]:.6g} "
              f"spread={r[4]:.4f}{extra}")


if __name__ == "__main__":
    main(sys.argv)
