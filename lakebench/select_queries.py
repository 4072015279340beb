#!/usr/bin/env python3
"""The rule that picks query_mix's subset of the query registry.

    python3 lakebench/select_queries.py                 # print the subset
    python3 lakebench/select_queries.py --write         # rewrite query_mix.txt
    python3 lakebench/select_queries.py --calibrate DRIVER_JSON DATA_DIR

calibration.tsv records, for every registered query outside
PipelineQueries, its module, its registry position, its cold wall in
one driver pass over all of them, and how long its DuckDB oracle took
(with the limits oracle checks run under) on the generated tables of
seed 1. `--calibrate` rebuilds it from a query_mix driver run over the
whole registry.

The rule, applied per module in registry order:
  1. keep the queries whose oracle finished within ORACLE_CAP_S, since
     every run checks every query it times and a run has 180 s;
  2. of the m kept, take PER_MODULE at the evenly spaced positions
     floor((i + 0.5) * m / PER_MODULE), i = 0 .. PER_MODULE - 1.
The warm-up run before the timed queries (`warmup()`) takes, per
module, the kept query that is not picked and has the shortest
calibrated wall.
"""
import csv
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
CALIBRATION = os.path.join(HERE, "calibration.tsv")
SUBSET = os.path.join(HERE, "query_mix.txt")
ORACLE_CAP_S = 1.0
PER_MODULE = 1


def load():
    with open(CALIBRATION) as f:
        return list(csv.DictReader(f, delimiter="\t"))


def select(rows=None):
    """[(query, module)] in registry order."""
    rows = load() if rows is None else rows
    modules = []
    for r in rows:
        if r["module"] not in modules:
            modules.append(r["module"])
    out = []
    for m in modules:
        ok = [r for r in kept(rows) if r["module"] == m]
        n = len(ok)
        k = min(PER_MODULE, n)
        out += [(ok[int((i + 0.5) * n / k)]["query"], m) for i in range(k)]
    return out


def kept(rows):
    """Step 1 of the rule, in registry order within each module."""
    return [r for r in sorted(rows, key=lambda r: int(r["position"]))
            if r["oracle_ok"] == "true" and float(r["oracle_s"]) <= ORACLE_CAP_S]


def warmup(rows=None):
    """query_mix's warm-up, one query a module in registry order: of
    the queries the subset rule keeps but does not pick, the one with
    the shortest calibrated wall."""
    rows = load() if rows is None else rows
    picked = {q for q, _ in select(rows)}
    best = {}
    for r in kept(rows):
        if r["query"] not in picked and (
                r["module"] not in best
                or float(r["spark_cold_s"]) < float(best[r["module"]]["spark_cold_s"])):
            best[r["module"]] = r
    return [r["query"] for r in best.values()]


def calibrate(driver_json, data):
    sys.path.insert(0, HERE)
    import metrics
    with open(driver_json) as f:
        res = json.load(f)
    con = metrics.oracle_connection(data, True)
    rows = []
    ops = res["iterations"][0]["ops"]
    for pos, o in enumerate(ops):
        sql = res["oracles"].get(o["name"])
        t0 = time.perf_counter()
        ok = sql is not None
        try:
            if ok:
                con.sql(sql).df()
        except Exception:
            ok = False
        rows.append({"query": o["name"], "module": o["layer"],
                     "position": pos, "spark_cold_s": f"{o['wall_s']:.3f}",
                     "oracle_s": f"{time.perf_counter() - t0:.3f}",
                     "oracle_ok": "true" if ok else "false"})
    with open(CALIBRATION, "w", newline="") as f:
        w = csv.DictWriter(f, fieldnames=list(rows[0]), delimiter="\t",
                           lineterminator="\n")
        w.writeheader()
        w.writerows(rows)


def main(argv):
    if argv[1:2] == ["--calibrate"]:
        calibrate(argv[2], argv[3])
        return
    picked = select()
    text = "".join(f"{q}\t{m}\n" for q, m in picked)
    if argv[1:2] == ["--write"]:
        with open(SUBSET, "w") as f:
            f.write("# query_mix subset: written by select_queries.py --write\n")
            f.write(text)
    else:
        sys.stdout.write(text)


if __name__ == "__main__":
    main(sys.argv)
