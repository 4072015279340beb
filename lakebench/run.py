#!/usr/bin/env python3
"""Lakehouse benchmark: one workload, one seed, one JSON line.

    python3 lakebench/run.py --workload month_cycle --seed 1 \
        --seconds 5 --trace 0

Run from the root of a checkout. It builds the program and the driver
(lakebench/build.py), generates the workload's inputs from the seed,
runs the driver JVM (lakebench.Main) once, checks the program's
outputs, and prints as its last stdout line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics under --trace 0 and the per-layer metrics
under --trace 1 (names and units in metrics.py). A full record with the
host block, every operation and every check is appended to
.bench_results/runs.jsonl. Exits 1 if any operation or check failed.
"""
import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen_flights  # noqa: E402
import gen_tables  # noqa: E402
import metrics  # noqa: E402
import select_queries  # noqa: E402

WORKLOADS = ("month_cycle", "query_mix")
FLIGHT_SCALE = 0.01          # share of the reference's 17.4k flights/day
TABLE_SEED = 1               # query_mix tables; its --seed sets the order
SETUP_REPEATS = 3
DEADLINE_S = 170             # a run must end within 180 s

JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def heap_size():
    """-Xmx: a quarter of MemTotal, 2..4 GiB (the driver JVM only)."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal"))
        return f"{max(2, min(4, kb // (4 * 1048576)))}g"
    except (OSError, StopIteration):
        return "2g"


def gen_month_cycle(data, seed):
    """Two consecutive months; returns the generator's achieved
    marginals."""
    flights = os.path.join(data, "flights")
    os.makedirs(flights, exist_ok=True)
    stats = []
    for month in (1, 2):
        s = gen_flights.generate(data, seed, 2025, month, FLIGHT_SCALE)
        os.replace(os.path.join(data, "flights.csv"),
                   os.path.join(flights, f"2025-{month:02d}.csv"))
        stats.append(s)
    return stats


def gen_query_mix(data, seed):
    return [gen_tables.generate(data, TABLE_SEED)]


def digest(path):
    import hashlib
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(path)):
        for f in sorted(files):
            h.update(f.encode())
            with open(os.path.join(d, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def setup_inputs(workload, data, seed):
    """Generates the inputs SETUP_REPEATS times (set-up time is the
    median); every repeat must give byte-identical files."""
    gen = gen_month_cycle if workload == "month_cycle" else gen_query_mix
    times, digests, stats = [], set(), None
    for _ in range(SETUP_REPEATS):
        shutil.rmtree(data, ignore_errors=True)
        t0 = time.perf_counter()
        stats = gen(data, seed)
        times.append(time.perf_counter() - t0)
        digests.add(digest(data))
    return statistics.median(times), len(digests) == 1, stats


def run_jvm(classes, workload, data, work, seconds, trace, queries, inject,
            budget):
    out = os.path.join(work, "driver.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + [a for p in JAVA_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           # a pre-sized heap: growing it from the default start size
           # cost the cold cycle ~10% more wall in many short collections
           [f"-Xms{heap_size()}", f"-Xmx{heap_size()}",
            "-XX:ReservedCodeCacheSize=512m",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
            "-Dspark.ui.enabled=false",
            "-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
            "lakebench.Main", "--workload", workload, "--data", data,
            "--work", work, "--seconds", str(seconds), "--trace", str(trace),
            "--out", out])
    if queries:
        cmd += ["--queries", queries, "--warmup", queries + ".warmup"]
    if inject:
        cmd += ["--inject-fail"]
    with open(os.path.join(work, "driver.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=max(10, budget))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit("lakebench: driver JVM timed out")
    if rc != 0 or not os.path.exists(out):
        with open(os.path.join(work, "driver.log")) as f:
            sys.stderr.write(f.read()[-3000:])
        raise SystemExit(f"lakebench: driver JVM failed (exit {rc})")
    with open(out) as f:
        return json.load(f)


def host_block(classes):
    def cmd(*a):
        try:
            return subprocess.run(a, capture_output=True, text=True,
                                  timeout=10).stderr.strip().splitlines()[0]
        except (OSError, IndexError, subprocess.SubprocessError):
            return None
    mem = None
    try:
        with open("/proc/meminfo") as f:
            mem = next(l.split()[1] + " kB" for l in f if l.startswith("MemTotal"))
    except (OSError, StopIteration):
        pass
    spark = [j for j in os.listdir(build.spark_jars()) if j.startswith("spark-core_")]
    with open(os.path.join(os.path.dirname(classes), "STAMP")) as f:
        sources = f.read()
    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True)
        commit = r.stdout.strip() or None
    return {
        "nproc": os.cpu_count(), "mem_total": mem, "xmx": heap_size(),
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "jdk": cmd("java", "-version"),
        "spark": spark[0][len("spark-core_"):-len(".jar")] if spark else None,
        "commit": commit,
        # hash of every compiled source: identifies the code where the
        # checkout is not a git repository
        "sources": sources,
    }


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject-fail", action="store_true",
                    help="add a query that throws (tests failure accounting)")
    a = ap.parse_args(argv)
    t_start = time.monotonic()

    classes = build.build()
    work = os.path.join(ROOT, ".bench_work",
                        f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    gen_s, deterministic, gen_stats = setup_inputs(a.workload, data, a.seed)

    queries = None
    if a.workload == "query_mix":
        names = metrics.query_subset()
        random.Random(a.seed).shuffle(names)
        queries = os.path.join(work, "queries.txt")
        with open(queries, "w") as f:
            f.write("\n".join(names) + "\n")
        with open(queries + ".warmup", "w") as f:
            f.write("\n".join(select_queries.warmup()) + "\n")

    budget = DEADLINE_S - (time.monotonic() - t_start)
    res = run_jvm(classes, a.workload, data, work, a.seconds, a.trace,
                  queries, a.inject_fail, budget)
    checks = res["checks"] + [{"name": "inputs_deterministic",
                               "ok": deterministic, "detail": ""}]
    checks += metrics.oracle_checks(res["oracles"], data,
                                    os.path.join(work, "check"),
                                    a.workload == "query_mix")
    summary = metrics.summarize(res, gen_s, checks, a.trace == 1)

    record = {"time": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
              "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
              "trace": a.trace, "host": host_block(classes),
              "inputs": gen_stats, "checks": checks,
              "ops": [o for it in res["iterations"] for o in it["ops"]],
              "result": summary}
    os.makedirs(os.path.join(ROOT, ".bench_results"), exist_ok=True)
    with open(os.path.join(ROOT, ".bench_results", "runs.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")
    for c in checks:
        if not c["ok"]:
            sys.stderr.write(f"FAILED CHECK {c['name']}: {c['detail'][:500]}\n")
    for o in record["ops"]:
        if not o["ok"]:
            sys.stderr.write(f"FAILED OP {o['name']}: {o['error'][:500]}\n")
    if summary["correct"]:      # a failed run's work dir stays for inspection
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(summary))
    return 0 if summary["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
