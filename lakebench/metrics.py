"""Metric definitions, aggregation and output checks of the benchmark.

Everything here is pure Python over the driver JVM's JSON, so the
accounting rules are unit-tested without Spark (lakebench/tests).
"""
import math
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# name -> unit; each is never 0 on either workload
END_TO_END = {
    "setup_s": "s",        # launch until session ready and inputs in place
    "wall_s": "s",         # the timed calls of one iteration (median)
    "write_amp": "ratio",  # bytes written per input byte
    "heap_peak_mb": "MB",  # peak heap in use right after a GC
    "ok_ratio": "ratio",   # 1 - failed/attempted (operations and checks)
}

LAYERS = ["bronze", "silver", "gold.dims", "gold.fact", "gold.marts",
          "quality", "export", "incremental.fold", "query.build", "query.exec"]
COUNTERS = {"wall_s": "s", "driver_s": "s", "task_s": "s", "cpu_s": "s",
            "jobs": "count", "tasks": "count", "input_bytes": "bytes",
            "shuffle_bytes": "bytes", "spill_bytes": "bytes",
            "output_bytes": "bytes"}
# registry modules in the query mix (PipelineQueries reads the 12-row
# test fixture, which month_cycle replaces with generated months)
MODULES = ["Relational", "ExtendedRelational", "TextAnalysis", "DedupQueries",
           "SimilarityQueries", "MultimodalQueries", "ProfilingQueries",
           "WindowQueries", "CorpusQueries", "TrainingPrepQueries"]


def per_layer_units():
    units = {f"{l}.{c}": u for l in LAYERS for c, u in COUNTERS.items()}
    units.update({
        "session.wall_s": "s",
        "incremental.append_ratio": "ratio",
        "quality.pass_ratio": "ratio",
        "query.p50_s": "s",
        "query.tail_s": "s",
        "trace.wall_s": "s",
    })
    units.update({f"query.{m}.wall_s": "s" for m in MODULES})
    return units


PER_LAYER = per_layer_units()


def query_subset():
    """The query_mix subset, one registry name a line (see README.md
    for the rule that picked it)."""
    with open(os.path.join(HERE, "query_mix.txt")) as f:
        return [l.split()[0] for l in f
                if l.strip() and not l.startswith("#")]


def tail_percentile(values, candidates=(50, 75, 90, 95, 99, 99.9)):
    """(p, value) for the highest candidate percentile that leaves at
    least ten samples above it, or None when there are fewer than 20
    samples. Values are interpolated between closest ranks."""
    xs = sorted(values)
    n = len(xs)
    ok = [p for p in candidates if round(n * (100 - p) / 100.0, 6) >= 10]
    if not ok:
        return None
    p = max(ok)
    pos = (n - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, n - 1)
    return p, xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def op_latencies(ops):
    """Per-operation latency; a failed operation counts as at least
    the slowest successful one, so a failure never improves a
    percentile or shrinks a wall."""
    ok = [o["wall_s"] for o in ops if o["ok"]]
    worst = max(ok) if ok else 0.0
    return [o["wall_s"] if o["ok"] else max(o["wall_s"], worst) for o in ops]


def iteration_wall(ops):
    """Wall of one iteration: the sum of its calls' latencies, failed
    calls included with at least the time they took."""
    return sum(op_latencies(ops))


def summarize(res, gen_s, checks, traced):
    """The final JSON object of a run."""
    iters = res["iterations"]
    ops = [o for it in iters for o in it["ops"]]
    attempted = len(ops) + len(checks)
    failed = sum(not o["ok"] for o in ops) + sum(not c["ok"] for c in checks)
    wall = statistics.median(iteration_wall(it["ops"]) for it in iters)
    if traced:
        values = per_layer_values(res, ops, wall)
        units = PER_LAYER
    else:
        values = {
            "setup_s": gen_s + res["session_s"] + res["setup_s"]
            + statistics.median(it["prep_s"] for it in iters),
            "wall_s": wall,
            "write_amp": statistics.median(it["write_bytes"] for it in iters)
            / res["input_bytes"],
            "heap_peak_mb": res["heap_peak_mb"],
            "ok_ratio": 1.0 - failed / attempted,
        }
        units = END_TO_END
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(values.get(k, 0.0)), "unit": u}
                    for k, u in units.items()},
    }


def per_layer_values(res, ops, wall):
    v = dict(res["layers"])
    v["session.wall_s"] = res["session_s"]
    v["trace.wall_s"] = wall
    queries = [o for o in ops if o["layer"] in MODULES or o["layer"] == "Injected"]
    if queries:
        lat = op_latencies(queries)
        v["query.p50_s"] = statistics.median(lat)
        tail = tail_percentile(lat)
        v["query.tail_s"] = tail[1] if tail else max(lat)
        n_iter = len(res["iterations"])
        for m in MODULES:
            v[f"query.{m}.wall_s"] = sum(
                t for o, t in zip(queries, lat) if o["layer"] == m) / n_iter
    return v


def compare_module():
    """tools/compare.py, the repo's oracle harness."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import compare  # noqa: E402
    return compare


def oracle_connection(data, table_views):
    """DuckDB with bounded memory and threads (some registry oracles
    would otherwise take most of the host's memory), and views over
    the registry's tables when `table_views`."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET memory_limit='2GB'")
    con.execute("SET threads=2")
    con.execute(f"SET temp_directory='{data}/.duckdb_tmp'")
    if table_views:
        for t in compare_module().TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    return con


def oracle_checks(oracles, data, check_dir, table_views):
    """Compares each result the driver wrote under check_dir with its
    DuckDB oracle, with tools/compare.py's canonicalisation in strict
    (bit-exact) mode."""
    if not oracles:
        return []
    import pandas as pd
    compare = compare_module()
    con = oracle_connection(data, table_views)
    out = []
    for name, sql in sorted(oracles.items()):
        try:
            got = compare.canon(pd.read_parquet(os.path.join(check_dir, name)))
            want = compare.canon(con.sql(sql).df())
            detail = frame_diff(got, want)
        except Exception as e:  # an unreadable result or oracle fails the check
            detail = f"{type(e).__name__}: {e}"
        out.append({"name": f"oracle:{name}", "ok": detail is None,
                    "detail": detail or ""})
    return out


def frame_diff(g, w):
    """None if equal as compare.py --strict judges, else why not."""
    import pandas as pd
    if list(g.columns) != list(w.columns):
        return f"columns {list(g.columns)} != {list(w.columns)}"
    kinds = [c for c in g.columns
             if g[c].dtype.kind in "if" and w[c].dtype.kind in "if"
             and (g[c].dtype.kind == "f") != (w[c].dtype.kind == "f")]
    if kinds:
        return f"int/float dtype mismatch on {kinds}"
    if len(g) != len(w):
        return f"rows {len(g)} != {len(w)}"
    try:
        pd.testing.assert_frame_equal(g, w, check_dtype=False, check_exact=True)
    except AssertionError as e:
        return f"value mismatch: {str(e)[:600]}"
    return None
