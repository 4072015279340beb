"""Tests of the benchmark's own code (not of the program).

    python3 -m unittest discover -s lakebench/tests

The end-to-end failure-injection test starts the driver JVM and takes
about a minute; it runs only with LAKEBENCH_SLOW=1.
"""
import contextlib
import filecmp
import io
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import compare_runs  # noqa: E402
import gen_flights  # noqa: E402
import gen_tables  # noqa: E402
import metrics  # noqa: E402
import select_queries  # noqa: E402


def same_files(a, b):
    names = sorted(os.listdir(a))
    return names == sorted(os.listdir(b)) and all(
        filecmp.cmp(os.path.join(a, n), os.path.join(b, n), shallow=False)
        for n in names)


class GeneratorTest(unittest.TestCase):
    def test_flights_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as t:
            a, b, c = (os.path.join(t, x) for x in "abc")
            gen_flights.generate(a, 5, 2025, 1, 0.01)
            gen_flights.generate(b, 5, 2025, 1, 0.01)
            gen_flights.generate(c, 6, 2025, 1, 0.01)
            self.assertTrue(same_files(a, b))
            self.assertFalse(filecmp.cmp(os.path.join(a, "flights.csv"),
                                         os.path.join(c, "flights.csv"),
                                         shallow=False))

    def test_flights_marginals(self):
        with tempfile.TemporaryDirectory() as t:
            s = gen_flights.generate(t, 3, 2025, 1, 0.1)
            self.assertAlmostEqual(s["flights_per_day"], 1741.4, delta=60)
            self.assertAlmostEqual(s["cancelled_pct"], 3.02, delta=0.4)
            self.assertAlmostEqual(s["diverted_pct"], 0.22, delta=0.1)
            self.assertAlmostEqual(s["delayed_pct"], 32.8, delta=1.5)
            self.assertAlmostEqual(s["mean_distance_mi"], 843.2, delta=10)
            self.assertAlmostEqual(s["null_dep_time_pct"], 3.0, delta=0.6)
            with open(os.path.join(t, "flights.csv")) as f:
                rows = [l.rstrip("\n").split(",") for l in f][1:]
            crs_dep = {len(r[7]) for r in rows}
            self.assertEqual(crs_dep, {3, 4})                  # "945" kept
            self.assertTrue(any(r[1].startswith(" ") for r in rows))
            self.assertTrue(any(r[4].islower() for r in rows))
            self.assertTrue(any(r[17] == "1441.0" for r in rows))
            self.assertTrue(any(r[18] == "0.0" for r in rows))
            self.assertTrue(any(r[9] in ("-61.0", "-200.0", "2000.0")
                                for r in rows))

    def test_tables_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as t:
            a, b = os.path.join(t, "a"), os.path.join(t, "b")
            rows = gen_tables.generate(a, 9)
            gen_tables.generate(b, 9)
            self.assertTrue(same_files(a, b))
            self.assertEqual(rows["lineitem"], 60000)


class PercentileTest(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        self.assertIsNone(metrics.tail_percentile(range(19)))
        self.assertEqual(metrics.tail_percentile(range(20))[0], 50)
        self.assertEqual(metrics.tail_percentile(range(39))[0], 50)
        self.assertEqual(metrics.tail_percentile(range(40))[0], 75)
        self.assertEqual(metrics.tail_percentile(range(100))[0], 90)
        self.assertEqual(metrics.tail_percentile(range(200))[0], 95)
        self.assertEqual(metrics.tail_percentile(range(1000))[0], 99)

    def test_value_interpolates(self):
        p, v = metrics.tail_percentile([float(x) for x in range(101)])
        self.assertEqual(p, 90)
        self.assertAlmostEqual(v, 90.0)
        xs = list(range(1, 21))                 # median of 1..20 is 10.5
        self.assertAlmostEqual(metrics.tail_percentile(xs)[1], 10.5)


def driver_result(ops, checks_ok=True):
    return {
        "session_s": 5.0, "setup_s": 0.0, "input_bytes": 1000.0,
        "heap_peak_mb": 100.0, "layers": {},
        "iterations": [{"prep_s": 0.1, "write_bytes": 2000.0, "ops": ops}],
        "checks": [], "oracles": {},
    }


def op(name, wall, ok=True, layer="Relational"):
    return {"name": name, "layer": layer, "wall_s": wall, "ok": ok,
            "error": "" if ok else "boom"}


class FailureAccountingTest(unittest.TestCase):
    def test_failed_op_counts_and_never_shrinks_wall(self):
        good = [op("q1", 1.0), op("q2", 2.0)]
        checks = [{"name": "c", "ok": True, "detail": ""}]
        base = metrics.summarize(driver_result(good), 1.0, checks, False)
        bad = good + [op("inject_throw", 0.05, ok=False, layer="Injected")]
        hit = metrics.summarize(driver_result(bad), 1.0, checks, False)
        self.assertTrue(base["correct"])
        self.assertFalse(hit["correct"])
        self.assertEqual((hit["attempted"], hit["failed"]), (4, 1))
        self.assertLess(hit["metrics"]["ok_ratio"]["value"],
                        base["metrics"]["ok_ratio"]["value"])
        self.assertGreaterEqual(hit["metrics"]["wall_s"]["value"],
                                base["metrics"]["wall_s"]["value"])

    def test_failed_op_is_slowest_latency(self):
        lat = metrics.op_latencies([op("a", 1.0), op("b", 3.0),
                                    op("c", 0.01, ok=False)])
        self.assertEqual(lat, [1.0, 3.0, 3.0])

    def test_failed_check_fails_run(self):
        checks = [{"name": "oracle:q", "ok": False, "detail": "rows 1 != 2"}]
        r = metrics.summarize(driver_result([op("q1", 1.0)]), 1.0, checks, False)
        self.assertFalse(r["correct"])
        self.assertEqual(r["failed"], 1)

    def test_every_metric_reported(self):
        r = metrics.summarize(driver_result([op("q1", 1.0)]), 1.0, [], False)
        self.assertEqual(set(r["metrics"]), set(metrics.END_TO_END))
        r = metrics.summarize(driver_result([op("q1", 1.0)]), 1.0, [], True)
        self.assertEqual(set(r["metrics"]), set(metrics.PER_LAYER))

    @unittest.skipUnless(os.environ.get("LAKEBENCH_SLOW") == "1",
                         "starts the driver JVM; set LAKEBENCH_SLOW=1")
    def test_injected_throwing_query_end_to_end(self):
        import run
        out = io.StringIO()
        with contextlib.redirect_stdout(out):
            rc = run.main(["--workload", "query_mix", "--seed", "1",
                           "--seconds", "1", "--inject-fail"])
        res = json.loads(out.getvalue().strip().splitlines()[-1])
        self.assertEqual(rc, 1)
        self.assertFalse(res["correct"])
        self.assertEqual(res["failed"], 1)
        self.assertLess(res["metrics"]["ok_ratio"]["value"], 1.0)


class DefinitionTest(unittest.TestCase):
    def test_benchmark_json_matches_metrics(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            b = json.load(f)
        e2e = {m["name"]: m["unit"] for m in b["end_to_end"]}
        self.assertEqual(e2e, metrics.END_TO_END)
        layer = {m["name"]: m["unit"] for m in b["per_layer"]}
        self.assertEqual(layer, metrics.PER_LAYER)
        import run
        self.assertEqual([w["name"] for w in b["workloads"]],
                         list(run.WORKLOADS))

    def test_query_subset_follows_rule(self):
        self.assertEqual(metrics.query_subset(),
                         [q for q, _ in select_queries.select()])

    def test_warmup_is_one_other_query_per_module(self):
        rows = select_queries.load()
        module = {r["query"]: r["module"] for r in rows}
        warm = select_queries.warmup(rows)
        self.assertEqual(sorted(module[q] for q in warm), sorted(metrics.MODULES))
        self.assertFalse(set(warm) & set(metrics.query_subset()))
        kept = {r["query"] for r in select_queries.kept(rows)}
        self.assertTrue(set(warm) <= kept)


class CompareRunsTest(unittest.TestCase):
    def test_refuses_other_core_count(self):
        a = {"host": {"nproc": 4}, "workload": "w", "result": {"metrics": {}}}
        b = {"host": {"nproc": 32}, "workload": "w", "result": {"metrics": {}}}
        with self.assertRaises(compare_runs.HostMismatch):
            compare_runs.compare([a], [b])


if __name__ == "__main__":
    unittest.main()
