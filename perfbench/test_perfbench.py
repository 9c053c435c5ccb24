"""Tests of the benchmark itself: its metric math, its input generator,
its oracle check, its digest (in a JVM), and a smoke run of every
workload at a small scale.

    python3 -m unittest perfbench/test_perfbench.py
"""
import hashlib
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
# scratch stays inside the checkout, like the benchmark's own
SCRATCH = os.path.join(ROOT, ".bench_work")
os.makedirs(SCRATCH, exist_ok=True)

import build  # noqa: E402
import datagen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

import duckdb  # noqa: E402


class StatsTest(unittest.TestCase):

    def test_tail_leaves_ten_samples_above(self):
        xs = list(range(1, 31))  # 30 samples
        value, pct, n = stats.tail(xs)
        self.assertEqual((value, n), (20, 30))
        self.assertEqual(sum(1 for x in xs if x > value), 10)
        self.assertAlmostEqual(pct, 100 * 20 / 30)

    def test_tail_of_few_samples_is_the_maximum(self):
        self.assertEqual(stats.tail([3.0, 1.0, 2.0]), (3.0, 100.0, 3))
        self.assertEqual(stats.tail([]), (0.0, 100.0, 0))

    def test_median_and_ratio(self):
        self.assertEqual(stats.median([5, 1, 3]), 3)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)
        self.assertEqual(stats.ratio(3, 4), 0.75)
        self.assertEqual(stats.ratio(3, 0), 0.0)

    def test_interval_union_and_overlap(self):
        iv = [(0, 10), (5, 15), (20, 25), (21, 22)]
        self.assertEqual(stats.union_length(iv), 20)
        self.assertEqual(stats.peak_overlap(iv), 2)
        # touching intervals do not overlap
        self.assertEqual(stats.peak_overlap([(0, 5), (5, 9)]), 1)

    def _traced_load(self):
        op = {"name": "load", "id": "perfbench-op-1", "wall_s": 1.0,
              "start_ms": 1000, "end_ms": 2000, "ok": True, "persisted": 2}
        result = {"passes": [
            {"traced": False, "wall_s": 0.9, "ops": [dict(op, id="perfbench-op-0", wall_s=0.9)]},
            {"traced": True, "wall_s": 1.0, "ops": [op]}],
            "facts": {"frame_rows": 600}, "setup_s": [1.0], "rss_peak_mb": 100.0}
        spans = [
            {"kind": "jdbc", "op": op["id"], "stmt": "insert", "dir": "write",
             "start_ms": 1100, "busy_ms": 50.0, "rows_offered": 10, "rows_written": 4},
            {"kind": "jdbc", "op": op["id"], "stmt": "check", "dir": "read",
             "start_ms": 1200, "busy_ms": 10.0, "rows_fetched": 4},
            {"kind": "jdbc", "op": op["id"], "stmt": "retrieve", "dir": "read",
             "start_ms": 1400, "busy_ms": 10.0, "rows_fetched": 4},
            {"kind": "jdbc", "op": op["id"], "stmt": "compare", "dir": "read",
             "start_ms": 1700, "busy_ms": 20.0, "rows_fetched": 10},
            {"kind": "job", "op": op["id"], "start_ms": 1000, "end_ms": 1300},
            {"kind": "job", "op": op["id"], "start_ms": 1200, "end_ms": 1500},
            {"kind": "task", "op": op["id"], "stage": 1, "start_ms": 1000, "end_ms": 1300,
             "run_ms": 300, "gc_ms": 5, "shuffle_write_bytes": 7, "spill_bytes": 0},
            {"kind": "task", "op": op["id"], "stage": 2, "start_ms": 1200, "end_ms": 1500,
             "run_ms": 100, "gc_ms": 0, "shuffle_write_bytes": 0, "spill_bytes": 3},
            {"kind": "task", "op": "perfbench-op-9", "stage": 3, "start_ms": 0, "end_ms": 1,
             "run_ms": 999, "gc_ms": 0, "shuffle_write_bytes": 0, "spill_bytes": 0},
        ]
        return result, spans

    def test_per_layer_splits_a_traced_load(self):
        result, spans = self._traced_load()
        m = {k: v for k, (v, _) in stats.per_layer(result, spans, cores=4).items()}
        # phases partition the operation's wall time at statement starts
        self.assertAlmostEqual(m["connector.insert_s"], 0.4)
        self.assertAlmostEqual(m["connector.retrieve_s"], 0.3)
        self.assertAlmostEqual(m["connector.compare_s"], 0.3)
        self.assertAlmostEqual(m["connector.jdbc_write_s"], 0.05)
        self.assertAlmostEqual(m["connector.jdbc_read_s"], 0.04)
        self.assertEqual(m["connector.rows_offered"], 10)
        self.assertEqual(m["connector.rows_fetched"], 18)
        self.assertAlmostEqual(m["connector.insert_yield"], 0.4)
        # jobs cover 1000..1500 of the 1000..2000 operation
        self.assertAlmostEqual(m["driver.outside_jobs_s"], 0.5)
        self.assertEqual(m["spark.jobs"], 2)
        self.assertEqual(m["spark.tasks"], 2)  # the other operation's task is not counted
        self.assertEqual(m["spark.peak_width"], 2)
        self.assertAlmostEqual(m["spark.executor_run_s"], 0.4)
        self.assertAlmostEqual(m["spark.core_utilisation"], 0.4 / (1.0 * 4))
        self.assertEqual(m["spark.shuffle_write_bytes"], 7)
        self.assertEqual(m["spark.spill_bytes"], 3)
        self.assertEqual(m["cache.persisted_after_op"], 2)
        self.assertAlmostEqual(m["trace.overhead_ratio"], 1.0 / 0.9 - 1.0)
        self.assertAlmostEqual(m["connector.load_s"], 0.9)
        self.assertAlmostEqual(m["connector.load_rows_per_s"], 600 / 0.9)
        self.assertEqual(m["ops_failed_ratio"], 0.0)

    def test_end_to_end_uses_untraced_passes(self):
        result, _ = self._traced_load()
        m, notes = stats.end_to_end(result)
        self.assertEqual(m["pass_s"], (0.9, "s"))
        self.assertEqual(m["setup_s"], (1.0, "s"))
        self.assertIn("n=1 queries", notes["query_tail_s"])

    def test_query_times_are_their_fastest_pass(self):
        passes = [{"traced": False, "wall_s": sum(w),
                   "ops": [{"name": n, "wall_s": x} for n, x in zip("abc", w)]}
                  for w in ([1.0, 2.0, 9.0], [1.2, 2.2, 7.0], [0.8, 2.4, 8.0])]
        m, _ = stats.end_to_end({"passes": passes, "setup_s": [3.0, 1.0, 2.0],
                                 "rss_peak_mb": 1.0})
        self.assertEqual(m["query_p50_s"][0], 2.0)
        self.assertEqual(m["query_tail_s"][0], 7.0)
        self.assertEqual(m["pass_s"][0], 11.2)
        self.assertEqual(m["setup_s"][0], 2.0)


class DatagenTest(unittest.TestCase):

    def _digest(self, d):
        out = {}
        for t in datagen.TABLES:
            with open(f"{d}/{t}.parquet", "rb") as fh:
                out[t] = hashlib.sha256(fh.read()).hexdigest()
        return out

    def test_same_seed_same_tables_other_seed_other_values(self):
        with tempfile.TemporaryDirectory(dir=SCRATCH) as tmp:
            for name, seed in (("a", 3), ("b", 3), ("c", 4)):
                datagen.generate(f"{tmp}/{name}", seed, 0.001)
            a, b, c = (self._digest(f"{tmp}/{n}") for n in "abc")
            self.assertEqual(a, b)
            self.assertNotEqual(a["lineitem"], c["lineitem"])
            con = duckdb.connect()
            sizes = datagen.sizes(0.001)
            for t in ("customer", "orders", "lineitem", "events", "documents", "embeddings"):
                for d in ("a", "c"):
                    n = con.execute(f"SELECT count(*) FROM '{tmp}/{d}/{t}.parquet'").fetchone()[0]
                    self.assertEqual(n, sizes[t], (t, d))
            # the star load's natural keys hold
            dup = con.execute(f"SELECT count(*) - count(DISTINCT (l_orderkey, l_linenumber)) "
                              f"FROM '{tmp}/a/lineitem.parquet'").fetchone()[0]
            self.assertEqual(dup, 0)


class OracleTest(unittest.TestCase):

    def test_agrees_and_disagrees(self):
        with tempfile.TemporaryDirectory(dir=SCRATCH) as tmp:
            datagen.generate(f"{tmp}/data", 1, 0.001)
            con = duckdb.connect()
            os.makedirs(f"{tmp}/out/good")
            os.makedirs(f"{tmp}/out/bad")
            src = f"'{tmp}/data/nation.parquet'"
            con.execute(f"COPY (SELECT n_regionkey AS r, count(*) AS n FROM {src} "
                        f"GROUP BY 1 ORDER BY 1 DESC) TO '{tmp}/out/good/p.parquet' (FORMAT PARQUET)")
            con.execute(f"COPY (SELECT n_regionkey AS r, count(*) + 1 AS n FROM {src} "
                        f"GROUP BY 1) TO '{tmp}/out/bad/p.parquet' (FORMAT PARQUET)")
            sql = "SELECT n_regionkey AS r, count(*) AS n FROM nation GROUP BY 1 ORDER BY 1"
            problems = oracle.check(f"{tmp}/data", f"{tmp}/out",
                                    {"good": sql, "bad": sql, "none": ""})
            self.assertNotIn("good", problems)
            self.assertIn("differ", problems["bad"])
            self.assertEqual(problems["none"], "no oracle")


class HarnessTest(unittest.TestCase):

    def test_self_check(self):
        built = build.build(os.path.join(ROOT, ".bench_build"))
        with tempfile.TemporaryDirectory(dir=SCRATCH) as tmp:
            r = subprocess.run(built.java(tmp, "perfbench.SelfCheck") + [tmp],
                               capture_output=True, text=True, timeout=300, cwd=tmp)
        self.assertEqual(r.returncode, 0, r.stdout + r.stderr[-3000:])


class SmokeTest(unittest.TestCase):
    """Every workload at its sf0.001 inputs for one second, untraced, and
    the first one traced."""

    def _run(self, workload, trace):
        r = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
             "--seed", "5", "--seconds", "1", "--trace", str(trace)],
            capture_output=True, text=True, timeout=900)
        self.assertEqual(r.returncode, 0, r.stdout + r.stderr[-3000:])
        out = json.loads(r.stdout.strip().splitlines()[-1])
        self.assertTrue(out["correct"])
        self.assertEqual(out["failed"], 0)
        self.assertGreaterEqual(out["attempted"], 1)
        return out["metrics"]

    def test_workloads(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        for w in spec["workloads"]:
            with self.subTest(workload=w["name"]):
                m = self._run(w["name"], 0)
                self.assertEqual(set(m), {e["name"] for e in spec["end_to_end"]})
                self.assertTrue(all(v["value"] > 0 for v in m.values()), m)
        traced = self._run(spec["workloads"][0]["name"], 1)
        self.assertEqual(set(traced), {e["name"] for e in spec["per_layer"]})


if __name__ == "__main__":
    unittest.main()
