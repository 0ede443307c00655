"""Tests of the benchmark's own arithmetic and inputs.

    python3 -m unittest discover -s perfbench/tests

They need no build and no engine: percentiles, span self times, the
result comparison and the seeded statement generator.
"""
import hashlib
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import reference, report, stats, workloads  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 95), 95)
        self.assertEqual(stats.percentile(xs, 100), 100)
        self.assertEqual(stats.percentile([7.0], 99), 7.0)
        self.assertEqual(stats.percentile([3, 1, 2], 50), 2)

    def test_samples_beyond(self):
        self.assertEqual(stats.beyond(200, 95), 10)
        self.assertEqual(stats.beyond(199, 95), 9)  # rank ceil(189.05) = 190
        self.assertEqual(stats.beyond(190, 95), 9)

    def test_tail_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.tail_percentile(19))
        self.assertEqual(stats.tail_percentile(20), 50)
        self.assertEqual(stats.tail_percentile(40), 75)
        self.assertEqual(stats.tail_percentile(199), 90)
        self.assertEqual(stats.tail_percentile(200), 95)
        self.assertEqual(stats.tail_percentile(999), 95)
        self.assertEqual(stats.tail_percentile(1000), 99)
        for n in range(1, 3000, 7):
            q = stats.tail_percentile(n)
            if q is not None:
                self.assertGreaterEqual(stats.beyond(n, q), 10)

    def test_spread(self):
        self.assertAlmostEqual(stats.spread([10.0] * 10), 0.0)
        vals = [float(x) for x in range(1, 11)]
        q1, med, q3 = 2.75, 5.5, 8.25
        self.assertAlmostEqual(stats.spread(vals), (q3 - q1) / med)


class SelfTime(unittest.TestCase):
    def test_union_merges_overlaps(self):
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(stats.union_length([(0, 10), (2, 3)]), 10)
        self.assertEqual(stats.union_length([(5, 5), (7, 6)]), 0)
        self.assertEqual(stats.union_length([]), 0)

    def test_self_time_subtracts_covered_part_only(self):
        span = (0, 100)
        kids = [(10, 30), (20, 40), (90, 120), (-5, 5)]
        # covered: [0,5] + [10,40] + [90,100] = 5 + 30 + 10
        self.assertEqual(stats.self_time(span, kids), 55)
        self.assertEqual(stats.self_time(span, []), 100)
        self.assertEqual(stats.self_time(span, [(200, 300)]), 100)
        self.assertEqual(stats.self_time(span, [(0, 100), (0, 100)]), 0)

    def test_coverage(self):
        self.assertAlmostEqual(stats.coverage((0, 100), [(0, 60), (50, 95)]), 0.95)
        self.assertEqual(stats.coverage((5, 5), []), 1.0)

    def test_per_layer_self_times(self):
        # one traced warm statement (lap 2; lap 1 settles, unmeasured):
        # run [0,100] holds parse [10,20] and analysis [20,50]; collect
        # [100,400] holds optimization [100,130] and one job [150,350];
        # a write (id 3) has no Catalyst phases and one job
        result = {"statements": [
            {"id": 1, "lap": 2, "traced": True, "kind": "read", "ns": 400_000,
             "codegen_classes": 4, "wscg_stages": 2, "jit_ms": 5, "gc_ms": 1},
            {"id": 3, "lap": 2, "traced": True, "kind": "insert", "ns": 100_000,
             "codegen_classes": 0, "wscg_stages": 0, "jit_ms": 0, "gc_ms": 0},
            {"id": 2, "lap": 3, "traced": False, "kind": "read", "ns": 300_000},
            {"id": 5, "lap": 1, "traced": True, "kind": "read", "ns": 999_000,
             "codegen_classes": 0, "wscg_stages": 0, "jit_ms": 0, "gc_ms": 0},
            {"id": 0, "lap": 0, "traced": True, "kind": "read", "ns": 900_000,
             "codegen_classes": 9, "wscg_stages": 2, "jit_ms": 50, "gc_ms": 0}],
            "storage_bytes": 0, "partitions": 3, "first_warm_lap": 2}
        spans = [
            {"stmt": 1, "name": "statement", "start_us": 0, "end_us": 400},
            {"stmt": 1, "name": "engine.run", "start_us": 0, "end_us": 100},
            {"stmt": 1, "name": "engine.collect", "start_us": 100, "end_us": 400},
            {"stmt": 1, "name": "catalyst.parsing", "start_us": 10, "end_us": 20},
            {"stmt": 1, "name": "catalyst.analysis", "start_us": 20, "end_us": 50},
            {"stmt": 1, "name": "catalyst.optimization", "start_us": 100, "end_us": 130},
            {"stmt": None, "name": "exec.job", "start_us": 150, "end_us": 350},
            {"stmt": 3, "name": "statement", "start_us": 1000, "end_us": 1100},
            {"stmt": 3, "name": "engine.run", "start_us": 1000, "end_us": 1090},
            {"stmt": 3, "name": "engine.collect", "start_us": 1090, "end_us": 1100},
            {"stmt": 3, "name": "exec.job", "start_us": 1020, "end_us": 1040},
        ]
        stages = [{"stmt": 1, "tasks": 4, "run_ms": 3, "cpu_ns": 2e6, "duration_ms": 4,
                   "sched_delay_ms": 1, "input_bytes": 0, "shuffle_read_bytes": 0,
                   "shuffle_write_bytes": 0, "spill_bytes": 0, "failed": 0}]
        out = report.per_layer(result, spans, stages, nslots=4)
        self.assertAlmostEqual(out["engine.run_ms"][0], (0.1 + 0.09) / 2)
        # rewrite and Catalyst figures are over the read only
        self.assertEqual(out["engine.rewrite_ms"][2], 1)
        self.assertAlmostEqual(out["engine.rewrite_ms"][0], 0.06)
        self.assertAlmostEqual(out["exec.driver_ms"][0], (0.07 + 0.01) / 2)
        self.assertAlmostEqual(out["catalyst.analysis_ms"][0], 0.03)
        self.assertEqual(out["exec.jobs"][0], 1)  # the unlabelled job is placed by time
        self.assertEqual(out["codegen.classes_per_stage"][0], 2.0)
        self.assertEqual(out["codegen.cold_classes"][0], 9)
        # nearest-rank p50 of the traced 0.4 and 0.1 ms is 0.1 ms
        self.assertAlmostEqual(out["trace.overhead_ratio"][0], 0.1 / 0.3 - 1)
        self.assertAlmostEqual(out["exec.slot_busy_ratio"][0], 4 / (0.5 * 4))
        # layer spans cover 10 + 30 + 30 + 200 of the read's 400 us, and
        # 20 of the write's 100 us: engine self time is uncovered
        self.assertAlmostEqual(out["trace.coverage_min"][0], 0.2)
        self.assertAlmostEqual(out["trace.coverage"][0], (0.675 + 0.2) / 2)

    def test_phases_are_placed_by_name(self):
        # Spark floors phase timestamps to the millisecond, so a parse that
        # began in engine.run can carry a start before it; it still counts
        # against engine.run, not the collect
        result = {"statements": [
            {"id": 1, "lap": 2, "traced": True, "kind": "read", "ns": 10_000_000,
             "codegen_classes": 0, "wscg_stages": 0, "jit_ms": 0, "gc_ms": 0}],
            "storage_bytes": 0, "partitions": 1, "first_warm_lap": 2}
        spans = [
            {"stmt": 1, "name": "statement", "start_us": 5_400, "end_us": 15_400},
            {"stmt": 1, "name": "engine.run", "start_us": 5_400, "end_us": 9_400},
            {"stmt": 1, "name": "engine.collect", "start_us": 9_400, "end_us": 15_400},
            {"stmt": 1, "name": "catalyst.parsing", "start_us": 5_000, "end_us": 6_000},
            {"stmt": 1, "name": "catalyst.analysis", "start_us": 6_000, "end_us": 9_000},
            {"stmt": 1, "name": "catalyst.optimization", "start_us": 9_000, "end_us": 11_000},
        ]
        out = report.per_layer(result, spans, [], nslots=4)
        # run 4.0 ms minus parse [5.4, 6.0] and analysis [6.0, 9.0]
        self.assertAlmostEqual(out["engine.rewrite_ms"][0], 0.4)
        # collect 6.0 ms minus optimization clipped to [9.4, 11.0]
        self.assertAlmostEqual(out["exec.driver_ms"][0], 4.4)

    def test_serve_layers(self):
        serve = {"fit_ms": 5_000.0, "fit_error": None,
                 "stores": [{"name": "a", "s": 1.5}, {"name": "b", "s": -1.0},
                            {"name": "c", "s": 2.0}],
                 "queries": [{"name": "q1", "build_ms": 2.0, "exec_ms": 10.0},
                             {"name": "q2", "build_ms": 4.0, "exec_ms": 30.0}]}
        out = report.serve_layers(serve)
        self.assertEqual(out["stores.fit_s"], (3.5, "s", 2))
        self.assertEqual(out["stores.failed"], (1, "count", 3))
        self.assertEqual(out["queries.build_ms"][0], 3.0)


class SeedDeterminism(unittest.TestCase):
    def digest(self, workload, seed):
        laps = workloads.laps(workload, seed, 6)
        return hashlib.sha256(json.dumps(laps, sort_keys=True).encode()).hexdigest()

    def test_same_seed_same_text(self):
        for w in workloads.WORKLOADS:
            self.assertEqual(self.digest(w, 7), self.digest(w, 7), w)
            a = [s["sql"] for lap in workloads.laps(w, 7, 3) for s in lap]
            b = [s["sql"] for lap in workloads.laps(w, 7, 3) for s in lap]
            self.assertEqual("\n".join(a).encode(), "\n".join(b).encode())

    def test_seed_changes_text(self):
        for w in ("sql_interactive", "sql_ingest"):
            self.assertNotEqual(self.digest(w, 7), self.digest(w, 8), w)

    def test_text_does_not_depend_on_location(self):
        for w in workloads.WORKLOADS:
            for lap in workloads.laps(w, 3, 2):
                for s in lap:
                    self.assertNotIn(os.sep + "perfbench", s["sql"])

    def test_laps_are_prefix_stable(self):
        # a run that needs more laps sees the same first laps
        for w in workloads.WORKLOADS:
            self.assertEqual(workloads.laps(w, 5, 3), workloads.laps(w, 5, 6)[:3])

    def test_ingest_appends_to_one_table(self):
        laps = workloads.laps("sql_ingest", 1, 4)
        creates = [s for lap in laps for s in lap if s["kind"] == "ddl"]
        self.assertEqual(len(creates), 1)
        self.assertEqual(laps[0][0]["kind"], "ddl")
        for lap in laps:
            for s in lap:
                self.assertIn(f" {workloads.INGEST_TABLE} ", s["sql"] + " ")

    def test_ids_number_statements_in_run_order(self):
        ids = [s["id"] for lap in workloads.laps("sql_ingest", 1, 3) for s in lap]
        self.assertEqual(ids, list(range(len(ids))))

    def test_ingest_csv_is_seeded(self):
        def files(seed):
            with tempfile.TemporaryDirectory() as d:
                workloads.write_inputs("sql_ingest", seed, d)
                out = {}
                for f in sorted(os.listdir(os.path.join(d, "ingest"))):
                    with open(os.path.join(d, "ingest", f), "rb") as fh:
                        out[f] = fh.read()
                return out
        self.assertEqual(files(4), files(4))
        self.assertNotEqual(files(4), files(5))


class Comparison(unittest.TestCase):
    def test_order_and_float_tolerance(self):
        got = [[2, 1.0000000001, "b"], [1, 3.0, "a"]]
        want = [(1, 3.0, "a"), (2, 1.0, "b")]
        self.assertIsNone(reference.diff(got, want))

    def test_differences_are_reported(self):
        self.assertIsNotNone(reference.diff([[1, 2.0]], [(1, 2.1)]))
        self.assertIsNotNone(reference.diff([[1]], [(1,), (2,)]))
        self.assertIsNotNone(reference.diff([[None]], [(0,)]))

    def test_engine_timestamps_match_duckdb(self):
        import datetime
        want = [(datetime.datetime(2001, 1, 16), datetime.date(1999, 2, 3))]
        self.assertIsNone(reference.diff([["2001-01-16T00:00", "1999-02-03"]], want))
        self.assertIsNone(reference.diff([["2001-01-16 00:00:00.0", "1999-02-03"]], want))


class ServeCheck(unittest.TestCase):
    def test_oracle_columns_matched_by_name(self):
        import duckdb
        from bench import datagen
        with tempfile.TemporaryDirectory() as d:
            os.makedirs(os.path.join(d, "data"))
            for t in datagen.TABLES + datagen.PIPELINE:
                duckdb.execute(f"COPY (SELECT 1 AS x) TO '{d}/data/{t}.parquet' (FORMAT PARQUET)")
            serve = {"models_dir": d, "queries": [
                {"name": "ok", "error": None, "columns": ["b", "a"], "rows": [[2, 1]],
                 "oracle": "SELECT 1 AS a, 2 AS b"},
                {"name": "wrong", "error": None, "columns": ["a"], "rows": [[3]],
                 "oracle": "SELECT 1 AS a"},
                {"name": "failed", "error": "boom", "columns": [], "rows": [],
                 "oracle": "SELECT 1 AS a"},
                {"name": "unchecked", "error": None, "columns": ["a"], "rows": [[1]],
                 "oracle": None}]}
            bad = dict(reference.check_serve(serve, d))
        self.assertNotIn("ok", bad)
        self.assertIn("wrong result", bad["wrong"])
        self.assertEqual(bad["failed"], "boom")
        self.assertIn("unchecked", bad)


class EndToEnd(unittest.TestCase):
    def test_metrics_from_a_run(self):
        stmts = [{"id": i, "lap": 0 if i < 2 else 2, "traced": False,
                  "kind": "insert" if i % 2 else "read", "ns": (i + 1) * 1_000_000}
                 for i in range(30)]
        # 28 warm statements in one lap of 4 s and 56 s of CPU
        result = {"statements": stmts, "ready_ms": 5_000, "launch_ms": 1_000, "first_warm_lap": 2,
                  "cold_lap_ns": 2_000_000_000, "peak_rss_kb": 2048,
                  "warm_laps": [{"lap": 1, "ns": 9, "cpu_ns": 9},
                                {"lap": 2, "ns": 4_000_000_000, "cpu_ns": 56_000_000_000}]}
        out = report.end_to_end(result)
        self.assertEqual(out["setup_s"][0], 4.0)
        self.assertEqual(out["cold_lap_s"], (2.0, "s", 2))
        self.assertEqual(out["stmt_p50_ms"], (16.0, "ms", 28))
        self.assertEqual(out["stmt_per_s"][0], 7.0)
        self.assertEqual(out["cpu_ms_per_stmt"][0], 2000.0)
        self.assertEqual(out["peak_rss_mb"][0], 2.0)
        self.assertIn("insert_p50_ms", out)
        self.assertIn("read_p50_ms", out)
        self.assertNotIn("stmt_p75_ms", out)  # 28 samples: only 7 beyond p75


if __name__ == "__main__":
    unittest.main()
