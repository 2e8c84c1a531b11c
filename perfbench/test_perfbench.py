"""Tests of the benchmark itself (no Spark needed):

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import bench  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402


class SeededInputs(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        keys = run.catalog_keys()
        for w in ("serve-ingest", "catalog-slice"):
            a = gen.workload_inputs(w, 7, 10, keys)
            b = gen.workload_inputs(w, 7, 10, keys)
            self.assertEqual(json.dumps(a, sort_keys=True), json.dumps(b, sort_keys=True), w)

    def test_other_seed_other_inputs(self):
        keys = run.catalog_keys()
        for w in ("serve-ingest", "catalog-slice"):
            self.assertNotEqual(gen.workload_inputs(w, 1, 10, keys), gen.workload_inputs(w, 2, 10, keys), w)

    def test_serve_pass_holds_every_read_kind(self):
        reads = gen.workload_inputs("serve-ingest", 3, 10)["reads"]
        self.assertEqual(sorted(r["template"] for r in reads if r["kind"] == "feed"), sorted(gen.FEED_TEMPLATES))
        self.assertEqual(sorted(r["kind"] for r in reads if r["kind"] != "feed"), ["ann", "bm25", "state", "state"])

    def test_catalog_slice_is_the_fixed_keys_in_a_seeded_order(self):
        keys = run.catalog_keys()
        got = gen.workload_inputs("catalog-slice", 5, 10, keys)["keys"]
        self.assertEqual(sorted(got), sorted(keys))

    def test_ingest_slices_are_consecutive(self):
        sl = gen.workload_inputs("serve-ingest", 9, 10)["ingest"]["slices"]
        self.assertTrue(all(a[1] == b[0] for a, b in zip(sl, sl[1:])))
        self.assertLessEqual(sl[-1][1], gen.ROWS["events"] // 10)

    def test_ingest_schedule_outlasts_the_run(self):
        for seconds in (1, 10, 60):
            ingest = gen.workload_inputs("serve-ingest", 9, seconds)["ingest"]
            lasts_ms = len(ingest["slices"]) * ingest["interval_ms"]
            self.assertGreaterEqual(lasts_ms, min(seconds + gen.SCHEDULE_HEADROOM_S, 99) * 1000)
            self.assertLessEqual(ingest["slices"][-1][1], gen.ROWS["events"] // 10)

    def test_slice_files_hold_their_events(self):
        with tempfile.TemporaryDirectory() as d:
            gen.write_tables(os.path.join(d, "t"), 0.001)
            gen.write_slices(os.path.join(d, "t", "events.parquet"), [[0, 300], [300, 700]], os.path.join(d, "p"))
            import pyarrow.parquet as pq
            second = pq.read_table(os.path.join(d, "p", "slice_00001.parquet"))
            self.assertEqual(second["event_id"].to_pylist(), list(range(300, 700)))
            self.assertEqual(second.column_names, ["event_id", "ts", "user_id", "event_type", "value"])

    def test_same_tables_every_time(self):
        with tempfile.TemporaryDirectory() as d:
            gen.write_tables(os.path.join(d, "a"), 0.001)
            gen.write_tables(os.path.join(d, "b"), 0.001)
            import pyarrow.parquet as pq
            for t in ("events", "lineitem", "documents", "embeddings"):
                self.assertTrue(pq.read_table(os.path.join(d, "a", f"{t}.parquet")).equals(
                    pq.read_table(os.path.join(d, "b", f"{t}.parquet"))), t)


class Percentiles(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))  # 1..100
        self.assertEqual(bench.percentile(xs, 0.5), 50)
        self.assertEqual(bench.percentile(xs, 0.9), 90)
        self.assertEqual(bench.percentile(list(reversed(xs)), 0.5), 50)

    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(bench.percentile(list(range(19)), 0.5))
        self.assertEqual(bench.percentile(list(range(20)), 0.5), 9)
        self.assertIsNone(bench.percentile(list(range(99)), 0.9))
        self.assertEqual(bench.percentile(list(range(100)), 0.9), 89)
        self.assertIsNone(bench.percentile([], 0.5))


def fake_raw(trace_layers=True):
    ops = [{"kind": k, "ms": 100.0 + i, "cpu_ms": 250.0 + i, "layers": {"tables.load_ms": 10.0, "exec.wall_ms": 50.0} if trace_layers else {}}
           for i, k in enumerate(["a", "b"] * 15)]
    return {"ops": ops, "passes_s": [1.0, 1.2, 1.1], "passes_cpu_s": [3.1, 2.9, 3.0], "setup_cpu_s": 5.0, "setup_wall_s": 4.0,
            "heap_mb": 100.0, "layers": {"ingest_lag_ms": [float(x) for x in range(30)],
                                         "jvm.gc_ms": [12.0], "sources.index_build_ms": [3.0, 1.0, 2.0]}}


class Metrics(unittest.TestCase):
    def test_every_end_to_end_metric_has_a_value_and_unit(self):
        spec = bench.spec()
        values = bench.end_to_end(fake_raw())
        for m in spec["end_to_end"]:
            self.assertIn(m["name"], values)
            self.assertIsNotNone(values[m["name"]][0], m["name"])
            self.assertGreater(values[m["name"]][0], 0, m["name"])
            self.assertTrue(m["unit"])

    def test_every_per_layer_metric_has_a_value(self):
        spec = bench.spec()
        names = [m["name"] for m in spec["per_layer"]]
        values = bench.per_layer(fake_raw(), names)
        self.assertEqual(sorted(values), sorted(names))
        self.assertEqual(values["tables.load_ms"][0], 10.0)
        self.assertEqual(values["sources.index_build_ms"][0], 2.0)
        self.assertEqual(values["jvm.gc_ms"][0], 12.0)

    def test_geomeans_leave_out_the_feed_requests(self):
        raw = fake_raw()
        raw["ops"].append({"kind": "feed:hn", "ms": 1e6, "cpu_ms": 1e6, "layers": {}})
        values = bench.end_to_end(raw)
        self.assertEqual(values["geomean_cpu_ms"][1], 2)
        self.assertAlmostEqual(values["geomean_cpu_ms"][0], (250.0 * 251.0) ** 0.5)

    def test_geomeans_take_each_kinds_cheapest_operation(self):
        values = bench.end_to_end(fake_raw())
        self.assertEqual(values["geomean_cpu_ms"][1], 2)
        self.assertAlmostEqual(values["geomean_cpu_ms"][0], (250.0 * 251.0) ** 0.5)
        self.assertAlmostEqual(values["geomean_ms"][0], (100.0 * 101.0) ** 0.5)
        self.assertEqual(values["pass_cpu_s"][0], 2.9)

    def test_benchmark_json_matches_the_contract(self):
        spec = bench.spec()
        self.assertEqual(sorted(spec), ["command", "end_to_end", "paths", "per_layer", "run_seconds", "workloads"])
        names = [m["name"] for k in ("workloads", "end_to_end", "per_layer") for m in spec[k]]
        self.assertEqual(len(names), len(set(names)))
        setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(setup, [{"name": "setup_s", "unit": "s", "better": "lower",
                                  "bound": max(m["bound"] for m in spec["end_to_end"])}])
        self.assertTrue(all(m["bound"] <= 0.25 for m in spec["end_to_end"]))

    def test_printed_line_names_every_metric_with_its_unit(self):
        spec = bench.spec()
        for kind, values in (("end_to_end", bench.end_to_end(fake_raw())),
                             ("per_layer", bench.per_layer(fake_raw(), [m["name"] for m in spec["per_layer"]]))):
            line = json.loads(run.result_line(spec[kind], values, attempted=30, failed=0))
            self.assertEqual(sorted(line), ["attempted", "correct", "failed", "metrics"])
            self.assertEqual(sorted(line["metrics"]), sorted(m["name"] for m in spec[kind]))
            for m in spec[kind]:
                self.assertEqual(line["metrics"][m["name"]]["unit"], m["unit"])
                self.assertIsInstance(line["metrics"][m["name"]]["value"], float)

    def test_one_counted_pass_is_too_few(self):
        raw = fake_raw()
        raw["passes_cpu_s"] = [3.0]
        with self.assertRaises(SystemExit):
            run.result_line(bench.spec()["end_to_end"], bench.end_to_end(raw), 30, 0)

    def test_too_few_samples_is_an_error_not_a_number(self):
        raw = fake_raw()
        raw["layers"]["ingest_lag_ms"] = raw["layers"]["ingest_lag_ms"][:19]
        metrics = bench.spec()["per_layer"]
        with self.assertRaises(SystemExit):
            run.result_line(metrics, bench.per_layer(raw, [m["name"] for m in metrics]), 19, 0)


class Refusal(unittest.TestCase):
    def test_refuses_without_the_engine_sources(self):
        with tempfile.TemporaryDirectory() as d:
            os.makedirs(os.path.join(d, "perfbench"))
            for f in ("run.py", "bench.py", "gen.py", "catalog_slice.json"):
                with open(os.path.join(HERE, f)) as src, open(os.path.join(d, "perfbench", f), "w") as dst:
                    dst.write(src.read())
            with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as src, \
                    open(os.path.join(d, "BENCHMARK.json"), "w") as dst:
                dst.write(src.read())
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "serve-ingest", "--seed", "1",
                                "--seconds", "1", "--trace", "0"], cwd=d, capture_output=True, text=True,
                               timeout=60)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout, "")


if __name__ == "__main__":
    unittest.main()
