"""Self-tests of the benchmark's own logic (no JVM, no Spark).

    python3 -m unittest discover -s perfbench/tests
"""
import datetime as dt
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
import metrics  # noqa: E402
import stats  # noqa: E402


def lake_key(title):
    """The reference's lake key derivation (extract.py:115)."""
    return "_".join(title.replace("-", " ").split("/")[0].split(" "))


def flatten_like_reference(response, ts_ms):
    """An independent reading of one response, the way the reference's
    extract and the mart's casts treat it: keep-first flatten by last
    key segment, counts cast to long (malformed -> None)."""
    item = json.loads(response)["items"][0]
    flat = {}

    def walk(d):
        for k, v in d.items():
            if isinstance(v, dict):
                walk(v)
            elif k not in flat:
                flat[k] = v
    walk(item)

    def to_long(s):
        try:
            return int(s)
        except (TypeError, ValueError):
            return None
    published = dt.datetime.strptime(flat["publishedAt"], "%Y-%m-%dT%H:%M:%SZ")
    published = published.replace(tzinfo=dt.timezone.utc)
    return (flat["title"], flat["customUrl"], gen.micros(published), flat["url"],
            flat.get("country"), to_long(flat["viewCount"]), to_long(flat["subscriberCount"]),
            to_long(flat["videoCount"]), flat["madeForKids"], ts_ms * 1000)


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        a = gen.batches(7, gen.channels(7, 12), 5, 300)
        b = gen.batches(7, gen.channels(7, 12), 5, 300)
        self.assertEqual(a, b)
        self.assertNotEqual(a, gen.batches(8, gen.channels(8, 12), 5, 300))

    def test_edge_cases_for_any_seed(self):
        for seed in range(5):
            chans = gen.channels(seed, 32)
            self.assertIn("-", chans[0]["title"])
            self.assertIn("/", chans[0]["title"])
            self.assertIsNone(chans[1]["country"])
            self.assertIsNone(gen.counts(chans[2], 3)[0])
            self.assertTrue(all(" " in c["title"] for c in chans))
            keys = [lake_key(c["title"]).lower() for c in chans]
            self.assertEqual(len(set(keys)), len(keys))
            for r in (gen.response(c, 0) for c in chans):
                item = json.loads(r)["items"][0]
                # every channel's publishedAt is a real date, past channel 8 too
                dt.datetime.strptime(item["snippet"]["publishedAt"], "%Y-%m-%dT%H:%M:%SZ")

    def test_edge_case_fields_in_json(self):
        chans = gen.channels(3, 4)
        self.assertNotIn("country", json.loads(gen.response(chans[1], 0))["items"][0]["snippet"])
        stats_ = json.loads(gen.response(chans[2], 0))["items"][0]["statistics"]
        self.assertEqual(stats_["viewCount"], "N/A")
        self.assertEqual(lake_key(chans[0]["title"]), "_".join(chans[0]["title"][:-8].split()) + "_Kids")


class ExpectedMartTest(unittest.TestCase):
    def test_oracle_matches_an_independent_reading_of_the_json(self):
        seed, n, step = 5, 9, 300
        chans = gen.channels(seed, n)
        rows = [flatten_like_reference(r, ts)
                for ts, responses in gen.batches(seed, chans, 4, step) for r in responses]
        self.assertEqual(gen.expected_mart(seed, chans, 4, step), sorted(rows, key=repr))

    def test_oracle_edge_rows(self):
        chans = gen.channels(1, 3)
        rows = gen.expected_mart(1, chans, 2, 3600)
        self.assertEqual(len(rows), 6)
        by_title = {}
        for r in rows:
            by_title.setdefault(r[0], []).append(dict(zip(gen.MART_COLUMNS, r)))
        self.assertTrue(chans[0]["title"].endswith("-Kids/HD"))
        self.assertTrue(all(r["Country"] is None for r in by_title[chans[1]["title"]]))
        self.assertTrue(all(r["view_count"] is None for r in by_title[chans[2]["title"]]))
        self.assertTrue(all(r["url_"].endswith("/default.jpg")
                            for group in by_title.values() for r in group))


class PercentileTest(unittest.TestCase):
    def test_median_needs_one_sample(self):
        self.assertEqual(stats.median([3.0]), 3.0)
        self.assertEqual(stats.median([1, 2, 3, 10]), 2.5)
        self.assertIsNone(stats.median([]))

    def test_tail_leaves_ten_samples_beyond(self):
        self.assertIsNone(stats.tail(list(range(10))))
        self.assertEqual(stats.tail(list(range(11))), 0)
        # p90 once there are 100 samples: 10 lie above the 90th
        self.assertEqual(stats.tail(list(range(100))), 89)
        self.assertEqual(stats.tail(list(range(20))), 9)


class IntervalTest(unittest.TestCase):
    def test_union_merges_overlaps_and_touching(self):
        self.assertEqual(stats.union([(5, 7), (0, 2), (1, 3), (3, 4), (9, 9)]),
                         [(0, 4), (5, 7)])
        self.assertEqual(stats.length([(0, 10), (2, 3), (8, 12)]), 12)

    def test_subtract_and_clip(self):
        self.assertEqual(stats.subtract([(0, 10)], [(2, 3), (5, 12)]), [(0, 2), (3, 5)])
        self.assertEqual(stats.clip([(-5, 2), (4, 20), (30, 40)], 0, 10), [(0, 2), (4, 10)])

    def test_no_task_time_is_the_gaps_between_tasks(self):
        # tasks busy 1-4 (two overlapping) and 6-7 in an operation 0-10
        busy = [(1, 3), (2, 4), (6, 7)]
        self.assertEqual(10 - stats.length(stats.clip(busy, 0, 10)), 6)


class SelfTimeTest(unittest.TestCase):
    def test_layers_partition_the_window(self):
        parts = stats.self_times((0, 100), [
            ("executor", [(10, 30), (20, 40)]),      # 30 covered
            ("catalyst", [(0, 15), (90, 120)]),      # 10 + 10 not under tasks
            ("scheduler", [(5, 60)]),                # only 40-60 left
        ])
        self.assertEqual(parts, {"executor": 30, "catalyst": 20, "scheduler": 20, "self": 30})
        self.assertEqual(sum(parts.values()), 100)

    def test_empty_layers(self):
        self.assertEqual(stats.self_times((0, 5), [("executor", [])]),
                         {"executor": 0, "self": 5})


class MetricsTest(unittest.TestCase):
    def _result(self):
        ops = [{"name": "q1", "cls": "light", "ok": True, "wall_s": 1.0, "start_ms": 0,
                "end_ms": 1000, "files_listed": 0, "cache_entries_left": 2,
                "spans": [{"name": "build", "start_ms": 0, "end_ms": 400, "wall_s": 0.4},
                          {"name": "exec", "start_ms": 400, "end_ms": 1000, "wall_s": 0.6}]},
               {"name": "q2", "cls": "heavy", "ok": False, "wall_s": 0.5, "start_ms": 1000,
                "end_ms": 1500, "files_listed": 0, "spans": []}]
        task = {"launch_ms": 100, "finish_ms": 300, "run_ms": 200, "cpu_ns": 1e8, "gc_ms": 0,
                "empty": 0, "shuffle_read_bytes": 0, "shuffle_write_bytes": 10,
                "spill_memory_bytes": 0, "spill_disk_bytes": 0, "failed": 0}
        t2 = dict(task, launch_ms=500, finish_ms=900, empty=1)
        cols = list(task)
        return {"ops": ops, "entered_ms": 0, "setup_s": [1, 2, 3], "vm_hwm_kb": 2048,
                "trace": {"task_columns": cols, "tasks": [[t[c] for c in cols] for t in (task, t2)],
                          "jobs": [[0, 150], [1, 450]], "stages": [[0, 310]],
                          "sql_execs": [[0, 420, 950]],
                          "query_execs": [{"plan": "X", "tracker": 1, "duration_s": 0.5,
                                           "phases": {"analysis": [0, 50],
                                                      "planning": [410, 430]}}]}}

    def test_per_layer_splits_operation_time(self):
        storage = {"lake_files": 0, "lake_bytes": 0, "bytes_per_input_byte": 0.0}
        m = metrics.per_layer(self._result(), cores=2, storage=storage)
        self.assertEqual(set(m), set(metrics.PER_LAYER_UNITS))
        self.assertAlmostEqual(m["executor.busy_wall_s"], 0.6)
        self.assertAlmostEqual(m["driver.no_task_s"], 0.9)
        self.assertAlmostEqual(m["catalyst.analysis_s"], 0.05)
        self.assertAlmostEqual(m["catalyst.self_s"], 0.07)
        self.assertAlmostEqual(m["scheduler.self_s"], 0.12)
        self.assertAlmostEqual(m["driver.self_s"], 0.71)
        self.assertEqual(m["queries.build_jobs"], 1)
        self.assertEqual(m["scheduler.tasks"], 2)
        self.assertAlmostEqual(m["scheduler.empty_task_share"], 0.5)
        self.assertAlmostEqual(m["ops.failed_share"], 0.5)
        self.assertEqual(m["cache.entries_left"], 2)
        self.assertLess(m["trace.unaccounted_share"], 1e-9)

    def test_end_to_end_uses_completed_operations(self):
        m = metrics.end_to_end(self._result(), spawn_s=-0.5, throughput_of=lambda op: 1)
        self.assertEqual(set(m), set(metrics.END_TO_END_UNITS))
        self.assertAlmostEqual(m["setup_s"], 2.5)
        self.assertAlmostEqual(m["light_p50_s"], 1.0)
        self.assertIsNone(m["heavy_p50_s"])
        self.assertAlmostEqual(m["throughput_per_s"], 1 / 1.5)
        self.assertAlmostEqual(m["peak_rss_mb"], 2.0)

    def test_benchmark_json_lists_every_metric(self):
        with open(os.path.join(HERE, "..", "..", "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]},
                         metrics.END_TO_END_UNITS)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]},
                         metrics.PER_LAYER_UNITS)


if __name__ == "__main__":
    unittest.main()
