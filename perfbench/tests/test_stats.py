"""Unit tests for the benchmark's metric helpers.

    python3 -m unittest discover -s perfbench/tests
"""

import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import layers  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 99), 99)
        self.assertEqual(stats.percentile(list(reversed(xs)), 100), 100)
        self.assertEqual(stats.percentile([7.0], 99), 7.0)

    def test_highest_percentile_with_ten_beyond(self):
        self.assertEqual(stats.tail_percentile(1000), 99.0)
        self.assertEqual(stats.tail_percentile(999), 95.0)
        self.assertEqual(stats.tail_percentile(200), 95.0)
        self.assertEqual(stats.tail_percentile(100), 90.0)
        self.assertEqual(stats.tail_percentile(40), 75.0)
        self.assertEqual(stats.tail_percentile(20), 50.0)
        self.assertIsNone(stats.tail_percentile(19))

    def test_summary_reports_the_supported_tail(self):
        s = stats.latency_summary([float(i) for i in range(1, 201)])
        self.assertEqual((s["n"], s["p50"], s["tail_pct"], s["tail"]),
                         (200, 100.0, 95.0, 190.0))
        self.assertIsNone(stats.latency_summary([1.0] * 5)["tail"])


def progress(batch_id, start, end, ts, trigger):
    return {"batch_id": batch_id, "start_offset": start, "end_offset": end,
            "ts_ms": ts, "input_rows": 1, "duration_ms": {"triggerExecution": trigger}}


class OffsetToSchedule(unittest.TestCase):
    # offsets 0..4 sent every 100 ms from t=1000; batch 0 reads offset 0,
    # batch 1 is timer-only, batch 2 reads offsets 1-3, batch 3 reads 4
    P = [progress(0, -1, 0, 1010, 200), progress(1, 0, 0, 1300, 50),
         progress(2, 0, 3, 1350, 400), progress(3, 3, 4, 1800, 100)]
    TICKS = [{"offset": k, "due_ms": 1000 + 100 * k, "packets": 2} for k in range(5)]

    def test_windows_skip_batches_without_new_offsets(self):
        self.assertEqual(stats.batch_windows(self.P),
                         [(-1, 0, 1010, 1210), (0, 3, 1350, 1750), (3, 4, 1800, 1900)])

    def test_offset_maps_to_the_batch_that_read_it(self):
        w = stats.batch_windows(self.P)
        self.assertEqual(stats.covering_batch(w, 0)[1], 0)
        self.assertEqual(stats.covering_batch(w, 1)[1], 3)
        self.assertEqual(stats.covering_batch(w, 3)[1], 3)
        self.assertEqual(stats.covering_batch(w, 4)[1], 4)
        self.assertIsNone(stats.covering_batch(w, 5))

    def test_latency_runs_from_the_scheduled_time(self):
        lat, lost = stats.scheduled_latencies(self.TICKS, stats.batch_windows(self.P))
        self.assertEqual(lost, 0)
        self.assertEqual(lat, [210, 210, 650, 650, 550, 550, 450, 450, 500, 500])

    def test_unread_offsets_are_counted_not_timed(self):
        ticks = self.TICKS + [{"offset": 5, "due_ms": 1500, "packets": 3}]
        lat, lost = stats.scheduled_latencies(ticks, stats.batch_windows(self.P))
        self.assertEqual((len(lat), lost), (10, 3))

    def test_drain_starts_when_the_backlog_can_be_read(self):
        w = stats.batch_windows(self.P)
        self.assertEqual(layers.drain_seconds({"offset": 4, "add_ms": 1700}, w), 0.1)
        self.assertEqual(layers.drain_seconds({"offset": 4, "add_ms": 1850}, w), 0.05)


class JobGap(unittest.TestCase):
    def test_union_merges_overlaps_and_clips(self):
        iv = [(0, 10), (5, 15), (20, 30), (22, 25)]
        self.assertEqual(stats.union_length(iv), 25)
        self.assertEqual(stats.union_length(iv, 8, 24), 11)
        self.assertEqual(stats.union_length([]), 0)

    def test_gap_is_wall_not_covered_by_any_job(self):
        # parallel jobs from two threads overlap; the gap counts idle once
        self.assertEqual(stats.gap(0, 100, [(10, 40), (30, 60), (80, 90)]), 40)
        self.assertEqual(stats.gap(0, 100, [(-10, 200)]), 0)
        self.assertEqual(stats.gap(0, 100, []), 100)


class SelfTime(unittest.TestCase):
    def test_self_time_subtracts_children(self):
        parent = {"start_ms": 0, "end_ms": 100}
        kids = [{"start_ms": 10, "end_ms": 30}, {"start_ms": 20, "end_ms": 50},
                {"start_ms": 90, "end_ms": 120}]
        self.assertEqual(stats.self_time(parent, kids), 100 - 40 - 10)
        self.assertEqual(stats.self_time(parent, []), 100)

    def test_span_tree_attaches_jobs_and_batches(self):
        raw = {"workload": "w",
               "spans": [{"id": 0, "parent": -1, "name": "w", "start_ms": 0, "end_ms": 100},
                         {"id": 1, "parent": 0, "name": "call", "start_ms": 10,
                          "end_ms": 60}],
               "progress": [progress(7, 0, 1, 70, 20)],
               "jobs": [{"job": 1, "start_ms": 20, "end_ms": 40, "batch_id": None},
                        {"job": 2, "start_ms": 72, "end_ms": 85, "batch_id": "7"}]}
        spans = {s["name"]: s for s in layers.span_tree(raw)}
        self.assertEqual(spans["job 1"]["parent"], 1)
        self.assertEqual(spans["job 2"]["parent"], spans["micro_batch 7"]["id"])
        self.assertEqual(spans["micro_batch 7"]["parent"], 0)
        self.assertEqual(spans["call"]["self_ms"], 30)
        self.assertEqual(spans["w"]["self_ms"], 100 - 50 - 20)


class BenchmarkFile(unittest.TestCase):
    def test_names_match_what_the_runs_print(self):
        path = os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")
        with open(path) as f:
            b = json.load(f)
        self.assertEqual([w["name"] for w in b["workloads"]], list(run.WORKLOADS))
        self.assertEqual([(m["name"], m["unit"]) for m in b["end_to_end"]],
                         list(run.END_TO_END))
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in b["per_layer"]],
                         list(layers.PER_LAYER))


if __name__ == "__main__":
    unittest.main()
