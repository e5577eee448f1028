"""Tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import metrics


class PercentileRule(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(metrics.percentile(xs, 50), 50)
        self.assertEqual(metrics.percentile(xs, 90), 90)
        self.assertEqual(metrics.percentile(xs, 100), 100)
        self.assertEqual(metrics.percentile([7], 50), 7)
        self.assertEqual(metrics.percentile([3, 1, 2], 50), 2)

    def test_samples_beyond(self):
        self.assertEqual(metrics.beyond(100, 90), 10)
        self.assertEqual(metrics.beyond(111, 90), 11)
        self.assertEqual(metrics.beyond(40, 75), 10)
        self.assertEqual(metrics.beyond(39, 75), 9)
        self.assertEqual(metrics.beyond(20, 50), 10)

    def test_highest_supported(self):
        self.assertEqual(metrics.highest_supported(111), 90)
        self.assertEqual(metrics.highest_supported(100), 90)
        self.assertEqual(metrics.highest_supported(99), 75)
        self.assertEqual(metrics.highest_supported(40), 75)
        self.assertEqual(metrics.highest_supported(39), 50)
        self.assertEqual(metrics.highest_supported(20), 50)
        self.assertIsNone(metrics.highest_supported(19))
        self.assertEqual(metrics.highest_supported(1000), 99)

    def test_every_layer_metric_has_a_unit(self):
        raw = {"ops": [], "replays": [], "cores": 4,
               "trace": {"jobs": [], "stages": [], "tasks": [], "phases": [],
                         "progress": []}}
        names = list(metrics.batch_layers(raw)) + list(metrics.scheduler_layer(raw, 4)) \
            + list(metrics.streaming_layer(raw)) + ["catalog.register_ms", "trace.overhead"]
        self.assertEqual(len(names), 43)
        for n in names:
            self.assertIn(metrics.unit(n), ("count", "bytes", "ratio", "ms", "MB", "s"), n)


class PooledStreamLatency(unittest.TestCase):
    def test_pools_every_file_of_every_replay(self):
        replays = [
            {"kind": "tumbling", "files": [{"t0": 0, "t1": 5}, {"t0": 10, "t1": 13}]},
            {"kind": "join", "files": [{"t0": 100, "t1": 120}]},
        ]
        self.assertEqual(sorted(metrics.file_latencies(replays)), [3, 5, 20])

    def test_median_of_pool_not_median_of_medians(self):
        replays = [{"kind": "a", "files": [{"t0": 0, "t1": 1}] * 3},
                   {"kind": "b", "files": [{"t0": 0, "t1": 100}] * 2}]
        lat = metrics.file_latencies(replays)
        self.assertEqual(metrics.percentile(lat, 50), 1)


class SelfTime(unittest.TestCase):
    def span(self, sid, parent, start, end, name="x"):
        return {"id": sid, "parent": parent, "name": name, "start": start,
                "end": end, "op": "q"}

    def test_union_counts_overlap_once(self):
        self.assertEqual(metrics.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(metrics.union_length([(0, 10), (2, 3)]), 10)
        self.assertEqual(metrics.union_length([]), 0)
        self.assertEqual(metrics.union_length([(0, 10), (5, 15)], 3, 12), 9)

    def test_overlapping_children(self):
        spans = [self.span(1, 0, 0, 100, "op"),
                 self.span(2, 1, 10, 50, "construct"),
                 self.span(3, 1, 40, 90, "plan"),
                 self.span(4, 3, 40, 45, "analysis"),
                 self.span(5, 3, 44, 60, "optimization")]
        st = metrics.self_times(spans)
        self.assertEqual(st[1], 100 - 80)      # children cover [10, 90]
        self.assertEqual(st[2], 40)
        self.assertEqual(st[3], 50 - 20)       # [40, 60] covered once
        self.assertEqual(st[4], 5)

    def test_child_outside_parent_is_clipped(self):
        spans = [self.span(1, 0, 0, 10), self.span(2, 1, 8, 30)]
        self.assertEqual(metrics.self_times(spans)[1], 8)

    def test_self_time_by_name_sums(self):
        spans = [self.span(1, 0, 0, 10, "op"), self.span(2, 1, 0, 4, "job"),
                 self.span(3, 0, 20, 30, "op"), self.span(4, 3, 20, 21, "job")]
        self.assertEqual(metrics.self_time_by_name(spans), {"op": 15, "job": 5})


class Spans(unittest.TestCase):
    def test_batch_tree(self):
        ops = [{"name": "q", "t0": 0.0, "t1": 10.0, "t2": 30.0,
                "timings": {"parse_ms": 1.0, "bind_ms": 0.5, "translate_ms": 3.0}}]
        trace = {"jobs": [{"id": 1, "start": 5, "end": 8, "stages": [1]},
                          {"id": 2, "start": 12, "end": 29, "stages": [2, 3]}],
                 "stages": [{"id": 1, "start": 5, "end": 8},
                            {"id": 2, "start": 12, "end": 20},
                            {"id": 3, "start": -1, "end": -1}],
                 "phases": [[["analysis", 2, 4], ["optimization", 4, 5]],
                            [["optimization", 11, 12], ["planning", 12, 14]]]}
        spans = metrics.batch_spans(ops, trace)
        by = {s["name"]: s for s in spans if s["name"] not in ("job", "plan")}
        jobs = [s for s in spans if s["name"] == "job"]
        plans = [s for s in spans if s["name"] == "plan"]
        self.assertEqual(by["translate"]["end"], 10.0)
        self.assertEqual(by["parse"]["start"], 10.0 - 4.5)
        self.assertEqual(jobs[0]["parent"], by["construct"]["id"])
        self.assertEqual(jobs[1]["parent"], by["execute"]["id"])
        self.assertEqual(len([s for s in spans if s["name"] == "stage"]), 2)
        self.assertEqual([(p["start"], p["end"]) for p in plans], [(2, 5), (11, 14)])

    def test_stream_tree(self):
        replays = [{"kind": "tumbling", "start": 0.0, "end": 10000.0,
                    "files": [{"t0": 1000.0, "t1": 3000.0}]}]
        progress = [{"timestamp": "1970-01-01T00:00:01.500Z",
                     "durationMs": {"latestOffset": 10, "walCommit": 5,
                                    "getBatch": 1, "queryPlanning": 20,
                                    "addBatch": 100, "commitOffsets": 4,
                                    "triggerExecution": 150}}]
        spans = metrics.stream_spans(replays, progress)
        mb = next(s for s in spans if s["name"] == "micro_batch")
        file_ = next(s for s in spans if s["name"] == "file")
        self.assertEqual(mb["parent"], file_["id"])
        st = metrics.self_time_by_name(spans)
        self.assertEqual(st["add_batch"], 100)
        self.assertEqual(st["log"], 9)
        self.assertEqual(st["source"], 11)
        self.assertEqual(st["micro_batch"], 150 - 140)


if __name__ == "__main__":
    unittest.main()
