"""Tests of the benchmark's arithmetic: `python3 -m unittest discover perfbench`."""

import json
import os
import unittest

import summary

HERE = os.path.dirname(os.path.abspath(__file__))


class PercentileRule(unittest.TestCase):

    def test_median_needs_ten_samples_above_it(self):
        self.assertTrue(summary.supported(list(range(1, 21)), 50))
        self.assertEqual(summary.beyond(list(range(1, 21)), 50), 10)
        self.assertFalse(summary.supported(list(range(1, 20)), 50))

    def test_tail_percentiles(self):
        self.assertTrue(summary.supported(list(range(1, 101)), 90))
        self.assertFalse(summary.supported(list(range(1, 91)), 90))
        self.assertTrue(summary.supported(list(range(1, 201)), 95))
        self.assertFalse(summary.supported(list(range(1, 181)), 95))

    def test_ties_are_not_beyond(self):
        self.assertEqual(summary.beyond([5.0] * 50, 50), 0)
        self.assertFalse(summary.supported([], 50))

    def test_percentile_interpolates(self):
        self.assertEqual(summary.percentile([1, 2, 3, 4], 50), 2.5)
        self.assertEqual(summary.percentile([7], 95), 7)

    def test_spread_is_quartile_distance_over_median(self):
        xs = [10, 10, 10, 10, 10, 10, 10, 10, 10, 10]
        self.assertEqual(summary.spread(xs), 0.0)
        xs = [8, 9, 10, 11, 12]
        q1, _, q3 = (8.5, 10, 11.5)
        self.assertAlmostEqual(summary.spread(xs), (q3 - q1) / 10)


class SelfTime(unittest.TestCase):

    def test_union_of_overlapping_children_clipped_to_parent(self):
        self.assertEqual(summary.covered(0, 100, [(10, 30), (20, 50), (80, 120)]), 60)
        self.assertEqual(summary.covered(0, 100, []), 0)
        self.assertEqual(summary.covered(0, 100, [(-50, -10), (100, 200)]), 0)

    def test_self_is_duration_minus_child_coverage(self):
        spans = [
            {"id": "a", "parent": None, "start": 0, "end": 100},
            {"id": "b", "parent": "a", "start": 10, "end": 60},
            {"id": "c", "parent": "b", "start": 20, "end": 30},
            {"id": "d", "parent": "a", "start": 50, "end": 70},
        ]
        s = {x["id"]: x["self"] for x in summary.add_self_times(spans)}
        self.assertEqual(s, {"a": 40, "b": 40, "c": 10, "d": 20})


def _job(i, op, batch, start, end, **kw):
    j = {"id": i, "op": op, "batch": batch, "desc": None, "start_ms": start, "end_ms": end,
         "ok": True, "tasks": 4, "task_ms": 100, "in_bytes": 1000, "out_bytes": 500,
         "out_records": 50, "shuffle_read": 0, "shuffle_write": 0, "spill": 0}
    j.update(kw)
    return j


def _record():
    """A traced audit_ingest-like record: one drain op holding one trigger
    with a listing job in getBatch and two jobs in addBatch, one uncached
    search with one job, and a set-up job."""
    t0 = 1_000_000  # ms
    progress = {"batchId": 0, "timestamp": "1970-01-01T00:16:40.100Z", "numInputRows": 100,
                "durationMs": {"latestOffset": 10, "walCommit": 20, "getBatch": 30,
                               "queryPlanning": 40, "addBatch": 800, "commitOffsets": 50,
                               "triggerExecution": 950}}
    ops = [{"id": "IngestJob.run#1", "name": "IngestJob.run", "start_us": t0 * 1000,
            "end_us": (t0 + 2000) * 1000, "attrs": {"envelopes": 100}},
           {"id": "AuditEngine.search#2", "name": "AuditEngine.search",
            "start_us": (t0 + 3000) * 1000, "end_us": (t0 + 3200) * 1000, "attrs": {"filters": 1}}]
    # phases from t0+100: latestOffset to +110, walCommit to +130,
    # getBatch to +160, queryPlanning to +200, addBatch to +1000
    jobs = [_job(0, None, None, t0 - 5000, t0 - 4000),
            _job(4, "IngestJob.run#1", "0", t0 + 140, t0 + 155, out_records=0),
            _job(1, "IngestJob.run#1", "0", t0 + 300, t0 + 500),
            _job(2, "IngestJob.run#1", "0", t0 + 400, t0 + 700, out_records=150),
            _job(3, "AuditEngine.search#2", None, t0 + 3050, t0 + 3150, out_records=0)]
    return {"cores": 4, "trace": {"ops": ops, "jobs": jobs, "progress": [progress]},
            "jvm": {"gc_ms": 12, "heap_peak_mb": 300.0}, "pass_ms": 2000.0,
            "overhead_ms": {"untraced": [100.0, 200.0, 90.0], "traced": [150.0, 100.0, 125.0]},
            "setup_s": [9.0, 4.0, 5.0], "write_rows": 99, "write_wall_ms": 2000.0,
            "write_ms": [950.0], "search_ms": [200.0], "trigger_ms": [950.0],
            "store_bytes": 3300, "store_rows": 100, "failed": 0, "attempted": 101}


class Spans(unittest.TestCase):

    def test_tree(self):
        spans = {s["id"]: s for s in summary.add_self_times(summary.build_spans(_record()["trace"]))}
        trig = "IngestJob.run#1/batch0"
        self.assertEqual(spans[trig]["parent"], "IngestJob.run#1")
        self.assertEqual(spans[trig + "/addBatch"]["start"], (1_000_000 + 200) * 1000)
        self.assertEqual(spans["job1"]["parent"], trig + "/addBatch")
        # a job of the micro-batch that starts in getBatch is the engine's
        self.assertEqual(spans["job4"]["parent"], trig + "/getBatch")
        self.assertEqual(spans["job3"]["parent"], "AuditEngine.search#2")
        self.assertIsNone(spans["job0"]["parent"])
        # addBatch 800 ms, jobs cover [300, 700] of it
        self.assertEqual(spans[trig + "/addBatch"]["self"], 400 * 1000)
        # the trigger's phases cover all of it; the drain op holds a 950 ms trigger
        self.assertEqual(spans[trig]["self"], 0)
        self.assertEqual(spans["IngestJob.run#1"]["self"], (2000 - 950) * 1000)


class Metrics(unittest.TestCase):

    def test_per_layer(self):
        m = {k: v for k, (v, _) in summary.per_layer(_record()).items()}
        self.assertEqual(m["stream.add_batch_ms"], 800)
        self.assertEqual(m["stream.commit_ms"], 70)
        self.assertEqual(m["ingest_job.jobs"], 2)
        self.assertEqual(m["ingest_job.tasks"], 8)
        self.assertEqual(m["ingest_job.task_ms"], 200)
        self.assertAlmostEqual(m["ingest_job.core_util"], 200 / (800 * 4))
        self.assertEqual(m["ingest_job.write_amp"], 2.0)
        self.assertEqual(m["ingest_job.self_ms"], 400)
        self.assertEqual(m["search.jobs_per_miss"], 1)
        self.assertEqual(m["search.miss_self_ms"], 100)
        self.assertEqual(m["result_cache.hit_ratio"], 0.0)
        # pair differences 50, -100, 35 over the untraced median 100
        self.assertAlmostEqual(m["trace.overhead_pct"], 35.0)

    def test_job_in_a_gap_between_phases_goes_to_the_nearest(self):
        phases = [{"id": "a", "start": 0, "end": 10}, {"id": "b", "start": 20, "end": 100}]
        self.assertEqual(summary._phase_at(phases, 12)["id"], "a")
        self.assertEqual(summary._phase_at(phases, 18)["id"], "b")
        self.assertEqual(summary._phase_at(phases, 10)["id"], "a")
        self.assertEqual(summary._phase_at(phases, 20)["id"], "b")
        # a zero-length phase at the boundary does not take the job
        phases.insert(1, {"id": "z", "start": 20, "end": 20})
        self.assertEqual(summary._phase_at(phases, 20)["id"], "b")

    def test_end_to_end(self):
        m = summary.end_to_end(_record())
        self.assertEqual(m["setup_s"], (5.0, "s"))
        self.assertEqual(m["ingest_rows_per_s"], (49.5, "rows/s"))
        self.assertEqual(m["store_bytes_per_row"], (33.0, "B/row"))
        self.assertNotIn("search_p80_ms", m)  # one sample supports no tail

    def test_benchmark_json_names_only_computed_metrics(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
            bench = json.load(fh)
        rec = _record()
        self.assertEqual({m["name"] for m in bench["end_to_end"]} - set(summary.end_to_end(rec)), set())
        self.assertEqual({m["name"] for m in bench["per_layer"]}, set(summary.per_layer(rec)))
        for m in bench["end_to_end"] + bench["per_layer"]:
            self.assertEqual(m["unit"], summary.per_layer(rec).get(
                m["name"], summary.end_to_end(rec).get(m["name"]))[1], m["name"])

    def test_job_labels(self):
        self.assertEqual(summary.job_label(None), "-")
        self.assertEqual(summary.job_label("\nid = 1f\nrunId = 2\nbatch = 3"), "stream batch")
        self.assertEqual(summary.job_label("Listing leaf files and directories for 100 paths:"),
                         "Listing leaf files and directories for # paths:")


if __name__ == "__main__":
    unittest.main()
