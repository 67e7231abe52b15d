"""Tests for the benchmark's own arithmetic.

Run: python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import unittest
from pathlib import Path

import metrics
import run


def span(id, start, end, layer="state", call="upsert", parent=0, ok=True, main=True):
    return {"id": id, "parent": parent, "layer": layer, "call": call,
            "start_us": start, "end_us": end, "ok": ok, "main": main}


def job(id, start_ms, end_ms, stages=1, tasks=4, read=0, written=0, meta=False):
    return {"id": id, "start_ms": start_ms, "end_ms": end_ms, "ok": True, "stages": stages,
            "tasks": tasks, "shuffle_read_bytes": read, "shuffle_write_bytes": written, "meta": meta}


class TailTest(unittest.TestCase):
    def test_ten_samples_stay_above_the_tail(self):
        xs = list(range(1, 41))  # 40 samples
        value, pct, n = metrics.tail(xs)
        self.assertEqual((value, n), (30, 40))
        self.assertEqual(sum(1 for x in xs if x > value), 10)
        self.assertAlmostEqual(pct, 75.0)

    def test_order_does_not_matter(self):
        xs = [5, 1, 9, 3, 7, 2, 8, 4, 6, 10, 11, 12, 13, 14, 15, 16, 17, 18, 19, 20, 21, 22]
        self.assertEqual(metrics.tail(xs), metrics.tail(sorted(xs)))

    def test_never_below_the_median(self):
        xs = list(range(1, 16))  # 15 samples: rank 5 would sit below the median
        value, pct, n = metrics.tail(xs)
        self.assertEqual(value, 8)
        self.assertAlmostEqual(pct, 100 * 8 / 15)

    def test_too_few_samples_give_the_maximum(self):
        self.assertEqual(metrics.tail([3, 1, 2]), (3, 100.0, 3))
        self.assertEqual(metrics.tail(list(range(10)))[0], 9)

    def test_eleven_samples(self):
        self.assertEqual(metrics.tail(list(range(1, 12)))[0], 6)

    def test_no_samples(self):
        with self.assertRaises(ValueError):
            metrics.tail([])


class IntervalTest(unittest.TestCase):
    def test_union_merges_overlaps_and_gaps(self):
        self.assertEqual(metrics.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(metrics.union_length([(0, 10), (2, 3)]), 10)
        self.assertEqual(metrics.union_length([]), 0)

    def test_self_time_with_overlapping_children(self):
        parent = span(1, 0, 100, layer="ingest", call="retried")
        # two children run side by side, as under Par.both
        kids = [span(2, 10, 60, parent=1), span(3, 40, 80, parent=1)]
        self.assertEqual(metrics.self_time(parent, kids), 100 - 70)

    def test_self_time_clips_children_to_the_span(self):
        parent = span(1, 0, 100)
        self.assertEqual(metrics.self_time(parent, [span(2, 90, 130, parent=1)]), 90)

    def test_driver_gap(self):
        s = span(1, 0, 10_000)
        jobs = [(1_000, 4_000), (3_000, 5_000), (8_000, 12_000)]
        # jobs cover 1-5 ms and 8-10 ms of the span: 6 ms of 10
        self.assertEqual(metrics.driver_gap(s, jobs), 4_000)

    def test_driver_gap_without_jobs_is_the_whole_span(self):
        self.assertEqual(metrics.driver_gap(span(1, 0, 500), []), 500)


class AttributionTest(unittest.TestCase):
    def test_job_goes_to_the_innermost_span_containing_its_start(self):
        outer = span(1, 0, 100_000, layer="ingest", call="retried")
        inner = span(2, 10_000, 90_000, parent=1)
        later = span(3, 100_000, 200_000, layer="reports", call="lowStock")
        jobs = [job(1, 5, 6), job(2, 20, 95), job(3, 150, 160), job(4, 500, 501)]
        got = metrics.attribute_jobs([outer, inner, later], jobs)
        self.assertEqual(got, {1: 1, 2: 2, 3: 3})

    def test_millisecond_start_just_before_the_span(self):
        # Spark stamps whole milliseconds: a job submitted 0.6 ms into a
        # span that opened at 10.4 ms reads as 10 ms
        s = span(1, 10_400, 20_000)
        self.assertEqual(metrics.attribute_jobs([s], [job(7, 10, 11)]), {7: 1})

    def test_spans_off_the_main_thread_take_no_jobs(self):
        # the stream generator lands a file while a drain runs: its span
        # starts later than the drain's, but the drain submitted the job
        drain = span(1, 0, 100_000, layer="streaming", call="runOrdersIngest")
        land = span(2, 40_000, 40_300, layer="gen", call="land", main=False)
        got = metrics.attribute_jobs([drain, land], [job(1, 40, 41)])
        self.assertEqual(got, {1: 1})

    def test_rollup_counts_jobs_and_gaps_per_layer(self):
        outer = span(1, 0, 100_000, layer="ingest", call="retried")
        inner = span(2, 10_000, 90_000, parent=1)
        spans = [outer, inner]
        jobs = [job(1, 20, 40, stages=2, tasks=8, read=100), job(2, 50, 60)]
        out = metrics.layer_rollup(spans, jobs, metrics.attribute_jobs(spans, jobs))
        self.assertEqual(out["state.jobs"], 2)
        self.assertEqual(out["ingest.jobs"], 0)
        self.assertEqual(out["state.stages"], 3)
        self.assertEqual(out["state.shuffle_read_bytes"], 100)
        # ingest's gap counts the jobs its nested state call ran
        self.assertAlmostEqual(out["ingest.driver_gap_s"], (100_000 - 30_000) / 1e6)
        self.assertAlmostEqual(out["state.driver_gap_s"], (80_000 - 30_000) / 1e6)
        self.assertAlmostEqual(out["ingest.self_s"], 20_000 / 1e6)
        self.assertAlmostEqual(out["state.upsert.busy_s"], 0.08)


class CatalogueTest(unittest.TestCase):
    def test_names_are_unique_and_within_the_cap(self):
        names = [n for n, _, _ in metrics.per_layer_catalogue()]
        self.assertEqual(len(names), len(set(names)))
        self.assertEqual(len(names), 114)

    def test_benchmark_json_declares_what_run_py_prints(self):
        declared = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())
        self.assertEqual([(m["name"], m["unit"]) for m in declared["end_to_end"]], run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in declared["per_layer"]],
                         metrics.per_layer_catalogue())


if __name__ == "__main__":
    unittest.main()
