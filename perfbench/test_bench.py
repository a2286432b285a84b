"""Tests of the benchmark's own arithmetic and input generator.

  python3 perfbench/test_bench.py
"""
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
from metrics import self_times, tail, union_length  # noqa: E402


class TailTest(unittest.TestCase):
    def test_fewer_than_twenty_samples_have_no_tail(self):
        self.assertIsNone(tail(list(range(19))))
        self.assertIsNone(tail([]))

    def test_twenty_samples_give_the_median_with_ten_beyond(self):
        p, v, n = tail([float(x) for x in range(1, 21)])
        self.assertEqual((p, v, n), (50, 10.0, 20))

    def test_highest_percentile_with_ten_samples_beyond(self):
        xs = list(range(1, 101))
        self.assertEqual(tail(xs), (90, 90, 100))
        self.assertEqual(tail(list(range(1, 1001)))[:2], (99, 990))
        self.assertEqual(tail(list(range(1, 200)))[:2], (90, 180))

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 3.0] * 10
        self.assertEqual(tail(xs), tail(sorted(xs)))


def span(i, parent, start, end):
    return {"id": i, "parent": parent, "start": start, "end": end}


class SelfTimeTest(unittest.TestCase):
    def test_union_length_merges_overlaps(self):
        self.assertEqual(union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(union_length([]), 0.0)

    def test_sequential_children_sum_to_the_root(self):
        spans = [span(1, 0, 0.0, 10.0), span(2, 1, 1.0, 4.0), span(3, 1, 4.0, 9.0),
                 span(4, 3, 5.0, 6.0)]
        st = self_times(spans)
        self.assertAlmostEqual(st[1], 2.0)
        self.assertAlmostEqual(st[2], 3.0)
        self.assertAlmostEqual(st[3], 4.0)
        self.assertAlmostEqual(st[4], 1.0)
        self.assertAlmostEqual(sum(st.values()), 10.0)

    def test_concurrent_children_count_once_and_are_clipped(self):
        spans = [span(1, 0, 0.0, 10.0), span(2, 1, 1.0, 3.0), span(3, 1, 2.0, 5.0),
                 span(4, 1, 8.0, 12.0)]
        self.assertAlmostEqual(self_times(spans)[1], 10.0 - 4.0 - 2.0)


class GeneratorTest(unittest.TestCase):
    SMALL = {"ingest_batches": 2, "ingest_batch_docs": 20,
             "pipe_files": 2, "pipe_lines_per_file": 50}

    def generate(self, workload, seed):
        with tempfile.TemporaryDirectory() as d:
            return gen.generate(workload, seed, d, self.SMALL)

    def test_same_seed_gives_identical_bytes(self):
        for w in ("ingest_stream", "pipe_cranker"):
            with self.subTest(workload=w):
                first = self.generate(w, 7)
                self.assertTrue(first)
                self.assertEqual(first, self.generate(w, 7))

    def test_another_seed_gives_other_inputs(self):
        for w in ("ingest_stream", "pipe_cranker"):
            with self.subTest(workload=w):
                a, b = self.generate(w, 7), self.generate(w, 8)
                self.assertEqual(sorted(a), sorted(b))
                self.assertNotEqual(a, b)

    def test_arrival_files_partition_the_arrival_rows(self):
        import duckdb
        with tempfile.TemporaryDirectory() as d:
            gen.generate("ingest_stream", 3, d, self.SMALL)
            con = duckdb.connect()
            arr = con.sql(f"""SELECT doc_id FROM '{d}/ingest/documents.parquet'
                              WHERE doc_id % 11 = 5 ORDER BY 1""").fetchall()
            files = con.sql(f"""SELECT doc_id FROM '{d}/ingest/arrivals/*.parquet'
                                ORDER BY 1""").fetchall()
            self.assertEqual(arr, files)
            self.assertEqual(len(arr), 2 * 20)


class BenchmarkJsonTest(unittest.TestCase):
    """BENCHMARK.json names exactly the metrics the runs report."""

    def test_metric_names_and_units_match(self):
        import json
        import report
        import run
        here = os.path.dirname(os.path.abspath(__file__))
        with open(os.path.join(os.path.dirname(here), "BENCHMARK.json")) as f:
            bench = json.load(f)
        self.assertEqual(sorted(w["name"] for w in bench["workloads"]), sorted(run.WORKLOADS))
        self.assertEqual({m["name"]: m["unit"] for m in bench["end_to_end"]},
                         run.END_TO_END_UNITS)
        with tempfile.TemporaryDirectory() as d:
            op = {"id": "pipe0", "kind": "pipe", "due": 0.0, "start": 0.0, "end": 1.0,
                  "ok": True, "docs": 10, "bytes": 100, "rows": [[10, 100, 5]]}
            res = {"workload": "pipe_cranker", "ops": [op], "window": [0.0, 1.0],
                   "setup_s": [1.0], "peak_rss_mb": 1.0, "cores": 4, "jobs": [],
                   "stages": [], "progress": [], "pipe_log": os.path.join(d, "none"),
                   "pipe_stage": d,
                   "spans": [{"id": 1, "name": "pipe", "parent": 0, "op": "pipe0",
                              "start": 0.0, "end": 1.0}]}
            self.assertEqual(set(report.end_to_end(res)), set(run.END_TO_END_UNITS))
            got = {k: v["unit"] for k, v in report.per_layer(res, 1.0).items()}
        self.assertEqual(got, {m["name"]: m["unit"] for m in bench["per_layer"]})


if __name__ == "__main__":
    unittest.main()
