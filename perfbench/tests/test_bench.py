"""The benchmark's own tests (no JVM needed):

    python3 -m unittest discover -s perfbench/tests
"""
import hashlib
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


def _tree_digest(root):
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            h.update(os.path.relpath(os.path.join(d, f), root).encode())
            with open(os.path.join(d, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class MetricNames(unittest.TestCase):
    def test_every_name_is_well_formed_and_unique(self):
        names = [n for n, _ in stats.per_layer_names()] + [n for n, _ in run.END_TO_END]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, stats.NAME_RE)
            self.assertRegex(n, r"^[A-Za-z0-9_.-]+$")

    def test_benchmark_json_lists_exactly_what_run_reports(self):
        with open(os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["end_to_end"]], run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["per_layer"]],
                         stats.per_layer_names())
        self.assertEqual([w["name"] for w in spec["workloads"]], run.WORKLOADS)


class IntervalUnion(unittest.TestCase):
    def test_disjoint_overlapping_and_nested(self):
        self.assertEqual(stats.union_length([(0, 1), (2, 4)]), 3)
        self.assertEqual(stats.union_length([(0, 3), (2, 5)]), 5)
        self.assertEqual(stats.union_length([(0, 10), (2, 3), (4, 5)]), 10)
        self.assertEqual(stats.union_length([(2, 5), (0, 3), (5, 6)]), 6)
        self.assertEqual(stats.union_length([]), 0)

    def test_clipping_to_the_span(self):
        self.assertEqual(stats.union_length([(-5, 2), (8, 20)], 0, 10), 4)
        self.assertEqual(stats.union_length([(11, 12)], 0, 10), 0)

    def test_driver_gap_counts_overlapping_jobs_once(self):
        # a 10 s span; two concurrent 4 s jobs (a commitBoth-style pair)
        # and one 2 s job: busy time is 4 + 2 = 6 s, so the gap is 4 s
        spans = [
            {"id": 0, "parent": -1, "name": "pass", "pass": 1, "start_ms": 0, "end_ms": 10000,
             "wall_s": 10.0},
            {"id": 1, "parent": 0, "name": "gold", "pass": 1, "start_ms": 0, "end_ms": 10000,
             "wall_s": 10.0}]
        events = [
            {"kind": "job_start", "pass": 1, "job": 1, "t_ms": 1000, "stages": [1], "exec": None},
            {"kind": "job_end", "pass": 1, "job": 1, "t_ms": 5000},
            {"kind": "job_start", "pass": 1, "job": 2, "t_ms": 1000, "stages": [2], "exec": None},
            {"kind": "job_end", "pass": 1, "job": 2, "t_ms": 5000},
            {"kind": "job_start", "pass": 1, "job": 3, "t_ms": 7000, "stages": [3], "exec": None},
            {"kind": "job_end", "pass": 1, "job": 3, "t_ms": 9000},
            {"kind": "task", "pass": 1, "stage": 2, "busy_ms": 1500, "in_bytes": 1048576,
             "shuffle_write_bytes": 0}]
        m = stats.reduce_pass(spans, events, 1, cores=4)
        self.assertAlmostEqual(m["gold.driver_gap_s"], 4.0)
        self.assertEqual(m["gold.jobs"], 3)
        self.assertAlmostEqual(m["gold.task_busy_s"], 1.5)
        self.assertAlmostEqual(m["gold.scan_mb"], 1.0)

    def test_self_time_subtracts_the_children_once(self):
        spans = [{"id": 0, "parent": -1, "start_ms": 0, "end_ms": 10000, "wall_s": 10.0},
                 {"id": 1, "parent": 0, "start_ms": 1000, "end_ms": 4000, "wall_s": 3.0},
                 {"id": 2, "parent": 0, "start_ms": 3000, "end_ms": 6000, "wall_s": 3.0}]
        self.assertAlmostEqual(stats.self_times(spans)[0], 5.0)
        self.assertAlmostEqual(stats.self_times(spans)[1], 3.0)


class Incremental(unittest.TestCase):
    def test_write_targets_map_to_p2_spans(self):
        self.assertEqual(stats.p2_span_of("file:/w/pass1/p2/__hist_exact_tmp"), "p2.bootstrap")
        self.assertEqual(stats.p2_span_of("file:/w/pass1/p2/fp_idx/v00001"), "p2.commit")
        self.assertEqual(stats.p2_span_of("file:/w/pass1/p2/band_idx"), "p2.commit")
        self.assertEqual(stats.p2_span_of("file:/w/pass1/p2/__delta_probe_tmp"), "p2.delta")
        self.assertEqual(stats.p2_span_of("file:/w/pass1/p2/__delta_chunks_tmp"), "p2.chunks")
        self.assertIsNone(stats.p2_span_of(None))

    def test_segments_follow_the_write_targets(self):
        run_span = {"start_ms": 0, "end_ms": 100}
        jobs = {1: {"start": 10, "end": 20, "exec": 1}, 2: {"start": 25, "end": 30, "exec": 2},
                3: {"start": 31, "end": 50, "exec": 3}, 4: {"start": 60, "end": 90, "exec": 4}}
        execs = {1: {"exec": 1, "root": None, "path": "/o/__hist_exact_tmp"},
                 2: {"exec": 2, "root": None, "path": None},
                 3: {"exec": 3, "root": None, "path": "/o/fp_idx/v0"},
                 4: {"exec": 4, "root": 3, "path": None}}
        assigned, segs = stats._p2_segments(run_span, jobs, execs)
        self.assertEqual(assigned, {1: "p2.bootstrap", 2: "p2.bootstrap", 3: "p2.commit",
                                    4: "p2.commit"})
        self.assertEqual(segs, [["p2.bootstrap", 0, 30], ["p2.commit", 30, 100]])


class Summary(unittest.TestCase):
    def test_median_and_tail_carry_the_sample_count(self):
        s = stats.summary([3.0, 1.0, 2.0])
        self.assertEqual((s["n"], s["median"], s["tail_pct"]), (3, 2.0, None))
        s = stats.summary([float(i) for i in range(1, 41)])
        self.assertEqual((s["n"], s["median"], s["tail_pct"]), (40, 20.5, 75))
        self.assertAlmostEqual(s["tail"], 30.25)


class Oracle(unittest.TestCase):
    def test_a_wrong_result_fails_and_a_right_one_passes(self):
        import pyarrow as pa
        import pyarrow.parquet as pq
        sql = {"ok": "SELECT event_type, count(*) AS cnt FROM events GROUP BY 1",
               "bad": "SELECT event_type, count(*) AS cnt FROM events GROUP BY 1"}
        with tempfile.TemporaryDirectory() as tmp:
            for t in oracle.TABLES:
                pq.write_table(pa.table({"event_type": ["a", "b", "a"]}), f"{tmp}/{t}.parquet")
            os.makedirs(f"{tmp}/res/ok")
            os.makedirs(f"{tmp}/res/bad")
            pq.write_table(pa.table({"cnt": pa.array([1, 2], pa.int64()), "event_type": ["b", "a"]}),
                           f"{tmp}/res/ok/part-0.parquet")
            pq.write_table(pa.table({"event_type": ["a", "b"], "cnt": pa.array([1, 2], pa.int64())}),
                           f"{tmp}/res/bad/part-0.parquet")
            out = oracle.check(tmp, f"{tmp}/res", sql)
        self.assertIsNone(out["ok"])
        self.assertIsNotNone(out["bad"])


class Generators(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        with tempfile.TemporaryDirectory() as tmp:
            for w in run.WORKLOADS:
                a = gen.generate(w, 7, f"{tmp}/{w}-a")
                b = gen.generate(w, 7, f"{tmp}/{w}-b")
                c = gen.generate(w, 8, f"{tmp}/{w}-c")
                self.assertEqual(_tree_digest(f"{tmp}/{w}-a"), _tree_digest(f"{tmp}/{w}-b"), w)
                self.assertEqual(a, b)
                self.assertNotEqual(_tree_digest(f"{tmp}/{w}-a"), _tree_digest(f"{tmp}/{w}-c"), w)
                self.assertGreater(a["input_bytes"], 0)
                self.assertTrue(a["dup_shares"], w)


if __name__ == "__main__":
    unittest.main()
