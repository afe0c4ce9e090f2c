"""Tests of the benchmark's pure parts.

    python3 -m unittest discover -s perfbench/tests
"""
import decimal
import json
import sys
import tempfile
import unittest
from pathlib import Path

import numpy as np
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import compare  # noqa: E402
import corpus  # noqa: E402
import digest  # noqa: E402
import layers  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402


class TailTest(unittest.TestCase):
    def test_leaves_ten_samples_above(self):
        xs = list(range(100, 0, -1))
        value, pct, n = stats.tail(xs)
        self.assertEqual((value, pct, n), (90, 90.0, 100))
        self.assertEqual(sum(x > value for x in xs), 10)

    def test_smallest_sample_count(self):
        self.assertEqual(stats.tail(range(11)), (0, 100.0 / 11, 11))
        with self.assertRaises(ValueError):
            stats.tail(range(10))


class SpanTest(unittest.TestCase):
    @staticmethod
    def span(i, parent, start, end, name="s"):
        return {"id": i, "parent": parent, "name": name, "start_ms": start, "end_ms": end}

    def test_self_time_subtracts_the_union_of_children(self):
        spans = [self.span(0, -1, 0, 100), self.span(1, 0, 10, 40), self.span(2, 0, 30, 60),
                 self.span(3, 0, 90, 120), self.span(4, 1, 10, 20)]
        selfs = stats.self_times(spans)
        # children cover 10..60 and 90..100 (clipped at the parent's end)
        self.assertEqual(selfs[0], 40)
        self.assertEqual(selfs[1], 20)
        self.assertEqual(selfs[4], 10)

    def test_jobs_move_under_the_phase_that_ran_them(self):
        lines = [self.span(0, -1, 0, 100, "op"), self.span(1, 0, 0, 40, "operators.build"),
                 self.span(2, 0, 40, 90, "write"), self.span(3, 0, 5, 30, "job"),
                 self.span(4, 0, 50, 80, "job")]
        with tempfile.TemporaryDirectory() as tmp:
            path = Path(tmp) / "spans.jsonl"
            path.write_text("".join(json.dumps(s) + "\n" for s in lines))
            spans = {s["id"]: s for s in layers.load_spans(path)}
        self.assertEqual(spans[3]["parent"], 1)
        self.assertEqual(spans[4]["parent"], 2)


class ExecTest(unittest.TestCase):
    def test_task_skew_sums_slowest_minus_median_per_stage(self):
        self.assertAlmostEqual(stats.task_skew_s([[100, 200, 900], [50], [10, 30]]), 0.71)

    def test_busy_frac_is_task_time_over_slot_time(self):
        self.assertEqual(stats.busy_frac(6.0, 4, 3.0), 0.5)


class PlanTest(unittest.TestCase):
    def test_seed_permutes_each_pass_reproducibly(self):
        a = workloads.plan("corpus", 7, 10)
        self.assertEqual(a, workloads.plan("corpus", 7, 10))
        self.assertNotEqual(a, workloads.plan("corpus", 8, 10))
        ops = sorted(workloads.WORKLOADS["corpus"]["ops"])
        self.assertTrue(all(sorted(p) == ops for p in a))
        self.assertGreater(len({tuple(p) for p in a}), 1)

    def test_pass_count_does_not_depend_on_speed(self):
        spec = workloads.WORKLOADS["mapreduce"]
        passes = workloads.plan("mapreduce", 1, 10)
        self.assertEqual(len(passes), 1 + spec["warmup_passes"] + 3)
        self.assertTrue(all(p == spec["ops"] for p in passes))
        self.assertFalse(workloads.measured("mapreduce", spec["warmup_passes"]))
        self.assertTrue(workloads.measured("mapreduce", spec["warmup_passes"] + 1))


class CorpusTest(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        a = corpus.generate(3, 8, 1 << 16)
        self.assertEqual(a, corpus.generate(3, 8, 1 << 16))
        self.assertNotEqual(a, corpus.generate(4, 8, 1 << 16))
        self.assertTrue(all(max(d) < 128 for d in a))

    def test_size_profile_is_the_same_for_every_seed(self):
        a = sorted(corpus.file_sizes(np.random.default_rng(1), 64, 1 << 24))
        b = sorted(corpus.file_sizes(np.random.default_rng(2), 64, 1 << 24))
        self.assertEqual(a, b)
        self.assertGreater(a[-1], 5 * a[32])

    def test_expected_outputs_on_a_hand_checked_corpus(self):
        out = corpus.expected_outputs([b"ab 12 ab\n", b"Zz-9\tab"])
        self.assertEqual(out["task1"], b"letters 8\nnumbers 3\nothers 5\n")
        self.assertEqual(out["generic_map1"], out["task1"])
        self.assertIn(b"a 3\nb 3\nc 0\n", out["task2"])
        self.assertIn(b"z 2\n", out["task2"])
        self.assertEqual(out["task3"], b"3210 16\ncs 16\nlove 16\nwe 16\n")
        self.assertEqual(out["wordcount"], b"12 1\nZz-9 1\nab 3\n")


class DigestTest(unittest.TestCase):
    def test_equal_exactly_when_check_oracle_would_pass(self):
        spark = pd.DataFrame({"k": np.array([2, 1], dtype=np.int32), "v": [decimal.Decimal("1.50"), None]})
        oracle = pd.DataFrame({"v": [np.nan, 1.5], "k": np.array([1, 2], dtype=np.int64)})
        self.assertEqual(digest.digest(spark), digest.digest(oracle))
        as_float = oracle.assign(k=oracle["k"].astype(float))
        self.assertNotEqual(digest.digest(spark), digest.digest(as_float))


class CompareTest(unittest.TestCase):
    def test_refuses_results_from_different_hosts(self):
        host = {"nproc": 4, "xmx_mb": 2048, "java": "17", "spark": "4.1.2",
                "input_bytes": 10, "input_rows": 2}
        metrics = {m["name"]: 1.0 for m in compare.SPEC["end_to_end"]}
        with tempfile.TemporaryDirectory() as tmp:
            for side, nproc in (("base", 4), ("change", 8)):
                (Path(tmp) / side).mkdir()
                r = {"workload": "corpus", "seed": 1, "trace": 0, "metrics": metrics,
                     "host": dict(host, nproc=nproc)}
                (Path(tmp) / side / "r.json").write_text(json.dumps(r))
            self.assertEqual(compare.main(Path(tmp) / "base", Path(tmp) / "change"), 2)
            (Path(tmp) / "change" / "r.json").write_text(json.dumps(dict(r, host=host)))
            self.assertEqual(compare.main(Path(tmp) / "base", Path(tmp) / "change"), 0)


if __name__ == "__main__":
    unittest.main()
