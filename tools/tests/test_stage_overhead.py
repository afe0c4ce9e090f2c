"""Tests of tools/stage_overhead.py over a small synthetic event log.

Run: python3 -m unittest discover -s tools/tests
"""
import io
import json
import pathlib
import sys
import tempfile
import unittest
from contextlib import redirect_stdout

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))
import stage_overhead  # noqa: E402


def _task(kind, stage, launch, deser=None, deser_cpu_ns=None, run=None, attempt=0):
    e = {"Event": kind, "Stage ID": stage, "Stage Attempt ID": attempt,
         "Task Info": {"Launch Time": launch}}
    if kind == "SparkListenerTaskEnd":
        e["Task Metrics"] = {"Executor Deserialize Time": deser,
                             "Executor Deserialize CPU Time": deser_cpu_ns,
                             "Executor Run Time": run}
    return e


def _log():
    return [
        {"Event": "SparkListenerLogStart", "Spark Version": "4.1.2"},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "3/task1"}},
        {"Event": "SparkListenerStageSubmitted",
         "Stage Info": {"Stage ID": 0, "Stage Attempt ID": 0, "Submission Time": 1000},
         "Properties": {"spark.jobGroup.id": "3/task1"}},
        _task("SparkListenerTaskStart", 0, 1012),
        _task("SparkListenerTaskStart", 0, 1010),
        _task("SparkListenerTaskEnd", 0, 1010, deser=30, deser_cpu_ns=29_000_000, run=40),
        _task("SparkListenerTaskEnd", 0, 1012, deser=12, deser_cpu_ns=11_000_000, run=100),
        # Stage 1 carries no properties of its own: its group comes from the job.
        {"Event": "SparkListenerStageSubmitted",
         "Stage Info": {"Stage ID": 1, "Stage Attempt ID": 0, "Submission Time": 2000}},
        _task("SparkListenerTaskStart", 1, 2005),
        _task("SparkListenerTaskEnd", 1, 2005, deser=2, deser_cpu_ns=1_500_000, run=6),
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
         "Properties": {"spark.jobGroup.id": "4/scan"}},
        {"Event": "SparkListenerStageSubmitted",
         "Stage Info": {"Stage ID": 2, "Stage Attempt ID": 0, "Submission Time": 3000},
         "Properties": {"spark.jobGroup.id": "4/scan"}},
        _task("SparkListenerTaskStart", 2, 3009),
        _task("SparkListenerTaskEnd", 2, 3009, deser=5, deser_cpu_ns=4_000_000, run=50),
        # A job outside any pass is listed per stage but not summed into a pass.
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [3], "Properties": {}},
        {"Event": "SparkListenerStageSubmitted",
         "Stage Info": {"Stage ID": 3, "Stage Attempt ID": 0, "Submission Time": 4000}},
        _task("SparkListenerTaskStart", 3, 4001),
        _task("SparkListenerTaskEnd", 3, 4001, deser=7, deser_cpu_ns=7_000_000, run=8),
    ]


class StageOverheadTest(unittest.TestCase):

    def setUp(self):
        self.stages = stage_overhead.parse(json.dumps(e) for e in _log())

    def test_per_stage_launch_delay_and_task_times(self):
        s0, s1, s2, s3 = self.stages
        self.assertEqual([s["group"] for s in self.stages], ["3/task1", "3/task1", "4/scan", None])
        self.assertEqual(stage_overhead.submit_to_launch_ms(s0), 10)
        self.assertEqual(stage_overhead.submit_to_launch_ms(s1), 5)
        self.assertEqual(s0["deser_ms"], [30, 12])
        self.assertEqual(s0["deser_cpu_ms"], [29.0, 11.0])
        self.assertEqual(s0["run_ms"], [40, 100])
        self.assertEqual(s3["run_ms"], [8])

    def test_pass_totals_sum_the_stages_of_each_pass(self):
        totals = stage_overhead.pass_totals(self.stages)
        self.assertEqual(list(totals), [3, 4])
        self.assertEqual(totals[3], dict(stages=2, tasks=3, deser_ms=44.0, deser_cpu_ms=41.5,
                                         run_ms=146.0, submit_to_launch_ms=15.0))
        self.assertEqual(totals[4]["deser_ms"], 5.0)

    def test_main_prints_both_tables(self):
        with tempfile.NamedTemporaryFile("w", suffix=".log", delete=False) as f:
            f.write("\n".join(json.dumps(e) for e in _log()) + "\n")
        out = io.StringIO()
        with redirect_stdout(out):
            self.assertEqual(stage_overhead.main(["stage_overhead.py", f.name]), 0)
        pathlib.Path(f.name).unlink()
        text = out.getvalue()
        self.assertIn("12/21/30 sum 42", text)
        self.assertIn("\npass  stages", text)
        self.assertEqual(len(text.splitlines()), 1 + 4 + 2 + 2)

    def test_a_rolling_log_directory_reads_its_event_files_in_order(self):
        lines = [json.dumps(e) for e in _log()]
        with tempfile.TemporaryDirectory() as d:
            root = pathlib.Path(d)
            # Event file 10 must follow 2: the order is numeric, not by name.
            (root / "events_1_local-1").write_text("\n".join(lines[:5]) + "\n")
            (root / "events_2_local-1").write_text("\n".join(lines[5:10]) + "\n")
            (root / "events_10_local-1").write_text("\n".join(lines[10:]) + "\n")
            (root / "appstatus_local-1").write_text("")
            self.assertEqual([f.name for f in stage_overhead.log_files(root)],
                             ["events_1_local-1", "events_2_local-1", "events_10_local-1"])
            stages = stage_overhead.parse(stage_overhead.read_lines(root))
        self.assertEqual(stages, self.stages)


if __name__ == "__main__":
    unittest.main()
