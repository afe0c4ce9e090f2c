"""Tests of tools/jfr_ops.py over a small synthetic recording and span file.

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
import jfr_ops  # noqa: E402

# 2026-10-21T00:00:00Z in epoch milliseconds.
T0 = 1792540800000.0


def _stamp(ms_after):
    """JFR's start-time form, nanosecond digits, `ms_after` ms after T0."""
    secs, ms = divmod(ms_after, 1000)
    return f"2026-10-21T00:00:{secs:02d}.{ms:03d}000000Z"


def _sample(ms_after, thread, *frames):
    return {"type": "jdk.ExecutionSample", "values": {
        "sampledThread": {"javaName": thread, "osName": thread},
        "stackTrace": {"frames": [
            {"method": {"name": m, "type": {"name": t}}, "type": "JIT compiled"}
            for t, m in frames], "truncated": False},
        "startTime": _stamp(ms_after), "state": "STATE_RUNNABLE"}}


EXEC = "Executor task launch worker for task 3.0 in stage 7.0 (TID 12)"
KERNEL = ("graft/functions/TextUtil$", "charClassCounts")
CALLER = ("org/apache/spark/sql/catalyst/expressions/GeneratedClass", "processNext")
NUMCHARS = ("org/apache/spark/unsafe/types/UTF8String", "getNumChars")


def _recording():
    return {"recording": {"events": [
        # pass 0 (cold) and pass 2 (warm-up) are not measured for mapreduce
        _sample(100, EXEC, KERNEL, CALLER),
        _sample(2100, EXEC, KERNEL, CALLER),
        # pass 3: task1 from 3000 to 3500, task3 from 3600 to 4000
        _sample(3000, EXEC, KERNEL, CALLER),
        _sample(3200, EXEC, KERNEL, CALLER),
        _sample(3300, EXEC, NUMCHARS, KERNEL),
        _sample(3400, "main", NUMCHARS),
        _sample(3550, EXEC, KERNEL),           # between two operations
        _sample(4000, EXEC, NUMCHARS),         # on task3's end: inside
        # pass 4: task1 from 5000 to 5500
        _sample(5100, EXEC, NUMCHARS),
        {"type": "jdk.ObjectAllocationSample", "values": {"startTime": _stamp(5100)}},
        _sample(5200, EXEC),                   # no stack trace
    ]}}


def _op(pid, pass_, name, start, end):
    return {"id": pid, "parent": 0, "name": name, "kind": "op", "pass": pass_,
            "start_ms": T0 + start, "end_ms": T0 + end}


def _spans():
    return [
        {"id": 0, "parent": -1, "name": "run", "start_ms": T0, "end_ms": T0 + 6000},
        _op(1, 0, "task1", 0, 500),
        _op(2, 2, "task1", 2000, 2500),
        _op(3, 3, "task1", 3000, 3500),
        _op(4, 3, "task3", 3600, 4000),
        _op(5, 4, "task1", 5000, 5500),
    ]


class JfrOpsTest(unittest.TestCase):

    def test_epoch_ms_keeps_sub_millisecond_digits(self):
        self.assertEqual(jfr_ops.epoch_ms("2026-10-21T00:00:00Z"), T0)
        self.assertAlmostEqual(jfr_ops.epoch_ms("2026-10-21T00:00:01.000500000Z"), T0 + 1000.5)
        with self.assertRaises(ValueError):
            jfr_ops.epoch_ms("yesterday")

    def test_samples_keep_executor_threads_and_name_the_self_frame(self):
        got = jfr_ops.samples(_recording())
        self.assertEqual(len(got), 9)
        self.assertEqual(got[0], (T0 + 100, "graft.functions.TextUtil$.charClassCounts"))
        self.assertEqual(got[-1], (T0 + 5200, "(no stack)"))
        everyone = jfr_ops.samples(_recording(), threads=".")
        self.assertEqual(len(everyone), 10)

    def test_bins_only_measured_passes_and_inside_operations(self):
        ops = jfr_ops.measured_ops(_spans(), "mapreduce")
        self.assertEqual([(s["pass"], s["name"]) for s in ops],
                         [(3, "task1"), (3, "task3"), (4, "task1")])
        bins = jfr_ops.bin_by_op(jfr_ops.samples(_recording()), ops)
        self.assertEqual(list(bins), ["task1", "task3"])
        self.assertEqual(bins["task1"], {"graft.functions.TextUtil$.charClassCounts": 2,
                                         "org.apache.spark.unsafe.types.UTF8String.getNumChars": 2,
                                         "(no stack)": 1})
        self.assertEqual(bins["task3"], {"org.apache.spark.unsafe.types.UTF8String.getNumChars": 1})

    def test_main_prints_counts_shares_and_top_frames(self):
        with tempfile.TemporaryDirectory() as d:
            rec = pathlib.Path(d) / "samples.json"
            rec.write_text(json.dumps(_recording()))
            spans = pathlib.Path(d) / "spans.jsonl"
            spans.write_text("\n".join(json.dumps(s) for s in _spans()) + "\n")
            out = io.StringIO()
            with redirect_stdout(out):
                self.assertEqual(jfr_ops.main(["jfr_ops.py", str(rec), str(spans), "--top", "1"]), 0)
        lines = out.getvalue().splitlines()
        self.assertEqual(lines[0], "measured passes 3,4: 6 samples in operations")
        self.assertTrue(lines[1].startswith("task1") and "5 samples" in lines[1]
                        and "83.3%" in lines[1], lines[1])
        self.assertEqual(lines[2].split()[0], "2")
        self.assertTrue(lines[3].startswith("task3") and "1 samples" in lines[3], lines[3])
        self.assertEqual(len(lines), 5)


if __name__ == "__main__":
    unittest.main()
