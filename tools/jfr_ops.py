#!/usr/bin/env python3
"""Top self frames per operation of a perfbench run, from a JFR recording.

Bins the `jdk.ExecutionSample` events of a Java Flight Recording by the
operation spans of a traced perfbench run (`spans.jsonl`, `--trace 1`) and
prints, for the measured warm passes, each operation's sample count and its
most sampled top-of-stack (self) frames. A sample outside every operation of
a measured pass is not counted.

Record the run with JFR and keep its spans, e.g. from a checkout:

  JAVA_TOOL_OPTIONS="-XX:StartFlightRecording=filename=/tmp/run.jfr,settings=profile \\
      -Xlog:jfr+startup=off" \\
      python3 perfbench/run.py --workload mapreduce --seed 7 --seconds 12 --trace 1
  jfr print --json --events jdk.ExecutionSample /tmp/run.jfr > /tmp/samples.json
  python3 tools/jfr_ops.py /tmp/samples.json perfbench/.work/mapreduce/spans.jsonl

(`-Xlog:jfr+startup=off` keeps JFR's start-up line off the harness's stdout,
where the runner expects `READY` first.) The measured passes are those that
perfbench's `workloads.measured` names for `--workload` (default
`mapreduce`). Samples are those of threads whose name matches `--threads`
(a regular expression, default Spark's executor task threads; `.` keeps
every thread).

Usage: python3 tools/jfr_ops.py SAMPLES_JSON SPANS_JSONL
           [--workload NAME] [--threads REGEX] [--top N]
"""
import argparse
import bisect
import calendar
import json
import pathlib
import re
import sys
from collections import Counter, OrderedDict

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1] / "perfbench"))
import workloads  # noqa: E402

EXECUTOR_THREADS = r"^Executor task launch worker"
TIMESTAMP = re.compile(r"^(\d{4})-(\d\d)-(\d\d)T(\d\d):(\d\d):(\d\d)(?:\.(\d+))?Z$")


def epoch_ms(stamp):
    """Epoch milliseconds of a JFR start time, an ISO-8601 UTC instant such
    as `2026-10-21T19:43:54.825563980Z` (nanosecond digits kept)."""
    m = TIMESTAMP.match(stamp)
    if not m:
        raise ValueError(f"unrecognised timestamp {stamp!r}")
    secs = calendar.timegm(tuple(int(x) for x in m.groups()[:6]))
    frac = m.group(7)
    return secs * 1000.0 + (float("0." + frac) * 1000.0 if frac else 0.0)


def frame_name(frame):
    """`package.Class.method` of one JFR stack frame."""
    method = frame.get("method") or {}
    owner = ((method.get("type") or {}).get("name") or "?").replace("/", ".")
    return f"{owner}.{method.get('name', '?')}"


def samples(recording, threads=EXECUTOR_THREADS):
    """(epoch_ms, self frame) of every execution sample whose thread name
    matches `threads`, from the parsed output of `jfr print --json`."""
    keep = re.compile(threads)
    out = []
    for e in recording["recording"]["events"]:
        if e.get("type") != "jdk.ExecutionSample":
            continue
        v = e["values"]
        thread = v.get("sampledThread") or {}
        if not keep.search(thread.get("javaName") or thread.get("osName") or ""):
            continue
        frames = (v.get("stackTrace") or {}).get("frames") or []
        out.append((epoch_ms(v["startTime"]), frame_name(frames[0]) if frames else "(no stack)"))
    return out


def measured_ops(spans, workload):
    """The operation spans of the measured passes, ordered by start."""
    ops = [s for s in spans if s.get("kind") == "op" and workloads.measured(workload, s["pass"])]
    return sorted(ops, key=lambda s: s["start_ms"])


def bin_by_op(sample_list, ops):
    """{operation name: Counter of self frames} over the samples that fall
    inside an operation span (ends inclusive); operations in first-run order."""
    starts = [s["start_ms"] for s in ops]
    bins = OrderedDict((s["name"], Counter()) for s in ops)
    for at, frame in sample_list:
        i = bisect.bisect_right(starts, at) - 1
        if i >= 0 and at <= ops[i]["end_ms"]:
            bins[ops[i]["name"]][frame] += 1
    return bins


def report(bins, passes, top):
    total = sum(sum(c.values()) for c in bins.values())
    lines = [f"measured passes {','.join(map(str, passes))}: {total} samples in operations"]
    for op, frames in bins.items():
        n = sum(frames.values())
        share = n / total if total else 0.0
        lines.append(f"{op:<16} {n:>6} samples  {share:6.1%}")
        for frame, k in frames.most_common(top):
            lines.append(f"    {k:>6}  {frame}")
    return "\n".join(lines)


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("samples", help="output of `jfr print --json --events jdk.ExecutionSample`")
    ap.add_argument("spans", help="spans.jsonl of a traced perfbench run")
    ap.add_argument("--workload", default="mapreduce", choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--threads", default=EXECUTOR_THREADS)
    ap.add_argument("--top", type=int, default=8)
    args = ap.parse_args(argv[1:])
    with open(args.samples, encoding="utf-8") as f:
        recording = json.load(f)
    with open(args.spans, encoding="utf-8") as f:
        spans = [json.loads(line) for line in f if line.strip()]
    ops = measured_ops(spans, args.workload)
    passes = sorted({s["pass"] for s in ops})
    print(report(bin_by_op(samples(recording, args.threads), ops), passes, args.top))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
