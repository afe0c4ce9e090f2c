#!/usr/bin/env python3
"""Per-stage scheduling and task-deserialization overhead from a Spark event log.

Reads an uncompressed event log (run the JVM with
`-Dspark.eventLog.enabled=true -Dspark.eventLog.compress=false
-Dspark.eventLog.dir=DIR`): one file, or a rolling log's `eventlog_v2_*`
directory, whose `events_<n>_*` files are read in order of `n`. It prints, for
every stage attempt:

  - submit_to_launch_ms: from the stage's submission to its first task launch;
  - the per-task executor deserialize time (wall ms and CPU ms) against the
    per-task executor run time, as min / median / max and the sum.

Stages are labelled with the job group of the job that submitted them. When a
group reads `<pass>/<operation>` (perfbench's traced runs name their job groups
that way), a second table sums the stages of each pass.

Usage: python3 tools/stage_overhead.py EVENT_LOG
"""
import json
import pathlib
import re
import statistics
import sys
from collections import OrderedDict

PASS_GROUP = re.compile(r"^(\d+)/")
ROLLED_FILE = re.compile(r"^events_(\d+)_")


def parse(lines):
    """Stage attempts in submission order, each a dict with stage, attempt,
    group, submitted_ms, first_launch_ms and per-task lists deser_ms,
    deser_cpu_ms and run_ms."""
    stages = OrderedDict()
    group_of_stage = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        e = json.loads(line)
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            for sid in e.get("Stage IDs", []):
                group_of_stage[sid] = group
        elif kind == "SparkListenerStageSubmitted":
            info = e["Stage Info"]
            key = (info["Stage ID"], info["Stage Attempt ID"])
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            stages[key] = dict(stage=key[0], attempt=key[1],
                               group=group or group_of_stage.get(key[0]),
                               submitted_ms=info.get("Submission Time"), first_launch_ms=None,
                               deser_ms=[], deser_cpu_ms=[], run_ms=[])
        elif kind in ("SparkListenerTaskStart", "SparkListenerTaskEnd"):
            s = stages.get((e["Stage ID"], e["Stage Attempt ID"]))
            if s is None:
                continue
            launch = e["Task Info"]["Launch Time"]
            if s["first_launch_ms"] is None or launch < s["first_launch_ms"]:
                s["first_launch_ms"] = launch
            m = e.get("Task Metrics") if kind == "SparkListenerTaskEnd" else None
            if m:
                s["deser_ms"].append(m["Executor Deserialize Time"])
                s["deser_cpu_ms"].append(m["Executor Deserialize CPU Time"] / 1e6)
                s["run_ms"].append(m["Executor Run Time"])
    return list(stages.values())


def log_files(path):
    """The file itself, or a rolling log directory's event files in order."""
    path = pathlib.Path(path)
    if not path.is_dir():
        return [path]
    files = [(m, f) for f in path.iterdir() if (m := ROLLED_FILE.match(f.name))]
    return [f for _, f in sorted(files, key=lambda mf: int(mf[0].group(1)))]


def read_lines(path):
    """The lines of the event log at `path`, across its files."""
    for f in log_files(path):
        with open(f, encoding="utf-8") as lines:
            yield from lines


def submit_to_launch_ms(stage):
    if stage["submitted_ms"] is None or stage["first_launch_ms"] is None:
        return None
    return stage["first_launch_ms"] - stage["submitted_ms"]


def pass_totals(stages):
    """{pass: dict(stages, tasks, deser_ms, deser_cpu_ms, run_ms, submit_to_launch_ms)}
    summed over the stages whose job group names a pass."""
    totals = OrderedDict()
    for s in stages:
        m = PASS_GROUP.match(s["group"] or "")
        if not m:
            continue
        t = totals.setdefault(int(m.group(1)), dict(stages=0, tasks=0, deser_ms=0.0,
                                                    deser_cpu_ms=0.0, run_ms=0.0,
                                                    submit_to_launch_ms=0.0))
        t["stages"] += 1
        t["tasks"] += len(s["run_ms"])
        t["deser_ms"] += sum(s["deser_ms"])
        t["deser_cpu_ms"] += sum(s["deser_cpu_ms"])
        t["run_ms"] += sum(s["run_ms"])
        t["submit_to_launch_ms"] += submit_to_launch_ms(s) or 0
    return totals


def _spread(xs):
    if not xs:
        return "-"
    return f"{min(xs):.0f}/{statistics.median(xs):.0f}/{max(xs):.0f} sum {sum(xs):.0f}"


def main(argv):
    if len(argv) != 2:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    stages = parse(read_lines(argv[1]))
    print("stage  group                      tasks  submit_to_launch_ms  "
          "deser_ms min/med/max  deser_cpu_ms min/med/max  run_ms min/med/max")
    for s in stages:
        stl = submit_to_launch_ms(s)
        print(f"{s['stage']:>4}.{s['attempt']}  {str(s['group'] or '-')[:25]:<25}  "
              f"{len(s['run_ms']):>5}  {'-' if stl is None else stl:>19}  "
              f"{_spread(s['deser_ms']):>21}  {_spread(s['deser_cpu_ms']):>25}  "
              f"{_spread(s['run_ms'])}")
    totals = pass_totals(stages)
    if totals:
        print("\npass  stages  tasks  submit_to_launch_ms  deser_ms  deser_cpu_ms  run_ms")
        for p, t in totals.items():
            print(f"{p:>4}  {t['stages']:>6}  {t['tasks']:>5}  {t['submit_to_launch_ms']:>19.0f}  "
                  f"{t['deser_ms']:>8.0f}  {t['deser_cpu_ms']:>12.0f}  {t['run_ms']:>6.0f}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
