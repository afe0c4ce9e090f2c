#!/usr/bin/env python3
"""Side-by-side medians of two sets of benchmark results.

    python3 perfbench/compare.py BASE_RESULTS_DIR CHANGE_RESULTS_DIR

Each directory holds the result files run.py keeps (perfbench/.work/results
of the two checkouts). Runs are paired by workload, seed and trace flag. The
comparison is refused, with exit code 2, when a pair's host facts differ:
nproc, -Xmx, the JDK and Spark versions, or the input bytes and rows.
"""
import json
import statistics
import sys
from pathlib import Path

SPEC = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())


def load(directory):
    """{(workload, seed, trace): newest result} from a results directory."""
    out = {}
    for path in sorted(Path(directory).glob("*.json"), key=lambda p: p.stat().st_mtime):
        r = json.loads(path.read_text())
        out[(r["workload"], r["seed"], r["trace"])] = r
    return out


def quartiles(values):
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, _, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


def main(base_dir, change_dir):
    base, change = load(base_dir), load(change_dir)
    pairs = sorted(set(base) & set(change))
    if not pairs:
        print("no runs in common (workload, seed, trace)", file=sys.stderr)
        return 2
    for key in pairs:
        if base[key]["host"] != change[key]["host"]:
            print(f"refused: host facts differ for {key}:\n  base   {base[key]['host']}\n"
                  f"  change {change[key]['host']}", file=sys.stderr)
            return 2
    for workload in sorted({k[0] for k in pairs}):
        keys = [k for k in pairs if k[0] == workload and k[2] == 0]
        if not keys:
            continue
        print(f"== {workload}: {len(keys)} paired untraced runs; host {base[keys[0]]['host']}")
        print(f"{'metric':<14} {'base q1/med/q3':>28} {'change q1/med/q3':>28} {'change':>8} bound")
        for m in SPEC["end_to_end"]:
            a = quartiles([base[k]["metrics"][m["name"]] for k in keys])
            b = quartiles([change[k]["metrics"][m["name"]] for k in keys])
            delta = b[1] / a[1] - 1
            worse = delta > m["bound"] if m["better"] == "lower" else -delta > m["bound"]
            print(f"{m['name']:<14} {'%.4g/%.4g/%.4g' % a:>28} {'%.4g/%.4g/%.4g' % b:>28} "
                  f"{delta:>+8.1%} {m['bound']:.2f}{'  WORSE' if worse else ''}")
    return 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
