"""Pure statistics the benchmark reports; tested in tests/test_pure.py."""
import statistics

TAIL_BEYOND = 10


def tail(values, beyond=TAIL_BEYOND):
    """The highest percentile that still has at least `beyond` samples above
    it. Returns (value, percentile, sample count)."""
    xs = sorted(values)
    n = len(xs)
    if n <= beyond:
        raise ValueError(f"{n} samples leave none below the top {beyond}")
    return xs[n - beyond - 1], 100.0 * (n - beyond) / n, n


def self_times(spans):
    """Self time of every span: its duration minus the part of its interval
    that its children cover. `spans` are dicts with id, parent, start_ms and
    end_ms; returns {id: self milliseconds}."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ms"], s["end_ms"]
        covered, reach = 0.0, lo
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start_ms"]):
            a, b = max(c["start_ms"], reach), min(c["end_ms"], hi)
            if b > a:
                covered += b - a
                reach = b
        out[s["id"]] = (hi - lo) - covered
    return out


def task_skew_s(stage_task_ms):
    """Sum over stages of (slowest task - median task), in seconds."""
    return sum(max(ts) - statistics.median(ts) for ts in stage_task_ms if ts) / 1000.0


def busy_frac(task_run_s, nproc, wall_s):
    """Share of the pass's task slots that ran tasks."""
    return task_run_s / (nproc * wall_s)
