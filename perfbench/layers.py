"""Per-layer numbers of a traced run, derived from its spans and records.

Span tree: run -> pass -> operation -> operators.build | write | core.free
-> job -> stage. The JVM parents a job to its operation through the job
group; `load_spans` moves it under the build or write span that was open
when it started, so `operators.driver_jobs` counts the jobs run inside the
graft call itself (eager collects, localCheckpoint loops, artifact builds).
"""
import json
import statistics
from collections import Counter, defaultdict

import stats

MB = 1 << 20

# Reported from the cold pass: warm passes hold these at 0 by design.
COLD_METRICS = ("core.artifact_build_s", "core.artifact_builds", "codegen.compiles")

UNITS = {
    "core.artifact_build_s": "s", "core.artifact_builds": "count", "core.free_s": "s",
    "core.rdds_freed": "count", "operators.build_s": "s", "operators.driver_jobs": "count",
    "plan.analysis_s": "s", "plan.optimization_s": "s", "plan.planning_s": "s",
    "plan.executions": "count", "codegen.compiles": "count", "exec.jobs": "count",
    "exec.stages": "count", "exec.tasks": "count", "exec.task_run_s": "s", "exec.task_cpu_s": "s",
    "exec.gc_s": "s", "exec.busy_frac": "ratio", "exec.input_mb": "MB", "exec.output_mb": "MB",
    "exec.shuffle_read_mb": "MB", "exec.shuffle_write_mb": "MB", "exec.shuffle_records": "count",
    "exec.spill_mb": "MB", "exec.shuffle_over_input": "ratio", "exec.task_skew_s": "s",
    "sources.doc_scan_s": "s", "sources.doc_scan_mb_per_s": "MB/s", "sources.sink_s": "s",
    "functions.map_cpu_s": "s", "agg.generic_over_native": "ratio",
}


def load_spans(path):
    spans = [json.loads(line) for line in open(path)]
    by_id = {s["id"]: s for s in spans}
    kids = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)
    for s in spans:
        if s["name"] == "job" and s["parent"] in by_id:
            for phase in kids[s["parent"]]:
                if phase["name"] in ("operators.build", "write") and \
                        phase["start_ms"] <= s["start_ms"] <= phase["end_ms"]:
                    s["parent"] = phase["id"]
                    break
    return spans


def per_pass(spans, op_records, pass_records, nproc):
    """{pass: {metric: value}} for every layer metric of the traced run."""
    kids = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)
    latency = {(r["pass"], r["op"]): r for r in op_records}
    wall = {r["pass"]: r["wall_s"] for r in pass_records}
    out = {}
    for op in (s for s in spans if s.get("kind") == "op"):
        p = op["pass"]
        m = out.setdefault(p, Counter())
        phase = {c["name"]: c for c in kids[op["id"]]}
        build = phase.get("operators.build", {})
        jobs = [j for c in kids[op["id"]] for j in kids[c["id"]] if j["name"] == "job"]
        stages = [st for j in jobs for st in kids[j["id"]] if st["name"] == "stage"]
        artifact_s = build.get("artifact_build_s", 0.0)
        m["core.artifact_build_s"] += artifact_s
        m["core.artifact_builds"] += build.get("artifact_builds", 0)
        m["core.free_s"] += _dur(phase.get("core.free")) / 1000
        m["core.rdds_freed"] += latency[(p, op["name"])]["rdds_freed"]
        m["operators.build_s"] += _dur(build) / 1000 - artifact_s
        m["operators.driver_jobs"] += sum(1 for j in kids[build.get("id")] if j["name"] == "job")
        for name in ("analysis", "optimization", "planning"):
            m[f"plan.{name}_s"] += (op.get(f"{name}_ms", 0) + build.get(f"{name}_ms", 0)) / 1000
        m["plan.executions"] += op.get("executions", 0)
        m["codegen.compiles"] += op.get("codegen_compiles", 0)
        m["exec.jobs"] += op.get("jobs", 0)
        m["exec.stages"] += op.get("stages", 0)
        m["exec.tasks"] += op.get("tasks", 0)
        m["exec.task_run_s"] += op.get("task_run_ms", 0) / 1000
        m["exec.task_cpu_s"] += op.get("task_cpu_ns", 0) / 1e9
        m["exec.gc_s"] += op.get("gc_ms", 0) / 1000
        for key in ("input", "output", "shuffle_read", "shuffle_write", "spill"):
            m[f"exec.{key}_mb"] += op.get(f"{key}_bytes", 0) / MB
        m["exec.shuffle_records"] += op.get("shuffle_records", 0)
        m["exec.task_skew_s"] += stats.task_skew_s([st["task_ms"] for st in stages])
    for p, m in out.items():
        m["exec.busy_frac"] = stats.busy_frac(m["exec.task_run_s"], nproc, wall[p])
        m["exec.shuffle_over_input"] = m["exec.shuffle_write_mb"] / m["exec.input_mb"] \
            if m["exec.input_mb"] else 0.0
        if (p, "scan") in latency:  # the mapreduce-only layers
            ops = {s["name"]: s for s in spans if s.get("kind") == "op" and s["pass"] == p}
            cpu = {name: s.get("task_cpu_ns", 0) / 1e9 for name, s in ops.items()}
            scan_s = latency[(p, "scan")]["s"]
            m["sources.doc_scan_s"] = scan_s
            m["sources.doc_scan_mb_per_s"] = ops["scan"].get("input_bytes", 0) / MB / scan_s
            m["functions.map_cpu_s"] = cpu["task1"] + cpu["task2"] - 2 * cpu["scan"]
            m["agg.generic_over_native"] = \
                latency[(p, "generic_map1")]["s"] / latency[(p, "task1")]["s"]
    return {p: dict(m) for p, m in sorted(out.items())}


def summary(passes, warm_ids, spans):
    """One value per metric: the cold pass for COLD_METRICS, otherwise the
    median over the measured warm passes; plus the median `sources.sink`
    probe."""
    warm = [m for p, m in passes.items() if p in warm_ids]
    keys = sorted({k for m in passes.values() for k in m})
    out = {k: passes[0][k] if k in COLD_METRICS else statistics.median([m[k] for m in warm])
           for k in keys}
    sink = [_dur(s) / 1000 for s in spans if s["name"] == "sources.sink"]
    if sink:
        out["sources.sink_s"] = statistics.median(sink)
    return out


def self_time_by_name(spans, passes):
    """Self seconds summed per span name over the given passes."""
    selfs = stats.self_times(spans)
    by_id = {s["id"]: s for s in spans}

    def pass_of(s):
        while s is not None and s["name"] != "pass":
            s = by_id.get(s["parent"])
        return None if s is None else s.get("pass")

    out = Counter()
    for s in spans:
        if pass_of(s) in passes:
            out[s["name"] if s.get("kind") != "op" else "operation"] += selfs[s["id"]] / 1000
    return dict(out)


def _dur(span):
    return span["end_ms"] - span["start_ms"] if span else 0.0
