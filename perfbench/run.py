#!/usr/bin/env python3
"""graft benchmark: one workload, run from a fresh JVM, checked for correctness.

    python3 perfbench/run.py --workload mapreduce|corpus|all
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds graft and the harness
from source with sbt (perfbench/jvm); later runs reuse the build while the
sources are unchanged. Each run then makes its inputs (untimed), launches
one JVM, measures set-up, one cold pass and the warm passes, and checks
every operation's output after the JVM has exited.

With --trace 0 it prints the end-to-end metrics; with --trace 1 it registers
listeners in the harness and prints the per-layer metrics, and keeps the
spans. The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}. Every run's full result,
host facts included, is kept under perfbench/.work/results for compare.py.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

import corpus
import digest
import layers
import stats
import workloads

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
RESULTS = WORK / "results"
JVM_PROJECT = HERE / "jvm"
# A fixed heap, so peak RSS does not follow G1's resizing, with 4 MiB regions,
# so whole-file documents (up to 1.3 MB here) are not humongous objects: with
# the default 1 MiB regions, runs fell at random into one of two GC modes
# (about 30 or 60 young collections) and the warm pass moved by 10%.
JVM_HEAP = ["-Xms2g", "-Xmx2g", "-XX:G1HeapRegionSize=4m"]
RUN_LIMIT_S = 170  # a run must end within 180 s; the JVM is stopped before
BUILD_LIMIT_S = 840
# The module openings spark-submit adds on JDK 17 (Spark's JavaModuleOptions).
JAVA_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

END_TO_END = [  # name, unit
    ("setup_s", "s"), ("cold_pass_s", "s"), ("warm_pass_s", "s"), ("query_p50_s", "s"),
    ("query_tail_s", "s"), ("warm_cpu_s", "s"), ("peak_rss_mb", "MB"), ("failed_frac", "ratio")]


class BenchError(Exception):
    pass


def nproc():
    return len(os.sched_getaffinity(0))


def _source_stamp():
    h = hashlib.sha256()
    roots = [ROOT / "src" / "main", JVM_PROJECT / "src", JVM_PROJECT / "build.sbt",
             JVM_PROJECT / "project" / "build.properties"]
    for root in roots:
        files = [root] if root.is_file() else sorted(p for p in root.rglob("*") if p.is_file())
        for f in files:
            h.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes())
    return h.hexdigest()


def build():
    """Compiles graft with the harness; returns the runtime classpath."""
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        raise BenchError(f"graft sources not found under {ROOT}; run from a checkout root")
    stamp = _source_stamp()
    stamp_file, cp_file = WORK / "build" / "stamp", WORK / "build" / "classpath"
    if stamp_file.exists() and cp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text()
    env = dict(os.environ, COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline"))
    try:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=JVM_PROJECT, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True,
            timeout=BUILD_LIMIT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        raise BenchError(f"sbt build failed: {e}")
    lines = [ln for ln in proc.stdout.splitlines() if ".jar" in ln and not ln.startswith("[")]
    if proc.returncode != 0 or not lines:
        raise BenchError("sbt build failed:\n" + proc.stdout[-3000:] + proc.stderr[-2000:])
    stamp_file.parent.mkdir(parents=True, exist_ok=True)
    cp_file.write_text(lines[-1].strip())
    stamp_file.write_text(stamp)
    return lines[-1].strip()


def launch(classpath, work, args, deadline):
    """Starts the harness JVM and waits for READY; returns (setup_s, process)."""
    tmp = work / "out" / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = ["java", *JVM_HEAP, f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false", *JAVA_OPENS,
           "-cp", classpath, "perfbench.Harness", "--out", str(work / "out"),
           "--nproc", str(nproc()), *args]
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(tmp))
    log = open(work / "jvm.log", "ab")
    t0 = time.perf_counter()
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, stdin=subprocess.DEVNULL,
                            env=env, text=True, cwd=work)
    log.close()
    line = proc.stdout.readline()
    setup_s = time.perf_counter() - t0
    if line.strip() != "READY":
        finish(proc, deadline)
        raise BenchError(f"harness did not start; see {work / 'jvm.log'}")
    return setup_s, proc


def finish(proc, deadline):
    """Waits for the JVM to exit, stopping it at the deadline."""
    try:
        out, _ = proc.communicate(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        raise BenchError("the run exceeded its time limit; the JVM was stopped")
    return out


def make_inputs(name, seed, work):
    """Writes the workload's inputs; returns (data dir, expected, facts)."""
    if name == "mapreduce":
        docs = corpus.generate(seed, workloads.CORPUS_FILES, workloads.CORPUS_BYTES)
        data = work / "corpus"
        corpus.write(docs, data)
        facts = {"input_bytes": sum(map(len, docs)), "input_rows": len(docs)}
        return data, corpus.expected_outputs(docs), facts
    import pyarrow.parquet as pq
    data = HERE / workloads.DATA
    expected = json.loads((HERE / "expected" / "digests.json").read_text())
    files = sorted(data.glob("*.parquet"))
    if expected["data_sha256"] != files_sha256(files):
        raise BenchError(f"{data} differs from the data the expected digests were made from")
    facts = {"input_bytes": sum(f.stat().st_size for f in files),
             "input_rows": sum(pq.ParquetFile(f).metadata.num_rows for f in files)}
    return data, expected["queries"], facts


def files_sha256(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.name.encode() + b"\0" + f.read_bytes())
    return h.hexdigest()


def check(name, op_records, out, expected):
    """Names of the failed operations, one entry per failed (pass, op)."""
    failed = []
    for r in op_records:
        key = f"p{r['pass']}/{r['op']}"
        if r["error"]:
            failed.append(f"{key}: {r['error']}")
        elif name == "mapreduce":
            if r["op"] != "scan" and (out / f"{key}.txt").read_bytes() != expected[r["op"]]:
                failed.append(f"{key}: output differs from the expected bytes")
        else:
            try:
                rows, hexdigest = digest.parquet_digest(out / key)
            except Exception as e:  # noqa: BLE001 - any unreadable output is a failure
                failed.append(f"{key}: {e}")
                continue
            want = expected[r["op"]]
            if [rows, hexdigest] != [want["rows"], want["digest"]]:
                failed.append(f"{key}: {rows} rows, digest differs from the DuckDB oracle")
    return failed


def run_workload(name, seed, seconds, trace, classpath):
    work = WORK / name
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    data, expected, facts = make_inputs(name, seed, work)
    passes = workloads.plan(name, seed, seconds)
    (work / "plan.txt").write_text("".join(",".join(p) + "\n" for p in passes))

    deadline = time.monotonic() + RUN_LIMIT_S
    args = ["--workload", name, "--data", str(data), "--plan", str(work / "plan.txt"),
            "--records", str(work / "records.jsonl"), "--spans", str(work / "spans.jsonl"),
            "--trace", str(trace), "--docs", str(workloads.CORPUS_FILES),
            "--sink-rows", str(workloads.SINK_PROBE_ROWS)]
    setup_s, proc = launch(classpath, work, args, deadline)
    if finish(proc, deadline).strip() != "DONE" or proc.returncode != 0:
        raise BenchError(f"harness failed (exit {proc.returncode}); see {work / 'jvm.log'}")

    records = [json.loads(line) for line in open(work / "records.jsonl")]
    ops = [r for r in records if r["kind"] == "op"]
    pass_recs = [r for r in records if r["kind"] == "pass"]
    run = next(r for r in records if r["kind"] == "run")
    planned = sum(len(p) for p in passes)
    failed = check(name, ops, work / "out", expected)
    if len(ops) != planned:
        failed.append(f"{planned - len(ops)} planned operations did not run")
    facts.update(nproc=nproc(), xmx_mb=run["xmx_mb"], java=run["java"], spark=run["spark"])

    warm = [r for r in pass_recs if workloads.measured(name, r["pass"])]
    warm_ops = [r["s"] for r in ops if workloads.measured(name, r["pass"])]
    tail_s, tail_pct, tail_n = stats.tail(warm_ops)
    metrics = {
        "setup_s": setup_s,
        "cold_pass_s": pass_recs[0]["wall_s"],
        "warm_pass_s": statistics.median([r["wall_s"] for r in warm]),
        "query_p50_s": statistics.median(warm_ops),
        "query_tail_s": tail_s,
        "warm_cpu_s": statistics.median([r["cpu_s"] for r in warm]),
        "peak_rss_mb": run["peak_rss_kb"] / 1024,
        "failed_frac": len(failed) / max(planned, 1),
    }
    result = {"workload": name, "seed": seed, "seconds": seconds, "trace": trace,
              "host": facts, "metrics": metrics, "failed": failed, "attempted": planned,
              "tail": {"percentile": tail_pct, "samples": tail_n},
              "pass_wall_s": [r["wall_s"] for r in pass_recs],
              "pass_cpu_s": [r["cpu_s"] for r in pass_recs],
              "op_median_s": {op: statistics.median([r["s"] for r in ops if r["op"] == op
                                                and workloads.measured(name, r["pass"])])
                              for op in workloads.WORKLOADS[name]["ops"]}}
    if trace:
        spans = layers.load_spans(work / "spans.jsonl")
        per_pass = layers.per_pass(spans, ops, pass_recs, facts["nproc"])
        result["layers_per_pass"] = per_pass
        warm_ids = {r["pass"] for r in warm}
        result["layers"] = layers.summary(per_pass, warm_ids, spans)
        result["self_s_per_warm_pass"] = {
            k: v / len(warm_ids) for k, v in layers.self_time_by_name(spans, warm_ids).items()}
        result["tracing_overhead"] = _tracing_overhead(name, metrics["warm_pass_s"])
    return result, work


def _tracing_overhead(name, traced_warm_s):
    """Traced warm_pass_s over the median of this workload's saved untraced runs."""
    untraced = [json.loads(p.read_text())["metrics"]["warm_pass_s"]
                for p in RESULTS.glob(f"{name}-t0-*.json")]
    return traced_warm_s / statistics.median(untraced) - 1 if untraced else None


def report(result, work):
    name, m = result["workload"], result["metrics"]
    print(f"== {name} seed={result['seed']} trace={result['trace']} "
          + " ".join(f"{k}={v}" for k, v in result["host"].items()))
    for k, unit in END_TO_END:
        note = ""
        if k == "query_tail_s":
            note = f"  (p{result['tail']['percentile']:.1f} of {result['tail']['samples']} warm samples)"
        if k == "failed_frac":
            note = f"  ({len(result['failed'])} of {result['attempted']} operations)"
        print(f"{k:<30} {m[k]:>12.4f} {unit}{note}")
    for f in result["failed"][:20]:
        print(f"FAILED {f}")
    if result["trace"]:
        for k, v in sorted(result["layers"].items()):
            print(f"{k:<30} {v:>12.4f} {layers.UNITS[k]}")
        per_pass = result["layers_per_pass"]
        print("per pass: " + "; ".join(
            f"p{p} artifact_builds={int(v['core.artifact_builds'])} "
            f"codegen.compiles={int(v['codegen.compiles'])}" for p, v in per_pass.items()))
        print("self time per warm pass (s): " + ", ".join(
            f"{k}={v:.3f}" for k, v in sorted(result["self_s_per_warm_pass"].items(),
                                              key=lambda kv: -kv[1])))
        over = result["tracing_overhead"]
        print("tracing overhead on warm_pass_s: "
              + (f"{over:+.1%}" if over is not None else "no untraced run saved yet"))
        print(f"spans: {work / 'spans.jsonl'}")
    print(f"correct: {not result['failed']}")


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=[*workloads.WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args(argv)
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    declared = spec["per_layer"] if a.trace else spec["end_to_end"]
    try:
        classpath = build()
        names = list(workloads.WORKLOADS) if a.workload == "all" else [a.workload]
        for name in names:
            result, work = run_workload(name, a.seed, a.seconds, a.trace, classpath)
            RESULTS.mkdir(parents=True, exist_ok=True)
            tag = f"{name}-t{a.trace}-s{a.seed}-{time.strftime('%Y%m%dT%H%M%S')}"
            (RESULTS / f"{tag}.json").write_text(json.dumps(result, indent=1))
            if a.trace:
                shutil.copy(work / "spans.jsonl", RESULTS / f"{tag}-spans.jsonl")
            report(result, work)
    except BenchError as e:
        print(f"benchmark failed: {e}", file=sys.stderr)
        return 2
    values = result["layers"] if a.trace else result["metrics"]
    print(json.dumps({
        "correct": not result["failed"], "attempted": result["attempted"],
        "failed": len(result["failed"]),
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
