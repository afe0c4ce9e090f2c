#!/usr/bin/env python3
"""Regenerates expected/digests.json, the correctness gate of the corpus
workload.

    python3 perfbench/make_digests.py

Builds the harness classpath as run.py does, dumps graft's oracle SQL
(`SparkEntry.oracleSql`, via graft.DumpOracle), runs each benchmarked
query's SQL in DuckDB over data/sf0.01 with the table views of
tools/check_oracle.py, and stores the row count and digest of each result
together with a hash of the data files they were made from.
"""
import json
import subprocess
import sys
import tempfile
from pathlib import Path

import duckdb

import digest
import run
import workloads

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def main():
    classpath = run.build()
    with tempfile.TemporaryDirectory(dir=run.WORK) as tmp:
        subprocess.run(["java", "-cp", classpath, "graft.DumpOracle", tmp], check=True)
        oracle = json.loads((Path(tmp) / "oracle_sql.json").read_text())
    data = run.HERE / workloads.DATA
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    queries = {}
    for name in sorted(op for w, spec in workloads.WORKLOADS.items() if w != "mapreduce"
                       for op in spec["ops"]):
        rows, hexdigest = digest.digest(con.execute(oracle[name]).fetchdf())
        queries[name] = {"rows": rows, "digest": hexdigest}
        print(f"{name}: {rows} rows {hexdigest[:16]}")
    out = {"data": workloads.DATA,
           "data_sha256": run.files_sha256(sorted(data.glob("*.parquet"))),
           "duckdb": duckdb.__version__, "queries": queries}
    (run.HERE / "expected" / "digests.json").write_text(json.dumps(out, indent=1) + "\n")


if __name__ == "__main__":
    sys.exit(main())
