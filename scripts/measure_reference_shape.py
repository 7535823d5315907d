#!/usr/bin/env python3
"""Reproducible single-node-vs-Spark throughput measurement backing
BASELINE.md (and SURVEY §6's numbers).

The reference executes a job as worker-local OS pipelines:
mapper | sort | reducer over text files (reference
worker/__main__.py's map -> sort -> reduce stages, single process per
stage on one machine). This script measures, on the SAME corpus:

  a) reference-shape: one `python tok_map.py | sort | python
     sum_reduce.py` pipeline over all input (the throughput ceiling
     of the reference's execution model on one node — its manager
     adds scheduling on top, never speed);
  b) spark-declarative: the repo's mr_wordcount DataFrame job on
     local[32];
  c) spark-exec-pipe: the executable-faithful SQL TRANSFORM path running
     the IDENTICAL tok_map.py/sum_reduce.py executables.

Corpus: sf0.1 documents.text replicated REPLICAS times into line
files (~48 MB at 32x). Prints one JSON line. Run solo (no concurrent
Spark) for stable numbers:

    python scripts/measure_reference_shape.py
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPLICAS = int(os.environ.get("DMRS_MEASURE_REPLICAS", "32"))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
EXEC_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "distributed_mapreduce_server_spark",
    "mapreduce",
    "exec",
)


def build_corpus(tmp: str) -> str:
    import duckdb

    rows = duckdb.sql(
        f"SELECT text FROM '{SF_DIR}/documents.parquet' ORDER BY doc_id"
    ).fetchall()
    input_dir = os.path.join(tmp, "input")
    os.makedirs(input_dir)
    body = "".join(t[0].replace("\n", " ") + "\n" for t in rows)
    for i in range(REPLICAS):
        with open(os.path.join(input_dir, f"part{i:02d}.txt"), "w") as fh:
            fh.write(body)
    return input_dir


def measure_reference_shape(input_dir: str) -> float:
    files = sorted(
        os.path.join(input_dir, f) for f in os.listdir(input_dir)
    )
    t0 = time.perf_counter()
    cat = subprocess.Popen(["cat", *files], stdout=subprocess.PIPE)
    mapper = subprocess.Popen(
        [sys.executable, os.path.join(EXEC_DIR, "tok_map.py")],
        stdin=cat.stdout,
        stdout=subprocess.PIPE,
    )
    sort = subprocess.Popen(
        ["sort"],
        stdin=mapper.stdout,
        stdout=subprocess.PIPE,
        env={**os.environ, "LC_ALL": "C"},
    )
    reducer = subprocess.Popen(
        [sys.executable, os.path.join(EXEC_DIR, "sum_reduce.py")],
        stdin=sort.stdout,
        stdout=subprocess.DEVNULL,
    )
    # close the parent-side read ends: a dying downstream stage must
    # SIGPIPE its upstream writer, or the pipeline deadlocks instead
    # of failing once the pipe buffer fills
    for fh in (cat.stdout, mapper.stdout, sort.stdout):
        fh.close()
    stages = {"cat": cat, "mapper": mapper, "sort": sort, "reducer": reducer}
    for name, p in stages.items():
        p.wait()
    bad = {n: p.returncode for n, p in stages.items() if p.returncode != 0}
    if bad:
        raise RuntimeError(f"reference-shape pipeline stage(s) failed: {bad}")
    return time.perf_counter() - t0


def measure_spark(input_dir: str) -> tuple[float, float]:
    from pyspark.sql import functions as F

    from distributed_mapreduce_server_spark import get_spark
    from distributed_mapreduce_server_spark.functions import tokens
    from distributed_mapreduce_server_spark.mapreduce.exec_job import (
        run_executable_job,
    )

    spark = get_spark("dmrs-measure")
    spark.sparkContext.setLogLevel("ERROR")
    # warm the JVM/codegen on a single file first
    one = os.path.join(input_dir, "part00.txt")
    spark.read.text(one).select(
        F.explode(tokens("value")).alias("w")
    ).groupBy("w").count().count()

    t0 = time.perf_counter()
    (
        spark.read.text(input_dir)
        .select(F.explode(tokens("value")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .count()
    )
    declarative = time.perf_counter() - t0

    t1 = time.perf_counter()
    run_executable_job(
        spark,
        input_dir,
        f"{sys.executable} {os.path.join(EXEC_DIR, 'tok_map.py')}",
        f"{sys.executable} {os.path.join(EXEC_DIR, 'sum_reduce.py')}",
        num_mappers=32,
        num_reducers=8,
    ).count()
    exec_pipe = time.perf_counter() - t1
    return declarative, exec_pipe


def main() -> None:
    with tempfile.TemporaryDirectory(prefix="dmrs_measure_") as tmp:
        input_dir = build_corpus(tmp)
        n_bytes = sum(
            os.path.getsize(os.path.join(input_dir, f))
            for f in os.listdir(input_dir)
        )
        ref = measure_reference_shape(input_dir)
        decl, pipe = measure_spark(input_dir)
        print(
            json.dumps(
                {
                    "corpus_mb": round(n_bytes / 1e6, 1),
                    "reference_shape_sec": round(ref, 2),
                    "spark_declarative_sec": round(decl, 2),
                    "spark_exec_pipe_sec": round(pipe, 2),
                    "declarative_speedup": round(ref / decl, 1),
                }
            )
        )


if __name__ == "__main__":
    main()
