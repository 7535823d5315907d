"""End-to-end replication of the reference's full workflow
(reference: mapreduce/manager/__main__.py — input dir of text files ->
mapper -> group/sort -> reducer -> output part files) through this
repo's stack: sources.read_text_lines -> MapReduceJob -> write_sink.
"""

from __future__ import annotations

import duckdb
from pyspark.sql import functions as F

from distributed_mapreduce_server_spark.catalog import load_tables
from distributed_mapreduce_server_spark.mapreduce.api import MapReduceJob, word_count_job
from distributed_mapreduce_server_spark.sources import read_source, read_text_lines, write_sink

SF_DIR = "/root/testdata/sf0.001"


def test_wordcount_over_text_files_end_to_end(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("mrjob")
    input_dir, output_dir = str(base / "input"), str(base / "output")

    # stage the corpus as line-oriented text files (the reference's
    # input format: a directory of .txt shards)
    docs = load_tables(spark, SF_DIR, register_views=False)["documents"]
    docs.select(F.col("text").alias("value")).repartition(4).write.format("text").save(input_dir)

    # run the job over the text shards and write part files
    lines = read_text_lines(spark, input_dir)
    job = word_count_job(text_col="line")
    result = job.run(lines)
    write_sink(result, output_dir, fmt="csv")

    # the output part files, read back, must equal DuckDB's wordcount
    # over the original documents table
    got = {
        (r["key"], r["cnt"])
        for r in read_source(
            spark, output_dir, fmt="csv", schema="key string, cnt long"
        ).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{SF_DIR}/documents.parquet')"
    )
    expect = set(
        con.execute(
            """
            SELECT t, COUNT(*) FROM (
                SELECT unnest(list_filter(
                    regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS t
                FROM documents
            ) GROUP BY t
            """
        ).fetchall()
    )
    assert got == expect and len(got) > 0


def test_sorted_stream_reducer_path(spark):
    """The reference-faithful reducer path: each key's records arrive
    as a sorted stream (like a reducer exe reading sorted stdin)."""
    docs = load_tables(spark, SF_DIR, register_views=False)["documents"]

    def mapper(df):
        return df.select((F.col("doc_id") % 10).alias("key"), "doc_id")

    def reduce_fn(pdf):
        # emits first/last of the sorted stream — order-sensitive on
        # purpose, so it breaks if the sort contract breaks
        return pdf.assign(rank=range(len(pdf))).iloc[[0, -1]][["key", "doc_id", "rank"]]

    job = MapReduceJob(mapper=mapper, key_cols=("key",), reducer_aggs=())
    out = job.run_sorted_stream(
        docs, sort_cols=("doc_id",), reduce_fn=reduce_fn, output_schema="key long, doc_id long, rank long"
    ).collect()
    by_key = {}
    for r in out:
        by_key.setdefault(r["key"], []).append(r)
    doc_ids = [r["doc_id"] for r in docs.select("doc_id").collect()]
    for key, rows in by_key.items():
        firsts = [r for r in rows if r["rank"] == 0]
        lasts = [r for r in rows if r["rank"] > 0]
        assert len(firsts) == 1 and len(lasts) == 1
        in_key = [d for d in doc_ids if d % 10 == key]
        # exact first/last of the sorted stream — fails if the sort
        # contract breaks
        assert firsts[0]["doc_id"] == min(in_key)
        assert lasts[0]["doc_id"] == max(in_key)


def test_submit_mirrors_reference_payload(spark, tmp_path_factory):
    """submit(JobSpec) == the reference's submit.py payload: input dir,
    output dir, job, num_reducers -> N part files of results."""
    import os

    from distributed_mapreduce_server_spark.mapreduce.submit import JobSpec, submit

    base = tmp_path_factory.mktemp("submit")
    input_dir, output_dir = str(base / "in"), str(base / "out")
    docs = load_tables(spark, SF_DIR, register_views=False)["documents"]
    docs.select(F.col("text").alias("value")).repartition(2).write.format("text").save(input_dir)

    result = submit(
        spark,
        JobSpec(
            input_directory=input_dir,
            output_directory=output_dir,
            job=word_count_job(text_col="line"),
            num_reducers=2,
        ),
    )
    assert result.count() > 0
    parts = [f for f in os.listdir(output_dir) if f.startswith("part-")]
    assert len(parts) == 2


def test_job_queue_resubmits_jobspec(spark, tmp_path_factory):
    """The same JobSpec submitted twice through the JobQueue finishes
    both times: the second run overwrites the first run's part files
    instead of failing on the existing output directory."""
    import os

    from distributed_mapreduce_server_spark.mapreduce.submit import (
        JobQueue,
        JobSpec,
        JobState,
    )

    base = tmp_path_factory.mktemp("resubmit")
    input_dir, output_dir = str(base / "in"), str(base / "out")
    docs = load_tables(spark, SF_DIR, register_views=False)["documents"]
    docs.select(F.col("text").alias("value")).repartition(2).write.format("text").save(input_dir)
    spec = JobSpec(
        input_directory=input_dir,
        output_directory=output_dir,
        job=word_count_job(text_col="line"),
        num_reducers=2,
    )
    q = JobQueue(spark)
    j1, j2 = q.submit(spec), q.submit(spec)
    final = q.run_all()
    assert final[j1] == JobState.FINISHED, q.error(j1)
    assert final[j2] == JobState.FINISHED, q.error(j2)
    parts = [f for f in os.listdir(output_dir) if f.startswith("part-")]
    assert len(parts) == 2
    got = read_source(spark, output_dir, fmt="csv", schema="key string, cnt long")
    expect = word_count_job(text_col="line").run(read_text_lines(spark, input_dir))
    assert sorted(got.collect()) == sorted(expect.collect())


def test_cli_submit_entrypoint(tmp_path):
    """The reference's mapreduce-submit front door as a subprocess:
    python -m distributed_mapreduce_server_spark.submit with the
    reference's flags must run the executable job end-to-end and
    write the outputfileNN layout."""
    import os
    import subprocess
    import sys

    exec_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "distributed_mapreduce_server_spark",
        "mapreduce",
        "exec",
    )
    indir = tmp_path / "cli_in"
    indir.mkdir()
    (indir / "a.txt").write_text("spark counts words\nwords count spark\n")
    outdir = tmp_path / "cli_out"
    py = sys.executable
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    proc = subprocess.run(
        [
            py, "-m", "distributed_mapreduce_server_spark.submit",
            "--input", str(indir),
            "--output", str(outdir),
            "--mapper", f"{py} {os.path.join(exec_dir, 'tok_map.py')}",
            "--reducer", f"{py} {os.path.join(exec_dir, 'sum_reduce.py')}",
            "--nreducers", "2",
        ],
        capture_output=True, text=True, timeout=300,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        env=env,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "Submitted job to Spark" in proc.stdout
    files = sorted(os.listdir(outdir))
    assert files == ["outputfile01", "outputfile02"]
    counts = {}
    for f in files:
        for line in (outdir / f).read_text().splitlines():
            w, _, n = line.partition("\t")
            counts[w] = int(n)
    assert counts == {"spark": 2, "counts": 1, "words": 2, "count": 1}
