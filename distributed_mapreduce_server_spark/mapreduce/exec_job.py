"""Executable mapper/reducer jobs as one Spark SQL plan — the reference's
Hadoop-streaming contract (reference: mapreduce/worker/__main__.py:137-183
pipes input files through a mapper executable, sorts lines, and pipes
merged groups through a reducer executable; mapreduce/manager/
__main__.py:436-461 assigns keys to reducers round-robin in
globally-sorted distinct-key order).

Semantics preserved:

- mapper executable reads raw lines on stdin, writes
  ``key<TAB>value`` lines on stdout;
- each reducer executable reads ITS keys' lines on stdin, sorted
  lexicographically (the "sorted stdin" contract reducers rely on);
- a key's lines all reach one reducer; keys are spread round-robin
  over reducers in sorted-key order (num_reducers output groups).

The plan runs in the JVM, with Spark SQL's Hadoop-streaming operator
``SELECT TRANSFORM(...) USING '<cmd>'`` on both sides:

1. map: ``spark.read.text`` feeds a mapper ``TRANSFORM``, persisted
   ``MEMORY_AND_DISK`` so the mapper runs once for both consumers;
2. rank: the distinct keys (``substring_index(line, '\\t', 1)``) get
   ``rid = rank % R`` — ranked on the driver and broadcast-joined, or
   for key sets over BROADCAST_KEY_LIMIT ranked distributed;
3. shuffle: ``repartitionById(R, rid)`` puts reducer *i* in partition
   *i* exactly (no hash collisions; AQE leaves it alone) and
   ``sortWithinPartitions("line")`` orders each reducer's stdin;
4. reduce: a reducer ``TRANSFORM`` tagged with ``spark_partition_id()``
   as ``part``, checkpointed eagerly.

By default the mapper runs once per input SPLIT (identical output for
any stream-stateless mapper, and splits parallelize inside big files).
``per_file=True`` selects the reference's STRICT granularity — one
mapper process per input file over its full content (``wholeTextFiles``
+ ``_pipe_record``) — so stateful mappers emitting per-invocation
headers/footers match byte-for-byte; it feeds the same SQL reduce half.
A split or reducer group with no lines launches no process
(``TRANSFORM`` skips empty partitions); its ``outputfileNN`` is empty.
"""

from __future__ import annotations

import shlex

import pyarrow as pa
from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from distributed_mapreduce_server_spark.session import scoped_conf

# reducer-id assignment strategy switch: key sets up to this size are
# ranked on the driver and broadcast (vocabulary-sized); larger ones
# are ranked distributed (module-level so tests can force the fallback).
BROADCAST_KEY_LIMIT = 1_000_000

# One line <-> one field on both sides of both transforms: a line can
# never contain '\n', so neither the field split nor the NULL marker
# ever matches (the defaults cut at '\u0001' and turn '\N' into NULL).
_LINE_FORMAT = "ROW FORMAT DELIMITED FIELDS TERMINATED BY '\\n' NULL DEFINED AS '\\n'"


def _transform(spark: SparkSession, src: DataFrame, col: str, cmd: str) -> DataFrame:
    """Pipe column ``col`` of ``src`` through ``cmd``: one ``line`` per
    stdout line. ``TRANSFORM`` runs the command under ``/bin/bash -c``;
    the ``shlex`` round trip quotes each word so the executable gets the
    argv of a shell-free ``shlex.split`` (as ``_pipe_record``), and
    ``spark.sql`` renders a ``str`` argument as an escaped SQL literal."""
    return spark.sql(
        f"SELECT TRANSFORM({col}) {_LINE_FORMAT} USING {{cmd}} "
        f"AS (line string) {_LINE_FORMAT} FROM {{src}}",
        cmd=shlex.join(shlex.split(cmd)),
        src=src,
    )


def _pipe_record(cmd: str):
    """One subprocess invocation per (filename, content) record — the
    reference worker's per-file mapper contract. Runs executor-side;
    raises on a nonzero exit."""
    import subprocess

    argv = shlex.split(cmd)

    def run(record):
        fname, content = record
        # UTF-8 explicitly, never the executor's locale (LANG=C crashes
        # on non-ASCII); split on '\n' only, like TRANSFORM (splitlines()
        # also breaks on \x0b, \x0c, U+2028, which may sit in a value).
        proc = subprocess.run(
            argv, input=content, capture_output=True, encoding="utf-8"
        )
        if proc.returncode != 0:
            raise RuntimeError(
                f"mapper {cmd!r} exited {proc.returncode} on {fname}: "
                f"{proc.stderr[-500:]}"
            )
        out = proc.stdout.removesuffix("\n")
        return out.split("\n") if out else []

    return run


def _rank_table(
    spark: SparkSession, keys: DataFrame, num_reducers: int, cached: list[DataFrame]
) -> DataFrame:
    """``(key, rid)`` with ``rid`` = the key's rank in sorted order mod R.
    Small key sets are ranked on the driver (the reference manager's
    move) and broadcast; fetching ``BROADCAST_KEY_LIMIT + 1`` keys is both
    the size check and the data. Larger ones: range-sort the keys
    (persisted and appended to ``cached``, so both jobs see one
    partitioning), count each partition once for its offset, and
    rank = offset + position inside the partition."""
    head = [r.key for r in keys.limit(BROADCAST_KEY_LIMIT + 1).collect()]
    if len(head) <= BROADCAST_KEY_LIMIT:
        # Arrow batches go to the JVM as they are; a list of rows would
        # be unpickled by Python workers
        rids = [i % num_reducers for i in range(len(head))]
        table = pa.table(
            {"key": pa.array(sorted(head), pa.string()), "rid": pa.array(rids, pa.int32())}
        )
        return F.broadcast(spark.createDataFrame(table))
    pid = F.spark_partition_id()
    ranked = keys.orderBy("key").persist(StorageLevel.MEMORY_AND_DISK)
    cached.append(ranked)
    sizes = dict(ranked.groupBy(pid).count().collect())
    offsets, acc = [], 0
    for p in range(max(sizes, default=-1) + 1):
        offsets.append(acc)
        acc += sizes.get(p, 0)
    # monotonically_increasing_id = partition id << 33 | row position
    position = F.monotonically_increasing_id() - F.shiftleft(pid.cast("long"), 33)
    offset = F.element_at(F.array(*map(F.lit, offsets)), pid + 1)
    rid = ((offset + position) % num_reducers).cast("int")
    return ranked.select("key", rid.alias("rid"))


def run_executable_job(
    spark: SparkSession,
    input_paths: list[str] | str,
    mapper_cmd: str,
    reducer_cmd: str,
    num_mappers: int = 4,
    num_reducers: int = 1,
    per_file: bool = False,
) -> DataFrame:
    """Run a reference-style executable job; returns a DataFrame of
    ``(part, line)`` — ``part`` is the reducer index (the reference's
    outputfileNN), ``line`` the reducer's raw stdout line.

    ``num_mappers`` is the suggested minimum number of input splits.
    ``per_file=True``: strict reference granularity — the mapper runs
    once per input FILE over its whole content (use for stateful
    mappers; per-split piping is identical for stateless ones)."""
    paths = [input_paths] if isinstance(input_paths, str) else list(input_paths)
    with scoped_conf(spark, {"spark.sql.files.minPartitionNum": num_mappers}):
        if per_file:
            files = spark.sparkContext.wholeTextFiles(
                ",".join(paths), minPartitions=num_mappers
            )
            records = files.flatMap(_pipe_record(mapper_cmd))
            mapped = spark.createDataFrame(records, "string").toDF("line")
        else:
            mapped = _transform(spark, spark.read.text(paths), "value", mapper_cmd)
        # MEMORY_AND_DISK: an evicted MEMORY_ONLY partition would silently
        # RE-RUN the mapper, and a non-deterministic one could then feed
        # different lines to the key ranking and the reducers.
        cached = [mapped.persist(StorageLevel.MEMORY_AND_DISK)]
        try:
            key = F.substring_index("line", "\t", 1)
            keys = mapped.select(key.alias("key")).distinct()
            ranks = _rank_table(spark, keys, num_reducers, cached)
            # inner join: a line whose key is missing from the ranks (only
            # possible with a non-deterministic mapper) is dropped
            by_rid = mapped.join(ranks, key == ranks["key"]).select("line", "rid")
            shuffled = by_rid.repartitionById(num_reducers, "rid")
            reduced = _transform(
                spark, shuffled.sortWithinPartitions("line"), "line", reducer_cmd
            )
            # Materialize before the cache is released. localCheckpoint
            # severs lineage on purpose: a lost checkpoint block fails the
            # caller's action instead of re-running both pipes, whose
            # output could then differ from what the job reported.
            tagged = reduced.select(F.spark_partition_id().alias("part"), "line")
            return tagged.localCheckpoint(eager=True)
        finally:
            for df in cached:
                df.unpersist()
