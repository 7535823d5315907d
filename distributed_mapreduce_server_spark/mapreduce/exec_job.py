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
``SELECT TRANSFORM(...) USING '<cmd>'`` on both sides, and starts no
Python worker:

1. map: ``spark.read.text`` feeds a mapper ``TRANSFORM``, persisted
   ``MEMORY_AND_DISK`` so the mapper runs once for both consumers;
2. rank: the distinct keys (``substring_index(line, '\\t', 1)``) get
   ``rid = rank % R`` — ranked on the driver (session.fetch_if_small)
   and broadcast-joined, or past BROADCAST_KEY_LIMIT ranked distributed;
3. shuffle: ``repartitionById(R, rid)`` puts reducer *i* in partition
   *i* exactly (no hash collisions; AQE leaves it alone) and
   ``sortWithinPartitions("line")`` orders each reducer's stdin;
4. reduce: a reducer ``TRANSFORM`` whose partition *i* is reducer *i*'s
   stdout. :func:`reduced_lines` yields that lazy frame and keeps the
   map output persisted while its caller runs ONE action on it:
   :func:`run_executable_job` checkpoints it eagerly as ``(part, line)``
   rows, ``submit.submit_exec`` writes it as one text file per reducer.

By default the mapper runs once per input SPLIT (identical output for
any stream-stateless mapper, and splits parallelize inside big files).
``per_file=True`` selects the reference's STRICT granularity — one
mapper process per input file over its full content, empty files
included (``read.text(wholetext=True)``, one ``repartitionById``
partition per file, see :func:`_map_per_file`) — so stateful mappers
emitting per-invocation headers/footers match byte-for-byte; it feeds
the same reduce half.
A split or reducer group with no lines launches no process
(``TRANSFORM`` skips empty partitions); its ``outputfileNN`` is empty.

One difference from the reference remains: the input is decoded as
UTF-8 and re-encoded for the pipe, so a byte that is not valid UTF-8
reaches the mapper as U+FFFD (``EF BF BD``), where the reference pipes
the raw bytes.
"""

from __future__ import annotations

import shlex
from collections.abc import Iterator
from contextlib import contextmanager

import pyarrow as pa
from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from distributed_mapreduce_server_spark.session import fetch_if_small, scoped_conf

# reducer-id assignment strategy switch: key sets up to this size are
# ranked on the driver and broadcast (vocabulary-sized); larger ones
# are ranked distributed (module-level so tests can force the fallback).
BROADCAST_KEY_LIMIT = 1_000_000

# One line <-> one field on both sides of both transforms: an output
# line can never contain '\n', so neither the field split nor the NULL
# marker ever matches (the defaults cut at '\u0001' and turn '\N' into
# NULL). An input value is written as it is (a whole file's text on the
# per-file path) and is never NULL.
_LINE_FORMAT = "ROW FORMAT DELIMITED FIELDS TERMINATED BY '\\n' NULL DEFINED AS '\\n'"


def _argv(cmd: str) -> str:
    """``cmd`` as a bash line whose words reach the executable as the
    argv of a shell-free ``shlex.split``: ``TRANSFORM`` runs its command
    under ``/bin/bash -c``, so each word is re-quoted."""
    return shlex.join(shlex.split(cmd))


def _transform(spark: SparkSession, src: DataFrame, col: str, script: str) -> DataFrame:
    """Pipe column ``col`` of ``src`` through the bash line ``script``,
    one process per non-empty partition: one ``line`` per stdout line.
    ``spark.sql`` renders a ``str`` argument as an escaped SQL literal."""
    return spark.sql(
        f"SELECT TRANSFORM({col}) {_LINE_FORMAT} USING {{script}} "
        f"AS (line string) {_LINE_FORMAT} FROM {{src}}",
        script=script,
        src=src,
    )


def _map_per_file(spark: SparkSession, paths: list[str], cmd: str) -> DataFrame:
    """One mapper process per input FILE, fed the file's whole content.
    ``wholetext`` reads one row per non-empty file (the scan skips
    zero-length files), so the files come from the driver's listing
    (``inputFiles()``, no job) as an Arrow ``(path, fid)`` table that the
    rows left-join on ``input_file_name()`` (both ``file:///`` and
    URL-encoded alike): an empty file gets ``''``. ``repartitionById``
    puts file *fid* alone in partition *fid*; ``head -c -1`` strips the
    record terminator ``TRANSFORM`` appends, so the mapper reads the
    file's text exactly, final newline or not."""
    text = spark.read.text(paths, wholetext=True)
    files = sorted(text.inputFiles())
    ids = spark.createDataFrame(
        pa.table(
            {
                "path": pa.array(files, pa.string()),
                "fid": pa.array(range(len(files)), pa.int32()),
            }
        )
    )
    rows = text.select(F.input_file_name().alias("path"), "value")
    content = ids.join(rows, "path", "left").select(
        "fid", F.coalesce("value", F.lit("")).alias("value")
    )
    # zero files: one partition with no row, so no process and no line
    by_file = content.repartitionById(max(len(files), 1), "fid")
    return _transform(spark, by_file, "value", f"head -c -1 | {_argv(cmd)}")


def _rank_table(
    spark: SparkSession, keys: DataFrame, num_reducers: int, cached: list[DataFrame]
) -> DataFrame:
    """``(key, rid)`` with ``rid`` = the key's rank in sorted order mod R.
    Small key sets are ranked on the driver (the reference manager's
    move) and broadcast; session.fetch_if_small is both the size check
    and the data. Larger ones: range-sort the keys
    (persisted and appended to ``cached``, so both jobs see one
    partitioning), count each partition once for its offset, and
    rank = offset + position inside the partition."""
    small = fetch_if_small(keys, BROADCAST_KEY_LIMIT)
    if small is not None:
        # Arrow batches go to the JVM as they are; a list of rows would
        # be unpickled by Python workers
        head = sorted(small["key"].to_pylist())
        rids = [i % num_reducers for i in range(len(head))]
        table = pa.table(
            {"key": pa.array(head, pa.string()), "rid": pa.array(rids, pa.int32())}
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


@contextmanager
def reduced_lines(
    spark: SparkSession,
    input_paths: list[str] | str,
    mapper_cmd: str,
    reducer_cmd: str,
    num_mappers: int = 4,
    num_reducers: int = 1,
    per_file: bool = False,
) -> Iterator[DataFrame]:
    """Yield the job's lazy reducer-stdout frame ``(line)``: partition
    *i* is reducer *i*, in the reducer's stdout order. The caller runs
    ONE action on it inside the block, which is when the reducers run;
    the mapped frame stays persisted (so the mapper ran once, for the
    key ranking) until the block exits, and the split-size conf stays
    set around the caller's action. Arguments as
    :func:`run_executable_job`."""
    paths = [input_paths] if isinstance(input_paths, str) else list(input_paths)
    with scoped_conf(spark, {"spark.sql.files.minPartitionNum": num_mappers}):
        if per_file:
            mapped = _map_per_file(spark, paths, mapper_cmd)
        else:
            mapped = _transform(spark, spark.read.text(paths), "value", _argv(mapper_cmd))
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
            yield _transform(
                spark, shuffled.sortWithinPartitions("line"), "line", _argv(reducer_cmd)
            )
        finally:
            for df in cached:
                df.unpersist()


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
    args = (input_paths, mapper_cmd, reducer_cmd, num_mappers, num_reducers, per_file)
    with reduced_lines(spark, *args) as reduced:
        # Materialize before the cache is released. localCheckpoint
        # severs lineage on purpose: a lost checkpoint block fails the
        # caller's action instead of re-running both pipes, whose
        # output could then differ from what the job reported.
        tagged = reduced.select(F.spark_partition_id().alias("part"), "line")
        return tagged.localCheckpoint(eager=True)
