"""Custom connector via Spark 4's Python Data Source API (§2.8):
a deterministic synthetic event-log source with PARTITIONED reads,
FILTER PUSHDOWN, and pushdown-driven PARTITION PRUNING — the three
things a production connector (JDBC shard reader, KV-store scanner,
feed API) must do to survive 100 TB.

The source generates `n_rows` rows split into `n_partitions` equal
id ranges. Planning-time `pushFilters` absorbs range/equality
predicates on `event_id` (returning the rest for Spark to apply) and
`partitions()` then emits ONLY the id ranges intersecting the pushed
bounds — executors never even start generating a pruned partition,
exactly how a sharded remote source skips shards server-side.

Row content is integer-arithmetic deterministic
(value = ((id * KNUTH) % 1000) / 100), so a DuckDB `generate_series`
twin reproduces it bit-for-bit and the registry entry
`pysource_range_events` carries a FULL value-parity oracle — rare for
a connector demo.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)

SOURCE_NAME = "dmrs_synth_events"
STREAM_SOURCE_NAME = "dmrs_synth_events_stream"
SINK_NAME = "dmrs_outputfiles"
KNUTH = 2654435761  # Knuth multiplicative-hash constant
N_BUCKETS = 16

DEFAULT_ROWS = 20000
DEFAULT_PARTITIONS = 8


def _row(i: int) -> tuple:
    """THE row recurrence — one definition shared by the batch
    reader, the stream reader, and (via _series_oracle) both DuckDB
    twins, so the 'cannot desynchronize' claim is structural."""
    return (i, i % N_BUCKETS, ((i * KNUTH) % 1000) / 100.0)


def _series_oracle(lo: int) -> str:
    """DuckDB twin of the per-bucket rollup over ids [lo, QUERY_ROWS)."""
    return f"""
        SELECT CAST(i % {N_BUCKETS} AS INTEGER) AS bucket,
               COUNT(*) AS n,
               ROUND(SUM(((i * {KNUTH}) % 1000) / 100.0), 2) AS total_value,
               MIN(i) AS min_id,
               MAX(i) AS max_id
        FROM generate_series({lo}, {QUERY_ROWS - 1}) AS g(i)
        GROUP BY 1
        ORDER BY 1
    """


def _register_once(spark, key: str, cls) -> None:
    """Idempotent per-session registration guard shared by all three
    connector surfaces."""
    if not spark.conf.get(f"spark.{key}", None):
        spark.dataSource.register(cls)
        spark.conf.set(f"spark.{key}", "true")


class _IdRange(InputPartition):
    def __init__(self, lo: int, hi: int) -> None:
        self.lo = lo
        self.hi = hi  # exclusive


class RangeEventsReader(DataSourceReader):
    """Reader holding the pushed [lo, hi) bound on event_id."""

    def __init__(self, options) -> None:
        self.n_rows = int(options.get("n_rows", DEFAULT_ROWS))
        self.n_partitions = int(options.get("n_partitions", DEFAULT_PARTITIONS))
        self.lo = 0
        self.hi = self.n_rows
        self.pushed: list = []

    def pushFilters(self, filters):
        """Absorb event_id range/equality predicates; everything else
        (and any OTHER column) goes back to Spark. Called once at
        planning time, BEFORE partitions()."""
        for f in filters:
            handled = False
            if isinstance(
                f, (EqualTo, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual)
            ) and tuple(f.attribute) == ("event_id",):
                v = f.value
                if isinstance(v, int):
                    handled = True
                    if isinstance(f, EqualTo):
                        self.lo = max(self.lo, v)
                        self.hi = min(self.hi, v + 1)
                    elif isinstance(f, GreaterThan):
                        self.lo = max(self.lo, v + 1)
                    elif isinstance(f, GreaterThanOrEqual):
                        self.lo = max(self.lo, v)
                    elif isinstance(f, LessThan):
                        self.hi = min(self.hi, v)
                    else:  # LessThanOrEqual
                        self.hi = min(self.hi, v + 1)
            if handled:
                self.pushed.append(f)
            else:
                yield f

    def partitions(self):
        """Equal id ranges, PRUNED against the pushed bounds — a
        fully-excluded range never reaches an executor."""
        step = -(-self.n_rows // self.n_partitions)
        parts = []
        for i in range(self.n_partitions):
            lo, hi = i * step, min((i + 1) * step, self.n_rows)
            lo, hi = max(lo, self.lo), min(hi, self.hi)
            if lo < hi:
                parts.append(_IdRange(lo, hi))
        # Spark requires >= 1 partition; an empty one is the
        # all-pruned case
        return parts or [_IdRange(0, 0)]

    def read(self, partition: _IdRange):
        for i in range(partition.lo, partition.hi):
            yield _row(i)


class RangeEventsDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return SOURCE_NAME

    def schema(self) -> str:
        return "event_id bigint, bucket int, value double"

    def reader(self, schema) -> RangeEventsReader:
        return RangeEventsReader(self.options)


def register_synth_source(spark) -> None:
    """Idempotent registration of the custom source on a session.
    Python-source filter pushdown is opt-in (off by default in Spark
    4.1), so enable it here — a reader that implements pushFilters()
    under the disabled conf is a hard error, not a silent fallback."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    _register_once(spark, "_dmrs_synth_source_registered", RangeEventsDataSource)


# registry-entry parameters, interpolated into the DuckDB oracle so
# they cannot desynchronize
QUERY_ROWS = 20000
QUERY_PARTITIONS = 8
QUERY_ID_LO = 15000


def pysource_range_events(spark, sf_dir: str):
    """Registry entry: read the custom Python data source with an
    event_id range predicate (pushed into the connector at planning
    time — 6 of 8 generated partitions are pruned before launch) and
    roll up per bucket. ``sf_dir`` is unused: the source IS the data,
    sized by QUERY_ROWS. Full value-parity oracle via DuckDB
    generate_series over the same integer recurrence."""
    from pyspark.sql import functions as F

    from distributed_mapreduce_server_spark.functions import fround

    register_synth_source(spark)
    df = (
        spark.read.format(SOURCE_NAME)
        .option("n_rows", QUERY_ROWS)
        .option("n_partitions", QUERY_PARTITIONS)
        .load()
        .filter(F.col("event_id") >= QUERY_ID_LO)
    )
    return (
        df.groupBy("bucket")
        .agg(
            F.count("*").alias("n"),
            fround(F.sum("value"), 2).alias("total_value"),
            F.min("event_id").alias("min_id"),
            F.max("event_id").alias("max_id"),
        )
        .orderBy("bucket")
    )


def pysource_oracle() -> str:
    return _series_oracle(QUERY_ID_LO)


# --- streaming side of the connector -------------------------------
# rows arrive in fixed-size offset chunks; the reader is a
# SimpleDataSourceStreamReader: initialOffset/read(start)->(rows,
# next)/readBetweenOffsets(replay) — Spark handles prefetch, offset
# log, and exactly-once replay from the checkpoint.
STREAM_CHUNK = 2500


class RangeEventsStreamReader(SimpleDataSourceStreamReader):
    def __init__(self, options) -> None:
        self.n_rows = int(options.get("n_rows", DEFAULT_ROWS))
        self.chunk = int(options.get("chunk", STREAM_CHUNK))

    def initialOffset(self) -> dict:
        return {"next_id": 0}

    def _rows(self, lo: int, hi: int):
        # a LIST, not a generator: the prefetching wrapper pickles the
        # batch to ship it with the offset, and generators don't pickle
        return [_row(i) for i in range(lo, hi)]

    def read(self, start: dict):
        lo = start["next_id"]
        hi = min(lo + self.chunk, self.n_rows)
        # iter() over the list: the wrapper calls next() directly AND
        # pickles the materialized rows with the offset
        return iter(self._rows(lo, hi)), {"next_id": hi}

    def readBetweenOffsets(self, start: dict, end: dict):
        # deterministic replay for recovery — same recurrence
        return iter(self._rows(start["next_id"], end["next_id"]))


class RangeEventsStreamDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return STREAM_SOURCE_NAME

    def schema(self) -> str:
        return "event_id bigint, bucket int, value double"

    def simpleStreamReader(self, schema) -> RangeEventsStreamReader:
        return RangeEventsStreamReader(self.options)


def register_synth_stream_source(spark) -> None:
    _register_once(
        spark,
        "_dmrs_synth_stream_source_registered",
        RangeEventsStreamDataSource,
    )


def pysource_stream_events(spark, sf_dir: str):
    """Registry entry: the custom STREAMING source consumed to
    exhaustion (8 offset chunks -> 8 micro-batches), aggregated per
    bucket in complete mode. The offset log + readBetweenOffsets
    replay give the exactly-once contract a real feed connector
    needs. availableNow captures only the first prefetched chunk of a
    Simple stream reader, so the query runs on the default ASAP
    trigger and is stopped once the aggregate accounts for every
    generated row — the bounded-drain pattern for a finite feed.
    Counts are order-insensitive, so the converged state is
    deterministic and carries the generate_series full oracle over
    ALL ids (no pushdown in the stream path — bounds come from the
    source options)."""
    import tempfile as _tf
    import time as _time
    import uuid as _uuid

    from pyspark.sql import functions as F

    from distributed_mapreduce_server_spark.functions import fround

    register_synth_stream_source(spark)
    stream = (
        spark.readStream.format(STREAM_SOURCE_NAME)
        .option("n_rows", QUERY_ROWS)
        .option("chunk", STREAM_CHUNK)
        .load()
    )
    agg = stream.groupBy("bucket").agg(
        F.count("*").alias("n"),
        fround(F.sum("value"), 2).alias("total_value"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
    )
    name = f"mem_{_uuid.uuid4().hex[:12]}"
    ckpt = _tf.mkdtemp(prefix="dmrs_pysrc_ckpt_")
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .start()
    )
    deadline = _time.monotonic() + 180
    try:
        while _time.monotonic() < deadline:
            if q.exception() is not None:
                raise q.exception()  # fail NOW, not after the timeout
            row = (
                spark.table(name).agg(F.sum("n").alias("total")).collect()[0]
            )
            if (row["total"] or 0) >= QUERY_ROWS:
                break
            _time.sleep(0.25)
        else:
            raise TimeoutError(
                f"custom stream did not drain {QUERY_ROWS} rows in 180s"
            )
        # materialize the (16-row) converged state locally so the
        # memory-sink view and checkpoint dir can be released — a
        # long-lived session otherwise accretes one of each per call
        result = spark.createDataFrame(
            spark.table(name).collect(), spark.table(name).schema
        )
    finally:
        q.stop()
        q.awaitTermination()
        spark.catalog.dropTempView(name)
        import shutil as _sh

        _sh.rmtree(ckpt, ignore_errors=True)
    return result.orderBy("bucket")


def pysource_stream_oracle() -> str:
    return _series_oracle(0)


PYSOURCE_ORACLES = {
    "pysource_range_events": pysource_oracle(),
    "pysource_stream_events": pysource_stream_oracle(),
}


# --- write path: a custom SINK with two-phase commit ----------------
# Executors write staged part files and return commit messages; the
# driver's commit() atomically promotes the staged files into the
# reference manager's outputfileNN layout plus a _MANIFEST — the
# task-retry-safe pattern every real sink (object store, DB loader)
# uses: an aborted/retried task's stage file is simply never
# promoted.


@dataclass
class _PartFileCommit(WriterCommitMessage):
    part_id: int
    staged_path: str
    n_rows: int


class OutputFileWriter(DataSourceWriter):
    def __init__(self, options, overwrite: bool) -> None:
        self.path = options.get("path")
        if not self.path:
            raise ValueError("dmrs_outputfiles sink requires option 'path'")
        self.overwrite = overwrite

    def write(self, iterator):
        """Executor-side: stream this partition's rows to a staged
        tab-separated file (key\\tvalue lines — the reference's
        reducer output format)."""
        import os
        import uuid as _uuid

        from pyspark import TaskContext

        part_id = TaskContext.get().partitionId()
        stage_dir = os.path.join(self.path, "_staging")
        os.makedirs(stage_dir, exist_ok=True)
        staged = os.path.join(stage_dir, f"part-{part_id}-{_uuid.uuid4().hex}")
        n = 0
        with open(staged, "w", encoding="utf-8") as fh:
            for row in iterator:
                fh.write("\t".join(str(v) for v in row) + "\n")
                n += 1
        return _PartFileCommit(part_id=part_id, staged_path=staged, n_rows=n)

    def commit(self, messages):
        """Driver-side, once per successful job: promote exactly the
        committed attempts to outputfileNN (reference layout), write
        the _MANIFEST, drop the staging dir (losing any orphaned
        retry attempts). mode('overwrite') additionally removes any
        outputfileNN left by a previous job that this one did not
        replace — otherwise the directory would mix two jobs' output
        while the manifest lists only the new one."""
        import json as _json
        import os
        import shutil

        manifest = []
        written = set()
        for m in messages:
            fname = f"outputfile{m.part_id:02d}"
            os.replace(m.staged_path, os.path.join(self.path, fname))
            written.add(fname)
            manifest.append({"file": fname, "n_rows": m.n_rows})
        if self.overwrite:
            for fname in os.listdir(self.path):
                if fname.startswith("outputfile") and fname not in written:
                    os.remove(os.path.join(self.path, fname))
        with open(os.path.join(self.path, "_MANIFEST"), "w") as fh:
            _json.dump(sorted(manifest, key=lambda r: r["file"]), fh)
        shutil.rmtree(os.path.join(self.path, "_staging"), ignore_errors=True)

    def abort(self, messages):
        import shutil
        import os

        shutil.rmtree(os.path.join(self.path, "_staging"), ignore_errors=True)


class OutputFilesDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return SINK_NAME

    def writer(self, schema, overwrite: bool) -> OutputFileWriter:
        return OutputFileWriter(self.options, overwrite)


def register_outputfiles_sink(spark) -> None:
    _register_once(
        spark, "_dmrs_outputfiles_sink_registered", OutputFilesDataSource
    )
