"""Structured Streaming jobs (SURVEY.md §2.7).

The events table replayed as a file stream: watermarked tumbling-window
aggregation, and stateful gap sessionization via
applyInPandasWithState. Both run with the availableNow trigger so
batch-equivalence is testable (stream result == the batch operators in
operators/events.py), which is also how a backfill over 100 TB of
history would run: same code, bounded trigger.

A file stream needs its schema up front: every stream here takes it
from the table's parquet footer through the catalog (no Spark job),
and the events stream converts ts with the catalog's own
``normalize_timestamps``.
"""

from __future__ import annotations

import math
import tempfile
import uuid

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import StringType, StructField, StructType

from distributed_mapreduce_server_spark.catalog import normalize_timestamps, parquet_footer
from distributed_mapreduce_server_spark.operators.events import SESSION_GAP_SECONDS
from distributed_mapreduce_server_spark.functions import fround


def _table_stream(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Table ``name`` replayed as a file stream with its footer schema,
    columns as on disk (ts of events stays bigint nanos or
    TIMESTAMP_NTZ). The sf dir holds one parquet file per table; the
    file-stream source wants a directory, so glob-filter down to the
    table's file."""
    path = f"{sf_dir}/{name}.parquet"
    return (
        spark.readStream.schema(parquet_footer(path)[0])
        .format("parquet")
        .option("pathGlobFilter", f"{name}.parquet")
        .load(sf_dir)
    )


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events stream with ts as TIMESTAMP, converted exactly like
    the batch catalog converts it."""
    return normalize_timestamps("events", _table_stream(spark, sf_dir, "events"))


def _read_written(spark: SparkSession, schema: StructType, *paths: str) -> DataFrame:
    """Parquet this module wrote, read with the schema it wrote (no
    inference job). A path never written (no micro-batch had rows)
    reads as no rows, so an empty stream gives an empty frame of that
    schema; hive partition dirs still add their columns."""
    import os

    return spark.read.schema(schema).parquet(*[p for p in paths if os.path.isdir(p)])


def _run_to_memory(stream_df: DataFrame, output_mode: str) -> DataFrame:
    """Execute with availableNow into a memory sink; return the result
    as a batch DataFrame.

    The result is re-materialized locally (these jobs' outputs are
    aggregate/session-sized, not corpus-sized) so the memory-sink
    temp view and checkpoint directory can be released immediately —
    a long-lived session running the full registry repeatedly would
    otherwise accrete one of each per call."""
    import shutil

    spark = stream_df.sparkSession
    name = f"mem_{uuid.uuid4().hex[:12]}"
    ckpt = tempfile.mkdtemp(prefix="dmrs_ckpt_")
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
        sink = spark.table(name)
        result = spark.createDataFrame(sink.collect(), sink.schema)
    finally:
        spark.catalog.dropTempView(name)
        shutil.rmtree(ckpt, ignore_errors=True)
    return result


def stream_events_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-h windowed aggregation with a 10-min watermark.

    Note: the raw events carry ns-precision parquet timestamps read as
    long; the stream converts exactly like the batch catalog does.
    """
    ev = _events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").start.alias("window_start"), "event_type")
        .agg(F.count("*").alias("n_events"), fround(F.sum("value"), 2).alias("total_value"))
    )
    out = _run_to_memory(agg, "complete")
    return out.orderBy("window_start", "event_type")


SESSION_OUT_SCHEMA = (
    "user_id long, session_seq long, n_events long, "
    "session_start timestamp, session_end timestamp, session_value double"
)
SESSION_STATE_SCHEMA = "session_seq long, last_ts long, start_ts long, n long, value double"


def _sessionize_group(key, pdfs, state: GroupState):
    """Stateful reducer: one state row per user; closes a session when
    the gap exceeds SESSION_GAP_SECONDS, emits closed sessions."""
    (user_id,) = key
    if state.exists:
        session_seq, last_ts, start_ts, n, value = state.get
    else:
        session_seq, last_ts, start_ts, n, value = 0, None, None, 0, 0.0

    # Scaled half-away-from-zero like the batch operator's fround (the
    # DuckDB ROUND semantics) — see functions.fround_scalar, the one
    # scalar-tier home for the tie handling.
    from distributed_mapreduce_server_spark.functions import fround_scalar as _round2

    gap_us = SESSION_GAP_SECONDS * 1_000_000
    closed = []
    # Arrow delivers the group as MULTIPLE chunks (capped by
    # maxRecordsPerBatch) in shuffle-arbitrary order — sorting each
    # chunk independently would interleave event time across chunks
    # for large groups, so concatenate the whole group FIRST, then
    # impose the batch operator's total order once.
    chunks = [pdf for pdf in pdfs if len(pdf)]
    if chunks:
        pdf = pd.concat(chunks, ignore_index=True).sort_values(["ts", "event_id"])
        for ts, val in zip(pdf["ts"], pdf["value"]):
            ts_us = int(ts.value // 1000)
            if last_ts is None or ts_us - last_ts > gap_us:
                if last_ts is not None:
                    closed.append((user_id, session_seq, n, start_ts, last_ts, _round2(value)))
                session_seq += 1
                start_ts, n, value = ts_us, 0, 0.0
            n += 1
            value += float(val)
            last_ts = ts_us
    state.update((session_seq, last_ts, start_ts, n, value))
    if closed:
        yield pd.DataFrame(
            [
                {
                    "user_id": u,
                    "session_seq": s,
                    "n_events": n_,
                    "session_start": pd.Timestamp(st, unit="us"),
                    "session_end": pd.Timestamp(en, unit="us"),
                    "session_value": v,
                }
                for (u, s, n_, st, en, v) in closed
            ]
        )


def stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator: gap sessionization over the event
    stream (applyInPandasWithState). Emits sessions as they close;
    the final still-open session per user stays in state — asserted
    against the batch sessionizer in tests."""
    ev = _events_stream(spark, sf_dir)
    sessions = ev.groupBy("user_id").applyInPandasWithState(
        _sessionize_group,
        outputStructType=SESSION_OUT_SCHEMA,
        stateStructType=SESSION_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    out = _run_to_memory(sessions, "update")
    return out.orderBy("user_id", "session_seq")


def stream_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup: the documents table replayed as a file
    stream, fingerprinted and reduced with a stateful streaming
    aggregation (complete mode).

    groupBy(fingerprint).agg(min, count) instead of dropDuplicates:
    arrival order inside a micro-batch is nondeterministic, so "first
    seen wins" would be flaky — the min-aggregation is deterministic
    and exactly equals the batch dedup_exact, which is also its
    oracle. On an unbounded stream this runs in update mode with a
    watermark on an ingest-time column to bound state.
    """
    from distributed_mapreduce_server_spark.functions import tokens

    docs = _table_stream(spark, sf_dir, "documents")
    fp = F.md5(F.array_join(tokens("text"), " "))
    agg = (
        docs.select("doc_id", fp.alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keep_doc_id"))
    )
    out = _run_to_memory(agg, "complete")
    return out.orderBy("keep_doc_id")


def stream_static_join_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the event stream enriched with the customer
    dim (a static broadcast side — Spark re-reads it per micro-batch,
    so slowly-changing dims stay fresh), then watermarked tumbling
    windows per market segment.

    Deterministic, so it carries a full SQL oracle like the batch ops.
    """
    from pyspark.sql.functions import broadcast

    ev = _events_stream(spark, sf_dir)
    cust_path = f"{sf_dir}/customer.parquet"
    cust = spark.read.schema(parquet_footer(cust_path)[0]).parquet(cust_path).select(
        "c_custkey", "c_mktsegment"
    )
    joined = ev.join(broadcast(cust), ev.user_id == cust.c_custkey)
    agg = (
        joined.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").start.alias("window_start"), "c_mktsegment")
        .agg(F.count("*").alias("n_events"), fround(F.sum("value"), 2).alias("total_value"))
    )
    out = _run_to_memory(agg, "complete")
    return out.orderBy("window_start", "c_mktsegment")


ATTRIBUTION_WINDOW = "1 hour"


def _click_purchase_join(spark: SparkSession, sf_dir: str, how: str) -> DataFrame:
    """Shared body of the stream-stream click->purchase range joins:
    both watermarked sides, the range predicate, and the output
    projection live HERE so the inner and left-outer variants cannot
    drift (only the join type differs)."""

    def side(event_type: str, prefix: str) -> DataFrame:
        s = _events_stream(spark, sf_dir).filter(F.col("event_type") == event_type)
        return s.select(
            F.col("event_id").alias(f"{prefix}_id"),
            F.col("user_id").alias(f"{prefix}_user"),
            F.col("ts").alias(f"{prefix}_ts"),
        ).withWatermark(f"{prefix}_ts", "1 day")

    clicks = side("click", "click")
    purchases = side("purchase", "purchase")
    joined = clicks.join(
        purchases,
        (F.col("click_user") == F.col("purchase_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr(f"INTERVAL {ATTRIBUTION_WINDOW}")),
        how,
    ).select(
        F.col("click_user").alias("user_id"),
        "click_id",
        "purchase_id",
        (F.col("purchase_ts").cast("long") - F.col("click_ts").cast("long")).alias(
            "delay_sec"
        ),
    )
    out = _run_to_memory(joined, "append")
    return out.orderBy("user_id", "click_id", "purchase_id")


def stream_click_purchase_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with an event-time range condition:
    each purchase attributed to the same user's clicks in the prior
    hour (ad-attribution shape). Both sides are the event stream,
    filtered; watermarks + the time-range predicate bound the join
    state Spark keeps (without them state grows forever on an
    unbounded stream). Inner-join output is append-mode and
    deterministic, so this carries the full SQL oracle."""
    return _click_purchase_join(spark, sf_dir, "inner")


def stream_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's flagship wordcount job as an incremental stream:
    documents replayed as a file stream, tokenized, reduced with a
    stateful streaming aggregation. This is the reference's map ->
    shuffle -> reduce pipeline (wc_map.sh | sort | wc_reduce.sh) in
    micro-batch form — new files only ever touch their own tokens, the
    running per-word state does the merge the reference re-sorts for.
    Deterministic (counts are order-insensitive), so unlike most
    streaming jobs it carries the FULL batch oracle (mr_wordcount's).
    """
    from distributed_mapreduce_server_spark.functions import tokens

    docs = _table_stream(spark, sf_dir, "documents")
    agg = (
        docs.select(F.explode(tokens("text")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )
    out = _run_to_memory(agg, "complete")
    return out.orderBy(F.desc("cnt"), "word")


def stream_ingest_partitioned(
    spark: SparkSession, sf_dir: str, out_dir: str, ckpt_dir: str
) -> StructType:
    """The canonical ingest pipeline: the event stream written to a
    date-partitioned parquet sink (hive layout, one directory per
    event_date) with the file sink's exactly-once manifest + the
    checkpoint for restart recovery. availableNow here; on an
    unbounded stream the same code runs with a processing-time
    trigger. Downstream batch queries on the sink get partition
    pruning on event_date for free. Returns the sink's schema, so a
    reader needs no inference job (nor files: an empty source lands
    none)."""
    ev = _events_stream(spark, sf_dir).withColumn("event_date", F.to_date("ts"))
    q = (
        ev.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt_dir)
        .partitionBy("event_date")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return ev.schema


def stream_ingest_readback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry wrapper for stream_ingest_partitioned: run the ingest
    into a fresh scratch sink, then read the sink BACK through the
    batch reader — the parity check is over the landed files, so the
    oracle verifies the whole write path (manifest commit included),
    not just the in-memory stream. Deterministic under availableNow:
    the sink holds exactly the source events, value-for-value, plus
    the derived hive partition column. The sink is read with the
    schema the ingest wrote, so an empty events table reads back as
    0 rows instead of failing Spark's schema inference."""
    import hashlib
    import shutil

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    base = f"{tempfile.gettempdir()}/dmrs_stream_ingest_{tag}"
    shutil.rmtree(base, ignore_errors=True)  # fresh run each call
    out_dir, ckpt_dir = f"{base}/out", f"{base}/ckpt"
    schema = stream_ingest_partitioned(spark, sf_dir, out_dir, ckpt_dir)
    return (
        spark.read.schema(schema).parquet(out_dir)
        .select(
            "event_id",
            "ts",
            "user_id",
            "event_type",
            fround(F.col("value"), 2).alias("value"),
            "props",
            # date -> ntz timestamp: the comparators (driver + DuckDB
            # pandas fetch) normalize dates inconsistently; midnight
            # timestamps hash identically in both engines
            F.col("event_date").cast("timestamp_ntz").alias("event_date"),
        )
        .orderBy("event_id")
    )


TRENDING_SLIDE_MINUTES = 30
TRENDING_WINDOW_MINUTES = 60
TRENDING_TOP_K = 3


def stream_trending_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window trending: top-K event types per overlapping
    1-hour window sliding every 30 minutes (each event contributes to
    2 windows) — the "what's hot right now" streaming dashboard.

    The streaming agg holds one state row per (window, event_type):
    fixed-cardinality state no matter the event volume, watermark
    bounds window count. The top-K rank is a batch window function
    over the complete-mode result — ranking is not an incremental
    streaming op, and a production job would rank in the serving
    layer; the streaming part is exactly the sliding counts.
    Complete-mode deterministic -> full SQL oracle."""
    ev = _events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(
            F.window(
                "ts",
                f"{TRENDING_WINDOW_MINUTES} minutes",
                f"{TRENDING_SLIDE_MINUTES} minutes",
            ),
            "event_type",
        )
        .agg(F.count("*").alias("n"), F.sum("value").alias("win_value"))
    )
    out = _run_to_memory(agg, "complete")
    from pyspark.sql.window import Window

    rk = Window.partitionBy("window").orderBy(F.desc("n"), "event_type")
    return (
        out.withColumn("rank", F.row_number().over(rk))
        .filter(F.col("rank") <= TRENDING_TOP_K)
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n",
            fround(F.col("win_value"), 2).alias("win_value"),
            "rank",
        )
        .orderBy("window_start", "rank")
    )


def stream_trending_topk_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stream_trending_topk's unbounded-stream form: APPEND mode, so a
    sliding window is emitted exactly once — when the watermark passes
    its end — instead of the complete-mode re-emission of all state
    every trigger (fine under availableNow, quadratic on a live
    stream). The cost: windows still open at the end of input (end >
    final watermark) are never emitted; that cutoff is deterministic
    (window_end <= max_ts - 10min, equality EMITS — same empirically
    verified predicate as stream_session_window_native), so the oracle
    replicates it and the job keeps full value parity."""
    ev = _events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(
            F.window(
                "ts",
                f"{TRENDING_WINDOW_MINUTES} minutes",
                f"{TRENDING_SLIDE_MINUTES} minutes",
            ),
            "event_type",
        )
        .agg(F.count("*").alias("n"), F.sum("value").alias("win_value"))
    )
    out = _run_to_memory(agg, "append")
    from pyspark.sql.window import Window

    rk = Window.partitionBy("window").orderBy(F.desc("n"), "event_type")
    return (
        out.withColumn("rank", F.row_number().over(rk))
        .filter(F.col("rank") <= TRENDING_TOP_K)
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n",
            fround(F.col("win_value"), 2).alias("win_value"),
            "rank",
        )
        .orderBy("window_start", "rank")
    )


UPSERT_BUCKETS = 16


def _upsert_bucket():
    """The state table's hive partition column, bucket = hash(user_id)
    mod UPSERT_BUCKETS."""
    return F.pmod(F.xxhash64("user_id"), F.lit(UPSERT_BUCKETS)).cast("int")


def upsert_apply_batch(state_dir: str):
    """foreachBatch body for the hash-bucketed CDC upsert sink
    (module-level so tests can drive micro-batches directly).

    Per batch: reduce to per-key latest, tag each row with
    bucket = hash(user_id) mod UPSERT_BUCKETS, read back only the
    touched ``bucket=N`` partitions of the state table (the filter is
    on the hive partition column, so pruning happens at file listing
    — untouched buckets are never opened), merge, write the touched
    buckets to a staging dir, and swap exactly those bucket
    directories in. Untouched bucket files keep their identity
    (mtime-asserted in tests)."""
    import os
    import shutil

    from pyspark.sql.window import Window

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        # Crash recovery BEFORE touching anything: a previous attempt
        # may have moved a live bucket into the trash sibling without
        # installing its replacement. Restore any bucket missing from
        # the live table, then clear the trash — the checkpointed
        # replay re-merges the same batch idempotently (latest-wins).
        # The trash lives BESIDE the dataset, never inside it: a
        # stray dir under state_dir would poison Spark's partition
        # inference ('bucket=5._old' -> bucket becomes a string
        # column and .isin([5]) silently drops the history).
        trash = state_dir + "._trash"
        if os.path.isdir(trash):
            for d in os.listdir(trash):
                dst = os.path.join(state_dir, d)
                if not os.path.exists(dst):
                    os.replace(os.path.join(trash, d), dst)
            shutil.rmtree(trash, ignore_errors=True)
        w = Window.partitionBy("user_id", "event_type").orderBy(
            F.desc("ts"), F.desc("event_id")
        )
        latest = (
            batch_df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
            .withColumn("bucket", _upsert_bucket())
        )
        latest = latest.persist()
        touched = sorted(
            r["bucket"] for r in latest.select("bucket").distinct().collect()
        )
        if not touched:  # empty micro-batch: nothing to rewrite
            latest.unpersist()
            return
        if os.path.isdir(state_dir):
            # partition-pruned read: only the touched bucket dirs
            current = _read_written(sess, latest.schema, state_dir).filter(
                F.col("bucket").isin(touched)
            )
            merged = (
                current.unionByName(latest)
                .withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") == 1)
                .drop("rn")
            )
        else:
            merged = latest
        tmp = state_dir + ".next"
        shutil.rmtree(tmp, ignore_errors=True)
        merged.write.mode("overwrite").partitionBy("bucket").parquet(tmp)
        latest.unpersist()
        if os.path.isdir(state_dir):
            # install ONLY the touched bucket dirs; everything else in
            # the live table is left untouched on disk. Displaced
            # buckets go to the trash sibling and are deleted only
            # after every replacement landed — a crash mid-loop
            # leaves them recoverable by the next attempt's restore.
            os.makedirs(trash, exist_ok=True)
            for b in touched:
                src = os.path.join(tmp, f"bucket={b}")
                dst = os.path.join(state_dir, f"bucket={b}")
                old = os.path.join(trash, f"bucket={b}")
                if os.path.exists(old):
                    shutil.rmtree(old)
                if os.path.isdir(dst):
                    os.replace(dst, old)
                os.replace(src, dst)
            shutil.rmtree(trash, ignore_errors=True)
            shutil.rmtree(tmp, ignore_errors=True)
        else:
            os.replace(tmp, state_dir)

    return apply_batch


def stream_upsert_foreachbatch(
    spark: SparkSession,
    sf_dir: str,
    state_dir: str | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """CDC apply via foreachBatch: the event stream upserts a keyed
    state table (latest row per (user_id, event_type)) maintained as
    parquet — the production sink pattern when the target store has no
    native streaming writer (JDBC, Delta-less parquet, KV stores).

    The state table is laid out in UPSERT_BUCKETS hash partitions of
    the upsert key (hive dirs ``bucket=N``). Each micro-batch reduces
    to its per-key latest, computes which buckets it touches, reads
    back ONLY those partitions (partition pruning on the bucket
    column), merges, and swaps ONLY those bucket directories —
    untouched buckets are never read or rewritten (tests assert their
    files' mtimes are byte-identical across batches). This is the
    plain-parquet realization of MERGE INTO's file pruning: per-batch
    work scales with the batch's key spread, not the accumulated
    state size. The final table must equal the batch
    q_events_latest_per_key — that operator's oracle verifies this
    job end-to-end.

    Pass ``state_dir``/``checkpoint_dir`` to make the job resumable:
    re-running against the same checkpoint is a no-op (the file
    source's offsets are committed, so already-applied batches never
    re-apply — the exactly-once contract tests assert). The pair is
    one atomic unit — committed offsets assume exactly the state
    those batches built — so passing only one of the two is refused
    rather than silently producing divergent (or missing) state."""
    import os

    if (state_dir is None) != (checkpoint_dir is None):
        raise ValueError(
            "state_dir and checkpoint_dir must be passed together: "
            "committed offsets are only valid against the state they built"
        )
    state_dir = state_dir or os.path.join(
        tempfile.gettempdir(), f"dmrs_upsert_{uuid.uuid4().hex[:12]}"
    )
    ev = _events_stream(spark, sf_dir).select(
        "user_id", "event_type", "event_id", "ts", "value"
    )

    q = (
        ev.writeStream.foreachBatch(upsert_apply_batch(state_dir))
        .option(
            "checkpointLocation",
            checkpoint_dir
            or os.path.join(
                tempfile.gettempdir(), f"dmrs_upsert_ck_{uuid.uuid4().hex[:12]}"
            ),
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    final = _read_written(spark, ev.withColumn("bucket", _upsert_bucket()).schema, state_dir)
    return final.select(
        "user_id",
        "event_type",
        F.col("event_id").alias("latest_event_id"),
        F.col("ts").alias("latest_ts"),
        fround(F.col("value"), 2).alias("latest_value"),
    ).orderBy("user_id", "event_type")


def stream_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap sessionization via Spark's NATIVE session_window — the
    idiomatic built-in beside the applyInPandasWithState version
    (stream_sessionize keeps the custom-operator surface; this is
    what a production job should reach for first). State merges
    per-user windows JVM-side; append mode emits a session once the
    watermark passes its end.

    Deterministic under availableNow: the final watermark is
    max(event time) - 10 min, and a session's window end is
    last_ts + gap, so EXACTLY the sessions with
    last_ts + gap <= watermark are emitted (equality EMITS —
    verified empirically with a session end landing exactly on the
    final watermark) — the oracle replicates that cutoff, making
    this rare among sessionizers: a streaming operator with full
    value parity."""
    ev = _events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(
            F.session_window("ts", f"{SESSION_GAP_SECONDS} seconds"), "user_id"
        )
        .agg(
            F.count("*").alias("n_events"),
            fround(F.sum("value"), 2).alias("session_value"),
        )
    )
    out = _run_to_memory(agg, "append")
    return out.select(
        "user_id",
        F.col("session_window.start").alias("session_start"),
        F.col("session_window.end").alias("session_end"),
        "n_events",
        "session_value",
    ).orderBy("user_id", "session_start")


def stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once delivery dedup with the dedicated built-in:
    ``dropDuplicatesWithinWatermark`` over an AT-LEAST-ONCE stream —
    the event stream unioned with itself stands in for a source that
    redelivers every record (Kafka producer retries, replayed
    shards). One state row per key inside the watermark horizon;
    state self-expires as the watermark advances — unlike plain
    streaming ``dropDuplicates``, whose key state grows forever on an
    unbounded stream. THE first streaming operator a 100 TB ingest
    pipeline runs.

    Deterministic despite "first seen wins": the duplicate copies are
    byte-identical, so whichever arrives first yields the same row —
    full value parity against the plain batch table. (For sources
    whose retries can differ per attempt, key-payload determinism
    comes from the stream_dedup_exact min-aggregation instead.)
    """
    a = _events_stream(spark, sf_dir)
    b = _events_stream(spark, sf_dir)
    deduped = (
        a.unionByName(b)
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select(
            "event_id",
            "ts",
            "user_id",
            "event_type",
            fround(F.col("value"), 2).alias("value"),
            "props",
        )
    )
    out = _run_to_memory(deduped, "append")
    return out.orderBy("event_id")


def stream_anomaly_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming 3-sigma anomaly alerting: the event stream filtered
    against PER-TYPE reference statistics computed batch-side from
    history (the operators/events.py q_events_anomaly stats) and
    broadcast onto every micro-batch — the standard "train offline,
    score online" monitoring split. The stream side is a stateless
    filter: no streaming aggregation state at all, so it scales to
    any event rate; refreshing the stats table between micro-batches
    picks up new baselines automatically (Spark re-reads the static
    side per batch).

    Append-mode stateless + deterministic predicate -> carries the
    batch anomaly operator's full SQL oracle.
    """
    from pyspark.sql.functions import broadcast

    from distributed_mapreduce_server_spark.catalog import load_tables
    from distributed_mapreduce_server_spark.operators.events import (
        anomaly_select,
        anomaly_stats,
    )

    # stats come through the catalog (ts normalization + plan cache)
    # and the SAME expression helpers as the batch operator — the
    # shared-oracle contract is structural, not copy-pasted.
    stats = anomaly_stats(
        load_tables(spark, sf_dir, register_views=False)["events"]
    )
    ev = _events_stream(spark, sf_dir)
    flagged = anomaly_select(ev.join(broadcast(stats), "event_type"))
    out = _run_to_memory(flagged, "append")
    return out.orderBy("event_id")


def stream_click_purchase_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER join with an event-time range
    condition: every click, attributed to same-user purchases within
    the following hour, or emitted null-padded once the watermark
    proves no match can arrive. The outer side is the part the inner
    join (stream_click_purchase_join) cannot express — "which ad
    clicks converted, and which did not" in one pass.

    State bounding is identical to the inner join (watermarks + the
    range predicate); the extra semantics is eviction: a click's
    null-padded row is emitted when the global watermark passes the
    end of its match window (click_ts + 1h). Under availableNow the
    final watermark is max(side ts) - 1 day per side, min across
    sides, which the oracle reproduces — clicks whose window end sits
    at or before that cutoff appear exactly once (matched or
    null-padded); later clicks appear only if matched. The emission
    predicate (strict <) was verified empirically at both sf0.001
    and sf0.01 (see tests)."""
    return _click_purchase_join(spark, sf_dir, "left_outer")


ATTR_OUT_SCHEMA = (
    "user_id bigint, purchase_id bigint, channel string, value double"
)
ATTR_STATE_SCHEMA = "lt_type string, lt_ts_us bigint"


def _attribute_group(key, pdfs, state: GroupState):
    """Per-user last-touch attribution with carried state: the most
    recent click/view (type + microsecond timestamp) survives across
    micro-batches; each purchase is emitted with its channel the
    moment it is processed. Rows are sorted by (ts, event_id) inside
    the batch — the same total order the batch operator's window
    uses, so output is deterministic."""
    from distributed_mapreduce_server_spark.operators.events import (
        ATTRIBUTION_TOUCHES,
        ATTRIBUTION_WINDOW_H,
    )

    (user_id,) = key
    if state.exists:
        lt_type, lt_ts_us = state.get
    else:
        lt_type, lt_ts_us = None, None
    window_us = ATTRIBUTION_WINDOW_H * 3600 * 1_000_000
    out_rows = []
    # concat-then-sort: same chunk-ordering rule as _sessionize_group
    # (per-chunk sorting would misorder groups larger than Arrow's
    # maxRecordsPerBatch)
    chunks = [pdf for pdf in pdfs if len(pdf)]
    if chunks:
        pdf = pd.concat(chunks, ignore_index=True).sort_values(["ts", "event_id"])
        for ts, event_id, etype, value in zip(
            pdf["ts"], pdf["event_id"], pdf["event_type"], pdf["value"]
        ):
            ts_us = ts.value // 1000  # pandas ns -> us
            if etype == "purchase":
                if lt_ts_us is not None and lt_ts_us >= ts_us - window_us:
                    channel = lt_type
                else:
                    channel = "direct"
                out_rows.append((user_id, int(event_id), channel, float(value)))
            elif etype in ATTRIBUTION_TOUCHES:
                lt_type, lt_ts_us = etype, ts_us
    state.update((lt_type, lt_ts_us))
    if out_rows:
        yield pd.DataFrame(
            out_rows, columns=["user_id", "purchase_id", "channel", "value"]
        )


def stream_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState:
    last-touch attribution as events arrive. Per-user state is the
    (touch type, touch ts) pair — constant-size per key, the property
    that makes the operator viable on an unbounded stream (unlike
    buffering events). Attributed purchases append as they are
    processed; the analyst-side channel rollup happens on the emitted
    rows. Deterministic under availableNow (in-batch rows are sorted
    into the batch operator's exact (ts, event_id) order), so this
    carries q_events_attribution's FULL batch oracle."""
    ev = _events_stream(spark, sf_dir)
    attributed = ev.groupBy("user_id").applyInPandasWithState(
        _attribute_group,
        outputStructType=ATTR_OUT_SCHEMA,
        stateStructType=ATTR_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    out = _run_to_memory(attributed, "append")
    return (
        out.groupBy("channel")
        .agg(
            F.count("*").alias("n_purchases"),
            fround(F.sum("value"), 2).alias("attributed_value"),
        )
        .orderBy("channel")
    )


def stream_model_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-stage quality filtering on the INGEST stream: each
    arriving document is scored by the fixed-weight logistic model
    (operators/text.py model_quality_frame — the identical expressions
    the batch operator runs) and only keep-scored docs pass — the
    "filter at the door" deployment of the corpus-quality classifier.
    Stateless (no streaming aggregation state at all), so it scales to
    any ingest rate; append-mode deterministic -> carries the batch
    operator's oracle restricted to kept rows."""
    from distributed_mapreduce_server_spark.operators.text import (
        model_quality_frame,
    )

    docs = _table_stream(spark, sf_dir, "documents")
    kept = (
        model_quality_frame(docs)
        .filter(F.col("keep"))
        .select("doc_id", "model_score")
    )
    out = _run_to_memory(kept, "append")
    return out.orderBy("doc_id")


def _minute_partials(events: DataFrame) -> DataFrame:
    """Per-minute (count, raw value sum) rows of ``events``, tagged with
    their ``day``: the rollup state table's rows and schema."""
    return (
        events.groupBy(F.date_trunc("minute", "ts").alias("bucket_start"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .withColumn("day", F.date_format("bucket_start", "yyyy-MM-dd"))
    )


def rollup_apply_batch(state_dir: str):
    """foreachBatch body for stream_hierarchical_rollup: ADDITIVE merge
    of the micro-batch's minute partials into a day-partitioned minute
    state table. Counts and raw value sums are mergeable monoids, so a
    minute split across micro-batches converges to the same state as a
    single-batch run — rounding happens only at readback.

    Per-batch work is bounded by the batch's event-time spread: the
    batch's touched DAYS are read back (hive partition pruning on the
    day dir), merged additively, and only those day directories are
    swapped — yesterday's rollups are never rewritten once the stream
    has moved on. This is the watermark-bounded incremental
    continuous-aggregate shape: state touched per batch ~ lateness
    horizon, not stream lifetime."""
    import os
    import shutil

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        partial = _minute_partials(batch_df).persist()
        touched = sorted(r["day"] for r in partial.select("day").distinct().collect())
        if not touched:
            partial.unpersist()
            return
        if os.path.isdir(state_dir):
            current = _read_written(sess, partial.schema, state_dir).filter(
                F.col("day").isin(touched)
            )
            merged = (
                current.unionByName(partial)
                .groupBy("day", "bucket_start")
                .agg(
                    F.sum("n_events").alias("n_events"),
                    F.sum("sum_value").alias("sum_value"),
                )
            )
        else:
            merged = partial
        tmp = state_dir + ".next"
        shutil.rmtree(tmp, ignore_errors=True)
        merged.write.mode("overwrite").partitionBy("day").parquet(tmp)
        partial.unpersist()
        if os.path.isdir(state_dir):
            for d in touched:
                src = os.path.join(tmp, f"day={d}")
                dst = os.path.join(state_dir, f"day={d}")
                if os.path.isdir(dst):
                    shutil.rmtree(dst)
                os.replace(src, dst)
            shutil.rmtree(tmp, ignore_errors=True)
        else:
            os.replace(tmp, state_dir)

    return apply_batch


def stream_hierarchical_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of q_events_hierarchical_rollup: the event
    stream maintains the MINUTE-level partial state incrementally
    (rollup_apply_batch: additive day-partitioned merge), and the
    hour/day levels are derived from that state by the SAME cascade
    the batch operator runs (operators/events.py rollup_cascade) —
    coarser levels are free once the minute partials exist, which is
    the entire point of the continuous-aggregate pattern. availableNow
    drains everything, so the final state equals the batch minute
    aggregation and the job carries the batch operator's full oracle."""
    import os

    from distributed_mapreduce_server_spark.operators.events import rollup_cascade

    state_dir = os.path.join(
        tempfile.gettempdir(), f"dmrs_rollup_{uuid.uuid4().hex[:12]}"
    )
    ev = _events_stream(spark, sf_dir).select("ts", "value")
    q = (
        ev.writeStream.foreachBatch(rollup_apply_batch(state_dir))
        .option(
            "checkpointLocation",
            os.path.join(tempfile.gettempdir(), f"dmrs_rollup_ck_{uuid.uuid4().hex[:12]}"),
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    minute = _read_written(spark, _minute_partials(ev).schema, state_dir).select(
        "bucket_start",
        "n_events",
        fround(F.col("sum_value"), 2).alias("total_value"),
    )
    return rollup_cascade(minute)


def stream_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phrase matching at the ingest door: each arriving document's
    adjacent-token bigrams are matched against the query phrases
    (operators/search.py PHRASE_QUERIES) and counted with a stateful
    streaming aggregation — live phrase-alerting over a document
    stream. Bigram extraction is per-row (stateless; the positional
    join the batch operator uses isn't needed because adjacency is
    local to a document), so the only streaming state is the K-row
    phrase-count table. Complete-mode counts are deterministic; the
    oracle is the batch phrase oracle minus its distinct-doc column
    (distinct aggregation is unsupported in streaming — the
    stream_events_windowed precedent)."""
    from distributed_mapreduce_server_spark.functions import tokens
    from distributed_mapreduce_server_spark.operators.search import PHRASE_QUERIES

    docs = _table_stream(spark, sf_dir, "documents")
    toks = docs.select(tokens("text").alias("toks")).filter(F.size("toks") >= 2)
    bigrams = toks.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(toks) - 1), "
                "i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))"
            )
        ).alias("phrase")
    )
    agg = (
        bigrams.filter(F.col("phrase").isin(*PHRASE_QUERIES))
        .groupBy("phrase")
        .agg(F.count("*").alias("n_occurrences"))
    )
    out = _run_to_memory(agg, "complete")
    return out.orderBy("phrase")


def stream_error_rate_slo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SLO burn-rate table maintained ON THE STREAM: hourly
    (total, error) counts are the only streaming state — mergeable
    monoids under a complete-mode aggregation, so the table is
    incrementally correct at any drain point — and the daily
    reduction (breach hours, worst hour) runs over the drained
    hourly frame through the SAME helper the batch operator uses
    (operators/events.py slo_from_hourly), so the two cannot drift
    and the job carries the batch oracle."""
    from distributed_mapreduce_server_spark.operators.events import slo_from_hourly

    ev = _events_stream(spark, sf_dir)
    agg = ev.groupBy(F.date_trunc("hour", "ts").alias("hour")).agg(
        F.count("*").alias("n"),
        F.sum((F.col("event_type") == "error").cast("long")).alias("n_err"),
    )
    hourly = _run_to_memory(agg, "complete")
    return slo_from_hourly(hourly)


def stream_kl_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-shift monitoring ON THE INGEST STREAM (round 8):
    per-source unigram token counts maintained as streaming
    aggregation state, with KL(P_source || P_corpus) computed from
    the drained state — the live twin of
    text_source_kl_divergence's batch audit ("is today's crawl of
    source X starting to look unlike the corpus?").

    Scale shape: the ONLY streaming state is the (source, token)
    count table — vocabulary-bounded, never stream-length-bounded
    (the state a counting drift monitor must carry anyway); the KL
    fold over the drained counts is vocab-scale batch math shared
    verbatim with the batch operator (operators/text.py
    kl_from_source_counts). Complete-mode under availableNow drains
    to exactly the batch counts -> carries the batch oracle with
    full value parity."""
    from distributed_mapreduce_server_spark.functions import tokens
    from distributed_mapreduce_server_spark.operators.text import (
        kl_from_source_counts,
    )

    docs = _table_stream(spark, sf_dir, "documents")
    counts = (
        docs.select("source", F.explode(tokens("text")).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count("*").alias("n_st"))
    )
    per_src = _run_to_memory(counts, "complete")
    return kl_from_source_counts(per_src)


def stream_burst_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst-episode detection ON THE STREAM (round 8): per-(type,
    hour) counts maintained as streaming aggregation state, the
    gaps-and-islands episode fold applied to the drained state — the
    live twin of q_events_burst_detection ("which spikes are running
    right now, and how long have they run").

    Scale shape: streaming state = the (type x hour) count table —
    calendar-bounded, not stream-length-bounded (with a watermark the
    retained window would bound it further; availableNow drains the
    whole history here); the island fold is the batch operator's own
    (operators/events.bursts_from_hourly), so the two can never
    diverge. Complete-mode under availableNow == batch counts ->
    carries the full batch oracle."""
    from distributed_mapreduce_server_spark.operators.events import (
        bursts_from_hourly,
    )

    ev = _table_stream(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("m")
    ).agg(F.count("*").alias("n"))
    mc = _run_to_memory(hourly, "complete")
    return bursts_from_hourly(mc)


# ---------------------------------------------------------------------------
# Streaming near-dup INGEST (round 10, VERDICT r9 task 7): the
# dedup_incremental_neardup_indexed day-2 loop as a live stream — each
# micro-batch of arriving documents is scored against the STORED
# historical band/shingle index plus every previously-streamed doc,
# statuses land in an append sink, kept docs in another, and the
# extension index grows per batch (the stream_upsert_foreachbatch
# state discipline: all mutable state lives in lake tables the
# foreachBatch body owns; the historical index is READ-ONLY — the
# mtime test pins that its partitions are never rewritten).
# ---------------------------------------------------------------------------

NEARDUP_STREAM_FILES = 4  # staged id-range files -> micro-batches


def neardup_apply_batch(index_dir: str, state_dir: str, cutoff: int):
    """foreachBatch body for stream_neardup_ingest. Per micro-batch:
    shingle/band the batch docs ONLY; candidates = batch bands vs
    (historical index bands ∪ extension bands ∪ in-batch smaller-id
    bands); verification fetches only candidate docs' shingle sets
    (semi-join pruning, the batch operator's discipline); statuses
    and kept docs APPEND; the batch's bands/shingles/sizes append to
    the extension tables — ALL processed docs extend the index, not
    just kept ones, because the batch semantics compare an arriving
    doc against every earlier-id doc regardless of that doc's own
    status (dedup_incremental_neardup's cand_batch join).

    Determinism: the staged source files are id-range-sorted and
    processed oldest-first, so every doc sees exactly the docs with
    smaller ids — any batching of an id-ordered stream yields the
    batch operator's statuses, which is what lets this job carry the
    batch oracle under availableNow.

    Crash consistency (round 12): foreachBatch is at-least-once, so
    every sink write is a per-batch OVERWRITE into a ``batch=<id>``
    hive subdir instead of a blind append — a replay of batch N
    rewrites exactly batch N's rows (byte-identical: the body is
    deterministic given the same micro-batch and prior state) and can
    never duplicate them. The extension-index reads take ONLY
    ``batch < batch_id``: a crash that landed batch N's own bands
    before dying must not let the replay score batch N against its
    own partial output (every doc would self-collide at jaccard 1.0
    and be mis-flagged neardup_in_batch). Write order is therefore
    irrelevant — the mid-batch-crash test kills between the
    extension append and the status append and replays."""
    import os

    from distributed_mapreduce_server_spark.operators.dedup import (
        JACCARD_T,
        _minhash_bands,
        _pair_jaccard,
        _shingle_rows_from,
    )

    def _prior(sess, d: str, batch_id: int, schema: StructType):
        """Frame of every batch < batch_id landed under d (each written
        with ``schema``), or None.
        Partition inference turns the batch=N subdirs into an int
        column; incomplete replay leftovers (the current batch's own
        subdir) are excluded by the filter."""
        if not os.path.isdir(d):
            return None
        prior = [
            x
            for x in os.listdir(d)
            if x.startswith("batch=") and int(x.split("=", 1)[1]) < batch_id
        ]
        if not prior:
            return None
        return _read_written(sess, schema, *[f"{d}/{x}" for x in prior]).drop("batch")

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        batch_docs = batch_df.select("doc_id", "text")
        eb = _shingle_rows_from(spark, batch_docs, 32).persist()
        eb.count()
        sigb, bandsb = _minhash_bands(eb)
        sigb = sigb.persist()
        sigb.count()
        bandsb = bandsb.persist()
        bandsb.count()
        sizesb = sigb.select("doc_id", "n_sh")

        # the index tables hold the same shapes as this batch's frames
        # (dedup_index_build runs the same shingle and band functions)
        idx_bands = _read_written(spark, bandsb.schema, f"{index_dir}/bands")
        old_sides = [idx_bands]
        ext_bands_dir = f"{state_dir}/ext_bands"
        ext_bands = _prior(spark, ext_bands_dir, batch_id, bandsb.schema)
        if ext_bands is not None:
            old_sides.append(ext_bands)
        bb = bandsb.alias("bb")
        cands = []
        for old in old_sides:
            ob = old.alias("ob")
            cands.append(
                ob.join(
                    bb,
                    (F.col("ob.band_idx") == F.col("bb.band_idx"))
                    & (F.col("ob.band_sig") == F.col("bb.band_sig")),
                ).select(
                    F.col("ob.doc_id").alias("doc_a"),
                    F.col("bb.doc_id").alias("doc_b"),
                )
            )
        b1, b2 = bandsb.alias("b1"), bandsb.alias("b2")
        cands.append(
            b1.join(
                b2,
                (F.col("b1.band_idx") == F.col("b2.band_idx"))
                & (F.col("b1.band_sig") == F.col("b2.band_sig"))
                & (F.col("b1.doc_id") < F.col("b2.doc_id")),
            ).select(F.col("b1.doc_id").alias("doc_a"), F.col("b2.doc_id").alias("doc_b"))
        )
        cand = cands[0]
        for c in cands[1:]:
            cand = cand.unionByName(c)
        cand = cand.distinct().persist()
        cand.count()

        cand_ids = (
            cand.select(F.col("doc_a").alias("doc_id"))
            .unionByName(cand.select(F.col("doc_b").alias("doc_id")))
            .distinct()
        )
        idx_sh = _read_written(spark, eb.schema, f"{index_dir}/shingles")
        idx_sz = _read_written(spark, sizesb.schema, f"{index_dir}/sizes")
        e_sides = [eb, idx_sh.join(cand_ids, "doc_id", "left_semi")]
        size_sides = [sizesb, idx_sz.join(cand_ids, "doc_id", "left_semi")]
        ext_sh = _prior(spark, f"{state_dir}/ext_shingles", batch_id, eb.schema)
        ext_sz = _prior(spark, f"{state_dir}/ext_sizes", batch_id, sizesb.schema)
        if ext_sh is not None:
            e_sides.append(ext_sh.join(cand_ids, "doc_id", "left_semi"))
        if ext_sz is not None:
            size_sides.append(ext_sz.join(cand_ids, "doc_id", "left_semi"))
        e_all = e_sides[0]
        for s in e_sides[1:]:
            e_all = e_all.unionByName(s)
        sizes = size_sides[0]
        for s in size_sides[1:]:
            sizes = sizes.unionByName(s)

        pairs = _pair_jaccard(e_all, cand, sizes=sizes).filter(
            F.col("jaccard") >= JACCARD_T
        )
        flags = pairs.groupBy(F.col("doc_b").alias("doc_id")).agg(
            F.max(F.col("doc_a") < F.lit(cutoff)).alias("from_index")
        )
        status = (
            batch_docs.select("doc_id")
            .join(flags, "doc_id", "left")
            .select(
                "doc_id",
                F.when(F.col("from_index"), F.lit("neardup_of_index"))
                .when(F.col("from_index") == F.lit(False), F.lit("neardup_in_batch"))
                .otherwise(F.lit("kept"))
                .alias("status"),
            )
            .persist()
        )
        status.count()
        # Per-batch idempotent sinks: overwrite THIS batch's hive
        # subdir only — a checkpointed replay rewrites its own rows,
        # never duplicates them (see the crash-consistency banner).
        sub = f"batch={batch_id}"
        status.write.mode("overwrite").parquet(f"{state_dir}/status/{sub}")
        batch_df.join(
            status.filter(F.col("status") == "kept").select("doc_id"), "doc_id", "left_semi"
        ).write.mode("overwrite").parquet(f"{state_dir}/kept/{sub}")
        # extension index grows by the WHOLE batch
        bandsb.write.mode("overwrite").parquet(f"{ext_bands_dir}/{sub}")
        eb.write.mode("overwrite").parquet(f"{state_dir}/ext_shingles/{sub}")
        sizesb.write.mode("overwrite").parquet(f"{state_dir}/ext_sizes/{sub}")
        for frame in (status, cand, bandsb, sigb, eb):
            frame.unpersist()

    return apply_batch


def stream_neardup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: ensure the historical index, stage the batch
    documents (doc_id >= the incremental cutoff) as
    NEARDUP_STREAM_FILES id-range parquet files (mtime-staggered so
    the file source replays them oldest-first, one per micro-batch
    via maxFilesPerTrigger=1), drain with availableNow through
    neardup_apply_batch, and return the landed status table — which
    must equal dedup_incremental_neardup's batch result exactly, so
    the job carries that oracle."""
    import hashlib
    import os
    import shutil
    import time as _time

    from distributed_mapreduce_server_spark.catalog import load_tables
    from distributed_mapreduce_server_spark.operators.dedup import (
        INCR_INDEX_FRACTION,
        ensure_neardup_index,
    )

    docs = load_tables(spark, sf_dir, register_views=False)["documents"]
    # batch=N is a partition column after the idempotent-sink change;
    # the operator's contract (and oracle) is (doc_id, status) only.
    status_schema = StructType([docs.schema["doc_id"], StructField("status", StringType())])
    max_id = docs.agg(F.max("doc_id")).collect()[0][0]
    if max_id is None:  # no documents: nothing to stage or stream
        return spark.createDataFrame([], status_schema)
    index_dir = ensure_neardup_index(spark, sf_dir)
    num, den = INCR_INDEX_FRACTION
    cutoff = ((max_id + 1) * num) // den

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    base = f"{tempfile.gettempdir()}/dmrs_stream_neardup_{tag}"
    shutil.rmtree(base, ignore_errors=True)  # fresh run each call
    src_dir, state_dir, ckpt = f"{base}/src", f"{base}/state", f"{base}/ckpt"
    batch = docs.filter(F.col("doc_id") >= cutoff)
    span = (max_id + 1 - cutoff) / NEARDUP_STREAM_FILES
    # ONE file per id range (repartition(1) before the partitioned
    # write): a range split across files could replay out of id order
    # within the range, and the carried batch oracle requires every
    # doc to see exactly the smaller-id docs. The staged batch is
    # 1/NEARDUP_STREAM_FILES of one ingest day — single-file scale by
    # construction; a production stager would sort-within-partitions
    # instead.
    batch.withColumn(
        "part",
        F.floor((F.col("doc_id") - F.lit(cutoff)) / F.lit(span)).cast("int"),
    ).repartition(1).write.partitionBy("part").parquet(src_dir)
    # stagger mtimes so the file source's oldest-first order == id order
    parts = sorted(
        d for d in os.listdir(src_dir) if d.startswith("part=")
    )
    now = _time.time()
    for i, d in enumerate(parts):
        for f in os.listdir(f"{src_dir}/{d}"):
            os.utime(f"{src_dir}/{d}/{f}", (now - 3600 + i, now - 3600 + i))

    stream = (
        spark.readStream.schema(parquet_footer(f"{src_dir}/{parts[0]}")[0])
        .format("parquet")
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .option("recursiveFileLookup", "true")
        .load(src_dir)
    )
    q = (
        stream.writeStream.foreachBatch(
            neardup_apply_batch(index_dir, state_dir, cutoff)
        )
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = _read_written(spark, status_schema, f"{state_dir}/status").select("doc_id", "status")
    result = spark.createDataFrame(out.collect(), out.schema)
    return result.orderBy("doc_id")
