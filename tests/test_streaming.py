"""Streaming equivalence tests (SURVEY.md §5): availableNow streams
must reproduce the batch operators' results."""

from __future__ import annotations

from distributed_mapreduce_server_spark.operators.events import (
    q_events_sessionize,
    q_events_windowed,
)
from distributed_mapreduce_server_spark.streaming.jobs import (
    stream_events_windowed,
    stream_sessionize,
)


def test_stream_windowed_matches_batch(spark, sf_smoke):
    batch = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in q_events_windowed(spark, sf_smoke).collect()
    }
    stream = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in stream_events_windowed(spark, sf_smoke).collect()
    }
    assert stream == batch


def test_stream_sessionize_closed_sessions_match_batch(spark, sf_smoke):
    batch = {
        (r["user_id"], r["session_seq"]): (
            r["n_events"],
            r["session_start"],
            r["session_end"],
            r["session_value"],
        )
        for r in q_events_sessionize(spark, sf_smoke).collect()
    }
    stream_rows = stream_sessionize(spark, sf_smoke).collect()
    assert stream_rows, "stream emitted no closed sessions"
    for r in stream_rows:
        key = (r["user_id"], r["session_seq"])
        assert key in batch, f"stream session {key} unknown to batch"
        n, start, end, value = batch[key]
        assert r["n_events"] == n
        assert r["session_start"] == start
        assert r["session_end"] == end
        # exact equality incl. rounding: both sides round scaled
        # half-away-from-zero (functions.fround / _round2)
        assert r["session_value"] == value
    # every user's non-final session must have been emitted by the stream
    last_seq = {}
    for u, s in batch:
        last_seq[u] = max(last_seq.get(u, 0), s)
    expected_closed = {(u, s) for (u, s) in batch if s < last_seq[u]}
    got = {(r["user_id"], r["session_seq"]) for r in stream_rows}
    assert expected_closed <= got


def test_stream_checkpoint_resume_is_incremental(spark, sf_smoke, tmp_path):
    """Exactly-once file-source semantics across restarts: a second run
    against the same checkpoint processes ONLY files that arrived after
    the first run — the recovery contract a 100 TB ingest pipeline
    leans on (reference analog: manager requeues only unfinished tasks
    after a worker death, never re-runs completed ones)."""
    import shutil

    from pyspark.sql import functions as F

    in_dir = tmp_path / "in"
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    in_dir.mkdir()
    shutil.copy(f"{sf_smoke}/events.parquet", in_dir / "batch1.parquet")

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(str(in_dir / "batch1.parquet")).schema
    n = spark.read.parquet(str(in_dir / "batch1.parquet")).count()

    def run_once():
        q = (
            spark.readStream.schema(schema)
            .format("parquet")
            .load(str(in_dir))
            .select("event_id", "event_type")
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    assert spark.read.parquet(out_dir).count() == n

    # new file lands; resume from the SAME checkpoint
    shutil.copy(f"{sf_smoke}/events.parquet", in_dir / "batch2.parquet")
    run_once()
    out = spark.read.parquet(out_dir)
    # batch1 NOT reprocessed (3n would mean double-processing), batch2 in
    assert out.count() == 2 * n
    assert out.agg(F.count_distinct("event_id")).collect()[0][0] == n


def test_stream_ingest_partitioned_layout_and_pruning(spark, sf_smoke, tmp_path):
    """Streaming ingest to a date-partitioned parquet sink: hive
    layout on disk, row counts match the batch read, re-running on the
    same checkpoint is a no-op (exactly-once), and a batch reader gets
    partition pruning on the sink."""
    import os

    from pyspark.sql import functions as F

    from distributed_mapreduce_server_spark.streaming.jobs import stream_ingest_partitioned

    out, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    schema = stream_ingest_partitioned(spark, sf_smoke, out, ckpt)

    part_dirs = [d for d in os.listdir(out) if d.startswith("event_date=")]
    assert len(part_dirs) > 1

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    n_src = spark.read.parquet(f"{sf_smoke}/events.parquet").count()
    back = spark.read.parquet(out)
    assert back.count() == n_src
    # the returned schema is the one Spark infers over the landed sink
    assert back.schema == schema

    n_files_before = sum(len(fs) for _, _, fs in os.walk(out))
    stream_ingest_partitioned(spark, sf_smoke, out, ckpt)  # same checkpoint
    n_files_after = sum(len(fs) for _, _, fs in os.walk(out))
    assert n_files_after == n_files_before

    one_day = sorted(part_dirs)[0].split("=", 1)[1]
    pruned = back.filter(F.col("event_date") == one_day)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "event_date" in plan


def test_stream_ingest_readback_on_empty_events_matches_oracle(spark, sf_empty):
    """Degenerate input: over an empty events table the ingest lands no
    data file, and the read-back returns 0 rows, as the DuckDB oracle
    does (Spark's schema inference over the empty sink would fail)."""
    from distributed_mapreduce_server_spark import registry
    from tests.oracle_utils import compare, duckdb_conn

    key = "stream_ingest_partitioned"  # runs stream_ingest_readback
    df = registry.all_queries()[key](spark, sf_empty)
    con = duckdb_conn(sf_empty)
    try:
        problems = compare(df, con, registry.all_oracles()[key])
    finally:
        con.close()
    assert not problems, "; ".join(problems)
    assert df.count() == 0


def test_upsert_sink_checkpoint_restart_is_noop(spark, sf_smoke, tmp_path_factory):
    """Exactly-once for the foreachBatch upsert sink: a restart against
    the same checkpoint must not re-apply batches — the state table's
    files and contents are untouched."""
    import os

    from distributed_mapreduce_server_spark.streaming.jobs import (
        stream_upsert_foreachbatch,
    )

    base = tmp_path_factory.mktemp("upsert_restart")
    state = str(base / "state")
    ck = str(base / "ck")
    first = stream_upsert_foreachbatch(spark, sf_smoke, state_dir=state, checkpoint_dir=ck)
    rows1 = sorted(map(tuple, first.collect()))
    listing1 = sorted(os.listdir(state))
    mtimes1 = {f: os.path.getmtime(os.path.join(state, f)) for f in listing1}

    second = stream_upsert_foreachbatch(spark, sf_smoke, state_dir=state, checkpoint_dir=ck)
    rows2 = sorted(map(tuple, second.collect()))
    listing2 = sorted(os.listdir(state))
    mtimes2 = {f: os.path.getmtime(os.path.join(state, f)) for f in listing2}

    assert rows1 == rows2
    assert listing1 == listing2 and mtimes1 == mtimes2


def test_upsert_rewrites_only_touched_buckets(spark, sf_smoke, tmp_path_factory):
    """Partition-pruned CDC apply: a micro-batch touching one user must
    rewrite only that user's hash bucket — every other bucket=N dir's
    files keep their exact paths and mtimes — while the merged state
    still equals latest-per-key over both batches."""
    import os

    from pyspark.sql import functions as F

    from distributed_mapreduce_server_spark.catalog import load_tables
    from distributed_mapreduce_server_spark.streaming.jobs import (
        UPSERT_BUCKETS,
        upsert_apply_batch,
    )

    state = str(tmp_path_factory.mktemp("bucketed_state") / "state")
    apply_batch = upsert_apply_batch(state)
    ev = load_tables(spark, sf_smoke, register_views=False)["events"].select(
        "user_id", "event_type", "event_id", "ts", "value"
    )
    one_user = ev.select("user_id").first()["user_id"]

    apply_batch(ev, 0)  # seed: full table -> all buckets exist
    def snapshot():
        files = {}
        for b in range(UPSERT_BUCKETS):
            d = os.path.join(state, f"bucket={b}")
            if os.path.isdir(d):
                for f in os.listdir(d):
                    p = os.path.join(d, f)
                    files[p] = os.path.getmtime(p)
        return files

    before = snapshot()
    # strictly newer event_ids: the merge tie-break is (ts desc,
    # event_id desc), so reusing identical (ts, event_id) pairs would
    # make the winner between old and new rows nondeterministic
    batch2 = (
        ev.filter(F.col("user_id") == one_user)
        .withColumn("event_id", F.col("event_id") + F.lit(10_000_000))
        .withColumn("value", F.col("value") + 1000.0)
    )
    apply_batch(batch2, 1)
    after = snapshot()

    touched_bucket = batch2.select(
        F.pmod(F.xxhash64("user_id"), F.lit(UPSERT_BUCKETS)).cast("int").alias("b")
    ).first()["b"]
    untouched_before = {p: m for p, m in before.items() if f"bucket={touched_bucket}" + os.sep not in p}
    untouched_after = {p: m for p, m in after.items() if f"bucket={touched_bucket}" + os.sep not in p}
    assert untouched_before == untouched_after  # identical paths AND mtimes
    assert any(f"bucket={touched_bucket}" + os.sep in p for p in after)

    # and the state is still exactly latest-per-key over both batches
    from pyspark.sql.window import Window

    merged_input = ev.unionByName(batch2)
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    expect = {
        (r["user_id"], r["event_type"]): (r["event_id"], r["value"])
        for r in merged_input.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .collect()
    }
    got = {
        (r["user_id"], r["event_type"]): (r["event_id"], r["value"])
        for r in spark.read.parquet(state).collect()
    }
    assert got == expect


def test_upsert_recovers_from_mid_swap_crash(spark, sf_smoke, tmp_path_factory):
    """Crash safety of the per-bucket swap: if a previous attempt died
    after moving a live bucket to the trash sibling but before
    installing its replacement, the next batch must restore it first —
    no bucket history lost, no stray dirs poisoning partition
    inference — and converge to latest-per-key."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from distributed_mapreduce_server_spark.catalog import load_tables
    from distributed_mapreduce_server_spark.streaming.jobs import (
        UPSERT_BUCKETS,
        upsert_apply_batch,
    )

    state = str(tmp_path_factory.mktemp("crash_state") / "state")
    apply_batch = upsert_apply_batch(state)
    ev = load_tables(spark, sf_smoke, register_views=False)["events"].select(
        "user_id", "event_type", "event_id", "ts", "value"
    )
    apply_batch(ev, 0)  # seed
    expected = sorted(map(tuple, spark.read.parquet(state).drop("bucket").collect()))

    # simulate the crash window: one bucket moved out, replacement lost
    victim = next(
        b for b in range(UPSERT_BUCKETS)
        if os.path.isdir(os.path.join(state, f"bucket={b}"))
    )
    trash = state + "._trash"
    os.makedirs(trash, exist_ok=True)
    os.replace(
        os.path.join(state, f"bucket={victim}"),
        os.path.join(trash, f"bucket={victim}"),
    )
    assert not os.path.isdir(os.path.join(state, f"bucket={victim}"))

    # replay an (empty-delta) batch for an unrelated user: recovery
    # must restore the victim bucket before any merge
    one_user = ev.select("user_id").first()["user_id"]
    apply_batch(ev.filter(F.col("user_id") == one_user), 1)

    assert os.path.isdir(os.path.join(state, f"bucket={victim}"))
    assert not os.path.isdir(trash)
    got = sorted(map(tuple, spark.read.parquet(state).drop("bucket").collect()))
    assert got == expected


def test_rollup_incremental_merge_matches_batch(spark, sf_smoke, tmp_path):
    """The additive minute-state merge must converge to the batch
    cascade even when a minute's events are SPLIT across micro-batches
    (the single-file availableNow run executes in one batch, so the
    merge branch needs direct exercise). Split by event_id parity —
    both halves hit every day — then cascade the merged state and
    compare to the batch operator."""
    from distributed_mapreduce_server_spark.catalog import load_tables
    from distributed_mapreduce_server_spark.operators.events import (
        q_events_hierarchical_rollup,
        rollup_cascade,
    )
    from distributed_mapreduce_server_spark.streaming.jobs import rollup_apply_batch
    from distributed_mapreduce_server_spark.functions import fround
    from pyspark.sql import functions as F

    ev = load_tables(spark, sf_smoke, register_views=False)["events"].select(
        "event_id", "ts", "value"
    )
    state_dir = str(tmp_path / "rollup_state")
    apply_batch = rollup_apply_batch(state_dir)
    apply_batch(ev.filter(F.col("event_id") % 2 == 0), 0)
    apply_batch(ev.filter(F.col("event_id") % 2 == 1), 1)
    # empty micro-batch must be a no-op, not a state wipe
    apply_batch(ev.filter(F.lit(False)), 2)
    minute = spark.read.parquet(state_dir).select(
        "bucket_start",
        "n_events",
        fround(F.col("sum_value"), 2).alias("total_value"),
    )
    merged = {
        (r["level"], r["bucket_start"]): (r["n_events"], r["total_value"])
        for r in rollup_cascade(minute).collect()
    }
    batch = {
        (r["level"], r["bucket_start"]): (r["n_events"], r["total_value"])
        for r in q_events_hierarchical_rollup(spark, sf_smoke).collect()
    }
    assert merged == batch


def test_rollup_rewrites_only_touched_days(spark, sf_smoke, tmp_path):
    """Day-partition pruning contract: a batch whose event-times fall
    in later days must not rewrite earlier days' state directories
    (mtime-pinned, like the upsert bucket test)."""
    import os

    from distributed_mapreduce_server_spark.catalog import load_tables
    from distributed_mapreduce_server_spark.streaming.jobs import rollup_apply_batch
    from pyspark.sql import functions as F

    ev = load_tables(spark, sf_smoke, register_views=False)["events"].select(
        "event_id", "ts", "value"
    )
    split_day = "2024-01-15"
    early = ev.filter(F.to_date("ts") < F.lit(split_day))
    late = ev.filter(F.to_date("ts") >= F.lit(split_day))
    state_dir = str(tmp_path / "rollup_state")
    apply_batch = rollup_apply_batch(state_dir)
    apply_batch(early, 0)

    def day_mtimes():
        out = {}
        for d in os.listdir(state_dir):
            if not d.startswith("day="):
                continue
            p = os.path.join(state_dir, d)
            out[d] = max(
                os.path.getmtime(os.path.join(p, f)) for f in os.listdir(p)
            )
        return out

    before = day_mtimes()
    apply_batch(late, 1)
    after = day_mtimes()
    early_days = {d for d in before if d < f"day={split_day}"}
    assert early_days, "split produced no early days"
    touched_early = [d for d in early_days if after[d] != before[d]]
    assert not touched_early, f"untouched days rewritten: {touched_early}"
    late_days = {d for d in after if d >= f"day={split_day}"}
    assert late_days and all(d not in before for d in late_days)


def test_neardup_ingest_mid_batch_crash_replay(spark, sf_smoke, tmp_path_factory):
    """Crash consistency for the neardup ingest's grow-by-batch
    extension index (VERDICT r11 task 7): kill between the
    extension-index append and the status append, replay the batch
    from the checkpoint, and the landed statuses must still be
    exactly the batch operator's — no duplicates, and no doc scored
    against its own batch's partially-landed bands (which would
    self-collide at jaccard 1.0 and mis-flag every replayed doc)."""
    import glob
    import shutil

    from pyspark.sql import functions as F

    from distributed_mapreduce_server_spark.catalog import load_tables
    from distributed_mapreduce_server_spark.operators.dedup import (
        INCR_INDEX_FRACTION,
        dedup_incremental_neardup,
        ensure_neardup_index,
    )
    from distributed_mapreduce_server_spark.streaming.jobs import (
        neardup_apply_batch,
    )

    index_dir = ensure_neardup_index(spark, sf_smoke)
    docs = load_tables(spark, sf_smoke, register_views=False)["documents"]
    num, den = INCR_INDEX_FRACTION
    max_id = docs.agg(F.max("doc_id")).collect()[0][0]
    cutoff = ((max_id + 1) * num) // den
    arriving = docs.filter(F.col("doc_id") >= cutoff)
    mid = (cutoff + max_id + 1) // 2
    b0 = arriving.filter(F.col("doc_id") < mid)
    b1 = arriving.filter(F.col("doc_id") >= mid)

    state = str(tmp_path_factory.mktemp("neardup_crash") / "state")
    apply_batch = neardup_apply_batch(index_dir, state, cutoff)
    apply_batch(b0, 0)
    apply_batch(b1, 1)

    def statuses():
        return sorted(
            (r["doc_id"], r["status"])
            for r in spark.read.parquet(f"{state}/status")
            .select("doc_id", "status")
            .collect()
        )

    want = sorted(
        (r["doc_id"], r["status"])
        for r in dedup_incremental_neardup(spark, sf_smoke).collect()
    )
    assert statuses() == want

    # Crash window: batch 1's extension index landed, its status/kept
    # did not (the foreachBatch body died mid-way; the checkpoint
    # never committed batch 1, so the source redelivers it).
    shutil.rmtree(f"{state}/status/batch=1")
    shutil.rmtree(f"{state}/kept/batch=1")
    assert glob.glob(f"{state}/ext_bands/batch=1")  # ext DID land
    apply_batch(b1, 1)  # replay
    assert statuses() == want

    # Full redelivery with everything already landed (the other crash
    # window: died after all writes, before the checkpoint commit) —
    # the per-batch overwrite must converge, never duplicate.
    apply_batch(b1, 1)
    assert statuses() == want
    for sub in ("status", "kept", "ext_bands", "ext_shingles", "ext_sizes"):
        assert len(glob.glob(f"{state}/{sub}/batch=*")) == 2, sub
