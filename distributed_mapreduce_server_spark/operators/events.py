"""Event-stream batch operators (SURVEY.md §2.2, events table).

Sessionization, tumbling windows, pivot, and JSON extraction — the
batch forms whose semantics the streaming module (§2.7) mirrors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from distributed_mapreduce_server_spark.catalog import load_tables
from distributed_mapreduce_server_spark.functions import fround

SESSION_GAP_SECONDS = 1800


def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity closes a session).

    Classic lag + cumulative-flag-sum; both windows share the
    (user_id, ts) partitioning so Spark plans ONE shuffle. Gap compare
    uses integer microseconds (unix_micros) so the oracle matches
    exactly — no float seconds.
    """
    ev = load_tables(spark, sf_dir, register_views=False)["events"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts", 1).over(w))
    flagged = ev.withColumn(
        "new_session",
        F.when(gap_us.isNull() | (gap_us > SESSION_GAP_SECONDS * 1_000_000), 1).otherwise(0),
    )
    sessioned = flagged.withColumn(
        "session_seq",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    return (
        sessioned.groupBy("user_id", "session_seq")
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            fround(F.sum("value"), 2).alias("session_value"),
        )
        .orderBy("user_id", "session_seq")
    )


def q_events_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window aggregation (batch form of the stream).

    ``window()`` start == date_trunc('hour') for aligned windows, which
    is what the DuckDB oracle uses.
    """
    ev = load_tables(spark, sf_dir, register_views=False)["events"]
    return (
        ev.groupBy(F.window("ts", "1 hour").start.alias("window_start"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            fround(F.sum("value"), 2).alias("total_value"),
            F.countDistinct("user_id").alias("distinct_users"),
        )
        .orderBy("window_start", "event_type")
    )


def q_events_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot event_type -> per-user count columns (conditional agg form,
    so column names are stable and oracle-matchable)."""
    ev = load_tables(spark, sf_dir, register_views=False)["events"]
    types = ["click", "error", "purchase", "signup", "view"]
    aggs = [
        F.sum(F.when(F.col("event_type") == tname, 1).otherwise(0)).alias(f"n_{tname}")
        for tname in types
    ]
    return (
        ev.groupBy("user_id")
        .agg(*aggs, fround(F.sum("value"), 2).alias("total_value"))
        .orderBy("user_id")
    )


def q_events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction from the props column + aggregate over it."""
    ev = load_tables(spark, sf_dir, register_views=False)["events"]
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            fround(F.avg("k"), 2).alias("avg_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.count("k").alias("n_with_k"),
        )
        .orderBy("event_type")
    )


def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel analysis: per user, did view -> click -> purchase happen
    in that order (each stage strictly after the previous one's first
    occurrence)?

    One aggregation computes each stage's first timestamp (conditional
    min — no per-stage joins), then the funnel flags are column
    comparisons. Single shuffle on user_id at any scale.
    """
    ev = load_tables(spark, sf_dir, register_views=False)["events"]
    first_of = lambda t: F.min(F.when(F.col("event_type") == t, F.col("ts")))  # noqa: E731
    staged = ev.groupBy("user_id").agg(
        first_of("view").alias("first_view"),
        first_of("click").alias("first_click"),
        first_of("purchase").alias("first_purchase"),
    )
    reached_click = F.col("first_view").isNotNull() & (F.col("first_click") > F.col("first_view"))
    reached_purchase = reached_click & (F.col("first_purchase") > F.col("first_click"))
    per_user = staged.select(
        "user_id",
        F.col("first_view").isNotNull().alias("s1_view"),
        reached_click.alias("s2_click_after_view"),
        reached_purchase.alias("s3_purchase_after_click"),
    )
    return per_user.agg(
        F.count("*").alias("n_users"),
        F.sum(F.col("s1_view").cast("long")).alias("n_view"),
        F.sum(F.col("s2_click_after_view").cast("long")).alias("n_click_after_view"),
        F.sum(F.col("s3_purchase_after_click").cast("long")).alias("n_purchase_after_click"),
    )


def q_events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1/D7 cohort retention: users grouped by first-activity day;
    retained = any event exactly N days later.

    Two aggregations and one broadcast-sized join of per-(user, day)
    activity against per-user cohort days — no event-level self-join.
    """
    ev = load_tables(spark, sf_dir, register_views=False)["events"]
    user_days = (
        ev.select("user_id", F.date_trunc("day", "ts").alias("day")).distinct()
    )
    cohorts = user_days.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    j = user_days.join(cohorts, "user_id").withColumn(
        "day_n", F.datediff(F.col("day"), F.col("cohort_day"))
    )
    return (
        j.groupBy("cohort_day")
        .agg(
            F.countDistinct("user_id").alias("cohort_size"),
            F.countDistinct(F.when(F.col("day_n") == 1, F.col("user_id"))).alias("d1_retained"),
            F.countDistinct(F.when(F.col("day_n") == 7, F.col("user_id"))).alias("d7_retained"),
        )
        .orderBy("cohort_day")
    )


def anomaly_stats(ev: DataFrame) -> DataFrame:
    """Per-type (mu, sigma) reference statistics — ONE definition
    shared by the batch operator and streaming.stream_anomaly_filter,
    which carries the batch oracle: editing either side of the
    mean/stddev choice here keeps both in lockstep."""
    return ev.groupBy("event_type").agg(
        F.avg("value").alias("mu"), F.stddev_samp("value").alias("sigma")
    )


def anomaly_select(joined: DataFrame) -> DataFrame:
    """The 3-sigma filter + z-score projection over an events frame
    joined with anomaly_stats — shared batch/stream for the same
    reason."""
    return joined.filter(
        F.col("value") > F.col("mu") + 3 * F.col("sigma")
    ).select(
        "event_id",
        "event_type",
        fround("value", 2).alias("value_r"),
        fround((F.col("value") - F.col("mu")) / F.col("sigma"), 2).alias(
            "z_score"
        ),
    )


def q_events_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlier events: value beyond mean + 3 sigma for its event type.

    Per-type stats are a broadcast-sized aggregate joined back to the
    stream — two passes over events but no window over the full table
    (a global-window form would single-thread each type's partition).
    """
    ev = load_tables(spark, sf_dir, register_views=False)["events"]
    from pyspark.sql.functions import broadcast as _bc

    return anomaly_select(
        ev.join(_bc(anomaly_stats(ev)), "event_type")
    ).orderBy("event_id")


ERROR_HEAVY_T = 12


def q_events_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations: users who clicked AND purchased (INTERSECT),
    minus error-heavy users (> ERROR_HEAVY_T error events, EXCEPT ALL).
    Spark plans both as left-semi/anti joins over distinct keys."""
    ev = load_tables(spark, sf_dir, register_views=False)["events"]
    u = lambda t: ev.filter(F.col("event_type") == t).select("user_id").distinct()  # noqa: E731
    both = u("click").intersect(u("purchase"))
    heavy = (
        ev.filter(F.col("event_type") == "error")
        .groupBy("user_id")
        .count()
        .filter(F.col("count") > ERROR_HEAVY_T)
        .select("user_id")
    )
    return both.exceptAll(heavy).orderBy("user_id")


def q_events_value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile(10) decile stats of event value per type.

    Scale shape: NOT ``ntile(10) over (partition by event_type)`` —
    ~5 event types would sort the entire fact stream in ~5 tasks. The
    per-type rank comes from the grouped two-phase ranking kernel
    (operators/scale.py: range-partition, per-partition counts,
    broadcast offsets), and the decile is computed arithmetically
    from (rank, group size) with Spark's exact ntile fill rule —
    every sort runs at full cluster parallelism."""
    from distributed_mapreduce_server_spark.operators.scale import (
        ntile_from_rank,
        two_phase_rank,
    )

    ev = load_tables(spark, sf_dir, register_views=False)["events"]
    ranked, _, tagged = two_phase_rank(
        spark,
        ev.select("event_type", "value", "event_id"),
        ["value", "event_id"],
        group_cols=["event_type"],
        rn_col="rn",
        n_col="n_type",
        materialize=False,
    )
    out = (
        ranked.withColumn(
            "decile", ntile_from_rank(F.col("rn"), F.col("n_type"), 10)
        )
        .groupBy("event_type", "decile")
        .agg(
            F.count("*").alias("n"),
            fround(F.min("value"), 2).alias("lo"),
            fround(F.max("value"), 2).alias("hi"),
        )
        .orderBy("event_type", "decile")
    )
    # one pass: fold through the tagged cache into the (60-row)
    # checkpoint, then release the cache
    out = out.localCheckpoint(eager=True)
    tagged.unpersist()
    return out


def q_events_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / rolling-7-day WAU / stickiness per day. Exact rolling
    distinct without a rolling-window set union: collapse to one row
    per (day, user) first (the only big shuffle), then each such row
    contributes itself to the 7 forward days via an explode — a
    bounded 7x fan-out that partial-aggregates, instead of a
    per-day DISTINCT re-scan. Contributed days are semi-joined back
    to real event days so trailing phantom days drop out."""
    ev = load_tables(spark, sf_dir, register_views=False)["events"]
    daily = ev.select(F.date_trunc("day", "ts").alias("d"), "user_id").distinct()
    dau = daily.groupBy("d").agg(F.count("*").alias("dau"))
    contrib = daily.select(
        F.explode(
            F.sequence(
                F.col("d"),
                F.col("d") + F.expr("INTERVAL 6 DAY"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("d"),
        "user_id",
    )
    wau = (
        contrib.join(dau.select("d"), "d", "left_semi")
        .groupBy("d")
        .agg(F.count_distinct("user_id").alias("wau"))
    )
    return (
        dau.join(wau, "d")
        .select(
            "d",
            "dau",
            "wau",
            fround(F.col("dau") / F.col("wau"), 4).alias("stickiness"),
        )
        .orderBy("d")
    )


def q_events_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type transition matrix (first-order Markov): per-user lag
    window pairs (prev_type -> type), counted and normalized to
    P(next | prev). One shuffle for the per-user window; the pair
    count partial-aggregates; the row-normalizer joins back from a
    broadcast-sized per-prev total (n_event_types rows)."""
    ev = load_tables(spark, sf_dir, register_views=False)["events"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select("user_id", "event_id", "ts", "event_type")
        .withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count("*").alias("n"))
    )
    totals = pairs.groupBy("prev_type").agg(F.sum("n").alias("tot"))
    return (
        pairs.join(F.broadcast(totals), "prev_type")
        .select(
            "prev_type",
            "next_type",
            "n",
            fround(F.col("n") / F.col("tot"), 4).alias("p_next"),
        )
        .orderBy("prev_type", "next_type")
    )


PATHS_TOP_K = 20


def q_events_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 three-step user journeys (path analysis) — the discovery
    companion to q_events_funnel, which checks one FIXED path. Window
    lead x2 over the per-user event sequence (one shuffle, the same
    partitioning every sequence operator here reuses), then a
    map-side-combined path count and a TakeOrdered top-K.

    Skew pre-flight: per-user partitioning is correct at any scale,
    but ONE bot-grade user (10^7+ events) serializes that user's sort
    into one task — run q_shuffle_key_skew on user_id first; a high
    p99/median ratio says cap or pre-filter bot users before the
    window. Results are per-user isolated either way
    (test_scale_kernels.py::test_events_paths_hot_user_isolated)."""
    ev = load_tables(spark, sf_dir, register_views=False)["events"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = (
        ev.select("user_id", "event_id", "ts", "event_type")
        .withColumn("e2", F.lead("event_type", 1).over(w))
        .withColumn("e3", F.lead("event_type", 2).over(w))
        .filter(F.col("e3").isNotNull())
    )
    return (
        seq.select(F.concat_ws(" > ", "event_type", "e2", "e3").alias("path"))
        .groupBy("path")
        .agg(F.count("*").alias("n_journeys"))
        .orderBy(F.desc("n_journeys"), "path")
        .limit(PATHS_TOP_K)
    )


def q_events_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC / upsert compaction: the latest event per (user_id,
    event_type) key — the "current state" table a changelog compacts
    to (Kafka log compaction / SCD type-1 semantics; the reference's
    reducer keeps last-value-per-key the same way).

    One shuffle: row_number over the (user, type) key partitioning,
    descending event time with event_id as the deterministic
    tie-break. At 100 TB the key space is what's retained — the
    window never globally sorts, and AQE coalesces the post-filter
    partitions; an aggregate max_by form would be one shuffle too but
    loses the full-row payload without a second self-join.
    """
    ev = load_tables(spark, sf_dir, register_views=False)["events"]
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        ev.select("user_id", "event_type", "event_id", "ts", "value")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_type",
            F.col("event_id").alias("latest_event_id"),
            F.col("ts").alias("latest_ts"),
            fround(F.col("value"), 2).alias("latest_value"),
        )
        .orderBy("user_id", "event_type")
    )


def q_events_daily_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup: per-day HLL user sketches, merged into
    per-event-type distinct-user estimates — THE pattern for distinct
    counts at 100 TB. Exact distincts need every day's full user set
    in one shuffle; sketches reduce each day to a fixed-size binary
    (hll_sketch_agg, lgK=14: ~0.8% rel. error), daily partials are
    storable/incremental, and the rollup is hll_union_agg over a
    day-count-sized frame. Rows-only at the gate (sketch estimates
    are engine-specific); tests bound the error vs the exact counts.
    """
    ev = load_tables(spark, sf_dir, register_views=False)["events"]
    daily = (
        ev.groupBy(F.to_date("ts").alias("day"), "event_type")
        .agg(F.expr("hll_sketch_agg(user_id, 14)").alias("sk"))
    )
    return (
        daily.groupBy("event_type")
        .agg(
            F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("approx_users"),
            F.count("*").alias("n_days"),
        )
        .orderBy("event_type")
    )


def q_time_bucket_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate with GAP FILLING: per
    event_type, 1-hour buckets over the table's full [min, max] time
    range — empty buckets materialized with zero counts and the last
    observed bucket average carried forward (LOCF), the downsampled
    series a monitoring dashboard reads.

    Spark realization: the observed rollup is one partial-agg groupBy;
    the dense bucket grid is built from a 1-ROW bounds aggregate
    (broadcast) exploded through ``sequence()`` per event type — grid
    size is types x hours, bounded by the TIME RANGE, not the event
    count, so at 100 TB the grid stays tiny while the rollup stays one
    shuffle. The left join keys on (event_type, bucket) and the LOCF
    window partitions by event_type over the already-dense grid — AQE
    broadcasts the small side.

    Gap semantics: n_events/total_value are 0 in gap buckets (additive
    measures), while locf_avg_value carries the last OBSERVED bucket's
    average (state-like measure), NULL until the first observation.
    """
    ev = load_tables(spark, sf_dir, register_views=False)["events"]
    agg = ev.groupBy(
        F.date_trunc("hour", "ts").alias("bucket"), "event_type"
    ).agg(
        F.count("*").alias("n"),
        fround(F.sum("value"), 2).alias("sum_v"),
        fround(F.avg("value"), 4).alias("avg_v"),
    )
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    grid = (
        ev.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(
                F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
            ).alias("bucket"),
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(agg, ["event_type", "bucket"], "left")
        .select(
            "event_type",
            "bucket",
            F.coalesce(F.col("n"), F.lit(0)).alias("n_events"),
            F.coalesce(F.col("sum_v"), F.lit(0.0)).alias("total_value"),
            "avg_v",
        )
        .withColumn("locf_avg_value", F.last("avg_v", ignorenulls=True).over(w))
        .drop("avg_v")
        .orderBy("event_type", "bucket")
    )


def q_events_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension TYPE 2 build from the event changelog:
    per user, collapse consecutive same-type events into state runs
    and emit versioned validity intervals — ``valid_from`` = first ts
    of the run, ``valid_to`` = start of the next run (NULL while
    current), plus a per-user version number. q_events_latest_per_key
    is the SCD1 compaction of the same log; this keeps history.

    Change detection is ``lag(event_type)`` over (user_id; ts,
    event_id), the run windows are ``lead(ts)`` + ``row_number`` over
    the SAME partitioning on the filtered change rows — Catalyst plans
    ONE shuffle for all three windows. State per key stays a single
    sorted run at any skew; no self-join against the history.
    """
    ev = load_tables(spark, sf_dir, register_views=False)["events"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        ev.select("user_id", "ts", "event_id", "event_type")
        .withColumn("prev_type", F.lag("event_type", 1).over(w))
        .filter(
            F.col("prev_type").isNull()
            | (F.col("prev_type") != F.col("event_type"))
        )
    )
    return (
        changes.withColumn("valid_to", F.lead("ts", 1).over(w))
        .withColumn("version", F.row_number().over(w))
        .select(
            "user_id",
            "version",
            F.col("event_type").alias("state"),
            F.col("ts").alias("valid_from"),
            "valid_to",
            F.col("valid_to").isNull().alias("is_current"),
        )
        .orderBy("user_id", "version")
    )


# snapshot boundary for the diff op: state as of (max_ts - 14 days)
# vs the final state — the "previous publish" a daily pipeline diffs
# against. 14 days is the smallest lag where the frozen sf0.1 corpus
# exercises all three change classes (born-since keys need a key
# whose FIRST event falls after the cutoff).
SNAPSHOT_LAG_DAYS = 14


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot DIFF between two compaction points of the changelog —
    the table-services operation behind incremental publishing and
    CDC re-emission: compare the latest-per-key state as of the
    previous snapshot (events up to max_ts - SNAPSHOT_LAG_DAYS) with
    the current state, and emit each key's change type: 'added' (key
    born since), 'updated' (newer event superseded the old state),
    'unchanged'. Deleted can't occur in an append-only changelog, so
    the three types partition the key space.

    Scale shape: ONE scan, ONE partial-agg keyed shuffle — both
    snapshots fall out of a single aggregation via ``max_by`` over
    struct orderings (overall newest; and newest PRE-cutoff row by
    ranking is_pre first, with a NULL payload on post-cutoff rows so
    born-since keys yield NULL -> 'added'); the diff is then a column
    comparison, never a self-join of two snapshot tables. The 1-row
    cutoff aggregate broadcasts.
    """
    ev = load_tables(spark, sf_dir, register_views=False)["events"]
    cut = ev.agg(
        (F.max("ts") - F.expr(f"INTERVAL {SNAPSHOT_LAG_DAYS} DAYS")).alias(
            "cutoff"
        )
    )
    tagged = (
        ev.select("user_id", "event_type", "event_id", "ts")
        .crossJoin(F.broadcast(cut))
        .withColumn("is_pre", (F.col("ts") < F.col("cutoff")).cast("int"))
    )
    snap = tagged.groupBy("user_id", "event_type").agg(
        F.expr("max_by(event_id, struct(ts, event_id))").alias(
            "current_event_id"
        ),
        F.expr(
            "max_by(if(is_pre = 1, event_id, CAST(NULL AS BIGINT)), "
            "struct(is_pre, ts, event_id))"
        ).alias("prev_event_id"),
    )
    return snap.select(
        "user_id",
        "event_type",
        "current_event_id",
        "prev_event_id",
        F.when(F.col("prev_event_id").isNull(), F.lit("added"))
        .when(
            F.col("prev_event_id") != F.col("current_event_id"),
            F.lit("updated"),
        )
        .otherwise(F.lit("unchanged"))
        .alias("change_type"),
    ).orderBy("user_id", "event_type")


# Theta lgK: sketches are EXACT below ~2^lgK retained keys, so at the
# test corpora (<= 1500 distinct users) these estimates equal the true
# counts and the op carries a full SQL oracle; at true 100 TB
# cardinalities the same plan degrades gracefully to ~1/sqrt(2^lgK)
# relative error (the point of the sketch).
THETA_LGK = 20


def q_events_theta_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-user SET ALGEBRA via theta sketches (Datasketches):
    estimated |clickers|, |purchasers|, |both| (intersection),
    |either| (union), |click-only| (difference) — the audience-overlap
    query marketing dashboards run constantly. HLL (the
    daily_sketch_rollup path) only unions; theta sketches are the
    mergeable-sketch family that ALSO intersects and differences,
    which is why a 100 TB pipeline stores per-segment theta sketches
    instead of HLL when overlap questions matter.

    Scale shape: one partial-agg pass builds both per-type sketches
    (fixed-size state each); the set algebra runs on two sketch
    objects driver-side — O(k) regardless of corpus size. The
    sketches here run in their exact regime (see THETA_LGK), so the
    operator keeps full value parity with the exact SQL twin.
    """
    ev = load_tables(spark, sf_dir, register_views=False)["events"]
    sk = ev.agg(
        F.expr(
            f"theta_sketch_agg(CASE WHEN event_type = 'click' "
            f"THEN user_id END, {THETA_LGK})"
        ).alias("sk_click"),
        F.expr(
            f"theta_sketch_agg(CASE WHEN event_type = 'purchase' "
            f"THEN user_id END, {THETA_LGK})"
        ).alias("sk_purchase"),
    )
    return sk.select(
        F.expr("CAST(theta_sketch_estimate(sk_click) AS BIGINT)").alias(
            "n_clickers"
        ),
        F.expr("CAST(theta_sketch_estimate(sk_purchase) AS BIGINT)").alias(
            "n_purchasers"
        ),
        F.expr(
            "CAST(theta_sketch_estimate("
            "theta_intersection(sk_click, sk_purchase)) AS BIGINT)"
        ).alias("n_both"),
        F.expr(
            "CAST(theta_sketch_estimate("
            "theta_union(sk_click, sk_purchase)) AS BIGINT)"
        ).alias("n_either"),
        F.expr(
            "CAST(theta_sketch_estimate("
            "theta_difference(sk_click, sk_purchase)) AS BIGINT)"
        ).alias("n_click_only"),
    )


# K sized so the count boundary between rank K and K+1 is strict in
# the frozen test corpora (sf0.01 ties at rank 10, sf0.1 at rank 5):
# the sketch breaks count ties arbitrarily, so full value parity
# needs a tie-free cutoff. Production monitoring uses the estimates
# rows-only and doesn't care.
APPROX_TOPK_K = 4
APPROX_TOPK_BUDGET = 100_000


def q_events_approx_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter detection with the approx_top_k frequency sketch:
    the K heaviest user_ids with estimated counts — the streaming-
    friendly alternative to q_shuffle_key_skew's exact per-key
    aggregation. The sketch keeps a bounded item budget per partition
    and merges (space-saving family): memory is O(budget) no matter
    how many distinct keys flow through, and counts are EXACT while
    distinct keys <= budget (the regime here — documented, like the
    theta exact regime), degrading to over-estimates bounded by
    stream_length/budget beyond it.

    The result rows re-sort by (count desc, user_id) so output order
    is deterministic wherever counts are untied; APPROX_TOPK_K is
    sized to a tie-free boundary in the frozen corpora.
    """
    ev = load_tables(spark, sf_dir, register_views=False)["events"]
    topk = ev.agg(
        F.expr(
            f"approx_top_k(user_id, {APPROX_TOPK_K}, {APPROX_TOPK_BUDGET})"
        ).alias("tk")
    )
    return (
        topk.select(F.explode("tk").alias("e"))
        .select(
            F.col("e.item").alias("user_id"),
            F.col("e.count").alias("est_count"),
        )
        .orderBy(F.desc("est_count"), "user_id")
    )


SKEW_TOP_K = 10


def q_shuffle_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew diagnostics for events.user_id — the pre-flight
    check before picking a join/agg strategy at scale: the top-10
    heaviest keys with their row share, alongside corpus-wide key
    stats (key count, median and p99 per-key rows, p99/median skew
    ratio). A ratio near 1 means hash partitioning balances; a high
    ratio says salt this key or lean on AQE skew splitting.

    One shuffle (the per-key count); the top-K is a distributed
    TakeOrdered (orderBy+limit — per-partition top-K then a 10-row
    merge, never a global sort of the key frame), ranked locally; the
    stats fold is over the key-cardinality frame and broadcasts back
    onto the tiny top-K.
    """
    ev = load_tables(spark, sf_dir, register_views=False)["events"]
    per_key = ev.groupBy("user_id").agg(F.count("*").alias("n"))
    stats = per_key.agg(
        F.count("*").alias("n_keys"),
        F.sum("n").alias("total_rows"),
        fround(F.expr("percentile(n, 0.5)"), 4).alias("p50_n"),
        fround(F.expr("percentile(n, 0.99)"), 4).alias("p99_n"),
        fround(
            F.expr("percentile(n, 0.99)") / F.expr("percentile(n, 0.5)"), 4
        ).alias("skew_ratio"),
    )
    top10 = per_key.orderBy(F.desc("n"), "user_id").limit(SKEW_TOP_K)
    w = Window.orderBy(F.desc("n"), "user_id")  # over 10 rows only
    top = top10.withColumn("rank", F.row_number().over(w))
    return (
        top.join(F.broadcast(stats))
        .select(
            "rank",
            "user_id",
            "n",
            fround(F.col("n") / F.col("total_rows"), 6).alias("share"),
            "n_keys",
            "p50_n",
            "p99_n",
            "skew_ratio",
        )
        .orderBy("rank")
    )


ATTRIBUTION_WINDOW_H = 24
ATTRIBUTION_TOUCHES = ("click", "view")


def q_events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution: each purchase is credited to
    the user's most recent click/view within the preceding 24 h, else
    to 'direct'. The carried last-touch type/timestamp are
    ignore-nulls window lasts over rows-preceding frames — one keyed
    shuffle on user_id, no self-join (the q_events_sessionize plan
    shape), then a tiny channel aggregate."""
    from pyspark.sql.window import Window

    ev = load_tables(spark, sf_dir, register_views=False)["events"]
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    is_touch = F.col("event_type").isin(*ATTRIBUTION_TOUCHES)
    touched = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        "value",
        F.last(F.when(is_touch, F.col("event_type")), ignorenulls=True).over(w).alias("lt_type"),
        F.last(F.when(is_touch, F.col("ts")), ignorenulls=True).over(w).alias("lt_ts"),
    )
    purchases = touched.filter(F.col("event_type") == "purchase").select(
        F.when(
            F.col("lt_ts") >= F.col("ts") - F.expr(f"INTERVAL {ATTRIBUTION_WINDOW_H} HOURS"),
            F.col("lt_type"),
        )
        .otherwise(F.lit("direct"))
        .alias("channel"),
        "value",
    )
    return (
        purchases.groupBy("channel")
        .agg(
            F.count("*").alias("n_purchases"),
            fround(F.sum("value"), 2).alias("attributed_value"),
        )
        .orderBy("channel")
    )


def q_events_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value matrix: users grouped by first-activity
    week, purchase revenue laid out by cohort age in weeks, plus the
    running cumulative LTV per cohort. The companion to
    q_events_retention (which counts users; this follows the money).

    Plan: first-event week per user = one keyed agg; age = date
    arithmetic; matrix = one (cohort, age) agg; cumulative LTV = a
    window over the MATRIX (cohort-count sized, not event sized)."""
    from pyspark.sql.window import Window

    ev = load_tables(spark, sf_dir, register_views=False)["events"]
    first_week = (
        ev.groupBy("user_id")
        .agg(F.date_trunc("week", F.min("ts")).alias("cohort_week"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.date_trunc("week", "ts").alias("ev_week"), "value"
    )
    matrix = (
        purchases.join(first_week, "user_id")
        .groupBy(
            "cohort_week",
            F.floor(
                (F.col("ev_week").cast("long") - F.col("cohort_week").cast("long"))
                / F.lit(7 * 86400)
            )
            .cast("integer")
            .alias("age_weeks"),
        )
        .agg(
            F.countDistinct("user_id").alias("n_buyers"),
            fround(F.sum("value"), 2).alias("week_revenue"),
        )
    )
    w = Window.partitionBy("cohort_week").orderBy("age_weeks")
    return (
        matrix.select(
            "cohort_week",
            "age_weeks",
            "n_buyers",
            "week_revenue",
            fround(F.sum("week_revenue").over(w), 2).alias("cum_ltv"),
        )
        .orderBy("cohort_week", "age_weeks")
    )


def q_scd2_pit_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (AS OF) join against the SCD2 dimension: each
    purchase fact joined to the browsing-state version (the SCD2 run
    built from the user's NON-purchase events) valid at the purchase
    timestamp — the canonical warehouse query an SCD2 table exists
    for ("what was the dimension when the fact happened").

    Realization: one keyed shuffle join on user_id with the interval
    containment (valid_from <= ts < valid_to) as the join filter;
    SCD2 runs are disjoint per user so each fact matches at most one
    version — no fan-out. Per-key cost is runs-per-user, bounded by
    activity, not corpus size. LEFT join keeps purchases that precede
    the user's first tracked state (NULL version)."""
    from pyspark.sql.window import Window as W

    ev = load_tables(spark, sf_dir, register_views=False)["events"]
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    dim_src = ev.filter(F.col("event_type") != "purchase")
    changes = (
        dim_src.select("user_id", "ts", "event_id", "event_type")
        .withColumn("prev_type", F.lag("event_type", 1).over(w))
        .filter(F.col("prev_type").isNull() | (F.col("prev_type") != F.col("event_type")))
    )
    dim = (
        changes.withColumn("valid_to", F.lead("ts", 1).over(w))
        .withColumn("version", F.row_number().over(w))
        .select(
            F.col("user_id").alias("d_user"),
            "version",
            F.col("event_type").alias("state"),
            F.col("ts").alias("valid_from"),
            "valid_to",
        )
    )
    facts = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts", "value"
    )
    return (
        facts.join(
            dim,
            (F.col("user_id") == F.col("d_user"))
            & (F.col("valid_from") <= F.col("ts"))
            & (F.col("valid_to").isNull() | (F.col("ts") < F.col("valid_to"))),
            "left",
        )
        .select(
            "purchase_id",
            "user_id",
            "ts",
            fround(F.col("value"), 2).alias("value"),
            F.col("state").alias("state_at_purchase"),
            F.col("version").alias("state_version"),
        )
        .orderBy("purchase_id")
    )


def q_events_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activity heatmap: event count + value by (day-of-week,
    hour-of-day) — the first dashboard any event stream gets. One
    partial-agg shuffle over a 7x24-bounded result."""
    ev = load_tables(spark, sf_dir, register_views=False)["events"]
    return (
        ev.groupBy(
            F.dayofweek("ts").cast("integer").alias("dow"),
            F.hour("ts").cast("integer").alias("hod"),
        )
        .agg(
            F.count("*").alias("n_events"),
            fround(F.sum("value"), 2).alias("total_value"),
        )
        .orderBy("dow", "hod")
    )


def q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average of `value` per user (TimescaleDB
    time_weight, LOCF flavor): each observation holds until the next
    one, so twa = Σ value·duration / Σ duration over the user's span.
    The irregular-sampling statistic a plain AVG gets wrong whenever
    observation density correlates with level. One keyed shuffle; the
    lead() duration and the two sums share the partitioning."""
    from pyspark.sql.window import Window

    ev = load_tables(spark, sf_dir, register_views=False)["events"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    timed = ev.select(
        "user_id",
        "value",
        (F.lead(F.col("ts").cast("long"), 1).over(w) - F.col("ts").cast("long")).alias(
            "dur_sec"
        ),
    ).filter(F.col("dur_sec").isNotNull())
    return (
        timed.groupBy("user_id")
        .agg(
            F.count("*").alias("n_intervals"),
            F.sum("dur_sec").alias("span_sec"),
            fround(
                F.sum(F.col("value") * F.col("dur_sec")) / F.sum("dur_sec"), 4
            ).alias("time_weighted_avg"),
        )
        .orderBy("user_id")
    )


FUNNEL_WINDOW_H = 1


def q_window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse-style windowFunnel: per user, the deepest
    view -> click -> purchase chain where every stage falls within
    FUNNEL_WINDOW_H hours of the ANCHOR view and timestamps are
    non-decreasing — unlike q_events_funnel (first-occurrence global
    order), this is the time-boxed variant real funnel products ship.

    Greedy-earliest chaining is optimal for fixed anchors (the
    earliest qualifying click maximizes the remaining window), so
    two forward carry windows — next click after each view, next
    purchase after that click — decide reachability with NO
    self-joins: one user-keyed shuffle serves both window passes and
    the final per-user max. Level 0 = users with no view at all.

    Skew pre-flight: as q_events_paths — per-user windows isolate a
    hot user's effect to their own row (pinned by
    test_scale_kernels.py::test_window_funnel_hot_user_isolated), but
    a bot-grade key still sorts in one task; check q_shuffle_key_skew
    before pointing this at a new event source."""
    from pyspark.sql.window import Window

    ev = load_tables(spark, sf_dir, register_views=False)["events"]
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    # next purchase at-or-after each row (purchases qualify themselves;
    # the chain uses it FROM the click row, where ts >= click ts holds)
    with_np = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.first(
            F.when(F.col("event_type") == "purchase", F.col("ts")), ignorenulls=True
        ).over(w).alias("np_ts"),
    )
    # next click at-or-after each row, carrying THAT click's np_ts
    click_struct = F.when(
        F.col("event_type") == "click", F.struct(F.col("ts").alias("cts"), F.col("np_ts"))
    )
    with_nc = with_np.select(
        "user_id",
        "ts",
        "event_type",
        F.first(click_struct, ignorenulls=True).over(w).alias("nc"),
    )
    horizon = F.col("ts") + F.expr(f"INTERVAL {FUNNEL_WINDOW_H} HOURS")
    views = with_nc.filter(F.col("event_type") == "view").select(
        "user_id",
        F.when(
            F.col("nc").isNotNull()
            & (F.col("nc.cts") <= horizon)
            & F.col("nc.np_ts").isNotNull()
            & (F.col("nc.np_ts") <= horizon),
            F.lit(3),
        )
        .when(F.col("nc").isNotNull() & (F.col("nc.cts") <= horizon), F.lit(2))
        .otherwise(F.lit(1))
        .alias("level"),
    )
    per_user = views.groupBy("user_id").agg(F.max("level").alias("max_level"))
    all_users = ev.select("user_id").distinct()
    leveled = all_users.join(per_user, "user_id", "left").select(
        F.coalesce(F.col("max_level"), F.lit(0)).cast("integer").alias("max_level")
    )
    return (
        leveled.groupBy("max_level")
        .agg(F.count("*").alias("n_users"))
        .orderBy("max_level")
    )


def q_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily new-vs-returning split + cumulative distinct users — the
    growth-accounting view (cumulative COUNT(DISTINCT) is the classic
    hard case for plain SQL; the first-seen-flag trick makes it a
    running sum). Per (user, day) distinct -> first-seen flag via
    row_number over the user partition -> per-day aggregation; the
    cumulative window runs over the DAY-count frame, not events."""
    from pyspark.sql.window import Window

    ev = load_tables(spark, sf_dir, register_views=False)["events"]
    user_days = ev.select(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    flagged = user_days.withColumn(
        "is_new", (F.row_number().over(w) == 1).cast("bigint")
    )
    daily = flagged.groupBy("day").agg(
        F.sum("is_new").alias("new_users"),
        F.sum(F.lit(1) - F.col("is_new")).alias("returning_users"),
    )
    wd = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        daily.withColumn("cum_distinct_users", F.sum("new_users").over(wd))
        .select("day", "new_users", "returning_users", "cum_distinct_users")
        .orderBy("day")
    )


def q_concurrent_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak session concurrency per day (sweep line): every session
    interval contributes +1 at its start and -1 at its end; the
    running sum over the GLOBALLY time-ordered boundary stream is the
    live-session count, and its per-day max is the capacity-planning
    number ("how many concurrent users must we serve"). Boundary
    order at equal timestamps is starts-before-ends (delta DESC) with
    a (user, seq) tie-break — a session ending exactly when another
    starts counts both as momentarily concurrent; the oracle applies
    the identical rule.

    Scale shape: the global ordered cumulative sum is THE
    single-partition-window trap — it rides the two-phase running-sum
    kernel (operators/scale.py) instead, so the sweep runs at cluster
    parallelism. Per-day peaks account for midnight carry-in (a day
    whose concurrency only falls still peaks at its first boundary's
    pre-delta value), so sessions spanning days are counted
    correctly."""
    from distributed_mapreduce_server_spark.operators.scale import two_phase_rank

    sess = q_events_sessionize(spark, sf_dir).select(
        "user_id", "session_seq", "session_start", "session_end"
    )
    deltas = sess.select(
        F.col("session_start").alias("ts"),
        F.lit(1.0).alias("delta"),
        "user_id",
        "session_seq",
    ).unionByName(
        sess.select(
            F.col("session_end").alias("ts"),
            F.lit(-1.0).alias("delta"),
            "user_id",
            "session_seq",
        )
    )
    ranked, _, tagged = two_phase_rank(
        spark,
        deltas,
        [F.col("ts"), F.desc("delta"), F.col("user_id"), F.col("session_seq")],
        sum_cols=["delta"],
        rn_col="rn",
        materialize=False,
    )
    first_carry = F.min(
        F.struct(
            F.col("rn").alias("rn"),
            (F.col("cum_delta") - F.col("delta")).alias("cin"),
        )
    )
    out = (
        ranked.withColumn("day", F.date_trunc("day", "ts"))
        .groupBy("day")
        .agg(
            F.count("*").cast("bigint").alias("n_boundaries"),
            F.max("cum_delta").alias("mx"),
            first_carry.alias("fc"),
        )
        .select(
            "day",
            "n_boundaries",
            F.greatest(F.col("mx"), F.col("fc.cin")).cast("integer").alias(
                "max_concurrent"
            ),
        )
        .orderBy("day")
    )
    out = out.localCheckpoint(eager=True)
    tagged.unpersist()
    return out


LATENESS_JITTER_SEED = 17
# Above the top histogram-bucket edge (600 s) so bucket 4_gt_10m is
# reachable: lateness ~ jitter on dense streams, and the repo's
# non-vacuity sizing rule requires every bucket populated at test SFs.
LATENESS_JITTER_MAX_S = 900


def q_events_lateness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-orderness audit — the pre-flight that SIZES a streaming
    watermark: per event, how far behind the event-time frontier
    (running max of ts over arrival order) did it arrive? The bucketed
    histogram per type answers "what watermark delay keeps X% of
    events" before any stateful streaming job is deployed.

    Arrival order is SIMULATED deterministically (arrival =
    event-time + seeded-hash jitter of up to LATENESS_JITTER_MAX_S
    seconds): the testdata's log is perfectly time-ordered, so
    lateness against its own order is vacuously zero; the portable
    seeded jitter models collection delay identically in both engines
    (same hash, same arrival sequence).

    Scale shape: the frontier is a GLOBAL running max over arrival
    order — the same single-partition-window trap as a global cumsum —
    so it rides the two-phase kernel's running-max columns
    (operators/scale.py max_cols); everything after is one partial-agg
    histogram."""
    from distributed_mapreduce_server_spark.functions import seeded_u60
    from distributed_mapreduce_server_spark.operators.scale import two_phase_rank

    ev = load_tables(spark, sf_dir, register_views=False)["events"].select(
        "event_id", "event_type", "ts"
    )
    jitter_s = F.pmod(
        seeded_u60(F.col("event_id").cast("string"), LATENESS_JITTER_SEED),
        F.lit(LATENESS_JITTER_MAX_S),
    )
    arr = ev.withColumn(
        "arrival_us", F.unix_micros("ts") + jitter_s * F.lit(1_000_000)
    )
    ranked, _, tagged = two_phase_rank(
        spark,
        arr,
        ["arrival_us", "event_id"],
        max_cols=["ts"],
        rn_col="arrival_rank",
        materialize=False,
    )
    late_s = (F.unix_micros("cummax_ts") - F.unix_micros("ts")) / F.lit(1e6)
    bucket = (
        F.when(late_s <= 0, "0_frontier")
        .when(late_s <= 60, "1_le_1m")
        .when(late_s <= 300, "2_le_5m")
        .when(late_s <= 600, "3_le_10m")
        .otherwise("4_gt_10m")
    )
    out = (
        ranked.select("event_type", late_s.alias("late_s"), bucket.alias("lateness_bucket"))
        .groupBy("event_type", "lateness_bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            fround(F.max("late_s"), 3).alias("max_late_s"),
        )
        .orderBy("event_type", "lateness_bucket")
    )
    out = out.localCheckpoint(eager=True)
    tagged.unpersist()
    return out


def q_events_hierarchical_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cascaded time rollup minute -> hour -> day (the hypertable /
    continuous-aggregate pattern): every coarser level aggregates the
    PREVIOUS level's partials, never the fact table. At 100 TB this
    is the difference between one fact scan feeding three
    aggregations and three fact scans — the minute partials are ~5
    orders of magnitude smaller than the raw stream, so hour and day
    cost ~nothing; the same cascade is how a streaming job would
    maintain these levels incrementally (merge new minute partials
    upward). The minute frame feeds both the hour rollup and the
    output union; ReuseExchange does not dedupe identical subtrees in
    practice (the q_graph_triangles measurement — a lazy plan scans
    the fact twice), so the minute frame persists eagerly and the
    cascade materializes through the cache before release.

    Counts stay exact integers up the cascade. Sums are re-rounded to
    2 dp AT EACH LEVEL in both engines, so the cascade itself (not
    just the final output) is cross-engine deterministic — the same
    per-level pinning q_pagerank applies per round."""
    ev = load_tables(spark, sf_dir, register_views=False)["events"]
    minute = ev.groupBy(F.date_trunc("minute", "ts").alias("bucket_start")).agg(
        F.count("*").alias("n_events"),
        fround(F.sum("value"), 2).alias("total_value"),
    ).persist()
    out = rollup_cascade(minute).localCheckpoint(eager=True)
    minute.unpersist()
    return out


def rollup_cascade(minute: DataFrame) -> DataFrame:
    """hour/day levels from a (bucket_start, n_events, total_value)
    MINUTE partial frame, unioned with it — ONE definition shared by
    the batch operator and streaming.stream_hierarchical_rollup's
    final readback (which carries the batch oracle), so the per-level
    rounding cascade cannot drift between the two."""
    hour = minute.groupBy(F.date_trunc("hour", "bucket_start").alias("bucket_start")).agg(
        F.sum("n_events").alias("n_events"),
        fround(F.sum("total_value"), 2).alias("total_value"),
    )
    day = hour.groupBy(F.date_trunc("day", "bucket_start").alias("bucket_start")).agg(
        F.sum("n_events").alias("n_events"),
        fround(F.sum("total_value"), 2).alias("total_value"),
    )
    levels = [
        minute.withColumn("level", F.lit("1_minute")),
        hour.withColumn("level", F.lit("2_hour")),
        day.withColumn("level", F.lit("3_day")),
    ]
    out = levels[0]
    for frame in levels[1:]:
        out = out.unionAll(frame)
    return out.select("level", "bucket_start", "n_events", "total_value").orderBy(
        "level", "bucket_start"
    )


AB_SEED = 20240814
# conversion = heavy purchaser (>= this many purchase events). The
# frozen corpora are dense — EVERY user has every event type at both
# SFs — so presence-of-purchase would be a degenerate 100% rate; the
# per-user purchase count is ~Poisson(13) at any SF (events/user is
# SF-invariant), so a cut at 14 yields a non-trivial rate at both.
AB_CONV_MIN_PURCHASES = 14


def q_events_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout: users split 50/50 by a seeded portable
    hash (the assignment every experimentation platform uses — sticky,
    stateless, reproducible from the user id alone), then per-variant
    conversion (heavy purchaser, see AB_CONV_MIN_PURCHASES) and
    revenue, with the pooled two-proportion z-score for the
    conversion lift (NULL when the pooled rate is degenerate 0/1 —
    both engines apply the same guard).

    Scale shape: one keyed shuffle to the per-user frame (conversion
    flag + revenue partial-agg), then a conditional-aggregate
    reduction straight to the 1-row readout — variant never becomes a
    2-partition shuffle key, so a 10⁹-user experiment reduces exactly
    like a 10³-user one. All inputs to the z-score are exact integers;
    the float expression tree is identical in the oracle, so the 6 dp
    rounding pins cross-engine parity."""
    from distributed_mapreduce_server_spark.functions import seeded_u60

    ev = load_tables(spark, sf_dir, register_views=False)["events"]
    per_user = ev.groupBy("user_id").agg(
        (
            F.sum((F.col("event_type") == "purchase").cast("int"))
            >= AB_CONV_MIN_PURCHASES
        )
        .cast("int")
        .alias("converted"),
        fround(
            F.sum(
                F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(
                    0.0
                )
            ),
            2,
        ).alias("purchase_value"),
    )
    tagged = per_user.withColumn(
        "variant",
        F.when(
            seeded_u60(F.col("user_id").cast("string"), AB_SEED) % 2 == 0, "A"
        ).otherwise("B"),
    )
    is_a = (F.col("variant") == "A").cast("int")
    is_b = (F.col("variant") == "B").cast("int")
    agg = tagged.agg(
        F.sum(is_a).cast("bigint").alias("n_a"),
        F.sum(is_b).cast("bigint").alias("n_b"),
        F.sum(is_a * F.col("converted")).cast("bigint").alias("conv_a"),
        F.sum(is_b * F.col("converted")).cast("bigint").alias("conv_b"),
        fround(F.sum(F.when(F.col("variant") == "A", F.col("purchase_value")).otherwise(0.0)), 2).alias("rev_a"),
        fround(F.sum(F.when(F.col("variant") == "B", F.col("purchase_value")).otherwise(0.0)), 2).alias("rev_b"),
    )
    # try_divide: an empty variant gives NULL rates, as in DuckDB
    pa = F.try_divide("conv_a", "n_a")
    pb = F.try_divide("conv_b", "n_b")
    pooled = F.try_divide(
        F.col("conv_a") + F.col("conv_b"), F.col("n_a") + F.col("n_b")
    )
    z = F.when(
        (pooled > 0) & (pooled < 1),
        (pa - pb)
        / F.sqrt(
            pooled
            * (F.lit(1.0) - pooled)
            * (F.try_divide(F.lit(1.0), "n_a") + F.try_divide(F.lit(1.0), "n_b"))
        ),
    )
    return agg.select(
        "n_a",
        "n_b",
        "conv_a",
        "conv_b",
        fround(pa, 6).alias("rate_a"),
        fround(pb, 6).alias("rate_b"),
        fround(pa - pb, 6).alias("lift"),
        fround(z, 6).alias("z_score"),
        "rev_a",
        "rev_b",
    )


MARKOV_ROUNDS = 20


def q_events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the first-order event-type Markov
    chain (power iteration, MARKOV_ROUNDS rounds from uniform), next
    to the empirical type share and their gap — "does long-run chain
    behavior match the marginal mix" is the drift check behind
    session-model monitoring.

    Bounded-collect contract (the similarity.py:40 pattern): the
    fact-scale work — per-user lag window + pair counts — runs
    distributed and reduces to the K×K transition-count matrix,
    K = |event-type domain| (~5, schema-bounded like the 64-dim
    covariance); only that matrix and the K-row marginal reach the
    driver, where the K×K power iteration is arithmetic noise. Per
    round the new vector is rounded to 10 dp (fround_scalar) exactly
    like the PageRank loop, so the oracle's unrolled CTE rounds land
    on the same grid regardless of float-sum order."""
    from distributed_mapreduce_server_spark.functions import fround_scalar

    ev = load_tables(spark, sf_dir, register_views=False)["events"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select("user_id", "event_id", "ts", "event_type")
        .withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count("*").alias("n"))
    )
    rows = pairs.collect()  # K^2 rows, K = event-type domain
    marg = (
        ev.groupBy("event_type").agg(F.count("*").alias("n")).collect()
    )  # K rows
    types = sorted({r.prev_type for r in rows} | {r.next_type for r in rows})
    tot = {t: 0 for t in types}
    for r in rows:
        tot[r.prev_type] += r.n
    P = {(r.prev_type, r.next_type): r.n / tot[r.prev_type] for r in rows}
    pi = {t: 1.0 / len(types) for t in types}
    for _ in range(MARKOV_ROUNDS):
        pi = {
            t: fround_scalar(
                sum(pi[s] * P.get((s, t), 0.0) for s in types), 10
            )
            for t in types
        }
    n_events = sum(r.n for r in marg)
    emp = {r.event_type: fround_scalar(r.n / n_events, 10) for r in marg}
    out = [
        (t, pi[t], emp.get(t, 0.0), fround_scalar(abs(pi[t] - emp.get(t, 0.0)), 10))
        for t in types
    ]
    return spark.createDataFrame(
        out, "event_type string, pi double, emp_share double, gap double"
    ).orderBy("event_type")


def q_events_trend_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type linear trend of daily event volume: grouped OLS of
    count on day index, with slope/intercept/R² and the next-day
    forecast — the capacity-planning readout ("is error volume
    growing, and what does tomorrow look like").

    Scale shape: the fact stream reduces to the (day × type) frame in
    one partial-agg shuffle; the regression consumes per-type scalar
    moments (second keyed reduction over the ~30·K-row daily frame) —
    the same moments-only OLS as text_zipf_fit, grouped. The day-zero
    anchor is a 1-row broadcast cross-join (q_customer_rfm pattern).
    Identical formula tree in the oracle under 6 dp rounding."""
    ev = load_tables(spark, sf_dir, register_views=False)["events"]
    daily = ev.groupBy(
        F.date_trunc("day", "ts").alias("day"), "event_type"
    ).agg(F.count("*").alias("n"))
    anchor = daily.agg(F.min("day").alias("day0"))
    xy = daily.crossJoin(F.broadcast(anchor)).select(
        "event_type",
        F.datediff("day", "day0").cast("double").alias("x"),
        F.col("n").cast("double").alias("y"),
    )
    m = xy.groupBy("event_type").agg(
        F.count("*").alias("n_days"),
        F.max("x").alias("xmax"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    num = F.col("n_days") * F.col("sxy") - F.col("sx") * F.col("sy")
    denx = F.col("n_days") * F.col("sxx") - F.col("sx") * F.col("sx")
    deny = F.col("n_days") * F.col("syy") - F.col("sy") * F.col("sy")
    # try_divide: a type seen on one day only has no x spread and gets
    # NULL fits, as in DuckDB
    slope = F.try_divide(num, denx)
    intercept = (F.col("sy") - slope * F.col("sx")) / F.col("n_days")
    return m.select(
        "event_type",
        F.col("n_days").cast("bigint").alias("n_days"),
        fround(slope, 6).alias("slope"),
        fround(intercept, 6).alias("intercept"),
        fround(F.try_divide(num * num, denx * deny), 6).alias("r2"),
        fround(intercept + slope * (F.col("xmax") + 1), 6).alias("forecast_next"),
    ).orderBy("event_type")


IVM_OLD_FRACTION = (4, 5)  # first 4/5 of event_id space = the old corpus


def q_ivm_join_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance of a join view. The materialized
    view is V = clicks ⋈ purchases (same user, purchase within 1 h of
    the click — the attribution join the streaming module also runs).
    When a delta batch arrives (here: the last 1/5 of the event_id
    space, dedup_incremental's cutoff convention), the refresh is
    V ← V ∪ ΔV with the bilinear identity

        ΔV = Δc ⋈ P_old  ∪  C_old ⋈ Δp  ∪  Δc ⋈ Δp

    — this operator computes ΔV via those three joins, each with a
    DELTA on at least one side, so refresh cost scales with the day's
    delta and never with |V| or the accumulated corpus (at 100 TB the
    old sides are read through their join-key partitioning / index,
    not rescanned: the joins are key-partitioned on user_id). Each
    output row carries its term tag. The oracle derives the identical
    set from the FULL join filtered to pairs touching a new row — the
    IVM identity executed as the parity check."""
    ev = load_tables(spark, sf_dir, register_views=False)["events"]
    num, den = IVM_OLD_FRACTION
    cut = ev.agg(
        F.floor(((F.max("event_id") + 1) * num) / den).cast("long").alias("cutoff")
    )
    evx = ev.crossJoin(F.broadcast(cut))

    def side(etype: str, prefix: str) -> DataFrame:
        return evx.filter(F.col("event_type") == etype).select(
            F.col("user_id").alias(f"{prefix}_user"),
            F.col("event_id").alias(f"{prefix}_id"),
            F.col("ts").alias(f"{prefix}_ts"),
            (F.col("event_id") >= F.col("cutoff")).alias(f"{prefix}_new"),
        )

    clicks, purchases = side("click", "click"), side("purchase", "purchase")
    cond = (
        (F.col("click_user") == F.col("purchase_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR"))
    )

    def term(c: DataFrame, p: DataFrame, tag: str) -> DataFrame:
        return c.join(p, cond).select(
            F.col("click_user").alias("user_id"),
            F.col("click_id"),
            F.col("purchase_id"),
            (F.col("purchase_ts").cast("long") - F.col("click_ts").cast("long")).alias(
                "delay_sec"
            ),
            F.lit(tag).alias("delta_term"),
        )

    old_c, new_c = clicks.filter(~F.col("click_new")), clicks.filter("click_new")
    old_p, new_p = (
        purchases.filter(~F.col("purchase_new")),
        purchases.filter("purchase_new"),
    )
    delta = (
        term(new_c, old_p, "new_old")
        .unionAll(term(old_c, new_p, "old_new"))
        .unionAll(term(new_c, new_p, "new_new"))
    )
    return delta.orderBy("user_id", "click_id", "purchase_id")


def q_sessions_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day bounce rate: share of sessions (q_events_sessionize's
    exact session definition — composed, not re-derived) that contain
    a single event, keyed by the session's start day — the first KPI
    a web-analytics dashboard adds after sessionization. Rides the
    sessionizer's per-user window partitioning; the daily reduction
    is one partial-agg shuffle over the session-sized frame."""
    sessions = q_events_sessionize(spark, sf_dir)
    return (
        sessions.groupBy(F.date_trunc("day", "session_start").alias("day"))
        .agg(
            F.count("*").alias("n_sessions"),
            F.sum((F.col("n_events") == 1).cast("bigint")).alias("n_bounces"),
            fround(
                F.sum((F.col("n_events") == 1).cast("bigint")) / F.count("*"), 6
            ).alias("bounce_rate"),
            fround(F.avg("n_events"), 4).alias("avg_session_events"),
        )
        .orderBy("day")
    )


def q_session_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join: pairs of DIFFERENT users' sessions whose
    [start, end] intervals intersect, aggregated per overlap-start
    day — "who was online together", the workload behind co-presence
    and capacity attribution. Session definition composed from
    q_events_sessionize.

    Spark has no native interval join, so this is the standard
    distributed realization: each interval explodes to the HOUR GRID
    CELLS it covers (fan-out = session duration in hours, ~1-2 here),
    candidates pair only WITHIN a cell (keyed join on the cell +
    user_a < user_b), duplicates from multi-cell overlaps collapse
    with one distinct, then the exact predicate
    (a.start ≤ b.end ∧ b.start ≤ a.end) verifies. Work per cell is
    (concurrency choose 2) — the grid turns a quadratic all-pairs
    into concurrency-bounded local products; a hotter system picks a
    finer grid (the dial is cell width vs fan-out). Overlap durations
    sum as exact integer MICROSECONDS (no float drift); the oracle
    runs the naive inequality self-join (DuckDB's IEJoin affords it
    at test SF) over the same composed sessions."""
    sessions = q_events_sessionize(spark, sf_dir).select(
        "user_id", "session_seq", "session_start", "session_end"
    )
    cells = sessions.select(
        "user_id",
        "session_seq",
        "session_start",
        "session_end",
        F.explode(
            F.sequence(
                F.date_trunc("hour", "session_start"),
                F.date_trunc("hour", "session_end"),
                F.expr("INTERVAL 1 HOUR"),
            )
        ).alias("cell"),
    )
    a = cells.select(
        F.col("cell").alias("cell_a"),
        F.col("user_id").alias("ua"),
        F.col("session_seq").alias("sa"),
        F.col("session_start").alias("sta"),
        F.col("session_end").alias("ena"),
    )
    b = cells.select(
        F.col("cell").alias("cell_b"),
        F.col("user_id").alias("ub"),
        F.col("session_seq").alias("sb"),
        F.col("session_start").alias("stb"),
        F.col("session_end").alias("enb"),
    )
    cand = (
        a.join(b, (F.col("cell_a") == F.col("cell_b")) & (F.col("ua") < F.col("ub")))
        .select("ua", "sa", "sta", "ena", "ub", "sb", "stb", "enb")
        .distinct()
    )
    verified = cand.filter(
        (F.col("sta") <= F.col("enb")) & (F.col("stb") <= F.col("ena"))
    )
    ov_us = F.least(F.unix_micros("ena"), F.unix_micros("enb")) - F.greatest(
        F.unix_micros("sta"), F.unix_micros("stb")
    )
    return (
        verified.select(
            F.date_trunc("day", F.greatest("sta", "stb")).alias("day"),
            ov_us.alias("ov_us"),
        )
        .groupBy("day")
        .agg(
            F.count("*").alias("n_overlapping_pairs"),
            F.sum("ov_us").cast("bigint").alias("total_overlap_us"),
        )
        .orderBy("day")
    )


def q_cohort_retention_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL retention triangle (cohort day × days-since-first),
    generalizing q_events_retention's d1/d7 columns to every offset:
    each cell is how many (and what share) of a first-day cohort were
    active exactly N days later — the canvas behind every retention
    heatmap. Scale shape: distinct (user, day) activity (one partial
    agg), per-user cohort day (second), one keyed join back, then the
    (cohort, offset) cell reduction — no event-level self-join, no
    window; cells are bounded by days², not data."""
    ev = load_tables(spark, sf_dir, register_views=False)["events"]
    user_days = ev.select(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).distinct()
    cohorts = user_days.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    j = user_days.join(cohorts, "user_id").withColumn(
        "day_n", F.datediff(F.col("day"), F.col("cohort_day"))
    )
    cells = j.groupBy("cohort_day", "day_n").agg(
        F.countDistinct("user_id").alias("n_active")
    )
    sizes = cells.filter(F.col("day_n") == 0).select(
        "cohort_day", F.col("n_active").alias("cohort_size")
    )
    return (
        cells.join(sizes, "cohort_day")
        .select(
            "cohort_day",
            "day_n",
            "n_active",
            "cohort_size",
            fround(F.col("n_active") / F.col("cohort_size"), 6).alias("retention"),
        )
        .orderBy("cohort_day", "day_n")
    )


ACF_LAGS = (1, 7)


def q_events_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the per-type daily volume series at lags 1
    and 7 — the "is there day-to-day momentum / weekly seasonality"
    readout that complements q_events_trend_fit (trend) and
    q_seasonality_index (monthly shape). Pearson r between the series
    and its lag-k shift, per (event_type, lag), from scalar moments.

    Scale shape: the fact stream reduces to the (day × type) frame
    first; the lag windows run over THAT bounded frame (calendar days
    × type — the q_running_revenue bounded-frame precedent), and each
    (type, lag) folds to six moments."""
    ev = load_tables(spark, sf_dir, register_views=False)["events"]
    daily = ev.groupBy(
        F.date_trunc("day", "ts").alias("day"), "event_type"
    ).agg(F.count("*").cast("double").alias("y"))
    w = Window.partitionBy("event_type").orderBy("day")
    out = None
    for lag in ACF_LAGS:
        xy = daily.withColumn("x", F.lag("y", lag).over(w)).filter(
            F.col("x").isNotNull()
        )
        m = xy.groupBy("event_type").agg(
            F.lit(lag).alias("lag"),
            F.count("*").cast("bigint").alias("n_pairs"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("y") * F.col("y")).alias("syy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
        )
        num = F.col("n_pairs") * F.col("sxy") - F.col("sx") * F.col("sy")
        den = F.sqrt(
            (F.col("n_pairs") * F.col("sxx") - F.col("sx") * F.col("sx"))
            * (F.col("n_pairs") * F.col("syy") - F.col("sy") * F.col("sy"))
        )
        r = m.select(
            "event_type", "lag", "n_pairs", fround(num / den, 6).alias("acf")
        )
        out = r if out is None else out.unionAll(r)
    return out.orderBy("event_type", "lag")


SLO_ERROR_RATE = 0.25


def q_events_error_rate_slo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-budget / SLO table: per day, how many hours breached the
    SLO_ERROR_RATE error-share threshold, the day's worst hourly rate
    and when it happened — the on-call dashboard's burn-rate view.
    Threshold sits at 0.25 so both SFs have breaches AND compliant
    hours (204/720 and 36/720 breach hours — non-vacuous in both
    directions, the verify-skill sizing rule).

    Scale shape: one partial-agg shuffle to the hourly frame, a
    day-keyed reduction over those ≤24·days rows, and the worst hour
    resolves by equality-join on the day's max ROUNDED rate with a
    min-hour tie-break (deterministic cross-engine; max_by is
    tie-nondeterministic in both engines, so neither uses it)."""
    ev = load_tables(spark, sf_dir, register_views=False)["events"]
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("hour")).agg(
        F.count("*").alias("n"),
        F.sum((F.col("event_type") == "error").cast("long")).alias("n_err"),
    )
    return slo_from_hourly(hourly)


def slo_from_hourly(counts: DataFrame) -> DataFrame:
    """Daily SLO reduction over an (hour, n, n_err) frame — ONE
    definition shared by the batch operator and
    streaming.stream_error_rate_slo (which maintains the hourly
    counts incrementally and carries the batch oracle)."""
    hourly = counts.select(
        "hour",
        "n",
        fround(F.col("n_err") / F.col("n"), 6).alias("r"),
    )
    daily = hourly.groupBy(F.date_trunc("day", "hour").alias("day")).agg(
        F.count("*").cast("bigint").alias("n_hours"),
        F.sum((F.col("r") > SLO_ERROR_RATE).cast("long")).cast("bigint").alias(
            "n_breach_hours"
        ),
        F.max("r").alias("max_error_rate"),
    )
    worst = (
        hourly.select(F.date_trunc("day", "hour").alias("day"), "hour", "r")
        .join(daily.select("day", F.col("max_error_rate").alias("r")), ["day", "r"])
        .groupBy("day")
        .agg(F.min("hour").alias("worst_hour"))
    )
    return (
        daily.join(worst, "day")
        .select("day", "n_hours", "n_breach_hours", "max_error_rate", "worst_hour")
        .orderBy("day")
    )


SEQ_PATTERN_TOP_K = 20


def q_events_sequential_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent sequential patterns (round 8): the top event-type
    TRIGRAMS by user support — the fraction of users whose stream
    contains the three types as consecutive events. This is the
    sequence-mining statistic q_events_transitions' first-order
    Markov counts can't express (support counts USERS once, not
    occurrences, so one bot session can't promote a pattern).

    Scale shape: two lead() windows over the per-user keyed spec
    (user_id is fact-cardinality — cluster-wide parallelism), a
    composite-key distinct bounded by users x distinct-trigrams, a
    partial-agg pattern count, and a 1-row broadcast user-total
    cross-join for the support denominator; the top-K is a
    TakeOrdered merge with (count desc, pattern) tie-break, never a
    global sort."""
    ev = load_tables(spark, sf_dir, register_views=False)["events"]
    base = ev.select("user_id", "event_id", "ts", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tri = (
        base.withColumn("t2", F.lead("event_type", 1).over(w))
        .withColumn("t3", F.lead("event_type", 2).over(w))
        .filter(F.col("t3").isNotNull())
        .select(
            "user_id",
            F.concat_ws(" > ", "event_type", "t2", "t3").alias("pattern"),
        )
        .distinct()
    )
    n_users = base.agg(F.count_distinct("user_id").alias("__n_users"))
    return (
        tri.groupBy("pattern")
        .agg(F.count("*").alias("n_users_with"))
        .crossJoin(F.broadcast(n_users))
        .select(
            "pattern",
            "n_users_with",
            fround(F.col("n_users_with") / F.col("__n_users"), 4).alias("support"),
        )
        .orderBy(F.desc("n_users_with"), "pattern")
        .limit(SEQ_PATTERN_TOP_K)
    )


BURST_K = 1.3


def q_events_burst_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst detection (round 8): maximal runs of consecutive HOURS
    where an event type's hourly volume exceeds BURST_K x its own
    average hourly rate — the classic gaps-and-islands formulation of
    traffic-spike forensics (each output row is one burst: when it
    started, when it ended, how tall it got). Complements
    q_events_anomaly's pointwise z-scores with EPISODES.

    Scale shape: the only fact-scale work is the partial-agg hourly
    rollup; everything after runs on the (type x hour) frame, which
    is calendar-bounded, not volume-bounded — the per-type threshold
    is a broadcast |types|-row join, and the island window partitions
    by event_type over that bounded frame (BOUNDED_FRAME_WINDOWS
    class). Thresholding is deterministic: hourly counts are exact
    integers in double, so AVG and BURST_K*mu are bit-identical
    across engines."""
    ev = load_tables(spark, sf_dir, register_views=False)["events"]
    mc = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("m")
    ).agg(F.count("*").alias("n"))
    return bursts_from_hourly(mc)


def bursts_from_hourly(mc: DataFrame) -> DataFrame:
    """Burst episodes from an (event_type, hour m, count n) frame —
    shared by the batch operator above and its streaming twin
    (streaming/jobs.stream_burst_detection), which drains the same
    hourly counts out of streaming aggregation state. Everything here
    runs on the calendar-bounded (type x hour) frame."""
    st = mc.groupBy("event_type").agg(F.avg("n").alias("mu"))
    hot = mc.join(F.broadcast(st), "event_type").filter(
        F.col("n") > BURST_K * F.col("mu")
    )
    w = Window.partitionBy("event_type").orderBy("m")
    isl = hot.withColumn(
        "grp",
        (F.unix_timestamp("m") / 3600).cast("long") - F.row_number().over(w),
    )
    return (
        isl.groupBy("event_type", "grp")
        .agg(
            F.min("m").alias("burst_start"),
            F.max("m").alias("burst_end"),
            F.count("*").cast("bigint").alias("n_hours"),
            F.sum("n").cast("bigint").alias("total_events"),
            F.max("n").cast("bigint").alias("peak_events"),
        )
        .select(
            "event_type",
            "burst_start",
            "burst_end",
            "n_hours",
            "total_events",
            "peak_events",
        )
        .orderBy("event_type", "burst_start")
    )


# Per-user event-type entropy histogram bucket width. The frozen
# corpora concentrate H in [1.44, 1.61] nats (5 near-uniform types →
# H ≈ ln 5), so a coarse 0.25-wide bucket would collapse every user
# into one row; 0.02 spreads both SFs across ~9 buckets with
# populated AND empty buckets between min and max (verify-skill
# non-vacuous sizing rule).
ENTROPY_BUCKET_W = 0.02


def q_events_user_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral-diversity audit: Shannon entropy (nats) of each
    user's event-type distribution, reported as a histogram over
    ENTROPY_BUCKET_W-wide buckets (bucket floor, user count, mean
    event volume). Low-entropy users do one thing over and over —
    the complementary signal to q_events_bot_flags' cadence
    regularity for spotting scripted traffic.

    Scale shape: one partial-agg shuffle to the (user, type) count
    frame (bounded by |users|·|types|), a user-keyed reduction that
    folds Σ n·ln n and Σ n into H = ln N − (Σ n·ln n)/N per user
    (one pass — no second join against a totals frame), then a
    bucket-keyed reduction to ≤ ⌈H_max/W⌉ rows. Entropy is computed
    from exact integer counts, rounded once at 6 dp; the bucket id
    derives from the ROUNDED value so the histogram is engine-stable
    even when H sits within float noise of a bucket edge."""
    ev = load_tables(spark, sf_dir, register_views=False)["events"]
    per_type = ev.groupBy("user_id", "event_type").agg(
        F.count("*").alias("n")
    )
    per_user = per_type.groupBy("user_id").agg(
        F.sum("n").alias("n_events"),
        F.sum(F.col("n") * F.log(F.col("n"))).alias("s_nlogn"),
    )
    h = per_user.select(
        "user_id",
        "n_events",
        fround(
            F.log(F.col("n_events")) - F.col("s_nlogn") / F.col("n_events"), 6
        ).alias("entropy"),
    )
    # Grid-exact bucketing: entropy is already on the 1e-6 grid, so
    # round(H*1e6) recovers the exact integer micro-nats and the
    # bucket id is integer division by 20 000 (0.02 in micro-nats).
    # Dividing the double directly (floor(H/0.02)) misbuckets exact
    # edges — 1.44/0.02 = 71.999999999999986 floors to bucket 1.42.
    micro = F.round(F.col("entropy") * F.lit(1e6)).cast("long")
    bucket = (F.floor(micro / F.lit(20000)) * 2).cast("double") / F.lit(100.0)
    return (
        h.select(
            bucket.alias("entropy_bucket"),
            "n_events",
        )
        .groupBy("entropy_bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_users"),
            fround(F.avg("n_events"), 4).alias("avg_events"),
        )
        .orderBy("entropy_bucket")
    )


# Bot-cadence gate: flag users whose inter-event gap coefficient of
# variation sits below BOT_CV_T with at least BOT_MIN_GAPS observed
# gaps. Human traffic on the frozen corpora spans cv ∈ [0.66, 1.53]
# with the 5th percentile ≈ 0.82 at both SFs, so 0.85 flags a real
# non-empty minority (≈7 users at sf0.01, ≈80 at sf0.1) while most
# users pass — non-vacuous in both directions at both SFs.
BOT_CV_T = 0.85
BOT_MIN_GAPS = 20


def q_events_bot_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cadence-regularity bot screen: users whose inter-event timing
    is suspiciously metronomic — coefficient of variation (population
    stddev / mean) of consecutive-event gaps below BOT_CV_T over at
    least BOT_MIN_GAPS gaps. A scripted poller fires on a timer
    (cv → 0); organic sessions are bursty (cv ≥ 1 for memoryless
    arrivals). Returns the flagged users with their gap statistics.

    Scale shape: the lag window partitions by user_id — a
    high-cardinality fact key, so the sort parallelizes across the
    cluster (the q_events_sessionize precedent, NOT a tiny-dim
    window); everything after is a user-keyed partial aggregation.
    CV is derived from exact moment sums (n, Σg, Σg²) and rounded
    once; the filter compares the ROUNDED cv so the flag set is
    engine-stable at the threshold boundary. Zero-mean users (every
    gap exactly 0 s) pin cv = 0.0 explicitly — 0/0 would NULL-drop
    the strongest bots."""
    ev = load_tables(spark, sf_dir, register_views=False)["events"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (
        ev.select(
            "user_id",
            (
                F.col("ts").cast("double")
                - F.lag(F.col("ts").cast("double")).over(w)
            ).alias("gap"),
        )
        .filter(F.col("gap").isNotNull())
    )
    stats = gaps.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_gaps"),
        F.sum("gap").alias("sg"),
        F.sum(F.col("gap") * F.col("gap")).alias("sgg"),
    )
    mean = F.col("sg") / F.col("n_gaps")
    var = F.col("sgg") / F.col("n_gaps") - mean * mean
    # mean == 0 (every gap exactly zero — perfectly metronomic, the
    # STRONGEST bot signal) would make cv = 0/0 → NULL and the filter
    # would silently drop exactly the user it should flag; pin cv to
    # 0.0 explicitly so the edge case is deterministic in both engines.
    cv = F.when(F.col("sg") == 0, F.lit(0.0)).otherwise(
        fround(F.sqrt(F.greatest(var, F.lit(0.0))) / mean, 6)
    )
    out = stats.select(
        "user_id",
        "n_gaps",
        fround(mean, 4).alias("mean_gap_s"),
        cv.alias("gap_cv"),
    )
    return (
        out.filter(
            (F.col("n_gaps") >= BOT_MIN_GAPS) & (F.col("gap_cv") < BOT_CV_T)
        )
        .orderBy("user_id")
    )
