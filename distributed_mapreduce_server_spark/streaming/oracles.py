"""DuckDB oracle SQL for the structured-streaming jobs (streaming/jobs.py).

Every job runs under ``availableNow`` (drain the source, then stop),
so its output is deterministic and carries a full value-parity oracle:
either the batch operator's own oracle, or the batch SQL with the
stream's watermark/eviction predicate applied.
"""

from distributed_mapreduce_server_spark.mapreduce.oracles import MAPREDUCE_ORACLES
from distributed_mapreduce_server_spark.operators.dedup_oracles import DEDUP_ORACLES
from distributed_mapreduce_server_spark.operators.search import PHRASE_QUERIES
from distributed_mapreduce_server_spark.operators.text_oracles import TEXT_ORACLES, _TOKS
from distributed_mapreduce_server_spark.oracles import EVENTS_ORACLES

STREAMING_ORACLES: dict[str, str] = {}

# stream_sessionize emits exactly the sessions CLOSED during the run:
# under availableNow a session closes when a later event starts the
# user's next session, so the output is the batch sessionization MINUS
# each user's final (still-open, in-state) session — deterministic,
# full value parity (verified at sf0.001 and sf0.01).
STREAMING_ORACLES["stream_sessionize"] = """
    WITH flagged AS (
        SELECT user_id, event_id, ts, value,
               CASE WHEN epoch_us(ts) - epoch_us(LAG(ts, 1) OVER w) IS NULL
                         OR epoch_us(ts) - epoch_us(LAG(ts, 1) OVER w) > 1800000000
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessioned AS (
        SELECT user_id, event_id, ts, value,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
        FROM flagged
    ), sess AS (
        SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
               COUNT(*) AS n_events,
               MIN(ts) AS session_start,
               MAX(ts) AS session_end,
               ROUND(SUM(value), 2) AS session_value
        FROM sessioned
        GROUP BY user_id, session_seq
    )
    SELECT * FROM sess
    WHERE session_seq < (SELECT max(s2.session_seq) FROM sess s2
                         WHERE s2.user_id = sess.user_id)
    ORDER BY user_id, session_seq
"""
# stateful last-touch attribution (applyInPandasWithState) is
# deterministic under availableNow (in-batch rows sorted into the
# batch window order) -> carries the batch attribution oracle.
STREAMING_ORACLES["stream_burst_detection"] = EVENTS_ORACLES["q_events_burst_detection"]
STREAMING_ORACLES["stream_kl_drift"] = TEXT_ORACLES["text_source_kl_divergence"]
STREAMING_ORACLES["stream_attribution"] = EVENTS_ORACLES["q_events_attribution"]
# complete-mode windowed agg under availableNow is deterministic ->
# full oracle (the stream omits distinct_users: distinct aggregations
# are unsupported in streaming, so its oracle is the batch one minus
# that column).
STREAMING_ORACLES["stream_events_windowed"] = """
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS total_value
    FROM events
    GROUP BY 1, 2
    ORDER BY window_start, event_type
"""
STREAMING_ORACLES["stream_static_join_windowed"] = """
    SELECT date_trunc('hour', ts) AS window_start, c_mktsegment,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS total_value
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY 1, 2
    ORDER BY 1, 2
"""
# streaming dedup is deterministic (min-aggregation), so unlike the
# other streaming jobs it gets the full batch oracle.
STREAMING_ORACLES["stream_dedup_exact"] = DEDUP_ORACLES["dedup_exact"]
# the reference's flagship wordcount as an incremental stream —
# deterministic counts, so it carries mr_wordcount's full oracle.
STREAMING_ORACLES["stream_wordcount"] = MAPREDUCE_ORACLES["mr_wordcount"]
# stream-stream inner join is append-mode deterministic -> full oracle.
STREAMING_ORACLES["stream_click_purchase_join"] = """
    SELECT c.user_id,
           c.event_id AS click_id,
           p.event_id AS purchase_id,
           CAST(date_diff('second', c.ts, p.ts) AS BIGINT) AS delay_sec
    FROM events c JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
    ORDER BY 1, 2, 3
"""
# left-outer adds watermark-gated null-padded rows to the inner join.
# Eviction predicate measured empirically (tests/test_round4_ops.py
# boundary probe): a click's null row is emitted iff the global
# watermark — min over sides of (max side ts - 1 day), FLOORED TO
# WHOLE MILLISECONDS (Spark tracks watermarks in ms) — STRICTLY
# exceeds click_ts + 1h. 999 us past the boundary does not emit;
# 1000 us does.
STREAMING_ORACLES["stream_click_purchase_left_join"] = """
    WITH side_max AS (
        SELECT (SELECT max(ts) FROM events WHERE event_type = 'click') AS mc,
               (SELECT max(ts) FROM events WHERE event_type = 'purchase') AS mp
    ),
    -- least() would IGNORE a NULL side; Spark's global watermark is
    -- the min over sides and an empty side pins it at epoch 0 (no
    -- eviction), so an empty side must yield a NULL watermark here.
    wm AS (
        SELECT CASE WHEN mc IS NULL OR mp IS NULL THEN NULL
                    ELSE make_timestamp(
                        (epoch_us(least(mc, mp) - INTERVAL 1 DAY) // 1000) * 1000)
               END AS w
        FROM side_max
    ),
    matched AS (
        SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
               CAST(date_diff('second', c.ts, p.ts) AS BIGINT) AS delay_sec
        FROM events c JOIN events p
          ON c.user_id = p.user_id
         AND c.event_type = 'click' AND p.event_type = 'purchase'
         AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
    ),
    unmatched AS (
        SELECT c.user_id, c.event_id AS click_id,
               NULL::BIGINT AS purchase_id, NULL::BIGINT AS delay_sec
        FROM events c, wm
        WHERE c.event_type = 'click'
          AND c.ts + INTERVAL 1 HOUR < wm.w
          AND NOT EXISTS (
              SELECT 1 FROM events p
              WHERE p.user_id = c.user_id AND p.event_type = 'purchase'
                AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR)
    )
    SELECT * FROM (SELECT * FROM matched UNION ALL SELECT * FROM unmatched)
    ORDER BY 1, 2, 3
"""
# sliding-window counts are complete-mode deterministic; the top-K
# rank is a plain window function over them -> full oracle. Each
# event lands in exactly 2 overlapping 60-min windows (slide 30 min).
STREAMING_ORACLES["stream_trending_topk"] = """
    WITH slid AS (
        SELECT time_bucket(INTERVAL '30 minutes', ts)
                   - o.off * INTERVAL '30 minutes' AS window_start,
               event_type, value
        FROM events, (SELECT unnest([0, 1]) AS off) o
    ),
    agg AS (
        SELECT window_start, event_type, COUNT(*) AS n,
               ROUND(SUM(value), 2) AS win_value
        FROM slid
        GROUP BY 1, 2
    )
    SELECT window_start, event_type, n, win_value, rank
    FROM (
        SELECT *, ROW_NUMBER() OVER (
                   PARTITION BY window_start
                   ORDER BY n DESC, event_type) AS rank
        FROM agg
    )
    WHERE rank <= 3
    ORDER BY window_start, rank
"""
# append-mode trending: each sliding window emitted once, when the
# watermark (max ts - 10min) passes its end — equality emits, same
# verified predicate as the session-window job; the oracle applies
# the identical cutoff on window_end = start + 60min.
STREAMING_ORACLES["stream_trending_topk_append"] = """
    WITH slid AS (
        SELECT time_bucket(INTERVAL '30 minutes', ts)
                   - o.off * INTERVAL '30 minutes' AS window_start,
               event_type, value
        FROM events, (SELECT unnest([0, 1]) AS off) o
    ),
    agg AS (
        SELECT window_start, event_type, COUNT(*) AS n,
               ROUND(SUM(value), 2) AS win_value
        FROM slid
        GROUP BY 1, 2
    ),
    wm AS (SELECT MAX(ts) - INTERVAL 10 MINUTE AS watermark FROM events),
    closed AS (
        SELECT agg.* FROM agg, wm
        WHERE window_start + INTERVAL 60 MINUTE <= watermark
    )
    SELECT window_start, event_type, n, win_value, rank
    FROM (
        SELECT *, ROW_NUMBER() OVER (
                   PARTITION BY window_start
                   ORDER BY n DESC, event_type) AS rank
        FROM closed
    )
    WHERE rank <= 3
    ORDER BY window_start, rank
"""
# native session_window under availableNow emits exactly the sessions
# whose (last_ts + gap) <= the final watermark (max ts - 10min) —
# equality emits, verified empirically; the oracle applies the same
# cutoff, with the same (ts, event_id) tie order in both windows.
STREAMING_ORACLES["stream_session_window_native"] = """
    WITH o AS (
        SELECT user_id, ts, event_id, value,
               CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         > INTERVAL 30 MINUTE OR
                         LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
    ),
    s AS (
        SELECT *, SUM(new_sess) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS sess_id
        FROM o
    ),
    agg AS (
        SELECT user_id,
               MIN(ts) AS session_start,
               MAX(ts) + INTERVAL 30 MINUTE AS session_end,
               COUNT(*) AS n_events,
               ROUND(SUM(value), 2) AS session_value
        FROM s
        GROUP BY user_id, sess_id
    ),
    wm AS (SELECT MAX(ts) - INTERVAL 10 MINUTE AS watermark FROM events)
    SELECT user_id, session_start, session_end, n_events, session_value
    FROM agg, wm
    WHERE session_end <= watermark
    ORDER BY user_id, session_start
"""
# the foreachBatch upsert sink must converge to exactly the batch
# compaction's state -> it carries q_events_latest_per_key's oracle.
STREAMING_ORACLES["stream_upsert_foreachbatch"] = EVENTS_ORACLES["q_events_latest_per_key"]
# streaming near-dup ingest: id-ordered micro-batches scored against
# the stored historical band index + the growing extension index are
# status-identical to the batch incremental operator (every doc sees
# exactly the smaller-id docs), so the job carries its full oracle
# under availableNow.
STREAMING_ORACLES["stream_neardup_ingest"] = DEDUP_ORACLES["dedup_incremental_neardup"]
# dropDuplicatesWithinWatermark over byte-identical duplicate
# deliveries is deterministic (whichever copy wins, the row is the
# same) -> the oracle is simply the plain events table.
STREAMING_ORACLES["stream_dedup_within_watermark"] = """
    SELECT event_id, ts, user_id, event_type,
           ROUND(value, 2) AS value, props
    FROM events
    ORDER BY event_id
"""
# stateless stream-static filter, append-mode deterministic -> the
# batch anomaly operator's oracle verifies the streaming job too.
STREAMING_ORACLES["stream_anomaly_filter"] = EVENTS_ORACLES["q_events_anomaly"]
# stateless classifier filter on the document stream: scores with the
# SAME expressions as the batch operator, so its oracle is the batch
# oracle restricted to kept rows.
STREAMING_ORACLES["stream_model_quality_filter"] = (
    "SELECT doc_id, model_score FROM (\n"
    + TEXT_ORACLES["text_model_quality_filter"]
    + "\n) WHERE keep ORDER BY doc_id"
)
# streaming SLO table: hourly (total, error) counts are the only
# state; the daily reduction reuses the batch helper -> batch oracle.
STREAMING_ORACLES["stream_error_rate_slo"] = EVENTS_ORACLES["q_events_error_rate_slo"]
# ingest-door phrase alerting: per-row bigram match + complete-mode
# count state; carries the batch phrase oracle minus the distinct-doc
# column (distinct aggs are unsupported in streaming).
STREAMING_ORACLES["stream_phrase_search"] = f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    p1 AS (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM t),
    bg AS (SELECT toks[i] || ' ' || toks[i + 1] AS bigram FROM p1)
    SELECT bigram AS phrase, COUNT(*) AS n_occurrences
    FROM bg
    WHERE bigram IN ({", ".join(f"'{p}'" for p in PHRASE_QUERIES)})
    GROUP BY 1
    ORDER BY 1
"""
# incremental continuous aggregate: foreachBatch maintains the
# minute-level additive state (day-partitioned merge), the cascade to
# hour/day reuses the batch helper — availableNow drains everything,
# so the job carries the batch cascade's full oracle.
STREAMING_ORACLES["stream_hierarchical_rollup"] = EVENTS_ORACLES[
    "q_events_hierarchical_rollup"
]
# date-partitioned parquet ingest: the registry entry re-reads the
# LANDED sink files, so the oracle checks the exactly-once write path
# end-to-end (availableNow drains everything -> sink == source).
STREAMING_ORACLES["stream_ingest_partitioned"] = """
    SELECT event_id, ts, user_id, event_type,
           ROUND(value, 2) AS value, props,
           date_trunc('day', ts) AS event_date
    FROM events
    ORDER BY event_id
"""
