"""Scale-readiness gate (SURVEY.md §5): assert the physical plans have
the shape that survives 100 TB — pushdown, pruning, broadcasts,
map-side partial aggregation. Stray cartesian products and fact-scale
windows over tiny partition specs are audited on every key's executed
plans in the parity run (tests/plan_audit.py).
"""

from __future__ import annotations

import pytest

from distributed_mapreduce_server_spark import registry
from distributed_mapreduce_server_spark.plans import (
    broadcast_join_count,
    cartesian_count,
    has_partial_agg,
    pushed_filters,
    scan_read_schemas,
    shuffle_count,
)

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def queries():
    return registry.all_queries()


def test_q6_filters_reach_scan(spark, queries):
    """Q6 is a tight filter + sum: every predicate must be pushed into
    the parquet reader, not evaluated post-scan."""
    df = queries["q6_revenue_forecast"](spark, SF)
    pushed = " ".join(pushed_filters(df))
    assert "l_shipdate" in pushed and "l_discount" in pushed and "l_quantity" in pushed


def test_q6_prunes_columns(spark, queries):
    """Q6 touches 4 lineitem columns; the scan must not read the other 12."""
    df = queries["q6_revenue_forecast"](spark, SF)
    schemas = scan_read_schemas(df)
    assert schemas and all(len(s.split(",")) <= 4 for s in schemas)


def test_q1_partial_aggregation(spark, queries):
    df = queries["q1_pricing_summary"](spark, SF)
    assert has_partial_agg(df)


@pytest.mark.parametrize("key", ["q3_shipping_priority", "q5_local_supplier", "q10_returned_items"])
def test_join_queries_broadcast_dims(spark, queries, key):
    """Dim tables (region/nation/customer at test SF) must broadcast —
    a shuffle join against a 5-row region table is wasted I/O."""
    df = queries[key](spark, SF)
    assert broadcast_join_count(df, execute=True) >= 1


def test_wordcount_shuffle_budget(spark, queries):
    """Wordcount needs exactly one hash shuffle (the groupBy); the sort
    for output ordering adds one range exchange. More means a regression."""
    df = queries["mr_wordcount"](spark, SF)
    assert shuffle_count(df) <= 2


def test_asof_join_shuffle_budget(spark, queries):
    """The as-of realization must stay at ~2 shuffles (union window +
    output sort) — a join-based plan would show more."""
    df = queries["q_asof_last_purchase"](spark, SF)
    assert shuffle_count(df) <= 3


def test_q12_filter_join_shape(spark, queries):
    """Q12's scans must prune to the 3 projected columns each (at real
    scale both join sides are facts; broadcast choice is left to AQE,
    which picks by runtime size)."""
    df = queries["q12_late_shipments"](spark, SF)
    schemas = scan_read_schemas(df)
    assert schemas and all(len(s.split(",")) <= 3 for s in schemas)


def test_q21_broadcasts_supplier_dim(spark, queries):
    """Q21's supplier dim must broadcast onto the tiny per-supplier
    rollup; the fact side aggregates before any join with it."""
    df = queries["q21_late_suppliers"](spark, SF)
    assert broadcast_join_count(df, execute=True) >= 1
    assert has_partial_agg(df)


def test_approx_quantiles_error_bound(spark, queries):
    """The percentile sketch must land within 1% relative error of the
    exact per-group percentiles at accuracy 10000."""
    approx = {r["l_returnflag"]: r for r in queries["q_approx_quantiles"](spark, SF).collect()}
    from pyspark.sql import functions as F

    from distributed_mapreduce_server_spark.catalog import load_tables

    li = load_tables(spark, SF, register_views=False)["lineitem"]
    exact = {
        r["l_returnflag"]: r
        for r in li.groupBy("l_returnflag")
        .agg(
            F.expr("percentile(l_extendedprice, 0.5)").alias("p50"),
            F.expr("percentile(l_extendedprice, 0.9)").alias("p90"),
            F.expr("percentile(l_extendedprice, 0.99)").alias("p99"),
        )
        .collect()
    }
    for flag, a in approx.items():
        e = exact[flag]
        for ak, ek in [("approx_p50", "p50"), ("approx_p90", "p90"), ("approx_p99", "p99")]:
            assert abs(a[ak] - e[ek]) / e[ek] < 0.01, (flag, ak, a[ak], e[ek])


@pytest.mark.parametrize("key", ["q2_min_cost_supplier", "q11_important_parts", "q20_promo_suppliers"])
def test_new_tpch_adaptations_broadcast_dims(spark, queries, key):
    """Q2/Q11/Q20: every dim (part filter, supplier/nation/region) must
    broadcast below the fact scan — the only fact shuffle is the
    aggregation key."""
    df = queries[key](spark, SF)
    assert broadcast_join_count(df, execute=True) >= 1
    allowed = 1 if key == "q11_important_parts" else 0  # grand-total cross-join
    assert cartesian_count(df) <= allowed


def test_latest_per_key_single_shuffle(spark, queries):
    """CDC compaction = one keyed window shuffle + the output sort."""
    df = queries["q_events_latest_per_key"](spark, SF)
    assert shuffle_count(df) <= 2


def test_emb_covariance_shuffle_is_tiny(spark, queries):
    """The covariance shuffle must carry partial-Gram rows (~2k per
    partition), not per-(vector, pair) rows: the plan aggregates the
    mapInPandas output, and the means side partial-aggregates the
    posexplode before its shuffle."""
    df = queries["emb_covariance"](spark, SF)
    assert has_partial_agg(df)
    # partial Gram + means + broadcast joins + output sort stay bounded
    assert shuffle_count(df) <= 4


def test_pii_scrub_no_shuffle_before_sort(spark, queries):
    """PII scrubbing is scan-speed: pure column expressions, so the
    only exchange in the plan is the harness's output ordering."""
    df = queries["text_pii_scrub"](spark, SF)
    assert shuffle_count(df) <= 1


def test_sequence_packing_narrow_arrow_frame(spark, queries):
    """Only (source, doc_id, n_tokens) may cross the Python boundary —
    token counting must stay JVM-side so the Arrow transfer is 3
    narrow columns, never the text."""
    df = queries["text_sequence_packing"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    import re
    m = re.search(r"FlatMapGroupsInPandas.*", plan)
    assert m is not None
    assert "text" not in m.group(0)


def test_daily_sketch_rollup_error_bound(spark, queries):
    """Merged daily HLL estimates must land within 2% of the exact
    per-type distinct user counts (lgK=14 -> ~0.8% expected)."""
    from pyspark.sql import functions as F

    from distributed_mapreduce_server_spark.catalog import load_tables

    approx = {
        r["event_type"]: r["approx_users"]
        for r in queries["q_events_daily_sketch_rollup"](spark, SF).collect()
    }
    ev = load_tables(spark, SF, register_views=False)["events"]
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    assert set(approx) == set(exact)
    for et, est in approx.items():
        assert abs(est - exact[et]) / exact[et] < 0.02, (et, est, exact[et])


def test_gapfill_grid_is_broadcast_bounded(spark, queries):
    """The dense bucket grid must come from a BROADCAST 1-row bounds
    aggregate (time-range-bounded, never event-count-bounded), and the
    observed rollup must partial-aggregate map-side."""
    df = queries["q_time_bucket_gapfill"](spark, SF)
    assert has_partial_agg(df)
    assert broadcast_join_count(df, execute=True) >= 1


def test_scd2_single_keyed_shuffle(spark, queries):
    """All three SCD2 windows (lag change-detect, lead validity,
    row_number version) share the (user_id; ts, event_id) spec, so the
    plan gets ONE keyed shuffle plus the output sort."""
    df = queries["q_events_scd2"](spark, SF)
    assert shuffle_count(df) <= 2


def test_bpe_pairs_explode_after_vocab_agg(spark, queries):
    """The char-position explode must sit ABOVE the word-frequency
    aggregation (vocab-sized input), not on the corpus token stream:
    two partial-agg shuffles (wordcount + pair count) and a TakeOrdered
    — no third exchange for the top-K."""
    df = queries["text_bpe_pair_counts"](spark, SF)
    assert has_partial_agg(df)
    assert shuffle_count(df) <= 3
    plan = df._jdf.queryExecution().executedPlan().toString()
    gen_pos = plan.find("Generate explode(sequence")
    assert gen_pos != -1
    # executedPlan prints top-down: the position explode (char pairs)
    # must appear above at least one aggregate (the vocab build below it)
    assert plan.find("HashAggregate", gen_pos) != -1, (
        "vocab agg missing below explode"
    )


def test_shard_manifest_narrow_arrow_frame(spark, queries):
    """Only (media_type, doc_id, n_bytes) may cross the Python
    boundary — payload bytes must stay JVM-side (projected to their
    length before the pack groupBy)."""
    df = queries["mm_shard_manifest"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    import re

    m = re.search(r"FlatMapGroupsInPandas.*", plan)
    assert m is not None
    assert "payload" not in m.group(0)


def test_embedding_dedup_no_driver_collect(spark, queries):
    """Building the embedding-dedup plans must never materialize the
    corpus on the driver (the scale-killer the blocked pair-matmul
    kernel replaced): plan construction with DataFrame.collect()
    forbidden must succeed, and the plan must carry the grouped
    block-pair kernel (a count() for adaptive block sizing is fine —
    one scalar, not the corpus)."""
    from unittest import mock

    from pyspark.sql import DataFrame

    with mock.patch.object(
        DataFrame, "collect", side_effect=AssertionError("driver collect in plan build")
    ):
        cos = queries["dedup_embedding_cosine"](spark, SF)
        keep = queries["dedup_semantic_keep"](spark, SF)
    for df in (cos, keep):
        # FlatMapGroupsInPandas since the round-5 single-shuffle grid
        # (formerly FlatMapCoGroupsInPandas)
        assert "GroupsInPandas" in df._jdf.queryExecution().executedPlan().toString()


def test_bm25_stats_broadcast_no_big_shuffle(spark, queries):
    """BM25: the only join is per_doc x the 1-row stats frame — it must
    be a broadcast (cross) join, never a shuffle of the corpus side;
    the corpus never shuffles except for the final top-k merge."""
    from distributed_mapreduce_server_spark.plans import physical_plan

    df = queries["text_bm25_search"](spark, SF)
    plan = physical_plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan
    # TakeOrderedAndProject = distributed per-partition top-k merge,
    # not a global sort of the scored corpus
    assert "TakeOrderedAndProject" in plan


def test_hybrid_search_arms_are_topk_bounded(spark, queries):
    """Both retrieval arms end in TakeOrdered top-k BEFORE the fuse:
    the full-outer fusion join must not see corpus-sized inputs."""
    from distributed_mapreduce_server_spark.plans import physical_plan

    df = queries["sim_hybrid_search"](spark, SF)
    plan = physical_plan(df)
    assert plan.count("TakeOrderedAndProject") >= 2


def test_pagerank_result_is_materialized_before_cache_release(spark, queries, monkeypatch):
    """q_pagerank's distributed rounds materialize the node-sized
    result through the edge cache (eager localCheckpoint) BEFORE
    unpersisting — the returned frame must be a checkpoint scan plus
    the output sort, never a re-derivation of the iterative loop (the
    first bench run measured exactly that bug: 61 Exchanges, 20 file
    scans, every round rebuilding the edge frame after unpersist).
    The driver cap at 0 forces those rounds on this small graph."""
    from distributed_mapreduce_server_spark import session
    from distributed_mapreduce_server_spark.plans import physical_plan

    monkeypatch.setattr(session, "DRIVER_GRAPH_MAX_EDGES", 0)

    df = queries["q_pagerank"](spark, SF)
    plan = physical_plan(df)
    assert "ExistingRDD" in plan or "LocalTableScan" in plan
    assert "FileScan" not in plan
    assert plan.count("Exchange") <= 2


def test_matryoshka_truncated_arm_slices_arrays(spark, queries):
    """The truncated arm must slice vectors IN THE SCAN PROJECTION
    (slice(embedding, 1, 16)) — the 4x byte saving is the point."""
    from distributed_mapreduce_server_spark.plans import physical_plan

    df = queries["sim_matryoshka_eval"](spark, SF)
    assert "slice(" in physical_plan(df)


def test_sampling_ops_are_sort_limit(spark, queries):
    """Reservoir + weighted samples must compile to TakeOrdered
    (per-partition top-k then k·P merge), not a global sort."""
    from distributed_mapreduce_server_spark.plans import physical_plan

    for k in ["text_reservoir_sample", "text_weighted_sample"]:
        plan = physical_plan(queries[k](spark, SF))
        assert "TakeOrderedAndProject" in plan, k


def test_registry_prefix_covers_all_families(queries):
    """The registry emits keys family-interleaved so any prefix sample
    (e.g. a driver verifying the first N keys) covers every operator
    family — pin it so a re-ordering can't silently regress driver
    coverage back to one family."""
    prefix = list(queries)[:50]
    fams = {
        "q" if k.startswith("q") else k.split("_", 1)[0] for k in prefix
    }
    assert {
        "q", "mr", "dedup", "sim", "emb", "text", "mm", "stream", "pysource"
    } <= fams, fams


def test_executed_sweep_catches_synthetic_offenders(spark, sf_smoke):
    """The executed-plan audit is LIVE, not vacuous: an eagerly-run
    unpartitioned ordered window over the events fact and an eager
    keyless fact-fact join must both be flagged post-hoc, and an
    allowlist entry whose shape is absent is flagged as stale."""
    from distributed_mapreduce_server_spark.catalog import load_tables
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window
    from tests.plan_audit import audit, executed_plans

    ev = load_tables(spark, sf_smoke, register_views=False)["events"]

    # offender 1: global ordered window (the single-task sort shape);
    # the action must CONSUME the window column or column pruning
    # deletes the Window node before execution
    with executed_plans(spark) as plans:
        ev.withColumn("rn", F.row_number().over(Window.orderBy("ts"))).select(
            F.max("rn")
        ).collect()
    assert [p for p in audit("synthetic", plans) if "window" in p], (
        "audit missed an executed unpartitioned window"
    )

    # offender 2: keyless join of two non-trivial sides
    with executed_plans(spark) as plans:
        left = ev.select("event_id")
        right = ev.select(F.col("event_id").alias("e2"))
        left.crossJoin(right).count()
    assert [p for p in audit("synthetic", plans) if "nested-loop join executed" in p], (
        "audit missed an executed cartesian join"
    )
    # the cross join is no window: a bounded-window entry is stale on it
    assert [p for p in audit("q_running_revenue", plans) if "stale" in p]
