"""Executed-plan audit (SURVEY.md §5): every plan a registry key RAN,
read back from the SQL status store, must hold no stray cartesian
product and no fact-scale window over a tiny partition spec.

The parity run executes every key, eager build-time jobs included, so
it brackets each key with :func:`executed_plans` and checks the
capture with :func:`audit`. The allowlists below are checked both
ways: an entry whose key no longer executes the listed shape is
stale and fails the same audit.
"""

from __future__ import annotations

from contextlib import contextmanager

from distributed_mapreduce_server_spark.plans import (
    cartesian_count_in,
    executed_plan_descriptions,
    latest_execution_id,
    window_partition_specs_in,
)

# Keys whose executed plans legitimately contain a nested-loop join:
# broadcast crossJoins against deliberately tiny sets (query vectors,
# centroid codebooks, 1-row scalar aggregates). Mention counts in plan
# descriptions are inflated by union legs and InMemoryRelation subtree
# printing; each entry is ONE bounded join shape.
NESTED_LOOP = {
    "sim_cosine_topk": "broadcast query-set cross-join against the corpus",
    "sim_range_search": "broadcast query-set cross-join, like topk",
    "sim_matryoshka_eval": "two topk arms, same broadcast pattern",
    "sim_mmr_rerank": "broadcast single-query candidate scan",
    "text_bm25_search": "1-row broadcast corpus-stats cross-join",
    "sim_hybrid_search": "BM25 stats + broadcast query vector arms",
    "sim_hamming_ann": "broadcast query-signature cross-join",
    "sim_bq_rerank": "broadcast signature shortlist + query vectors",
    "q_association_rules": "1-row broadcast basket-total cross-join",
    "text_collocations": "1-row broadcast token-total cross-join",
    "text_corpus_report": "datasheet: 1-row metric frames cross-joined",
    "q22_idle_customers": "1-row broadcast average-balance cross-join",
    "text_tfidf": "1-row broadcast document-count cross-join",
    "text_source_mix": "1-row broadcast totals cross-join",
    "q_customer_rfm": "1-row broadcast anchor-date cross-join",
    "text_unigram_logprob": "1-row broadcast corpus-total cross-join",
    "text_bigram_logprob": "1-row broadcast vocab-size cross-join",
    "q11_important_parts": "1-row broadcast grand-total cross-join",
    "q_shuffle_key_skew": "1-row broadcast stats cross-join",
    "mm_modality_mix": "1-row broadcast corpus-bytes cross-join",
    "dedup_incremental": "1-row broadcast id-cutoff cross-join",
    "text_mixture_sample": "1-row broadcast token-budget cross-join",
    "dedup_incremental_neardup": "1-row broadcast id-cutoff cross-join",
    "emb_encode_backfill": "1-row broadcast tail-cutoff cross-join",
    "q_time_bucket_gapfill": "1-row broadcast time-bounds cross-join",
    "q_snapshot_diff": "1-row broadcast snapshot-cutoff cross-join",
    "q_events_trend_fit": "1-row broadcast day-zero anchor cross-join",
    "emb_norm_outliers": "1-row broadcast (mu, sigma) stats cross-join",
    "q_ivm_join_delta": "1-row broadcast id-cutoff cross-join",
    "q_benford_audit": "1-row broadcast digit-total cross-join",
    "q_events_sequential_pattern": "1-row broadcast user-total cross-join",
    "text_source_kl_divergence": "1-row broadcast corpus-total cross-join",
    "emb_outlier_knn_distance": "1-row broadcast (mu, sigma) stats cross-join",
    "dedup_incremental_neardup_indexed": "1-row broadcast id-cutoff cross-join, repeated per band-union leg",
    "q_graph_triangles": "1-row broadcast edge-stats + triangle-count summary cross-joins",
    "sim_ann_eval": "broadcast query-set crossJoins in the exact baseline + ANN arms it evaluates",
    "sim_ivf_nprobe_sweep": "bounded broadcast query-set crossJoin inside each IVF arm",
    "text_perplexity_filter": "1-row broadcast corpus-total cross-join (bigram logprob model)",
    "dedup_nested_probe_sweep": "1-row broadcast exact-pair-count cross-join folded into the grid job",
    "dedup_routed_probe_sweep": "1-row broadcast exact-pair-count cross-join folded into the curve job",
    "stream_kl_drift": "1-row broadcast corpus-total cross-join in the shared KL fold",
}

# Columns whose cardinality is a fixed dimension (not data volume): a
# window partitioned ONLY by these sorts its whole input in that many
# tasks, which is fatal when the input is fact-sized.
TINY_DIM_WINDOW_COLS = {
    "event_type",
    "c_nationkey",
    "n_name",
    "n_regionkey",
    "r_name",
    "o_orderpriority",
    "l_returnflag",
    "l_linestatus",
    "c_mktsegment",
    "modality",
    "lang",
    "source",
    "abc_class",
    "quality_tercile",
}

# Empty / tiny-dim windows whose INPUT frame is already bounded by a
# constant or a fixed domain — per-key justification required.
# Fact-scale low-cardinality rankings ride the two-phase kernels in
# operators/scale.py instead (their windows partition by the range pid).
BOUNDED_FRAME_WINDOWS = {
    "q_running_revenue": "cumulative over the per-DAY agg frame (calendar days)",
    "q_orders_yoy": "lag over the (segment x year) agg frame (~35 rows)",
    "q_skyline_parts": "window over DISTINCT price levels (bounded domain)",
    "q_seasonality_index": "12-row month frame",
    "q_open_order_backlog": "month-boundary frame (calendar-bounded)",
    "text_tokenize_to_ids": "vocab id assignment over a VOCAB_SIZE-limited frame",
    "text_reservoir_sample": "sample_rank over the k-row post-limit frame",
    "text_weighted_sample": "sample_rank over the k-row post-limit frame",
    "sim_hybrid_search": "RRF ranks over top-k bounded retrieval arms",
    "q_shuffle_key_skew": "rank over the 10-row top-K frame",
    "q_time_bucket_gapfill": "per-type gap-fill over the time-bucket grid",
    "q_new_vs_returning": "cumulative over the per-DAY agg frame",
    "q_events_autocorrelation": "lag over the (day x type) agg frame (calendar-bounded)",
    "q_events_burst_detection": "island window over the (type x hour) agg frame (calendar-bounded)",
    "stream_burst_detection": "same island window, over the DRAINED (type x hour) state table",
    "q_chi2_segment_priority": "marginal/total windows over the (segment x priority) cell frame (25 rows, dim-bounded)",
}


@contextmanager
def executed_plans(spark):
    """Yield a list that, when the block exits, holds the physical plan
    of every SQL execution the block ran (AQE's final shape)."""
    plans: list[str] = []
    since = latest_execution_id(spark)
    yield plans
    plans.extend(executed_plan_descriptions(spark, since=since))


def audit(key: str, plans: list[str]) -> list[str]:
    """Problems (empty == pass) in the plans ``key`` executed."""
    if not plans:
        return ["no executed plan captured"]
    problems = []
    nested = any(cartesian_count_in(p) for p in plans)
    if nested and key not in NESTED_LOOP:
        problems.append("cartesian / nested-loop join executed")
    if not nested and key in NESTED_LOOP:
        problems.append("stale NESTED_LOOP entry: no nested-loop join executed")
    windows = [
        cols
        for p in plans
        for cols in window_partition_specs_in(p)
        if (not cols) or set(cols) <= TINY_DIM_WINDOW_COLS
    ]
    if windows and key not in BOUNDED_FRAME_WINDOWS:
        problems.append(f"low-cardinality-partition windows over an unbounded frame: {windows}")
    if not windows and key in BOUNDED_FRAME_WINDOWS:
        problems.append("stale BOUNDED_FRAME_WINDOWS entry: no empty or tiny-dim window executed")
    return problems
