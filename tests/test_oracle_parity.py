"""Primary gate: every registered query matches its DuckDB oracle at
sf0.01 — the same comparison the driver runs (SURVEY.md §5). The same
run audits every plan each key executed (tests/plan_audit.py)."""

from __future__ import annotations

import math

import pytest

from distributed_mapreduce_server_spark import registry, session
from distributed_mapreduce_server_spark.catalog import table_row_count
from tests.oracle_utils import compare, duckdb_conn
from tests.plan_audit import BOUNDED_FRAME_WINDOWS, NESTED_LOOP, audit, executed_plans

ORACLES = registry.all_oracles()
QUERIES = registry.all_queries()


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duckdb_conn(sf_dir)
    yield c
    c.close()


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(name, spark, sf_dir, con):
    # the bracket opens before the build: eager keys run jobs there
    with executed_plans(spark) as plans:
        problems = compare(QUERIES[name](spark, sf_dir), con, ORACLES[name])
    assert not problems, f"{name}: " + "; ".join(problems)
    problems = audit(name, plans)
    assert not problems, f"{name} plan audit: " + "; ".join(problems)


# Keys that crashed on degenerate tables and now return what DuckDB
# returns there (ROADMAP E tracks the rest of the degenerate sweep):
# ``sf_empty`` has every table with no rows, ``sf_one`` every table
# cut to its first row.
CODEBOOK_KEYS = [  # 1-D numpy codebooks and matrices (AxisError)
    "dedup_nested_probe_sweep",
    "dedup_routed_eval",
    "dedup_routed_nested_eval",
    "dedup_routed_probe_sweep",
    "dedup_routed_rank1_eval",
    "dedup_semantic_routed",
    "dedup_semantic_routed_nested",
    "dedup_threshold_sweep",
    "emb_cluster_purity",
    "emb_ivf_balance",
    "emb_pq_quantize",
    "sim_ivf_ann",
    "sim_ivf_nprobe_sweep",
    "sim_ivfpq_ann",
    "sim_ivfpq_residual",
    "sim_mmr_rerank",
    "sim_pq_adc_ann",
]
# The iterative operators (they passed before session.checkpoint_loop):
# an empty or one-edge graph ends the loop in round 0 or 1, or labels
# on the driver.
LOOP_KEYS = [
    "dedup_clusters",
    "dedup_clusters_bigstar",
    "dedup_semantic_clusters",
    "q_graph_bfs_levels",
    "q_graph_community_lpa",
    "q_graph_kcore_peel",
]

# Graph kernels that iterate on the driver below
# session.DRIVER_GRAPH_MAX_EDGES (``sf_one``'s purchase graph has no
# edge either: its one line item joins no order).
PAGERANK_KEYS = ["q_pagerank", "q_personalized_pagerank"]
DRIVER_GRAPH_KEYS = [*PAGERANK_KEYS, "dedup_clusters", "dedup_clusters_bigstar", "dedup_semantic_clusters"]
# GROUPING SETS with a () set: DuckDB's grand-total row over no input
# (relational._with_grand_total); both fixtures join no customer to a
# nation, so the input is empty on each.
GRAND_TOTAL_KEYS = ["q_grouping_sets", "q_nation_rollup", "q_region_cube"]

DEGENERATE_INPUT_KEYS = {
    "sf_empty": [
        "q_gini_revenue",  # DIVIDE_BY_ZERO
        "stream_hierarchical_rollup",  # state dir never written
        "stream_upsert_foreachbatch",  # state dir never written
        "text_corpus_report",  # DIVIDE_BY_ZERO
        "emb_kmeans",  # guards the one Lloyd trainer (it passed before)
        "emb_pca_invariants",  # max() over no covariance rows
        "sim_ann_eval",  # recall over no exact neighbors
        "stream_neardup_ingest",  # max(doc_id) is NULL: no batch to stage
        # SUM over no training rows is NULL: so are the loss and weights
        "text_quality_eval",
        "text_quality_train",
        "text_quality_trained_filter",
        *GRAND_TOTAL_KEYS,
        *CODEBOOK_KEYS,
        *LOOP_KEYS,
        *PAGERANK_KEYS,
    ],
    "sf_one": [
        # no IVF candidate or PQ seed row: an empty codebook
        "emb_cluster_purity",
        "emb_ivf_balance",
        "emb_pq_quantize",
        "sim_ivf_ann",
        "sim_ivf_nprobe_sweep",
        "sim_ivfpq_ann",
        "sim_ivfpq_residual",
        "sim_mmr_rerank",
        "sim_pq_adc_ann",
        # no candidate pairs: DIVIDE_BY_ZERO
        "dedup_routed_eval",
        "dedup_routed_nested_eval",
        # one row: no variance or an empty variant, DIVIDE_BY_ZERO
        "q_corr_matrix",
        "q_events_ab_test",
        "q_events_trend_fit",
        "emb_kmeans",
        "sim_ann_eval",  # recall over no exact neighbors
        *GRAND_TOTAL_KEYS,
        *LOOP_KEYS,
        *PAGERANK_KEYS,
    ],
}


@pytest.mark.parametrize(
    "fixture, name",
    [
        # the empty-table cases keep their bare key name as the id
        pytest.param(fx, name, id=name if fx == "sf_empty" else f"{name}-one")
        for fx, names in DEGENERATE_INPUT_KEYS.items()
        for name in names
    ],
)
def test_query_matches_oracle_on_empty_tables(fixture, name, spark, request):
    _matches_oracle(spark, request.getfixturevalue(fixture), name)


def _matches_oracle(spark, sf, name):
    con = duckdb_conn(sf)
    try:
        problems = compare(QUERIES[name](spark, sf), con, ORACLES[name])
    finally:
        con.close()
    assert not problems, f"{name} on {sf}: " + "; ".join(problems)


def _edge_bound(name, sf):
    """The footer bound each driver-graph key sizes its switch by: two
    directed edges per line item, C(n, 2) pairs of n documents or
    vectors."""
    if name in PAGERANK_KEYS:
        return 2 * table_row_count(sf, "lineitem")
    table = "embeddings" if name == "dedup_semantic_clusters" else "documents"
    return math.comb(table_row_count(sf, table), 2)


@pytest.mark.parametrize(
    "name, path",
    [
        # the Spark-round cases keep their bare key name as the id
        pytest.param(name, path, id=name if path == "distributed" else f"{name}-{path}")
        for path in ("footer", "probe", "distributed")
        for name in DRIVER_GRAPH_KEYS
    ],
)
def test_graph_keys_match_oracle_distributed(name, path, spark, sf_smoke, monkeypatch, probes):
    """Every path of the driver-or-Spark switch behind the graph keys:
    at the default cap the footer bound fits and the lazy edges are
    fetched with nothing held; with the cap between the edge count and
    the bound the held edges are probed and come back; at cap 0 every
    graph runs its Spark rounds."""
    bound = _edge_bound(name, sf_smoke)
    if path != "footer":
        monkeypatch.setattr(session, "DRIVER_GRAPH_MAX_EDGES", bound - 1 if path == "probe" else 0)
    with executed_plans(spark) as plans:
        _matches_oracle(spark, sf_smoke, name)
    assert probes == {"footer": [], "probe": [True], "distributed": [False]}[path]
    if path == "footer":
        held = [m for m in ("InMemoryRelation", "Scan ExistingRDD") if any(m in p for p in plans)]
        assert not held, f"{name} footer path executed {held}"


@pytest.mark.parametrize("distributed", [False, True], ids=["driver", "distributed"])
@pytest.mark.parametrize("name", PAGERANK_KEYS)
def test_pagerank_matches_oracle_on_one_edge(name, distributed, spark, sf_one_edge, monkeypatch, probes):
    if distributed:
        monkeypatch.setattr(session, "DRIVER_GRAPH_MAX_EDGES", 0)
    _matches_oracle(spark, sf_one_edge, name)
    # a bound of 2 fits the default cap; cap 0 still reaches the rounds
    assert probes == ([False] if distributed else [])


def test_pca_project_on_empty_tables_returns_no_rows(spark, sf_empty):
    # rows-only (no oracle): DuckDB would project no embedding either
    assert QUERIES["emb_pca_project"](spark, sf_empty).count() == 0


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only_queries_run(name, spark, sf_dir):
    # collect(), not count(): count() prunes unused Window nodes, which
    # the plan audit would then never see
    with executed_plans(spark) as plans:
        df = QUERIES[name](spark, sf_dir)
        df.collect()
    assert len(df.columns) > 0
    problems = audit(name, plans)
    assert not problems, f"{name} plan audit: " + "; ".join(problems)


def test_plan_audit_allowlists_name_registry_keys():
    """Every plan-audit allowlist entry names a registry key and gives
    a reason (the key's own audit fails an entry whose shape is gone)."""
    for allowlist in (NESTED_LOOP, BOUNDED_FRAME_WINDOWS):
        assert set(allowlist) <= set(QUERIES), set(allowlist) - set(QUERIES)
        assert all(reason.strip() for reason in allowlist.values())


# Keys intentionally WITHOUT a SQL oracle (approximate or
# non-SQL-expressible). Anything else missing an oracle is a silent
# downgrade to the weaker rows-only check — fail loudly instead:
# a mis-applied edit once dropped an oracle and the parametrized
# suite "passed" vacuously.
EXPECTED_ROWS_ONLY = {
    "q_approx_distinct",
    "q_approx_quantiles",  # sketch results are engine-specific
    "q_events_daily_sketch_rollup",  # HLL estimates are engine-specific
    # ONLY the signed projected coordinates remain unverifiable
    # (eigenvector sign, and order under equal eigenvalues, are
    # LAPACK-specific); every sign-invariant property of the solve —
    # variance==eigenvalue, orthonormality, zero-mean projections,
    # variance ordering, covariance trace — is oracle-gated by
    # emb_pca_invariants.
    "emb_pca_project",
    # text_bpe_train graduated to a full oracle in round 8 (unrolled
    # MATERIALIZED-CTE merges; greedy application == wrapped replace)
}


def test_every_query_has_oracle_unless_listed():
    missing = set(QUERIES) - set(ORACLES) - EXPECTED_ROWS_ONLY
    assert not missing, f"queries silently lacking an oracle: {sorted(missing)}"
    stale = EXPECTED_ROWS_ONLY & set(ORACLES)
    assert not stale, f"listed rows-only but an oracle exists: {sorted(stale)}"


def test_release_dedup_caches_empties_registry(spark, sf_smoke):
    """The dedup cache contract: operators leave only their (small)
    result frames cached, tracked for release."""
    from distributed_mapreduce_server_spark.operators import dedup

    dedup.dedup_ngram_jaccard(spark, sf_smoke).collect()
    assert dedup._result_caches
    dedup.release_dedup_caches()
    assert not dedup._result_caches
