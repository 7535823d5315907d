"""session.checkpoint_loop, the one driver of the iterative operators
(BFS, k-core, label propagation, the star-contraction connected
components and the BPE merge rounds): its job and block accounting on a tiny frame, its
``until`` mode, and the block release of every operator built on it.
"""

from __future__ import annotations

import itertools

import pytest
from pyspark.sql import functions as F

from distributed_mapreduce_server_spark import session
from distributed_mapreduce_server_spark.operators import text
from distributed_mapreduce_server_spark.operators.dedup import (
    dedup_clusters,
    dedup_semantic_clusters,
)
from distributed_mapreduce_server_spark.operators.graph import (
    KCORE_K,
    KCORE_ROUNDS,
    q_graph_bfs_levels,
    q_graph_community_lpa,
    q_graph_kcore_peel,
)
from distributed_mapreduce_server_spark.session import (
    checkpoint_loop,
    checkpointed_rdd_ids,
    persistent_rdd_ids,
    release_checkpoints,
    scoped_conf,
)

_groups = itertools.count()


def _accounted(spark, fn):
    """(fn(), Spark jobs it submitted, rdd ids it left persisted),
    with AQE off so every action is one job."""
    sc = spark.sparkContext
    group = f"test_loops:{next(_groups)}"
    before = persistent_rdd_ids(spark)
    sc.setJobGroup(group, group)
    try:
        with scoped_conf(spark, {"spark.sql.adaptive.enabled": "false"}):
            out = fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty(10000)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    return out, jobs, persistent_rdd_ids(spark) - before


def _capped_increment(spark, **kw):
    """x -> min(x + 1, 5) over x = 0..3, observed as sum(x): reaches
    its fixed point (every x = 5) at round 5."""
    return checkpoint_loop(
        spark,
        spark.range(4).select(F.col("id").alias("x")),
        lambda df, _: df.select(F.least(F.col("x") + 1, F.lit(5)).alias("x")),
        lambda df: df.agg(F.sum("x")).collect()[0][0],
        **kw,
    )


@pytest.mark.parametrize("rounds", [1, 3])
def test_fixed_rounds_run_one_job_per_round_and_keep_one_block(spark, rounds):
    (state, obs), jobs, live = _accounted(
        spark, lambda: _capped_increment(spark, rounds=rounds)
    )
    assert obs == [6, 10, 14, 17][: rounds + 1]
    # round 0's observation plus one action per round, nothing else
    assert jobs == rounds + 1
    assert live == checkpointed_rdd_ids(state)
    assert release_checkpoints(spark, state) == 1


def test_until_stops_at_the_fixed_point(spark):
    (state, obs), jobs, live = _accounted(
        spark, lambda: _capped_increment(spark, until=lambda a, b: a == b)
    )
    # rounds 1..5 move, round 6 observes the unchanged fixed point
    assert obs == [6, 10, 14, 17, 19, 20, 20]
    assert jobs == len(obs)
    assert sorted(r["x"] for r in state.collect()) == [5, 5, 5, 5]
    assert live == checkpointed_rdd_ids(state)
    release_checkpoints(spark, state)
    # a round bound ends the loop first when it is reached first
    state, obs = _capped_increment(spark, rounds=2, until=lambda a, b: a == b)
    assert obs == [6, 10, 14]
    release_checkpoints(spark, state)
    with pytest.raises(ValueError):
        _capped_increment(spark)


def test_checkpointed_rdd_ids_matches_snapshot_diff(spark):
    """The per-frame retirement handle: for an eagerly
    localCheckpointed frame, the id read off the frame's own
    LogicalRDD equals the snapshot diff around the checkpoint; a
    non-checkpointed frame is rejected loudly."""
    df = spark.range(100).selectExpr("id", "id * 3 AS y")
    before = persistent_rdd_ids(spark)
    ck = df.localCheckpoint(eager=True)
    diff = persistent_rdd_ids(spark) - before
    assert checkpointed_rdd_ids(ck) == diff
    assert release_checkpoints(spark, ck) == 1
    with pytest.raises(ValueError):
        checkpointed_rdd_ids(df)


def test_kcore_peel_monotone(spark, sf_smoke):
    rows = q_graph_kcore_peel(spark, sf_smoke).collect()
    assert [r["round"] for r in rows] == list(range(1, KCORE_ROUNDS + 1))
    assert all(r["k"] == KCORE_K for r in rows)
    nodes = [r["n_nodes"] for r in rows]
    edges = [r["n_edges"] for r in rows]
    assert nodes == sorted(nodes, reverse=True)
    assert edges == sorted(edges, reverse=True)
    for r in rows:
        assert r["n_edges"] <= r["n_nodes"] * (r["n_nodes"] - 1) // 2
    # the peel actually peels at least once
    assert nodes[0] > nodes[-1] or edges[0] > edges[-1]


@pytest.mark.parametrize(
    "op, max_live",
    [
        pytest.param(q_graph_kcore_peel, 0, id="q_graph_kcore_peel"),
        pytest.param(text.text_bpe_train, 0, id="text_bpe_train"),
        # the ops below return a frame lazy over their last round's
        # checkpoint: that one block may stay live
        pytest.param(q_graph_bfs_levels, 1, id="q_graph_bfs_levels"),
        pytest.param(q_graph_community_lpa, 1, id="q_graph_community_lpa"),
        pytest.param(dedup_clusters, 1, id="dedup_clusters"),
        pytest.param(dedup_semantic_clusters, 1, id="dedup_semantic_clusters"),
    ],
)
def test_loop_releases_its_checkpoints(spark, sf_smoke, monkeypatch, op, max_live):
    # the connected-components keys would label a graph this small on
    # the driver, and BPE would train a vocabulary this small there:
    # force their Spark loops
    monkeypatch.setattr(session, "DRIVER_GRAPH_MAX_EDGES", 0)
    monkeypatch.setattr(text, "BPE_DRIVER_VOCAB_LIMIT", 0)
    before = persistent_rdd_ids(spark)
    op(spark, sf_smoke).collect()
    leaked = persistent_rdd_ids(spark) - before
    assert len(leaked) <= max_live, f"{op.__name__} leaked checkpoint blocks: {leaked}"
