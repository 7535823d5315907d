"""Round-10 operator invariants: trained ANN codebooks (coarse IVF +
per-subspace PQ), the routed threshold sweep, and the round's new
operators."""

from __future__ import annotations

import pytest

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def sf_smoke():
    return SF_SMOKE


def test_lr_training_loss_monotone_and_filter_consistent(spark, sf_smoke):
    """VERDICT r9 task 6 invariants: (1) full-batch GD loss is
    monotone nonincreasing over rounds (LR_RATE is sized under the
    smoothness bound, so a rise means a broken gradient); (2) the
    trajectory starts at the w=0 loss ln(2); (3) the trained filter's
    keep decisions agree with scoring the feature frame under the
    final trajectory weights; (4) training beats chance at imitating
    the heuristic label (accuracy > max(class prior))."""
    import math

    from distributed_mapreduce_server_spark.operators.text import (
        LR_TRAIN_ROUNDS,
        text_quality_train,
        text_quality_trained_filter,
    )

    rows = text_quality_train(spark, sf_smoke).collect()
    assert [r["round"] for r in rows] == list(range(LR_TRAIN_ROUNDS + 1))
    losses = [r["loss"] for r in rows]
    assert abs(losses[0] - round(math.log(2), 6)) < 1e-9
    for a, b in zip(losses, losses[1:]):
        assert b <= a + 1e-9, losses
    assert losses[-1] < losses[0]  # actually learned something
    filt = text_quality_trained_filter(spark, sf_smoke).collect()
    assert filt
    n = len(filt)
    pos = sum(1 for r in filt if r["heuristic_label"])
    prior = max(pos, n - pos) / n
    acc = sum(1 for r in filt if r["keep"] == r["heuristic_label"]) / n
    assert acc >= prior - 1e-9, (acc, prior)
    for r in filt:
        assert (r["model_score"] >= 0.5) == r["keep"]


def test_ivf_trained_codebook_recall_not_worse_than_standin(spark, sf_smoke):
    """Training exists to help routing: the trained coarse codebook's
    IVF recall@k must be >= the former fixed-subset stand-in's at the
    registry probe width (measured r9 stand-in recalls: ivf .42,
    ivfpq .24, pq_adc .22 at sf0.1)."""
    from distributed_mapreduce_server_spark.catalog import load_tables
    from distributed_mapreduce_server_spark.operators.similarity import (
        N_CENTROIDS,
        N_PROBE,
        N_QUERIES,
        _ivf_topk,
        sim_cosine_topk,
    )
    from pyspark.sql import functions as F

    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in sim_cosine_topk(spark, sf_smoke).collect()
    }
    emb = load_tables(spark, sf_smoke, register_views=False)["embeddings"]
    standin = emb.filter(
        (F.col("vec_id") >= N_QUERIES) & (F.col("vec_id") < N_QUERIES + N_CENTROIDS)
    )
    from distributed_mapreduce_server_spark.operators.similarity import (
        _collect_matrix,
    )

    old = {
        (r["query_id"], r["neighbor_id"])
        for r in _ivf_topk(
            spark, sf_smoke, N_PROBE, centroids=_collect_matrix(standin)
        ).collect()
    }
    new = {
        (r["query_id"], r["neighbor_id"])
        for r in _ivf_topk(spark, sf_smoke, N_PROBE).collect()
    }
    assert len(new & exact) >= len(old & exact)


def test_stream_neardup_ingest_matches_batch_and_index_readonly(spark, sf_smoke):
    """VERDICT r9 task 7: (1) the streamed statuses equal the batch
    incremental operator's exactly (the carried-oracle property,
    asserted engine-side too); (2) the HISTORICAL index partitions
    are never rewritten by the stream — identical paths and mtimes
    before/after (the stream_upsert discipline); (3) the run really
    was multi-batch (the extension index accreted one append per
    staged file)."""
    import os

    from distributed_mapreduce_server_spark.operators.dedup import (
        dedup_incremental_neardup,
        ensure_neardup_index,
    )
    from distributed_mapreduce_server_spark.streaming.jobs import (
        NEARDUP_STREAM_FILES,
        stream_neardup_ingest,
    )

    index_dir = ensure_neardup_index(spark, sf_smoke)

    def index_mtimes():
        out = {}
        for sub in ("bands", "shingles", "sizes"):
            d = os.path.join(index_dir, sub)
            for f in os.listdir(d):
                p = os.path.join(d, f)
                out[p] = os.path.getmtime(p)
        return out

    before = index_mtimes()
    streamed = [
        (r["doc_id"], r["status"])
        for r in stream_neardup_ingest(spark, sf_smoke).collect()
    ]
    assert index_mtimes() == before  # identical paths AND mtimes
    batch = [
        (r["doc_id"], r["status"])
        for r in dedup_incremental_neardup(spark, sf_smoke).collect()
    ]
    assert streamed == batch
    assert {s for _, s in streamed} >= {"kept"}  # non-vacuous
    # multi-batch: one extension append per staged micro-batch file
    import glob
    import hashlib
    import tempfile

    tag = hashlib.md5(sf_smoke.encode()).hexdigest()[:12]
    state = f"{tempfile.gettempdir()}/dmrs_stream_neardup_{tag}/state"
    n_src = len(glob.glob(
        f"{tempfile.gettempdir()}/dmrs_stream_neardup_{tag}/src/part=*"
    ))
    assert n_src == NEARDUP_STREAM_FILES
    # one batch=N subdir per staged micro-batch file (the idempotent
    # per-batch sink layout, round 12)
    sizes_batches = glob.glob(f"{state}/ext_sizes/batch=*")
    assert len(sizes_batches) == NEARDUP_STREAM_FILES


def test_substr_multiscale_monotone_and_consistent_with_fixed_l(spark, sf_smoke):
    """VERDICT r9 stretch invariants: (1) coverage is NONINCREASING in
    L per doc (a duplicated 2L-run implies duplicated L-runs over the
    same positions, never the reverse); (2) the grid's base level
    reproduces dedup_substr_spans row-for-row (the ladder's level 0
    IS the fixed-L operator); (3) max_span_tokens >= L wherever a
    span exists; (4) every level is non-vacuous on this corpus
    (measured: dup grams exist at L=10/20/40 at both test SFs)."""
    from distributed_mapreduce_server_spark.operators.dedup import (
        SUBSTR_L_GRID,
        dedup_substr_multiscale,
        dedup_substr_spans,
    )

    rows = dedup_substr_multiscale(spark, sf_smoke).collect()
    by_l = {}
    for r in rows:
        by_l.setdefault(r["span_l"], {})[r["doc_id"]] = r
    assert sorted(by_l) == sorted(SUBSTR_L_GRID)
    for l_small, l_big in zip(sorted(by_l), sorted(by_l)[1:]):
        for doc, r in by_l[l_big].items():
            assert (
                r["n_dup_covered"] <= by_l[l_small][doc]["n_dup_covered"]
            ), (doc, l_small, l_big)
    base = {r["doc_id"]: r for r in dedup_substr_spans(spark, sf_smoke).collect()}
    l0 = sorted(by_l)[0]
    assert set(base) == set(by_l[l0])
    for doc, r in by_l[l0].items():
        b = base[doc]
        assert (r["n_spans"], r["max_span_tokens"], r["n_dup_covered"]) == (
            b["n_spans"],
            b["max_span_tokens"],
            b["n_dup_covered"],
        ), doc
    for L, docs_ in by_l.items():
        assert any(r["n_dup_covered"] > 0 for r in docs_.values()), L
        for r in docs_.values():
            if r["n_spans"]:
                assert r["max_span_tokens"] >= L


def test_quality_eval_confusion_consistent(spark, sf_smoke):
    """Eval-table invariants: two rows (train/val), confusion counts
    sum to n_docs, metrics recompute from the counts on the same
    rounding grid, and the split sizes match text_train_val_split's
    hash rule."""
    from distributed_mapreduce_server_spark.functions import fround_scalar
    from distributed_mapreduce_server_spark.operators.text import (
        text_quality_eval,
        text_train_val_split,
    )

    rows = {r["split"]: r for r in text_quality_eval(spark, sf_smoke).collect()}
    assert set(rows) == {"train", "val"}
    split_sizes = {
        r["split"]: r["n_docs"]
        for r in text_train_val_split(spark, sf_smoke).collect()
    }
    for split, r in rows.items():
        assert r["n_docs"] == split_sizes[split]
        assert r["tp"] + r["fp"] + r["fn"] + r["tn"] == r["n_docs"]
        assert r["accuracy"] == fround_scalar(
            (r["tp"] + r["tn"]) / r["n_docs"], 6
        )
        assert r["f1"] == fround_scalar(
            2 * r["tp"] / max(2 * r["tp"] + r["fp"] + r["fn"], 1), 6
        )


def test_lsh_br_sweep_s_curve_and_consistency(spark, sf_smoke):
    """Band-layout sweep invariants: every layout's verified pairs
    are bounded by candidates and by the exact baseline; recall is
    NONINCREASING as rows-per-band grows (wider bands only drop
    candidates); the shipped (N_BANDS, ROWS_PER_BAND) row reproduces
    dedup_lsh_eval's counts; verified <= candidates makes
    candidate_precision <= 1 by construction."""
    from distributed_mapreduce_server_spark.operators.dedup import (
        N_BANDS,
        ROWS_PER_BAND,
        dedup_lsh_br_sweep,
        dedup_lsh_eval,
    )

    rows = sorted(
        dedup_lsh_br_sweep(spark, sf_smoke).collect(),
        key=lambda r: r["rows_per_band"],
    )
    assert [(r["n_bands"], r["rows_per_band"]) for r in rows] == [
        (16, 1), (8, 2), (4, 4), (2, 8),
    ]
    n_exact = rows[0]["n_exact_pairs"]
    for r in rows:
        assert r["n_exact_pairs"] == n_exact
        assert r["n_verified_pairs"] <= r["n_candidate_pairs"]
        assert r["n_verified_pairs"] <= n_exact
        assert 0.0 <= r["candidate_precision"] <= 1.0
    recalls = [r["recall"] for r in rows]
    assert recalls == sorted(recalls, reverse=True)
    ev = dedup_lsh_eval(spark, sf_smoke).collect()[0]
    shipped = next(
        r for r in rows
        if (r["n_bands"], r["rows_per_band"]) == (N_BANDS, ROWS_PER_BAND)
    )
    assert shipped["n_exact_pairs"] == ev["n_exact_pairs"]
    assert shipped["n_verified_pairs"] == ev["n_lsh_pairs"]


def test_lpa_partitions_nodes_and_differs_from_cc(spark, sf_smoke):
    """LPA invariants: community sizes sum to the node count; labels
    are node ids; and on this dense graph LPA yields >= 1 community
    (degenerate single-community is allowed at smoke SF but the
    partition property must hold). Its checkpoint release is pinned
    in tests/test_loops.py."""
    from distributed_mapreduce_server_spark.operators.graph import (
        _copurchase_edges,
        q_graph_community_lpa,
    )

    rows = q_graph_community_lpa(spark, sf_smoke).collect()
    assert rows
    edges = _copurchase_edges(spark, sf_smoke)
    n_nodes = (
        edges.selectExpr("u AS n").union(edges.selectExpr("v AS n")).distinct().count()
    )
    assert sum(r["n_nodes"] for r in rows) == n_nodes
    assert all(r["n_nodes"] >= 1 for r in rows)
    communities = [r["community"] for r in rows]
    assert len(set(communities)) == len(communities)
