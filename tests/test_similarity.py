"""Similarity-search quality tests (SURVEY.md §2.4): the ANN path must
agree with brute force within its bucket, and recall must be sane."""

from __future__ import annotations

import numpy as np
import pytest

from distributed_mapreduce_server_spark.operators.dedup import ROUTE_ITERS, ROUTE_K
from distributed_mapreduce_server_spark.operators.similarity import (
    IVF_TRAIN_ITERS,
    KMEANS_ITERS,
    KMEANS_K,
    N_CENTROIDS,
    N_QUERIES,
    PQ_K,
    PQ_TRAIN_ITERS,
    sim_cosine_topk,
    sim_lsh_ann,
)


def test_lsh_results_subset_of_valid_neighbors(spark, sf_dir):
    """Every ANN hit must carry the same cosine the exact path computes
    (the LSH bucket only prunes candidates, never rescores)."""
    exact = {
        (r["query_id"], r["neighbor_id"]): r["cos_sim"]
        for r in sim_cosine_topk(spark, sf_dir).collect()
    }
    ann_rows = sim_lsh_ann(spark, sf_dir).collect()
    assert ann_rows, "LSH returned nothing"
    for r in ann_rows:
        key = (r["query_id"], r["neighbor_id"])
        if key in exact:
            assert abs(exact[key] - r["cos_sim"]) < 1e-9


def test_lsh_recall_reasonable(spark, sf_dir):
    """4 hash tables x 6 bits + Hamming-1 multi-probe over 64-dim
    near-random vectors: measured recall 0.66 at sf0.01 (vs 0.08 for a
    single 8-bit table) — assert a 0.4 floor to absorb SF variation,
    and that every ANN hit carries the exact cosine (rerank is exact)."""
    exact = sim_cosine_topk(spark, sf_dir).collect()
    ann = sim_lsh_ann(spark, sf_dir).collect()
    exact_set = {(r["query_id"], r["neighbor_id"]) for r in exact}
    ann_set = {(r["query_id"], r["neighbor_id"]) for r in ann}
    recall = len(exact_set & ann_set) / len(exact_set)
    assert recall >= 0.4


def test_quantize_reconstruction_bound(spark, sf_dir):
    """int8 symmetric quantization invariants: q values within
    [-127, 127], and the quantized moments consistent with a max
    per-element reconstruction error of scale/2 (the round() bound)."""
    from distributed_mapreduce_server_spark.operators.similarity import emb_quantize

    rows = emb_quantize(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert -127 <= r["q_min"] <= r["q_max"] <= 127
        # at least one element must hit full scale (the max-abs one)
        assert max(abs(r["q_min"]), abs(r["q_max"])) == 127
        assert r["q_l1"] >= abs(r["q_sum"])
        assert r["scale"] > 0


@pytest.mark.parametrize(
    "metric, first_id, init, iters",
    [
        # IVF coarse quantizer: candidates only, seeded past the queries
        pytest.param(
            "cosine",
            N_QUERIES,
            range(N_QUERIES, N_QUERIES + N_CENTROIDS),
            IVF_TRAIN_ITERS,
            id="cosine-ivf",
        ),
        # dedup routing codebook: the whole corpus
        pytest.param("cosine", 0, range(ROUTE_K), ROUTE_ITERS, id="cosine-route"),
        pytest.param(
            "pq", 0, range(N_QUERIES, N_QUERIES + PQ_K), PQ_TRAIN_ITERS, id="pq"
        ),
        pytest.param("l2", 0, range(KMEANS_K), KMEANS_ITERS, id="l2"),
    ],
)
def test_codebook_driver_and_distributed_paths_identical(
    spark, sf_smoke, metric, first_id, init, iters, monkeypatch
):
    """The shared Lloyd trainer's two paths — the driver step over the
    whole corpus as one block vs the per-Arrow-batch partial sums
    summed by a Spark shuffle (forced by the cap at 0) — must land on
    the identical codebook for every metric: distances and means sit
    on grids far above sum-order noise, so no fixed point can move."""
    from pyspark.sql import functions as F

    from distributed_mapreduce_server_spark.catalog import load_tables
    from distributed_mapreduce_server_spark.operators import similarity
    from distributed_mapreduce_server_spark.operators.similarity import (
        _train_codebook,
    )

    emb = (
        load_tables(spark, sf_smoke, register_views=False)["embeddings"]
        .select("vec_id", "embedding")
        .filter(F.col("vec_id") >= first_id)
    )
    ids_d, mat_d = _train_codebook(emb, init, iters, metric)
    monkeypatch.setattr(similarity, "CODEBOOK_TRAIN_LIMIT", 0)
    ids_x, mat_x = _train_codebook(emb, init, iters, metric)
    assert len(ids_d) > 0
    assert np.array_equal(ids_d, ids_x)
    assert np.array_equal(mat_d, mat_x)


def test_kmeans_invariants(spark, sf_dir):
    """Lloyd's algorithm contracts: every vector assigned exactly once,
    cluster count bounded by K, WCSS strictly positive, and WCSS after
    more rounds <= WCSS after one round (monotone descent)."""
    from distributed_mapreduce_server_spark.catalog import load_tables
    from distributed_mapreduce_server_spark.operators.similarity import (
        _collect_matrix,
        _nearest,
        _train_codebook,
        emb_kmeans,
    )

    summary = emb_kmeans(spark, sf_dir).collect()
    n_total = sum(r["n_vectors"] for r in summary)
    emb = load_tables(spark, sf_dir, register_views=False)["embeddings"]
    _, corpus = _collect_matrix(emb)
    assert n_total == len(corpus)
    assert 0 < len(summary) <= KMEANS_K
    assert all(r["wcss"] > 0 for r in summary)

    _, c1 = _train_codebook(emb.select("vec_id", "embedding"), range(KMEANS_K), 1, "l2")
    wcss_1 = _nearest(corpus, c1, "l2")[1].sum()
    wcss_n = sum(r["wcss"] for r in summary)
    assert wcss_n <= wcss_1 + 1e-6


def test_pca_projection_invariants(spark, sf_dir):
    """PCA invariants (sign/order are LAPACK-specific, so parity is
    impossible — assert the math instead): projections are centered,
    var(pc1) >= var(pc2), and each component's variance matches the
    corresponding eigenvalue of the covariance matrix within 2%."""
    import numpy as np

    from distributed_mapreduce_server_spark.operators.similarity import (
        emb_covariance,
        emb_pca_project,
    )

    rows = emb_pca_project(spark, sf_dir).collect()
    p1 = np.array([r["pc1"] for r in rows])
    p2 = np.array([r["pc2"] for r in rows])
    assert abs(p1.mean()) < 1e-3 and abs(p2.mean()) < 1e-3
    v1, v2 = p1.var(), p2.var()
    assert v1 >= v2 > 0

    cov_rows = emb_covariance(spark, sf_dir).collect()
    dim = max(r["j"] for r in cov_rows)
    C = np.zeros((dim, dim))
    for r in cov_rows:
        C[r["i"] - 1, r["j"] - 1] = r["cov"]
        C[r["j"] - 1, r["i"] - 1] = r["cov"]
    vals = np.sort(np.linalg.eigvalsh(C))[::-1]
    assert abs(v1 - vals[0]) / vals[0] < 0.02
    assert abs(v2 - vals[1]) / vals[1] < 0.02


def test_pq_trained_codebook_improves_reconstruction(spark, sf_dir):
    """Round 10: the PQ codebook is TRAINED (per-subspace L2 Lloyd).
    Two invariants replace the old stand-in fixed-point test:
    (1) the trained codebook's mean reconstruction error over the
    corpus must not exceed the untrained stand-in's (Lloyd descends
    the quantization objective); (2) each trained sub-centroid is its
    own nearest sub-centroid (distance-0 fixed point of the encode
    kernel), so codes remain well-defined."""
    import numpy as np

    from distributed_mapreduce_server_spark.catalog import load_tables
    from distributed_mapreduce_server_spark.functions import fround_np
    from distributed_mapreduce_server_spark.operators.similarity import (
        N_QUERIES,
        PQ_K,
        PQ_M,
        PQ_SUB_DIM,
        _collect_matrix,
        _pq_codebook,
        emb_pq_quantize,
    )
    from pyspark.sql import functions as F

    emb = load_tables(spark, sf_dir, register_views=False)["embeddings"]
    _, trained = _pq_codebook(emb)
    _, standin = _collect_matrix(
        emb.filter(
            (F.col("vec_id") >= N_QUERIES) & (F.col("vec_id") < N_QUERIES + PQ_K)
        )
    )
    _, corpus = _collect_matrix(emb)

    def mean_err(cb):
        err = np.zeros(len(corpus))
        for m in range(PQ_M):
            lo, hi = m * PQ_SUB_DIM, (m + 1) * PQ_SUB_DIM
            diff = corpus[:, None, lo:hi] - cb[None, :, lo:hi]
            d = fround_np((diff * diff).sum(axis=2))
            err += d.min(axis=1)
        return err.mean()

    assert mean_err(trained) <= mean_err(standin) + 1e-9
    # fixed point: every trained sub-centroid encodes to itself
    for m in range(PQ_M):
        lo, hi = m * PQ_SUB_DIM, (m + 1) * PQ_SUB_DIM
        diff = trained[:, None, lo:hi] - trained[None, :, lo:hi]
        d = (diff * diff).sum(axis=2)
        assert (d.argmin(axis=1) == np.arange(len(trained))).all(), m
    # and the operator's recon_err column reflects the trained errors
    rows = emb_pq_quantize(spark, sf_dir).collect()
    assert rows and all(r["recon_err"] >= 0.0 for r in rows)


def test_pq_adc_topk_shape_and_monotone(spark, sf_dir):
    """Every query returns exactly TOP_K neighbors with non-decreasing
    ADC distance and dense ranks 1..K."""
    from distributed_mapreduce_server_spark.operators.similarity import (
        TOP_K,
        sim_pq_adc_ann,
    )

    rows = sim_pq_adc_ann(spark, sf_dir).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    assert by_q
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == list(range(1, TOP_K + 1))
        dists = [r["adc_dist"] for r in rs]
        assert dists == sorted(dists)
        assert all(d >= 0 for d in dists)


def test_ivfpq_prunes_to_probed_lists(spark):
    """IVF-PQ must return only neighbors whose IVF list the query
    probed (the pruning IS the operator), and its per-query result
    must agree with full-scan PQ-ADC wherever both rank a probed
    candidate — the combo may only ever DROP candidates, never
    rescore them."""
    from distributed_mapreduce_server_spark import registry
    from distributed_mapreduce_server_spark.catalog import load_tables

    queries = registry.all_queries()
    sf = "/root/testdata/sf0.01"
    ivfpq = {
        (r["query_id"], r["neighbor_id"]): r["adc_dist"]
        for r in queries["sim_ivfpq_ann"](spark, sf).collect()
    }
    full = {
        (r["query_id"], r["neighbor_id"]): r["adc_dist"]
        for r in queries["sim_pq_adc_ann"](spark, sf).collect()
    }
    assert ivfpq, "empty IVF-PQ result"
    for pair, dist in ivfpq.items():
        if pair in full:
            assert full[pair] == dist, pair
    # pruning is real: the probed union must be smaller than the corpus
    n_cand = (
        load_tables(spark, sf, register_views=False)["embeddings"].count() - 5
    )
    assert len({p[1] for p in ivfpq}) < n_cand


# Keys whose per-batch numpy kernels run through similarity._arrow_map.
ARROW_KERNEL_KEYS = [
    "dedup_semantic_routed",
    "dedup_semantic_routed_nested",
    "emb_encode_backfill",
    "emb_kmeans",
    "emb_pca_project",
    "emb_pq_quantize",
    "sim_ivf_ann",
    "sim_ivfpq_ann",
    "sim_ivfpq_residual",
    "sim_pq_adc_ann",
]


@pytest.mark.parametrize("name", ARROW_KERNEL_KEYS)
def test_arrow_kernels_ignore_batch_boundaries(name, spark, sf_smoke):
    """Cutting every kernel's input into 7-row Arrow batches (many per
    task) must not move one row against the default single batch per
    task. The codebook memo is dropped before each run, so the kernels
    that feed training (the fine book's residuals) run at both sizes."""
    from distributed_mapreduce_server_spark import registry
    from distributed_mapreduce_server_spark.operators.similarity import (
        release_codebook_caches,
    )
    from distributed_mapreduce_server_spark.session import scoped_conf

    fn = registry.all_queries()[name]
    release_codebook_caches()
    default = fn(spark, sf_smoke).collect()
    release_codebook_caches()
    with scoped_conf(spark, {"spark.sql.execution.arrow.maxRecordsPerBatch": 7}):
        small = fn(spark, sf_smoke).collect()
    release_codebook_caches()
    assert small == default


def test_topk_desc_matches_the_lexsort_ranking():
    """_topk_desc is row_number() over (cos desc, id asc) for sorted
    codebook ids: equal to the per-row lexsort it replaced, on 1e-4-grid
    cosines with many ties, for k below, at and above the codebook
    size."""
    from distributed_mapreduce_server_spark.functions import fround_np
    from distributed_mapreduce_server_spark.operators.similarity import _topk_desc

    rng = np.random.default_rng(7)
    for _ in range(50):
        n, n_cells = rng.integers(1, 30), rng.integers(1, 80)
        cos = fround_np(rng.integers(-3, 4, size=(n, n_cells)) / 7.0)
        ids = np.arange(n_cells) * 3 + 1
        for k in (1, 4, 14, n_cells, 200):
            want = np.stack([np.lexsort((ids, -row))[:k] for row in cos])
            assert np.array_equal(_topk_desc(cos, k), want)


def test_nan_cosines_rank_last_like_duckdb_nulls():
    """A zero norm makes a NaN cosine where DuckDB's 0 / 0 is NULL, and
    ROW_NUMBER() OVER (ORDER BY cos DESC, cid) puts NULLs last, lowest
    cid first: on [NULL, 0.5, NULL, 0.2] DuckDB orders 1, 3, 0, 2."""
    from distributed_mapreduce_server_spark.operators.similarity import _nearest, _topk_desc

    cos = np.array([[np.nan, 0.5, np.nan, 0.2]])
    for k in (1, 2, 4):
        assert _topk_desc(cos, k).tolist() == [[1, 3, 0, 2][:k]]
    # zero-norm codebook rows 0 and 2; a zero-norm vector has no number
    mat = np.array([[0.0, 0.0], [1.0, 1.0], [0.0, 0.0], [1.0, -1.0]])
    with np.errstate(all="raise"):
        best, score = _nearest(np.array([[1.0, 0.0], [0.0, 0.0]]), mat, "cosine")
    assert best.tolist() == [1, 0]
    assert score[0] == 0.7071 and np.isnan(score[1])
