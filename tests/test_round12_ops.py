"""Round-12 contracts: the trained-codebook memo (one Lloyd training
per codebook per (session, sf_dir) — VERDICT r11 task 3) and the
vectorized nested-assignment kernel (VERDICT r11 task 2): the stacked
(batch·p1, d) @ (d, K2) matmul must reproduce the original per-row
lexsort selection bit-for-bit, including the probe-rank columns the
sweep folds on."""

from __future__ import annotations

import numpy as np
import pytest

from distributed_mapreduce_server_spark import catalog
from distributed_mapreduce_server_spark.operators import dedup, similarity


@pytest.fixture()
def fresh_codebook_caches():
    """Isolate each memo test: clear the cache, snapshot the training
    counters, restore nothing (counters are monotonic by design)."""
    similarity.release_codebook_caches()
    yield
    similarity.release_codebook_caches()


def _count(kind: str) -> int:
    """Trainings whose memo kind starts with ``kind`` — the keys embed
    every tuning constant (and, for the fine book, a runtime coarse
    fingerprint; ADVICE r12), so tests match on the stable prefix."""
    return sum(
        v
        for k, v in similarity.CODEBOOK_TRAIN_COUNTS.items()
        if k.startswith(kind)
    )


def test_codebook_memo_trains_once_per_session(
    spark, sf_smoke, fresh_codebook_caches
):
    """The full routed/IVF/PQ family re-used to retrain identical
    codebooks on every operator call; the memo must reduce that to
    ONE training per (session, sf_dir, kind)."""
    emb = catalog.load_tables(spark, sf_smoke, register_views=False)[
        "embeddings"
    ]
    kinds = (
        "dedup_route[",
        "dedup_fine[",
        "ivf_coarse[",
        "pq[M",
    )
    before = {k: _count(k) for k in kinds}
    coarse1 = dedup._route_codebook(spark, sf_smoke)
    coarse2 = dedup._route_codebook(spark, sf_smoke)
    fine1 = dedup._fine_codebook(spark, sf_smoke, coarse1)
    fine2 = dedup._fine_codebook(spark, sf_smoke, coarse2)
    ivf1 = similarity._ivf_codebook(spark, sf_smoke)
    ivf2 = similarity._ivf_codebook(spark, sf_smoke)
    pq1 = similarity._pq_codebook(emb, sf_dir=sf_smoke)
    pq2 = similarity._pq_codebook(emb, sf_dir=sf_smoke)
    for k in kinds:
        assert _count(k) == before[k] + 1, k
    # Memo hits return the SAME object, not a retrained equal one.
    assert coarse1 is coarse2 and fine1 is fine2
    assert ivf1 is ivf2 and pq1 is pq2


def test_codebook_memo_cap0_route_is_its_own_entry(
    spark, sf_smoke, fresh_codebook_caches, monkeypatch
):
    """A route training forced onto the Spark rounds (the cap at 0)
    memoizes under its own ``lim=0`` key: it really trains, never
    returns the driver-trained book, and lands on the same codebook."""
    kind = "dedup_route["
    driver = dedup._route_codebook(spark, sf_smoke)
    n = _count(kind)
    monkeypatch.setattr(similarity, "CODEBOOK_TRAIN_LIMIT", 0)
    forced = dedup._route_codebook(spark, sf_smoke)
    assert _count(kind) == n + 1
    lim0 = f"{kind}K={dedup.ROUTE_K},i={dedup.ROUTE_ITERS},lim=0]"
    assert lim0 in {k[2] for k in similarity._CODEBOOK_CACHE}
    assert forced is not driver
    np.testing.assert_array_equal(forced[0], driver[0])
    np.testing.assert_array_equal(forced[1], driver[1])
    assert dedup._route_codebook(spark, sf_smoke) is forced
    monkeypatch.undo()
    assert dedup._route_codebook(spark, sf_smoke) is driver


def test_refresh_tables_clears_codebook_memo(
    spark, sf_smoke, fresh_codebook_caches
):
    """catalog.refresh_tables() must invalidate derived caches too —
    a rewritten sf_dir with a stale codebook would silently route on
    the old data's centroids."""
    kind = "dedup_route["
    first = dedup._route_codebook(spark, sf_smoke)
    catalog.refresh_tables()
    n = _count(kind)
    second = dedup._route_codebook(spark, sf_smoke)
    assert _count(kind) == n + 1
    assert second is not first


def _nested_assign_reference(emb_rows, coarse, fine, p1, p2, with_rank):
    """Per-row replica of the pre-vectorization kernel (lexsort on
    (ids, -cos) per vector) — the ground truth the stacked-matmul
    version must reproduce exactly."""
    from distributed_mapreduce_server_spark.functions import fround_np

    c_ids, c_mat = coarse
    f_ids, f_mat = fine
    cn = np.sqrt((c_mat * c_mat).sum(axis=1))
    fn = np.sqrt((f_mat * f_mat).sum(axis=1))
    rows = []
    for vec_id, emb in emb_rows:
        a = np.asarray(emb, dtype=np.float64)
        an = np.sqrt((a * a).sum())
        cos1 = fround_np((c_mat @ a) / (an * cn))
        top1 = np.lexsort((c_ids, -cos1))[:p1]
        res = a - c_mat[top1]
        rn = np.sqrt((res * res).sum(axis=1))
        rn[rn == 0] = 1e-12
        cos2 = fround_np((res @ f_mat.T) / np.outer(rn, fn))
        for j in range(len(top1)):
            top2 = np.lexsort((f_ids, -cos2[j]))[:p2]
            for r, t in enumerate(top2, start=1):
                row = [vec_id, int(c_ids[top1[j]]), int(f_ids[t])]
                if with_rank:
                    row += [j + 1, r]
                rows.append(tuple(row))
    return sorted(rows)


@pytest.mark.parametrize("with_rank", [False, True])
def test_nested_assign_matches_per_row_reference(spark, sf_smoke, with_rank):
    """The vectorized stable-argsort selection == the per-row lexsort
    selection, row for row, at the shipped widths (including rank
    columns, which the probe sweep folds on)."""
    emb = catalog.load_tables(spark, sf_smoke, register_views=False)[
        "embeddings"
    ]
    coarse = dedup._route_codebook(spark, sf_smoke)
    fine = dedup._fine_codebook(spark, sf_smoke, coarse)
    got = sorted(
        tuple(r)
        for r in dedup._nested_assign(
            emb, coarse, fine, dedup.NESTED_P1, dedup.NESTED_P2, with_rank
        ).collect()
    )
    emb_rows = [
        (r["vec_id"], r["embedding"])
        for r in emb.select("vec_id", "embedding").collect()
    ]
    want = _nested_assign_reference(
        emb_rows, coarse, fine, dedup.NESTED_P1, dedup.NESTED_P2, with_rank
    )
    assert got == want


def test_sql_funnel_matches_dataframe_twin(spark, sf_smoke):
    """q_sql_funnel (the dialect-neutral front-door text) and
    q_events_funnel (the DataFrame recipe) must count the identical
    funnel — same staging rule, two expressions of it."""
    from distributed_mapreduce_server_spark.operators import events, relational

    sql_row = relational.q_sql_funnel(spark, sf_smoke).collect()[0]
    df_row = events.q_events_funnel(spark, sf_smoke).collect()[0]
    assert sql_row["n_users"] == df_row["n_users"]
    assert sql_row["n_view"] == df_row["n_view"]
    assert sql_row["n_click_after_view"] == df_row["n_click_after_view"]
    assert (
        sql_row["n_purchase_after_click"] == df_row["n_purchase_after_click"]
    )
    # Funnel monotonicity: each stage is a subset of the previous.
    assert (
        sql_row["n_users"]
        >= sql_row["n_view"]
        >= sql_row["n_click_after_view"]
        >= sql_row["n_purchase_after_click"]
        >= 0
    )


def test_sql_sessionize_kpi_matches_dataframe_twin(spark, sf_smoke):
    """The front-door KPI rollup must agree with rolling up
    q_events_sessionize's per-session rows — same gap rule, same
    session boundaries."""
    from pyspark.sql import functions as F

    from distributed_mapreduce_server_spark.functions import fround
    from distributed_mapreduce_server_spark.operators import events, relational

    got = {
        r["user_id"]: r.asDict()
        for r in relational.q_sql_sessionize_kpi(spark, sf_smoke).collect()
    }
    want = {
        r["user_id"]: r.asDict()
        for r in events.q_events_sessionize(spark, sf_smoke)
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_sessions"),
            F.sum("n_events").alias("n_events"),
            F.max("n_events").alias("max_session_events"),
            fround(F.avg("n_events"), 2).alias("avg_events_per_session"),
            fround(F.sum("session_value"), 2).alias("total_value"),
        )
        .collect()
    }
    assert set(got) == set(want)
    for uid, g in got.items():
        w = want[uid]
        for col in (
            "n_sessions",
            "n_events",
            "max_session_events",
            "avg_events_per_session",
        ):
            assert g[col] == w[col], (uid, col, g[col], w[col])
        # session_value sums float in different orders across the two
        # recipes; equal at the cent grid both sides round to.
        assert abs(g["total_value"] - w["total_value"]) < 0.02, uid


def test_nested_assign_width_overflow_clamps(spark, sf_smoke):
    """Widths beyond the codebook sizes must clamp (the sweep's grid
    can ask for more probes than cells exist after dead-cluster
    drop), not error or emit duplicate probes."""
    emb = catalog.load_tables(spark, sf_smoke, register_views=False)[
        "embeddings"
    ]
    coarse = dedup._route_codebook(spark, sf_smoke)
    fine = dedup._fine_codebook(spark, sf_smoke, coarse)
    k1, k2 = len(coarse[0]), len(fine[0])
    df = dedup._nested_assign(emb, coarse, fine, k1 + 7, k2 + 7, True)
    agg = df.groupBy("vec_id").count().agg({"count": "max", "vec_id": "count"})
    row = agg.collect()[0]
    assert row["max(count)"] == k1 * k2


@pytest.mark.parametrize("keys", [("centroid_id",), ("centroid_id", "fine_id")])
def test_routed_pair_strategies_identical(spark, sf_smoke, keys):
    """The fused per-bucket matmul and the distinct-before-verify
    join are two COST shapes of one kernel — the pair sets must be
    identical on both the flat and the nested bucketing (SCALING.md
    finding 3 picked pairdist for nested, fused for flat)."""
    emb = catalog.load_tables(spark, sf_smoke, register_views=False)[
        "embeddings"
    ]
    coarse = dedup._route_codebook(spark, sf_smoke)
    if len(keys) == 1:
        assign = similarity._centroid_assign(emb, coarse, dedup.ROUTE_PROBES)
    else:
        fine = dedup._fine_codebook(spark, sf_smoke, coarse)
        assign = dedup._nested_assign(
            emb, coarse, fine, dedup.NESTED_P1, dedup.NESTED_P2
        )
    assign = assign.localCheckpoint(eager=True)
    fused = sorted(
        tuple(r)
        for r in dedup._routed_pairs_from(
            emb, assign, keys=keys, strategy="fused"
        ).collect()
    )
    pairdist = sorted(
        tuple(r)
        for r in dedup._routed_pairs_from(
            emb, assign, keys=keys, strategy="pairdist"
        ).collect()
    )
    assert fused == pairdist and len(fused) > 0
