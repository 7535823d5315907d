"""Non-vacuousness and plan-shape invariants for the round-4 wave
(search, sampling, Gopher, graph, EWMA, attribution).

Oracle parity for all of these is covered by test_oracle_parity;
these tests assert the properties parity can't see — both outcome
classes occur, weights actually bias the sample, ranks actually
diverge between arms, the iterative loop actually converges toward
the fixed point.
"""

from __future__ import annotations

import pytest

from distributed_mapreduce_server_spark.operators import graph, search, text
from distributed_mapreduce_server_spark.operators.events import q_events_attribution
from distributed_mapreduce_server_spark.operators.relational import q_ewma_revenue


def test_bm25_rare_term_outranks_common(spark, sf_smoke):
    """Docs containing the rare query term must dominate the top of
    the ranking — BM25's idf spread is the whole point."""
    rows = search.text_bm25_search(spark, sf_smoke).collect()
    assert len(rows) == search.SEARCH_TOP_K
    scores = [r["bm25"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    # top score must clearly exceed what the two common terms alone
    # can contribute (both have df ~80%, idf ~ln(1+0.25/0.8) ≈ 0.27,
    # saturated tf term < 2.2 each -> common-only ceiling < 1.5).
    assert scores[0] > 1.5


def test_hybrid_search_fuses_both_arms(spark, sf_smoke):
    rows = search.sim_hybrid_search(spark, sf_smoke).collect()
    assert len(rows) == search.HYBRID_TOP_K
    # both arms must contribute members to the fused set, and the
    # arms must genuinely disagree (some doc present in only one arm)
    assert any(r["bm25_rank"] is not None for r in rows)
    assert any(r["cos_rank"] is not None for r in rows)
    assert any(r["bm25_rank"] is None or r["cos_rank"] is None for r in rows)
    rrfs = [r["rrf"] for r in rows]
    assert rrfs == sorted(rrfs, reverse=True)


def test_weighted_sample_biases_toward_long_docs(spark, sf_smoke):
    """The A-ES sample must overrepresent high-weight (long) docs:
    the sample's mean n_chars exceeds the corpus mean."""
    from distributed_mapreduce_server_spark.catalog import load_tables

    sample = text.text_weighted_sample(spark, sf_smoke)
    docs = load_tables(spark, sf_smoke, register_views=False)["documents"]
    mean_sample = sample.agg({"n_chars": "avg"}).collect()[0][0]
    mean_corpus = docs.agg({"n_chars": "avg"}).collect()[0][0]
    assert mean_sample > mean_corpus * 1.1


def test_reservoir_sample_is_uniform_sized_and_stable(spark, sf_smoke):
    a = text.text_reservoir_sample(spark, sf_smoke).collect()
    b = text.text_reservoir_sample(spark, sf_smoke).collect()
    assert len(a) == text.RESERVOIR_K
    assert [r["doc_id"] for r in a] == [r["doc_id"] for r in b]  # determinism


def test_kfold_covers_all_folds(spark, sf_smoke):
    rows = text.text_kfold_split(spark, sf_smoke).collect()
    assert sorted(r["fold"] for r in rows) == list(range(text.KFOLD_K))
    counts = [r["n_docs"] for r in rows]
    # hash balance: no fold more than 2x another at 500 docs
    assert max(counts) <= 2 * min(counts)


def test_gopher_rules_each_fire(spark, sf_smoke):
    import pandas as pd

    pdf = text.text_gopher_filters(spark, sf_smoke).toPandas()
    assert set(pdf["keep"].unique()) == {True, False}
    for rule in ["r_word_count", "r_stopwords", "r_repetition"]:
        assert pdf[rule].nunique() == 2, f"{rule} never fires on this corpus"
    # r_word_len fails on only ~1% of docs; at sf0.001 it may be
    # all-true, which is fine — the sf0.01 oracle run covers it.
    assert isinstance(pdf, pd.DataFrame)


def test_pagerank_mass_and_monotonicity(spark, sf_smoke):
    import math

    rows = graph.q_pagerank(spark, sf_smoke).collect()
    n = len(rows)
    # unnormalized form fixed point: total mass ~= n (0.15n base +
    # 0.85 * total outflow, symmetric graph conserves flow)
    total = sum(r["pr"] for r in rows)
    assert math.isclose(total, n, rel_tol=0.02)
    assert all(r["pr"] > 0.15 for r in rows)
    assert {r["node_type"] for r in rows} == {"customer", "supplier"}


def test_pagerank_high_degree_outranks_low(spark, sf_smoke):
    deg = {
        r["degree"]: r["n_nodes"]
        for r in graph.q_graph_degree_distribution(spark, sf_smoke).collect()
    }
    assert len(deg) > 1  # degree spread exists -> the test is non-vacuous
    pr = graph.q_pagerank(spark, sf_smoke)
    edges = graph._bipartite_edges(spark, sf_smoke)
    from pyspark.sql import functions as F

    joined = (
        edges.groupBy("src")
        .agg(F.count("*").alias("degree"))
        .join(pr, F.col("src") == F.col("node_id"))
        .select("degree", "pr")
        .collect()
    )
    top = max(joined, key=lambda r: r["degree"])
    bot = min(joined, key=lambda r: r["degree"])
    assert top["pr"] > bot["pr"]


def test_ewma_smooths_toward_series(spark, sf_smoke):
    import pandas as pd

    pdf = q_ewma_revenue(spark, sf_smoke).toPandas()
    # recursion seeded at first value
    first = pdf.sort_values(["n_name", "month"]).groupby("n_name").first()
    assert (first["ewma"] == first["revenue"]).all()
    # smoothing: ewma variance strictly below raw variance per nation
    v = pdf.groupby("n_name").agg(raw=("revenue", "var"), sm=("ewma", "var"))
    assert (v["sm"] < v["raw"]).all()
    assert isinstance(pdf, pd.DataFrame)


def test_attribution_channels_complete(spark, sf_smoke):
    rows = q_events_attribution(spark, sf_smoke).collect()
    channels = {r["channel"] for r in rows}
    assert "direct" in channels  # the fallback really occurs
    assert channels & set(("click", "view"))  # real touches attributed
    total = sum(r["n_purchases"] for r in rows)
    from distributed_mapreduce_server_spark.catalog import load_tables
    from pyspark.sql import functions as F

    ev = load_tables(spark, sf_smoke, register_views=False)["events"]
    n_purch = ev.filter(F.col("event_type") == "purchase").count()
    assert total == n_purch  # every purchase attributed exactly once


@pytest.mark.parametrize("k", ["text_bm25_search", "q_pagerank"])
def test_round4_keys_registered_with_oracles(k):
    from distributed_mapreduce_server_spark import registry

    assert k in registry.all_queries()
    assert k in registry.all_oracles()


def test_stream_left_outer_eviction_boundary(spark, tmp_path):
    """Pins the measured eviction predicate: a click's null-padded row
    is emitted iff the ms-floored watermark STRICTLY exceeds
    click_ts + 1h. 999 us past the boundary must not emit; 1000 us
    must. The registry oracle encodes exactly this, so if a Spark
    upgrade changes the predicate this test fails before the oracle
    silently diverges."""
    import pandas as pd

    from distributed_mapreduce_server_spark.streaming import jobs

    t0 = pd.Timestamp("2024-01-01 00:00:00")

    def run(margin_us: int) -> int:
        d = tmp_path / f"m{margin_us}"
        d.mkdir()
        m = t0 + pd.Timedelta("1 hour") + pd.Timedelta("1 day") + pd.Timedelta(
            microseconds=margin_us
        )
        pd.DataFrame(
            {
                "event_id": [1, 2, 3],
                "ts": [t0, m, m],
                "user_id": [10, 11, 12],
                "event_type": ["click", "click", "purchase"],
                "value": [1.0] * 3,
                "props": ["{}"] * 3,
            }
        ).to_parquet(str(d / "events.parquet"))
        return len(jobs.stream_click_purchase_left_join(spark, str(d)).collect())

    assert run(999) == 0
    assert run(1000) == 1


def test_mmr_diversifies_vs_pure_relevance(spark, sf_smoke):
    """The diversity penalty must actually change the selection:
    MMR's picks differ from the pure-relevance top-k (otherwise the
    0.3·max-sim term is vacuous on this corpus), while rank 1 is
    always the most relevant candidate."""
    from pyspark.sql import functions as F

    from distributed_mapreduce_server_spark.catalog import load_tables
    from distributed_mapreduce_server_spark.functions import cosine_sim, fround
    from distributed_mapreduce_server_spark.operators import similarity as sim

    picks = sim.sim_mmr_rerank(spark, sf_smoke).collect()
    assert [r["mmr_rank"] for r in picks] == list(range(1, sim.MMR_K + 1))

    emb = load_tables(spark, sf_smoke, register_views=False)["embeddings"]
    q = emb.filter(F.col("vec_id") == sim.MMR_QUERY_ID).select(
        F.col("embedding").alias("qe")
    )
    c = emb.filter(F.col("vec_id") != sim.MMR_QUERY_ID).select("vec_id", "embedding")
    rel_top = (
        F.broadcast(q)
        .crossJoin(c)
        .select("vec_id", fround(cosine_sim(F.col("qe"), F.col("embedding")), 4).alias("rel"))
        .orderBy(F.desc("rel"), F.asc("vec_id"))
        .limit(sim.MMR_K)
        .collect()
    )
    assert picks[0]["vec_id"] == rel_top[0]["vec_id"]
    assert [r["vec_id"] for r in picks] != [r["vec_id"] for r in rel_top]


def test_grouping_sets_levels_consistent(spark, sf_smoke):
    """Every grouping level present; the () level's total equals the
    sum of the (nation) level — GROUPING SETS is internally additive."""
    import math

    from distributed_mapreduce_server_spark.operators.relational import q_grouping_sets

    rows = q_grouping_sets(spark, sf_smoke).collect()
    gids = {r["gid"] for r in rows}
    assert gids == {0, 1, 2, 3}
    grand = [r for r in rows if r["gid"] == 3]
    assert len(grand) == 1
    nation_level = [r for r in rows if r["gid"] == 1]
    assert math.isclose(
        sum(r["total_revenue"] for r in nation_level),
        grand[0]["total_revenue"],
        rel_tol=1e-9,
    )
    assert sum(r["n_orders"] for r in nation_level) == grand[0]["n_orders"]


def test_window_suite_internal_consistency(spark, sf_smoke):
    from distributed_mapreduce_server_spark.operators.relational import q_window_suite

    pdf = q_window_suite(spark, sf_smoke).toPandas()
    g = pdf.groupby("o_custkey")
    # rn contiguous from 1; quartiles within 1..4; last_price constant per key
    assert (g["rn"].min() == 1).all()
    assert (g["rn"].max() == g["rn"].count()).all()
    assert pdf["quartile"].between(1, 4).all()
    assert (g["last_price"].nunique() == 1).all()
    # cume_dist terminal value is exactly 1.0
    assert (g["cume"].max() == 1.0).all()


def test_unpivot_shape(spark, sf_smoke):
    from distributed_mapreduce_server_spark.operators.relational import q_unpivot_balance

    pdf = q_unpivot_balance(spark, sf_smoke).toPandas()
    assert set(pdf["metric"].unique()) == {
        "cust_balance",
        "n_customers",
        "supp_balance",
        "n_suppliers",
    }
    assert len(pdf) == 25 * 4  # every nation x every metric


def test_cohort_ltv_cumulative(spark, sf_smoke):
    from distributed_mapreduce_server_spark.operators.events import q_events_cohort_ltv

    pdf = q_events_cohort_ltv(spark, sf_smoke).toPandas()
    assert len(pdf) > 1
    for _, grp in pdf.groupby("cohort_week"):
        ltv = grp.sort_values("age_weeks")["cum_ltv"].tolist()
        assert ltv == sorted(ltv)  # cumulative over positive revenue
        assert abs(grp["week_revenue"].sum() - ltv[-1]) < 0.02 * len(grp)


def test_matryoshka_recall_bounded_and_consistent(spark, sf_smoke):
    from distributed_mapreduce_server_spark.operators import similarity as sim

    rows = sim.sim_matryoshka_eval(spark, sf_smoke).collect()
    assert len(rows) == sim.N_QUERIES
    for r in rows:
        assert 0 <= r["n_overlap"] <= sim.TOP_K
        assert abs(r["recall_at_k"] - r["n_overlap"] / sim.TOP_K) < 1e-9


def test_containment_is_directional_and_superset_of_jaccard(spark, sf_smoke):
    """Containment >= Jaccard for any pair, so every symmetric
    jaccard-0.8+ near-dup pair must reappear in the containment-0.9
    result iff its containment clears 0.9; and mutual near-identical
    pairs appear in BOTH directions."""
    from distributed_mapreduce_server_spark.operators import dedup

    cont = dedup.dedup_containment(spark, sf_smoke).collect()
    assert cont, "no containment pairs at sf0.001 - thresholds vacuous"
    pairs = {(r["contained_doc"], r["container_doc"]) for r in cont}
    # directional output: at least one mutual pair (near-identical
    # docs contain each other)
    assert any((b, a) in pairs for a, b in pairs)
    for r in cont:
        assert r["containment"] >= dedup.CONTAINMENT_T
    dedup.release_dedup_caches()


def test_stateful_reducers_survive_multi_chunk_groups(spark, sf_smoke):
    """Regression for the chunk-ordering fix: with Arrow batches
    capped at 4 rows (sf0.001 has ~13 events/user), every user's
    group arrives as MANY chunks in
    shuffle-arbitrary order. The reducers must still match their
    batch oracles exactly (they concat-then-sort; per-chunk sorting
    would corrupt the carried state)."""
    from distributed_mapreduce_server_spark.operators.events import q_events_attribution
    from distributed_mapreduce_server_spark.streaming import jobs

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key, None)
    spark.conf.set(key, "4")
    try:
        stream = {
            (r["channel"]): (r["n_purchases"], r["attributed_value"])
            for r in jobs.stream_attribution(spark, sf_smoke).collect()
        }
        batch = {
            (r["channel"]): (r["n_purchases"], r["attributed_value"])
            for r in q_events_attribution(spark, sf_smoke).collect()
        }
        assert stream == batch
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def test_mm_quality_gate_rules_fire(spark, sf_smoke):
    import pandas as pd

    from distributed_mapreduce_server_spark.operators.multimodal import mm_quality_gate

    pdf = mm_quality_gate(spark, sf_smoke).toPandas()
    assert set(pdf["keep"].unique()) == {True, False}
    for rule in ["r_min_dims", "r_byte_band", "r_aspect"]:
        assert pdf[rule].nunique() == 2, f"{rule} never fires"
    assert isinstance(pdf, pd.DataFrame)


def test_time_weighted_avg_differs_from_plain_avg(spark, sf_smoke):
    """On irregular samples the time-weight must actually reweight:
    some user's twa differs from their plain average."""
    from pyspark.sql import functions as F

    from distributed_mapreduce_server_spark.catalog import load_tables
    from distributed_mapreduce_server_spark.operators.events import q_time_weighted_avg

    twa = {r["user_id"]: r["time_weighted_avg"]
           for r in q_time_weighted_avg(spark, sf_smoke).collect()}
    ev = load_tables(spark, sf_smoke, register_views=False)["events"]
    plain = {r["user_id"]: r["avg"]
             for r in ev.groupBy("user_id").agg(F.avg("value").alias("avg")).collect()}
    diffs = [abs(twa[u] - plain[u]) for u in twa if u in plain]
    assert max(diffs) > 0.01


def test_conversion_stats_internally_consistent(spark, sf_smoke):
    from distributed_mapreduce_server_spark.operators.temporal import (
        q_conversion_delay_stats,
    )

    row = q_conversion_delay_stats(spark, sf_smoke).collect()[0]
    assert 0 < row["n_converted"] <= row["n_clicks"]
    assert abs(row["conversion_rate"] - row["n_converted"] / row["n_clicks"]) < 1e-3
    assert row["p50_delay_sec"] <= row["p90_delay_sec"] <= row["p99_delay_sec"]


def test_exec_join_matches_dataframe_join(spark, sf_smoke):
    """The executable reduce-side join must equal the DataFrame join
    exactly — grouping AND intra-key ordering survive the pipe."""
    from pyspark.sql import functions as F

    from distributed_mapreduce_server_spark.catalog import load_tables
    from distributed_mapreduce_server_spark.mapreduce.jobs import mr_exec_join

    got = [r["line"] for r in mr_exec_join(spark, sf_smoke).collect()]
    t = load_tables(spark, sf_smoke, register_views=False)
    want = sorted(
        r["line"]
        for r in t["orders"]
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .select(
            F.concat_ws("|", "o_custkey", "o_orderkey", "c_mktsegment").alias("line")
        )
        .collect()
    )
    assert got == want


def test_token_entropy_empty_doc_parity(spark, tmp_path):
    """A document that tokenizes to ZERO tokens (punctuation-only)
    must score entropy 0.0 in BOTH engines: Spark's empty fold yields
    -0.0 (normalized by +0.0) while DuckDB's empty list_sum yields
    NULL (coalesced) — the latent divergence the round-4 review
    caught. Run the real operator against its real oracle on a
    crafted corpus containing the edge."""
    import duckdb
    import pandas as pd

    from distributed_mapreduce_server_spark import registry
    from distributed_mapreduce_server_spark.catalog import refresh_tables

    d = tmp_path / "edge"
    d.mkdir()
    pd.DataFrame(
        {
            "doc_id": [0, 1],
            "text": ["!!! ... ???", "the fast data value the data"],
            "lang": ["en", "en"],
            "source": ["s", "s"],
            "n_chars": [11, 29],
        }
    ).to_parquet(str(d / "documents.parquet"))
    refresh_tables()
    try:
        rows = {
            r["doc_id"]: r["token_entropy"]
            for r in registry.all_queries()["text_token_entropy"](spark, str(d)).collect()
        }
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM read_parquet('{d}/documents.parquet')"
        )
        want = dict(
            con.execute(
                "SELECT doc_id, token_entropy FROM ("
                + registry.all_oracles()["text_token_entropy"]
                + ")"
            ).fetchall()
        )
        assert rows[0] == want[0] == 0.0
        assert abs(rows[1] - want[1]) < 1e-9 and rows[1] > 0
        assert str(rows[0]) == "0.0"  # not -0.0
    finally:
        refresh_tables()
