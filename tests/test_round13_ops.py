"""Round 13: data-sized shuffle partitions (SCALING.md finding 1 fed
back into code, VERDICT r12 task 2) and the rank-1 index-side probing
strategy for the nested router (task 3)."""

from __future__ import annotations

import pytest

from distributed_mapreduce_server_spark.session import (
    GRAPH_EDGE_ROWS_PER_TASK,
    MAX_SIZED_PARTITIONS,
    scoped_conf,
    sized_shuffle_partitions,
)

SF_SMOKE = "/root/testdata/sf0.001"


class TestSizedShufflePartitions:
    def test_small_inputs_stay_at_cpu_floor(self):
        # sf0.1's measured 1.2M copurchase edges must NOT change the
        # shipped plans (the bench record's regime).
        assert sized_shuffle_partitions(1_196_000, GRAPH_EDGE_ROWS_PER_TASK, cpus=32) == 32
        assert sized_shuffle_partitions(0, GRAPH_EDGE_ROWS_PER_TASK, cpus=32) == 32
        assert sized_shuffle_partitions(1, GRAPH_EDGE_ROWS_PER_TASK, cpus=32) == 32

    def test_10x_corpus_hits_measured_fix(self):
        # The 10x rehearsal corpus measured 12.0M edges; SCALING.md
        # finding 1 measured 128 partitions recovering 260 s -> 108 s.
        # The formula must land exactly there with no manual knob.
        assert sized_shuffle_partitions(11_997_046, GRAPH_EDGE_ROWS_PER_TASK, cpus=32) == 128

    def test_3x_corpus_gets_intermediate_width(self):
        assert sized_shuffle_partitions(3_600_000, GRAPH_EDGE_ROWS_PER_TASK, cpus=32) == 64

    def test_power_of_two_and_cap(self):
        assert sized_shuffle_partitions(10**12, 1, cpus=32) == MAX_SIZED_PARTITIONS
        # pow2 rounding: just over a boundary doubles
        p = sized_shuffle_partitions(129 * GRAPH_EDGE_ROWS_PER_TASK, GRAPH_EDGE_ROWS_PER_TASK, cpus=32)
        assert p == 256

    def test_cluster_floor_follows_cores(self):
        # A 512-core cluster never drops below its core count even on
        # small inputs.
        assert sized_shuffle_partitions(1000, GRAPH_EDGE_ROWS_PER_TASK, cpus=512) == 512


class TestDataSizedShuffleScope:
    def test_sets_and_restores_conf(self, spark):
        key = "spark.sql.shuffle.partitions"
        before = spark.conf.get(key)
        target = sized_shuffle_partitions(11_997_046, GRAPH_EDGE_ROWS_PER_TASK)
        with scoped_conf(spark, {key: target}):
            assert target == 128
            assert spark.conf.get(key) == "128"
        assert spark.conf.get(key) == before

    def test_restores_on_error(self, spark):
        key = "spark.sql.shuffle.partitions"
        before = spark.conf.get(key)
        with pytest.raises(RuntimeError):
            with scoped_conf(
                spark, {key: sized_shuffle_partitions(10**9, GRAPH_EDGE_ROWS_PER_TASK)}
            ):
                raise RuntimeError("boom")
        assert spark.conf.get(key) == before

    def test_graph_ops_leave_session_conf_unchanged(self, spark):
        # The four graph consumers wrap their materializing action in
        # data_sized_shuffle; after each op returns, the session conf
        # must be back at its configured value.
        from distributed_mapreduce_server_spark import registry

        key = "spark.sql.shuffle.partitions"
        before = spark.conf.get(key)
        queries = registry.all_queries()
        for k in (
            "q_graph_triangles",
            "q_graph_clustering_coefficient",
            "q_graph_kcore_peel",
            "q_graph_community_lpa",
        ):
            assert queries[k](spark, SF_SMOKE).count() >= 0
            assert spark.conf.get(key) == before, k


class TestBenchSplit:
    def test_trust_suite_disjoint_from_headline_and_registered(self):
        """VERDICT r12 task 4: the eval harnesses moved out of the
        headline must stay out (a key in both lists would be timed
        twice and double-counted), and every name in either list must
        resolve in the registry."""
        import bench

        from distributed_mapreduce_server_spark import registry

        headline, trust = set(bench.HEADLINE), set(bench.TRUST_SUITE)
        assert not (headline & trust), headline & trust
        unknown = (headline | trust) - set(registry.all_queries())
        assert not unknown, unknown

    def test_previously_unbenched_keys_now_covered(self):
        """VERDICT r12 task 8: the 7 keys that had neither a driver
        CORRECTNESS row nor a bench row must sit in the headline."""
        import bench

        for k in (
            "q_events_approx_topk",
            "q_events_heatmap",
            "q_events_theta_setops",
            "q_shuffle_key_skew",
            "text_hashed_features",
            "text_source_overlap",
            "q_events_daily_sketch_rollup",
        ):
            assert k in bench.HEADLINE, k


class TestFineCodebookCoarseFingerprint:
    def test_fine_memo_keyed_by_coarse_fingerprint(self, spark):
        """ADVICE r12: _fine_codebook used to memoize per (session,
        sf_dir) only — a caller passing a non-memoized coarse book
        (a sweep-retuned one, say) silently received
        a fine book trained against a DIFFERENT coarse. The memo key
        now folds a CRC of the coarse (ids, matrix): a perturbed
        coarse must trigger a fresh training, and the original coarse
        must still hit its own memo."""
        from distributed_mapreduce_server_spark.operators import dedup

        coarse = dedup._route_codebook(spark, SF_SMOKE)
        fine1 = dedup._fine_codebook(spark, SF_SMOKE, coarse)
        perturbed = (coarse[0], coarse[1] + 1e-3)
        fine2 = dedup._fine_codebook(spark, SF_SMOKE, perturbed)
        assert fine2 is not fine1
        assert dedup._fine_codebook(spark, SF_SMOKE, coarse) is fine1


class TestRank1IndexProbing:
    """Rank-1 index-side probing (VERDICT r12 task 3): the measured
    behavior is a strict-subset pair set whose loss is threshold-
    shaped, NOT the identical set r12 hypothesized — these tests pin
    both the subset contract and the trust row's internal
    consistency."""

    def _strategies(self, spark, sf_dir, threshold=None):
        from distributed_mapreduce_server_spark.operators.dedup import (
            COSINE_DEDUP_T,
            _nested_assignments,
            _routed_pairs_from,
        )

        t = COSINE_DEDUP_T if threshold is None else threshold
        emb, assign = _nested_assignments(spark, sf_dir, with_rank=True)
        assign = assign.persist()
        keys = ("centroid_id", "fine_id")
        sym = _routed_pairs_from(
            emb, assign, threshold=t, keys=keys, strategy="pairdist"
        ).select("vec_a", "vec_b")
        r1 = _routed_pairs_from(
            emb, assign, threshold=t, keys=keys, strategy="pairdist_rank1"
        ).select("vec_a", "vec_b")
        return assign, sym, r1

    def test_rank1_pairs_are_subset_of_symmetric(self, spark):
        # Provable from the candidate rule (home(b) ∈ probes(a) ⇒
        # probe sets intersect) — pinned against regressions in either
        # strategy's join.
        assign, sym, r1 = self._strategies(spark, SF_SMOKE)
        extra = r1.join(sym, ["vec_a", "vec_b"], "left_anti").count()
        assert extra == 0
        assign.unpersist()

    def test_eval_row_internal_consistency(self, spark):
        from distributed_mapreduce_server_spark.operators.dedup import (
            dedup_routed_rank1_eval,
        )

        row = dedup_routed_rank1_eval(spark, SF_SMOKE).collect()[0]
        assert row["n_missed"] == row["n_sym_pairs"] - row["n_r1_pairs"]
        assert 0 <= row["n_r1_pairs"] <= row["n_sym_pairs"]
        # rank-1's directed join volume can never exceed the symmetric
        # self-join volume (H_c <= F_c per cell and f·h−h <= C(f,2)
        # requires h <= (f-1)/2 + ... — not a per-cell theorem, but at
        # the corpus level the cap 2·P1·P2 vs (P1·P2)² dominates; pin
        # the measured direction).
        assert row["n_r1_cand_rows"] <= row["n_sym_cand_rows"]
        assert row["volume_reduction"] >= 1.0

    def test_rank1_loss_is_threshold_shaped_on_clustered_corpus(self, spark):
        """The clustered rehearsal corpus (deterministic, regenerated
        on demand): at the loose t=0.45 cut rank-1 loses a large
        fraction of qualifying pairs; at the production t=0.8 cut the
        home cells align and the loss is ~1%. Pins the measured shape
        the docstrings and SURVEY row claim."""
        import sys

        sys.path.insert(0, "/root/repo/scripts")
        from measure_scaling import ensure_corpus

        d = ensure_corpus(1)
        assign, sym, r1 = self._strategies(spark, d, threshold=0.8)
        ns, nr = sym.count(), r1.count()
        assert ns > 0
        assert nr / ns >= 0.95, (ns, nr)
        assign.unpersist()
        assign, sym, r1 = self._strategies(spark, d, threshold=0.45)
        ns, nr = sym.count(), r1.count()
        assert nr < ns  # the loose cut genuinely loses pairs
        assign.unpersist()


class TestSelectionMedianMatchesPercentile:
    @pytest.mark.parametrize("sf", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"])
    def test_exact_median_row_equals_percentile(self, spark, sf):
        """q_sketch_error_bounds' r13 selection median (approx-bracketed
        order statistics, two TakeOrdered jobs) must reproduce Spark's
        exact percentile() bit-for-bit — both interpolate the k/k+1
        order statistics at position 0.5·(n−1)."""
        from pyspark.sql import functions as F

        from distributed_mapreduce_server_spark.catalog import load_tables
        from distributed_mapreduce_server_spark.operators.relational import (
            q_sketch_error_bounds,
        )

        t = load_tables(spark, sf, register_views=False)
        ref = t["lineitem"].agg(
            F.expr("percentile(l_extendedprice, 0.5)").cast("double").alias("e")
        ).collect()[0]["e"]
        row = {
            r["check_name"]: r
            for r in q_sketch_error_bounds(spark, sf).collect()
        }["median_extendedprice"]
        from distributed_mapreduce_server_spark.functions import fround_scalar

        assert row["exact_value"] == fround_scalar(float(ref), 2)
        assert bool(row["within_bound"]) is True

    def test_selection_handles_odd_and_even_n(self, spark):
        """Synthetic odd/even corpora: interpolation (pos > k) and the
        exact-hit (pos == k) branch both reproduce percentile()."""
        from pyspark.sql import functions as F

        for vals in ([3.0, 1.0, 2.0, 10.0], [5.0, 1.0, 9.0, 7.0, 3.0]):
            df = spark.createDataFrame([(v,) for v in vals], "v double")
            ref = df.agg(F.expr("percentile(v, 0.5)").alias("e")).collect()[0]["e"]
            n = len(vals)
            pos = 0.5 * (n - 1)
            k = int(pos)
            sv = sorted(vals)
            vk = sv[k]
            vk1 = sv[k + 1] if pos > k else vk
            assert vk + (vk1 - vk) * (pos - k) == ref
