"""Deduplication operators for LLM-data pipelines (SURVEY.md §2.3).

Five dedup strategies, all avoiding O(n²) at scale:

- exact: hash-groupBy on a normalized fingerprint (one shuffle).
- ngram_jaccard: candidate pairs via an inverted shingle index
  (self-join on shingle hash), so only docs *sharing* a shingle are
  compared — never the full cross product. The exact baseline.
- prefix_filter_jaccard: the same result through SSJoin prefix
  filtering — each doc indexes only its rarest-shingle prefix, which
  hard-bounds bucket fan-out (no corpus-common "stop phrase" can go
  quadratic) and cuts candidates 9.5x with zero recall loss; the
  recommended exact form at 100 TB.
- minhash_lsh: 16 MinHash permutations -> 4 bands x 4 rows; only
  docs colliding in a band bucket are verified. The scale path: at
  100 TB the band join touches a tiny fraction of pairs.
- simhash: 48-bit SimHash over shingles, 16-bit band buckets,
  Hamming <= 6 verify.
- embedding_cosine: near-dup by vector similarity — exact blocked
  pair-matmul (block-pair cogroup grid via blocked.py, nothing
  corpus-sized on the driver); the approximate LSH-bucketed regime
  lives in similarity.py.

Built on top of the pair generators: connected components by
large-star/small-star contraction (one loop for every CC key),
canonicalization by lowest id or by highest quality score,
incremental-ingest variants (exact fingerprints and MinHash bands)
against a historical index, and the persistent index lifecycle
(dedup_index_build / *_indexed / dedup_index_extend) that makes the
day-2 cost scale with the batch instead of the corpus.

Hot-path design note: shingling is ROW-FORM — explode tokens, window
``lead`` to assemble k-grams, hash, distinct — because Spark's
higher-order array lambdas (transform/aggregate) execute interpreted,
outside WholeStageCodegen, and measured ~5 ms/doc; the row form is
pure codegen operators (explode, window, concat, md5) and is ~10x
faster. MinHash then becomes 16 min-aggregations and SimHash 48
conditional sums — no array materialization at all.

No Python UDFs anywhere; exact DuckDB twins live in dedup_oracles.py.

Cache contract: each operator eagerly materializes its (small) final
result into the block cache, unpersists its large shingle/simhash
intermediates before returning, and registers the result cache so
long-running sessions can drop them with ``release_dedup_caches()``.
"""

from __future__ import annotations

import functools

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from distributed_mapreduce_server_spark import session
from distributed_mapreduce_server_spark.catalog import load_tables
from distributed_mapreduce_server_spark.functions import (
    MINHASH_P32,
    fround,
    fround_np,
    md5_u60,
    perm_constants,
    tokens,
)
from distributed_mapreduce_server_spark.session import (
    checkpoint_loop,
    release_checkpoints,
)

_result_caches: list[DataFrame] = []


def _cache_result(df: DataFrame) -> DataFrame:
    """Eagerly cache a (small) final result so the operator can unpersist
    its large intermediates before returning. Tracked so callers doing
    many invocations per session can release with release_dedup_caches()
    instead of a blanket clearCache().

    Call on the UNSORTED result: a persist boundary below an orderBy
    would force the sort to materialize into the cache (count() alone
    lets Catalyst eliminate it); sorting the few cached result rows in
    the caller's action is free."""
    df.persist()
    df.count()
    _result_caches.append(df)
    return df


def release_dedup_caches() -> None:
    """Unpersist every cached dedup result from this session."""
    while _result_caches:
        _result_caches.pop().unpersist()


class _UnpersistGroup:
    """Bundles persisted intermediate frames so callers release them
    with a single unpersist() call."""

    def __init__(self, *dfs: DataFrame) -> None:
        self._dfs = dfs

    def unpersist(self) -> None:
        for df in self._dfs:
            df.unpersist()


SHINGLE_K = 3
JACCARD_T = 0.8
# JACCARD_T as an exact fraction: the prefix-filter candidate bound
# (dedup_prefix_filter_jaccard) sizes prefixes with integer
# arithmetic derived from THESE, so editing JACCARD_T can never
# silently desynchronize verify threshold and candidate completeness.
from fractions import Fraction as _Fraction

_JT = _Fraction(JACCARD_T).limit_denominator(1000)
JACCARD_T_NUM, JACCARD_T_DEN = _JT.numerator, _JT.denominator
N_PERMS = 16
N_BANDS = 4
ROWS_PER_BAND = 4
# 48-bit SimHash over 3-gram shingles: the docs share one vocabulary,
# so unigram profiles collapse together (44k false candidates at
# sf0.1); shingles are document-specific and separate cleanly.
SIMHASH_BITS = 48
SIMHASH_BAND_BITS = 16
N_SIMHASH_BANDS = SIMHASH_BITS // SIMHASH_BAND_BITS
HAMMING_T = 6
COSINE_DEDUP_T = 0.45

# Exact-eval sampling contract (VERDICT r10 task 3): the trust rows
# that measure a fast path against an EXACT quadratic baseline
# (dedup_routed_eval, dedup_routed_probe_sweep, dedup_lsh_br_sweep)
# cap the baseline corpus at EXACT_EVAL_SAMPLE_BOUND items. Above the
# bound, the exact denominator is computed on a deterministic
# hash-sample of ~EXACT_EVAL_SAMPLE_TARGET items
# (pmod(xxhash64(id), 1e6) < frac·1e6 — reproducible, engine-portable,
# no RNG state) and recall is estimated on pairs whose BOTH endpoints
# fall in the sample; the quadratic cost drops by (target/n)² while
# the fast path under evaluation still runs on the full corpus.
# Statistical contract: with s exact pairs surviving in the sample,
# the recall estimate is a binomial proportion with standard error
# <= 1/(2·sqrt(s)) — i.e. a ±1/sqrt(s) 95% CI; the trust row's job is
# an order-of-magnitude recall statement, so s in the thousands (the
# target yields ~(65536/n)²·|exact| pairs at uniform pair density) is
# ample. BELOW the bound the behavior is byte-identical to the full
# exact baseline (pinned by tests forcing the bound), so the DuckDB
# oracles remain full-exact and parity stays green at every test SF.
EXACT_EVAL_SAMPLE_BOUND = 100_000
EXACT_EVAL_SAMPLE_TARGET = 65_536


def _exact_eval_sample(
    df: DataFrame,
    id_col: str,
    n: int,
    bound: int | None = None,
    target: int | None = None,
) -> tuple[DataFrame, bool]:
    """(possibly hash-sampled frame, sampled?) for an exact-baseline
    evaluation corpus — see the sampling-contract banner above."""
    bound = EXACT_EVAL_SAMPLE_BOUND if bound is None else bound
    target = EXACT_EVAL_SAMPLE_TARGET if target is None else target
    if n <= bound:
        return df, False
    num = max(1, (target * 1_000_000) // n)
    return (
        df.filter(F.pmod(F.xxhash64(F.col(id_col)), F.lit(1_000_000)) < num),
        True,
    )


def _pairs_within(pairs: DataFrame, ids: DataFrame, a: str, b: str) -> DataFrame:
    """Restrict a pair frame to pairs whose BOTH endpoints appear in
    ``ids`` (a one-column id frame) — the numerator scoping of the
    sampled-recall contract."""
    col = ids.columns[0]
    return pairs.join(
        ids.withColumnRenamed(col, a), a, "left_semi"
    ).join(ids.withColumnRenamed(col, b), b, "left_semi")


def _shingle_rows_from(spark: SparkSession, docs: DataFrame, mask_bits: int) -> DataFrame:
    """(doc_id, h) rows from any (doc_id, text, ...) frame: distinct
    ``mask_bits``-bit hashes of the doc's 3-gram shingles, built as
    ONE codegen projection per document (r13):

    tokenize (array) -> transform(sequence(0, n-3),
    i -> md5(array_join(slice(ts, i+1, 3)))) & mask -> array_distinct
    -> explode.

    No posexplode, no corpus-token window sort, no dedup aggregate —
    per-doc distinct in the array replaces dropDuplicates because all
    of a doc's grams live in its own row. Gram strings and the
    mask_bits-hash are byte-identical to the former lead-window form
    (array_join(slice(ts, i+1, 3), " ") == concat_ws(" ", tok,
    lead1, lead2)), so every downstream (doc_id, h) multiset is
    unchanged.

    The repartition by doc_id spreads the single-split documents file
    across all cores BEFORE the heavy per-doc projection (shuffling
    ~200x fewer bytes than repartitioning exploded token rows).
    """
    docs = docs.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    mask = F.lit((1 << mask_bits) - 1)
    grams = F.transform(
        F.sequence(F.lit(0), F.size("ts") - 3),
        lambda i: md5_u60(F.array_join(F.slice(F.col("ts"), i + 1, 3), " ")).bitwiseAND(
            mask
        ),
    )
    # sequence(0, n-3) DESCENDS when n < 3 — guard short docs to an
    # empty gram set (the lead-window form emitted no rows for them).
    return (
        docs.select("doc_id", tokens("text").alias("ts"))
        .select(
            "doc_id",
            F.when(F.size("ts") >= 3, grams)
            .otherwise(F.array().cast("array<bigint>"))
            .alias("hs"),
        )
        .select("doc_id", F.explode(F.array_distinct("hs")).alias("h"))
    )


def _shingle_rows(spark: SparkSession, sf_dir: str, mask_bits: int) -> DataFrame:
    """_shingle_rows_from over the full documents table."""
    docs = load_tables(spark, sf_dir, register_views=False)["documents"]
    return _shingle_rows_from(spark, docs, mask_bits)


def _pair_intersections(e: DataFrame, cand: DataFrame) -> DataFrame:
    """|A∩B| per candidate pair from distinct-hash rows ``e`` —
    the shared verify kernel of every candidate-generating dedup
    (prefix filter, LSH, containment): join each side's hash rows,
    count matches."""
    ea = e.withColumnsRenamed({"doc_id": "doc_a", "h": "ha"})
    eb = e.withColumnsRenamed({"doc_id": "rhs_doc", "h": "hb"})
    return (
        cand.join(ea, "doc_a")
        .join(eb, (F.col("doc_b") == F.col("rhs_doc")) & (F.col("ha") == F.col("hb")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
    )


def _pair_jaccard(
    e: DataFrame, cand: DataFrame | None, sizes: DataFrame | None = None
) -> DataFrame:
    """(doc_a, doc_b, jaccard) from distinct-hash rows ``e``.

    With ``cand`` given, intersections are computed only for candidate
    pairs (LSH verify); otherwise via the full inverted-index self-join.
    ``sizes`` (doc_id, n_sh) can be passed in when the caller already
    aggregated per-doc shingle counts (the minhash signature pass does)
    to avoid a second aggregation over ``e``.
    """
    if cand is None:
        a, b = e.alias("a"), e.alias("b")
        inter = (
            a.join(b, (F.col("a.h") == F.col("b.h")) & (F.col("a.doc_id") < F.col("b.doc_id")))
            .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
            .agg(F.count("*").alias("inter"))
        )
    else:
        inter = _pair_intersections(e, cand)
    if sizes is None:
        sizes = e.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    return (
        inter.join(sizes.withColumnsRenamed({"doc_id": "doc_a", "n_sh": "na"}), "doc_a")
        .join(sizes.withColumnsRenamed({"doc_id": "doc_b", "n_sh": "nb"}), "doc_b")
        .withColumn(
            "jaccard",
            fround(F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 4),
        )
    )


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: md5 fingerprint of the normalized token stream,
    keep the lowest doc_id per group."""
    docs = load_tables(spark, sf_dir, register_views=False)["documents"]
    fp = F.md5(F.array_join(tokens("text"), " "))
    return (
        docs.select("doc_id", fp.alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keep_doc_id"))
        .orderBy("keep_doc_id")
    )


# incremental-ingest split: documents below the cutoff (the first 4/5
# of the id space) act as the already-ingested historical index
INCR_INDEX_FRACTION = (4, 5)


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact dedup — the shape a 100 TB pipeline actually
    runs day-to-day: dedup a NEW BATCH of documents against the
    historical fingerprint index (plus within-batch), without ever
    re-deduping the historical corpus itself.

    The first 4/5 of the doc_id space stands in for the index; each
    new-batch doc gets a status: 'dup_of_index' (fingerprint already
    ingested), 'dup_in_batch' (an earlier new doc has it), or 'kept'.

    Scale shape: the index side is fingerprints ONLY (16-byte md5 per
    historical doc — the stored dedup index, never the text), the
    join is key-partitioned on fingerprint, and the within-batch
    window shuffles just the (small) new batch. Per-day cost scales
    with the batch, not the corpus.
    """
    docs = load_tables(spark, sf_dir, register_views=False)["documents"]
    num, den = INCR_INDEX_FRACTION
    fp = docs.select(
        "doc_id", F.md5(F.array_join(tokens("text"), " ")).alias("fingerprint")
    )
    # explicit floor: Spark's long cast truncates but DuckDB's rounds,
    # so both engines floor before casting
    cut = docs.agg(
        F.floor(((F.max("doc_id") + 1) * num) / den).cast("long").alias("cutoff")
    )
    fpx = fp.crossJoin(F.broadcast(cut))
    index_fps = (
        fpx.filter(F.col("doc_id") < F.col("cutoff"))
        .select("fingerprint")
        .distinct()
        .withColumn("in_index", F.lit(True))
    )
    w = Window.partitionBy("fingerprint").orderBy("doc_id")
    batch = (
        fpx.filter(F.col("doc_id") >= F.col("cutoff"))
        .withColumn("rn", F.row_number().over(w))
    )
    return (
        batch.join(index_fps, "fingerprint", "left")
        .select(
            "doc_id",
            F.when(F.col("in_index"), F.lit("dup_of_index"))
            .when(F.col("rn") > 1, F.lit("dup_in_batch"))
            .otherwise(F.lit("kept"))
            .alias("status"),
        )
        .orderBy("doc_id")
    )


def _ngram_pairs(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(pairs, shingles): jaccard >= 0.8 pairs plus the persisted shingle
    frame they read from. Caller must materialize pairs, then unpersist
    the shingle frame.

    This is the FUSED full-inverted-index baseline: one self-join +
    group-count produces exact intersections directly. Hot-bucket
    df-capping was implemented and MEASURED here in two forms —
    (a) capped candidates + exact re-verify (cand x per-doc-shingle
    fan-out: 4x slower at sf0.1) and (b) rare/common split with
    exact common-count recovery (3x slower, and the extra persist
    cascades into the clustering consumers) — both rejected: at any
    realistic shingle-df distribution the cap costs more than it
    saves, because real hot-bucket protection needs a CANDIDATE
    scheme, not a patched verify. That scheme exists as
    dedup_prefix_filter_jaccard (prefix filtering: hard per-doc index
    bound, 9.5x fewer candidates, zero recall loss) — the recommended
    form at 100 TB; this operator stays the simple exact baseline the
    clustering pipeline builds on."""
    e = _shingle_rows(spark, sf_dir, 32).persist()
    e.count()  # materialize BEFORE the 3-way fan-out (self-join a/b +
    # sizes); a lazy persist would race-fill the cache inside one job
    # and compute the shingle subtree up to 3x (measured 2x slower).
    jac = _pair_jaccard(e, None)
    pairs = jac.filter(F.col("jaccard") >= JACCARD_T).select("doc_a", "doc_b", "jaccard")
    return pairs, e


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs with 3-gram Jaccard >= 0.8 via inverted shingle
    index (compare only docs sharing at least one shingle). Shingles
    join as 32-bit hashes, not strings — smaller shuffle keys. Hot-
    bucket-bounded candidate generation lives in
    dedup_prefix_filter_jaccard (see _ngram_pairs' measured notes)."""
    pairs, e = _ngram_pairs(spark, sf_dir)
    out = _cache_result(pairs)
    e.unpersist()
    return out.orderBy("doc_a", "doc_b")


def _ranked_by_rarity(e: DataFrame) -> DataFrame:
    """Shingle rows annotated with document frequency ``df``, the
    per-doc rarest-first rank ``rk``, and the doc's shingle count
    ``n`` — the shared front half of both prefix-filter schemes.

    df is a partial-agg ``groupBy(h)`` + shuffle join, NOT
    ``count(*) over (partition by h)``: a boilerplate shingle shared
    by 1e8 docs makes one giant window partition that a single task
    must materialize, and window skew is invisible to AQE — while
    the aggregation combines map-side and the join gets AQE
    skew-splitting on hot h buckets. (Measured at sf0.1: warm-cache
    parity with the window form — ~2.3 s prefix-filter / ~1.7 s
    containment either way; cold-cache best-of-3 ~2.6 s / ~2.1 s vs
    the window form's ~1.9 s / ~1.8 s — a few hundred ms for the
    extra join build, the price of a plan AQE can actually rescue
    when one shingle goes corpus-hot.)
    The per-doc window is safe: its partitions are bounded by
    shingles-per-doc, not corpus size; rk and n share one window
    spec, a single sort pass."""
    df_h = e.groupBy("h").agg(F.count("*").alias("df"))
    wdoc = Window.partitionBy("doc_id").orderBy("df", "h")
    return (
        e.join(df_h, "h")
        .withColumn("rk", F.row_number().over(wdoc))
        .withColumn(
            "n",
            F.count("*").over(
                wdoc.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
            ),
        )
    )


def dedup_prefix_filter_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The EXACT sublinear candidate scheme beside MinHash-LSH:
    prefix filtering (Chaudhuri et al. SSJoin / Bayardo AllPairs).
    Under a global rarest-first order on shingle hashes, two sets
    with |x∩y| >= α must intersect within their (|x|-α+1)-prefixes;
    jaccard >= 0.8 between valid partners implies α >= ceil(0.8|x|),
    so each doc only indexes its ~0.2|x|+1 RAREST shingles and the
    candidate self-join runs on that prefix — measured 9.5x
    candidate-pair reduction vs the full inverted index at sf0.1
    (1.13M -> 119k), with zero recall loss (unlike LSH, which trades
    recall). Verification is the exact
    jaccard over the full shingle sets, so the result equals
    dedup_ngram_jaccard row-for-row and shares its oracle.

    Prefix lengths use integer arithmetic (n - ceil(num*n/den) + 1
    with num/den = JACCARD_T's exact fraction), not t*n doubles, so
    completeness can't hinge on float rounding and cannot
    desynchronize from the shared verify threshold.
    Scale shape: one skew-robust df-aggregation + join (see
    _ranked_by_rarity — hot boilerplate shingles must not become one
    window partition), one per-doc window (docs are bounded-size
    shingle sets), candidate join keyed on rare hashes whose buckets
    are small BY CONSTRUCTION (rarest-first order).
    """
    e = _shingle_rows(spark, sf_dir, 32).persist()
    e.count()  # eager: df pass + candidate join + verify all
    # read this cache (lazy persist would recompute the subtree)
    ranked = _ranked_by_rarity(e)
    pref = (
        ranked.filter(
            # n - ceil(t*n) + 1 with ceil(a/b) = floor((a+b-1)/b):
            # integer arithmetic from JACCARD_T's exact fraction
            F.col("rk")
            <= F.col("n")
            - F.floor(
                (F.lit(JACCARD_T_NUM) * F.col("n") + F.lit(JACCARD_T_DEN - 1))
                / F.lit(JACCARD_T_DEN)
            )
            + 1
        )
        .select("doc_id", "h", "rk", "n")
        .persist()
    )
    pref.count()  # referenced 3x below (self-join both sides + sizes)
    a, b = pref.alias("a"), pref.alias("b")
    cand = (
        a.join(b, (F.col("a.h") == F.col("b.h")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    # every doc keeps >= 1 prefix row, so per-doc sizes read off the
    # rk=1 rows — no second aggregation over e
    sizes = pref.filter(F.col("rk") == 1).select("doc_id", F.col("n").alias("n_sh"))
    jac = _pair_jaccard(e, cand, sizes=sizes)
    pairs = jac.filter(F.col("jaccard") >= JACCARD_T).select("doc_a", "doc_b", "jaccard")
    out = _cache_result(pairs)
    e.unpersist()
    pref.unpersist()
    return out.orderBy("doc_a", "doc_b")


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup: band-bucket candidate pairs, verified with
    true Jaccard >= 0.8 on the shingle-hash sets.

    MinHash signatures are 16 min-aggregations over the shingle-hash
    rows — one md5 per shingle, then cheap exact integer permutations
    (a_i*h + b_i mod P32, every intermediate < 2^63). Candidate
    generation is a self-join on (band_idx, band_sig): a key-partitioned
    shuffle join whose fan-out is bucket size, not n². This is the
    strategy that survives 100 TB.
    """
    docs = load_tables(spark, sf_dir, register_views=False)["documents"]
    pairs, e = _minhash_pairs_from(spark, docs)
    out = _cache_result(pairs)
    e.unpersist()
    return out.orderBy("doc_a", "doc_b")


def _minhash_bands(e: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(sig, bands) from the distinct shingle-hash rows ``e``: the
    per-doc MinHash signature frame (with n_sh riding along so verify
    never re-aggregates ``e``) and its exploded LSH band-bucket rows
    (doc_id, band_idx, band_sig). Shared by the batch LSH dedup and
    the incremental-ingest variant."""
    consts = perm_constants(N_PERMS)
    mh = [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(MINHASH_P32)).alias(f"mh{i}")
        for i, (a, b) in enumerate(consts)
    ]
    sig = e.groupBy("doc_id").agg(*mh, F.count("*").alias("n_sh"))
    band_structs = [
        F.struct(
            F.lit(b).alias("band_idx"),
            F.md5(
                F.concat_ws(
                    ",", *[F.col(f"mh{b * ROWS_PER_BAND + r}") for r in range(ROWS_PER_BAND)]
                )
            ).alias("band_sig"),
        )
        for b in range(N_BANDS)
    ]
    bands = sig.select("doc_id", F.explode(F.array(*band_structs)).alias("band")).select(
        "doc_id", F.col("band.band_idx").alias("band_idx"), F.col("band.band_sig").alias("band_sig")
    )
    return sig, bands


def _minhash_pairs_from(spark: SparkSession, docs: DataFrame) -> "tuple[DataFrame, _UnpersistGroup]":
    """MinHash+LSH verified pairs (jaccard >= 0.8) from any
    (doc_id, text, ...) frame; returns (pairs, unpersist handle for the
    persisted shingle+signature frames) — caller materializes pairs,
    then calls .unpersist() on the handle."""
    e = _shingle_rows_from(spark, docs, 32).persist()
    e.count()  # eager: one cache fill, then sig/verify/sizes all hit it
    # (lazy persist = 2x wall clock; see dedup_ngram_jaccard note)
    sig, bands = _minhash_bands(e)
    sig = sig.persist()
    sig.count()
    sizes = sig.select("doc_id", "n_sh")
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    verified = _pair_jaccard(e, cand, sizes=sizes)
    pairs = verified.filter(F.col("jaccard") >= JACCARD_T).select("doc_a", "doc_b", "jaccard")
    return pairs, _UnpersistGroup(e, sig)


def _simhashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc 48-bit SimHash: 48 conditional-sum aggregations over the
    distinct shingle-hash rows (sign of per-bit vote -> bit)."""
    e = _shingle_rows(spark, sf_dir, SIMHASH_BITS)
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) == 1, F.lit(1)).otherwise(
                F.lit(-1)
            )
        ).alias(f"s{j}")
        for j in range(SIMHASH_BITS)
    ]
    sums = e.groupBy("doc_id").agg(*bit_sums)
    simhash = None
    for j in range(SIMHASH_BITS):
        term = F.when(F.col(f"s{j}") >= 0, F.lit(1 << j).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        simhash = term if simhash is None else simhash + term
    return sums.select("doc_id", simhash.alias("simhash"))


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup: 3 x 16-bit band buckets, Hamming <= 6 verify."""
    sh = _simhashes(spark, sf_dir).persist()
    sh.count()  # the band self-join references sh twice; without the
    # eager persist the whole 48-sum aggregation runs twice.
    mask = (1 << SIMHASH_BAND_BITS) - 1
    band_structs = [
        F.struct(
            F.lit(b).alias("band_idx"),
            F.shiftright("simhash", b * SIMHASH_BAND_BITS).bitwiseAND(F.lit(mask)).alias("band_val"),
        )
        for b in range(N_SIMHASH_BANDS)
    ]
    bands = sh.select(
        "doc_id", "simhash", F.explode(F.array(*band_structs)).alias("band")
    ).select("doc_id", "simhash", "band.band_idx", "band.band_val")
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"),
        )
        .distinct()
    )
    out = _cache_result(cand.filter(F.col("hamming") <= HAMMING_T))
    sh.unpersist()
    return out.orderBy("doc_a", "doc_b")


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup: pairs with cosine >= 0.45 (sorted output
    form of _embedding_cosine_pairs)."""
    return _embedding_cosine_pairs(spark, sf_dir).orderBy("vec_a", "vec_b")


# block-pair grid for the exact all-pairs cosine kernel: each vector
# lands in one of B blocks, every unordered block pair becomes one
# cogroup task. B+1-fold replication shuffle; flops stay n^2 (exact
# semantics) but memory per task is 2 blocks, never the corpus. B is
# sized adaptively from the corpus count (blocked.BLOCK_TARGET_ROWS).


def _embedding_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs (cosine >= 0.45), UNSORTED, via an
    exact BLOCKED pair-matmul — consumers that aggregate
    (dedup_semantic_keep's distinct) use this directly so no range
    exchange sneaks in below their shuffle.

    Scale shape: vectors hash into B adaptive blocks; each of the
    B(B+1)/2 unordered block pairs is one cogrouped applyInPandas task
    computing a numpy matmul over its two blocks and emitting only
    thresholded pairs. Nothing corpus-sized ever reaches the driver
    (the former design collect()ed the whole table and rebroadcast it
    — a driver OOM at 100 TB); the shuffle is (B+1)-fold replication
    of the vectors, and per-task memory is two n/B-row blocks — B is
    the knob that trades task count against replication at any corpus
    size. The n^2 flop count is inherent to the operator's EXACT
    all-pairs semantics.

    Why not LSH candidate generation: the qualifying pairs in this
    corpus sit just above the 0.45 threshold (cos 0.45-0.60, i.e.
    ~60 deg angles — measured, not assumed), where random-hyperplane
    collision probability per 6-bit table is ~0.07; no practical
    table count reaches the 100% recall the exact-pair oracle
    requires. LSH is the right tool for the *approximate* regime —
    that path exists as sim_lsh_ann (similarity.py) and is what a
    pipeline accepting <1 recall would swap in.

    Results match the sequential-fold oracle after rounding: matmul
    reassociates the 64-term sums, which moves values only ~1e-15
    relative — far below the 1e-4 rounding grid.
    """
    from distributed_mapreduce_server_spark.catalog import table_row_count

    emb = load_tables(spark, sf_dir, register_views=False)["embeddings"]
    return _blocked_cosine_pairs(
        spark, emb, n_hint=table_row_count(sf_dir, "embeddings")
    )


def _blocked_cosine_pairs(
    spark: SparkSession,
    emb: DataFrame,
    n_hint: int | None = None,
    threshold: float = COSINE_DEDUP_T,
) -> DataFrame:
    """The blocked pair-matmul kernel over any (vec_id, embedding)
    frame — _embedding_cosine_pairs runs it on the full table, the
    composed corpus pipelines on their surviving subset, and
    dedup_threshold_sweep at a lower cut. The grid scaffold
    (replication frames, cell cogroup, engine-stable rounding) is
    shared with sim_knn_join via blocked.py."""
    import numpy as np
    import pandas as pd

    from distributed_mapreduce_server_spark.operators.blocked import (
        blocked_cosine_grid,
    )

    def cell(diagonal, a_ids, b_ids, cos):
        thresh = cos >= threshold
        if diagonal:
            # both blocks are the same vectors: a<b counts each
            # unordered pair exactly once
            ai, bj = np.nonzero(thresh & (a_ids[:, None] < b_ids[None, :]))
            va, vb = a_ids[ai], b_ids[bj]
        else:
            # disjoint blocks: every unordered pair appears exactly
            # once in exactly this grid cell; canonicalize to
            # (min, max) — vec_id order is uncorrelated with block id
            ai, bj = np.nonzero(thresh)
            va = np.minimum(a_ids[ai], b_ids[bj])
            vb = np.maximum(a_ids[ai], b_ids[bj])
        return pd.DataFrame({"vec_a": va, "vec_b": vb, "cos_sim": cos[ai, bj]})

    return blocked_cosine_grid(
        spark, emb, None, cell, "vec_a long, vec_b long, cos_sim double",
        n_hint=n_hint,
    )


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the near-dup graph: every document in
    at least one near-dup pair, labeled with the minimum doc_id
    reachable from it (the cluster's canonical id).

    Alternating large-star / small-star contraction (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14; the loop
    is :func:`_star_contraction_cc`): each round rewires the edge set
    itself, so a long path or a high-degree hub converges in
    O(log^2 n) rounds regardless of diameter, and the edge set
    shrinks toward one star per component.

    The jaccard pairs come out of _ngram_pairs already canonical
    (doc_a < doc_b, one row per pair), so they feed the loop as
    (u, v) = (doc_b, doc_a) with no symmetric edge frame and no extra
    persist or count. There is no member roster either: star
    contraction keeps every node of a component of two or more in
    some edge at every round, so the final stars label exactly the
    documents of the near-dup graph. The eager actions are the
    shingle persist and the probe of the pairs' checkpoint; a
    near-dup graph of at most session.DRIVER_GRAPH_MAX_EDGES pairs is
    then labeled on the driver, a larger one adds one signature per
    star round and its labels return lazily over the last round's
    checkpoint.
    """
    pairs, e = _ngram_pairs(spark, sf_dir)
    canon = pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v"))
    labels = _star_contraction_cc(spark, canon)
    e.unpersist()
    return labels.orderBy("doc_id")


# Same operator under its second registry key (both share one oracle).
dedup_clusters_bigstar = dedup_clusters


def _star_contraction_cc(spark: SparkSession, canon: DataFrame) -> DataFrame:
    """(doc_id, cluster_id) connected-component labels of the graph
    given as a DISTINCT canonical (u, v) edge frame with u > v; the
    cluster id is the component's minimum node.

    - large-star: per node u, connect every LARGER neighbor v > u to
      m(u) = min(N(u) ∪ {u}). Cuts long paths toward minima in
      parallel; provably never increases the edge count.
    - small-star: per node u, connect every neighbor v <= u (and u)
      to that minimum. Collapses the remaining small neighborhoods.

    Both halves converge in O(log^2 n) rounds (in practice single
    digits), and the edge set shrinks monotonically toward one star
    per component — so late rounds shuffle far fewer bytes than
    early ones. Neither half drops a node: a node keeps an edge to
    its neighborhood minimum or is that minimum for a neighbor.

    Convergence detection: the edge set's (count, xor-of-xxhash64)
    signature is compared across rounds (edges are distinct, so xor
    cancellation can't occur within one set) — one cheap aggregate
    instead of two exceptAll jobs. At the fixed point every edge is
    (node, component-min), so labels read directly off the stars.

    Round 0's checkpoint of ``canon`` is probed with
    session.fetch_if_small: a graph of at most DRIVER_GRAPH_MAX_EDGES
    edges is labeled on the driver by :func:`_min_labels_on_driver`
    (the same rows as array ops, no Spark round). A larger one enters
    session.checkpoint_loop already materialized: each round's edge
    set is checkpointed and its signature is the round's one action;
    the loop stops when the signature is unchanged. The large-star
    edge set is read twice inside a round (the small-star mins and
    the rewiring join) without a persist: the two reads share one
    exchange (``ReusedExchange`` in the final plan). The returned
    labels are lazy over the last round's checkpoint.
    """

    def _sym(canon: DataFrame) -> DataFrame:
        """Symmetric view of a canonical (u > v) edge frame."""
        return canon.unionByName(
            canon.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )

    def _signature(canon: DataFrame) -> tuple[int, int]:
        row = canon.agg(
            F.count("*").alias("n"),
            F.coalesce(F.expr("bit_xor(xxhash64(u, v))"), F.lit(0)).alias("s"),
        ).collect()[0]
        return row["n"], row["s"]

    def _star_round(canon: DataFrame, _sig) -> DataFrame:
        sym = _sym(canon)
        # large-star: m(u) = min over N(u) ∪ {u}; emit (v, m) for v > u
        # (m <= u < v, so no self-edge can appear)
        mins = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
        large = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        # small-star over the large-star output: neighbors v < u only,
        # m = min(N_<(u)); emit (w, m) for w in N_<(u) ∪ {u}, w != m
        ls_canon = large.distinct()
        sm = ls_canon.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            ls_canon.join(sm, "u")
            .filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(sm.select(F.col("u"), F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
        )
        return small.distinct()

    # round 0's checkpoint is the probe: a small graph is labeled on
    # the driver, a larger one enters the loop already materialized
    round0 = canon.localCheckpoint(eager=False)
    small = session.fetch_if_small(round0, session.DRIVER_GRAPH_MAX_EDGES)
    if small is not None:
        release_checkpoints(spark, round0)
        return _min_labels_on_driver(spark, small)
    canon, _ = checkpoint_loop(
        spark, round0, _star_round, _signature, until=lambda prev, sig: sig == prev
    )
    release_checkpoints(spark, round0)
    # fixed point: every edge is (node, component-min). Leaves label
    # via their edge; centers label as themselves.
    return (
        canon.select(F.col("u").alias("doc_id"), F.col("v").alias("cluster_id"))
        .unionByName(
            canon.select(F.col("v").alias("doc_id"), F.col("v").alias("cluster_id"))
        )
        .distinct()
    )


def _min_labels_on_driver(spark: SparkSession, edges: pa.Table) -> DataFrame:
    """_star_contraction_cc's (doc_id, cluster_id) rows for a fetched
    (u, v) edge table, as array ops: every root hooks to the smallest
    root across its edges (``np.minimum.at``), then pointer jumping
    (``lab = lab[lab]``) flattens each tree to its root, until every
    edge joins one root. Labels are indices into the sorted node ids
    and only ever decrease, so each root is its component's minimum
    node. The rows go back as an Arrow table (no Python workers)."""
    u, v = edges["u"].to_numpy(), edges["v"].to_numpy()
    nodes, ends = np.unique(np.concatenate([u, v]), return_inverse=True)
    a, b = ends[: len(u)], ends[len(u) :]
    lab = np.arange(len(nodes))
    while True:
        la, lb = lab[a], lab[b]
        apart = la != lb
        if not apart.any():
            break
        np.minimum.at(lab, np.maximum(la, lb)[apart], np.minimum(la, lb)[apart])
        while not np.array_equal(lab, jumped := lab[lab]):
            lab = jumped
    ids = edges.schema.field("u").type
    return spark.createDataFrame(
        pa.table({"doc_id": pa.array(nodes, ids), "cluster_id": pa.array(nodes[lab], ids)})
    )


def dedup_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dup ingest — the day-2 shape of MinHash dedup:
    a new batch of documents (the last 1/5 of the id space) is checked
    against the historical corpus's stored LSH BAND INDEX plus itself,
    without ever re-pairing the historical corpus. Per-doc status:
    'neardup_of_index' (jaccard >= 0.8 with an already-ingested doc),
    'neardup_in_batch' (with an earlier doc of the same batch), else
    'kept' — index matches win, mirroring dedup_incremental's exact
    variant.

    Scale shape: in production the index side is the STORED
    (band_sig -> doc_id) table plus per-doc shingle-hash sets —
    written once at ingest, never recomputed (here both sides derive
    from the same documents table for the oracle's sake; the split is
    the cutoff filter). The candidate join is batch bands against
    index bands, key-partitioned on band_sig — cost scales with the
    batch's collisions, not the corpus — and batch-internal candidates
    come from the batch's own (tiny) self-join. Verification fetches
    only candidate docs' shingle sets. The historical pair set is
    never touched.
    """
    docs = load_tables(spark, sf_dir, register_views=False)["documents"]
    num, den = INCR_INDEX_FRACTION
    cut = docs.agg(
        F.floor(((F.max("doc_id") + 1) * num) / den).cast("long").alias("cutoff")
    )
    e = _shingle_rows(spark, sf_dir, 32).persist()
    e.count()
    sig, bands = _minhash_bands(e)
    sig = sig.persist()
    sig.count()
    sizes = sig.select("doc_id", "n_sh")
    bands = bands.crossJoin(F.broadcast(cut))
    batch_bands = bands.filter(F.col("doc_id") >= F.col("cutoff")).drop("cutoff")
    index_bands = bands.filter(F.col("doc_id") < F.col("cutoff")).drop("cutoff")
    bb, ib = batch_bands.alias("bb"), index_bands.alias("ib")
    cand_index = ib.join(
        bb,
        (F.col("ib.band_idx") == F.col("bb.band_idx"))
        & (F.col("ib.band_sig") == F.col("bb.band_sig")),
    ).select(F.col("ib.doc_id").alias("doc_a"), F.col("bb.doc_id").alias("doc_b"))
    b1, b2 = batch_bands.alias("b1"), batch_bands.alias("b2")
    cand_batch = b1.join(
        b2,
        (F.col("b1.band_idx") == F.col("b2.band_idx"))
        & (F.col("b1.band_sig") == F.col("b2.band_sig"))
        & (F.col("b1.doc_id") < F.col("b2.doc_id")),
    ).select(F.col("b1.doc_id").alias("doc_a"), F.col("b2.doc_id").alias("doc_b"))
    cand = cand_index.unionByName(cand_batch).distinct()
    verified = _pair_jaccard(e, cand, sizes=sizes)
    pairs = verified.filter(F.col("jaccard") >= JACCARD_T)
    flags = (
        pairs.crossJoin(F.broadcast(cut))
        .groupBy(F.col("doc_b").alias("doc_id"))
        .agg(F.max(F.col("doc_a") < F.col("cutoff")).alias("from_index"))
    )
    batch_docs = (
        docs.select("doc_id")
        .crossJoin(F.broadcast(cut))
        .filter(F.col("doc_id") >= F.col("cutoff"))
        .select("doc_id")
    )
    out = _cache_result(
        batch_docs.join(flags, "doc_id", "left").select(
            "doc_id",
            F.when(F.col("from_index"), F.lit("neardup_of_index"))
            .when(F.col("from_index") == F.lit(False), F.lit("neardup_in_batch"))
            .otherwise(F.lit("kept"))
            .alias("status"),
        )
    )
    e.unpersist()
    sig.unpersist()
    return out.orderBy("doc_id")


def dedup_keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus after near-dup removal: one canonical document (the
    min doc_id) per near-dup cluster, all singletons kept.

    This is the operator a training pipeline actually runs — clusters
    are the analysis artifact, this is the filtered dataset."""
    docs = load_tables(spark, sf_dir, register_views=False)["documents"].select("doc_id")
    clusters = dedup_clusters(spark, sf_dir)
    dropped = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
    return (
        docs.join(dropped, "doc_id", "left_anti")
        .withColumn("kept", F.lit(True))
        .orderBy("doc_id")
    )


def dedup_semantic_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDedup-style corpus filter (Abbas et al. 2023 shape): drop any
    document whose embedding is a near-duplicate (cosine >=
    COSINE_DEDUP_T) of an EARLIER document's embedding — keep-lowest-id
    greedy semantics, deterministic across engines. Documents without
    an embedding row pass through untouched (at sf0.1 only a prefix of
    the corpus is embedded — exactly the partial-coverage situation a
    real pipeline hits mid-embedding-backfill).

    Candidate pairs come from dedup_embedding_cosine's exact blocked
    pair-matmul (block-pair cogroup grid — distributed memory, no
    driver materialization; a pipeline accepting approximate recall
    would swap in LSH plane-buckets like sim_lsh_ann). The filter
    itself is one anti-join of the corpus against the distinct drop
    set."""
    docs = load_tables(spark, sf_dir, register_views=False)["documents"].select("doc_id")
    pairs = _embedding_cosine_pairs(spark, sf_dir)
    dropped = pairs.select(F.col("vec_b").alias("doc_id")).distinct()
    return (
        docs.join(dropped, "doc_id", "left_anti")
        .withColumn("kept", F.lit(True))
        .orderBy("doc_id")
    )


# persistent dedup-index layout (the lake tables a production pipeline
# maintains between ingest days)
INDEX_FILES = 8


def dedup_index_build(spark: SparkSession, sf_dir: str, index_dir: str) -> None:
    """Materialize the PERSISTENT near-dup index for the historical
    corpus (doc_id below the incremental cutoff) — the artifact
    dedup_incremental_neardup's docstring promises a production
    pipeline stores instead of recomputing:

    - ``bands/``    (doc_id, band_idx, band_sig), sorted on band_sig
      so the daily candidate join range-prunes straight off the files;
    - ``shingles/`` (doc_id, h), sorted on doc_id — the verification
      sets, fetched only for candidate index docs;
    - ``sizes/``    (doc_id, n_sh) — set sizes for the jaccard
      denominator without re-aggregating shingles.

    Index cost is paid ONCE per corpus (then extended per batch);
    the write shapes are write_sorted_parquet's range-partitioned
    clustering, so candidate/verify reads skip files by key.
    """
    from distributed_mapreduce_server_spark.sources import write_sorted_parquet

    docs = load_tables(spark, sf_dir, register_views=False)["documents"]
    num, den = INCR_INDEX_FRACTION
    cutoff = docs.agg(
        F.floor(((F.max("doc_id") + 1) * num) / den).cast("long").alias("c")
    ).collect()[0]["c"]
    hist = docs.filter(F.col("doc_id") < cutoff)
    e = _shingle_rows_from(spark, hist, 32).persist()
    e.count()
    sig, bands = _minhash_bands(e)
    write_sorted_parquet(
        bands, f"{index_dir}/bands", sort_by=["band_sig"], n_files=INDEX_FILES,
        mode="overwrite",
    )
    write_sorted_parquet(
        e, f"{index_dir}/shingles", sort_by=["doc_id"], n_files=INDEX_FILES,
        mode="overwrite",
    )
    write_sorted_parquet(
        sig.select("doc_id", "n_sh"), f"{index_dir}/sizes", sort_by=["doc_id"],
        n_files=1, mode="overwrite",
    )
    e.unpersist()


def _default_index_dir(sf_dir: str) -> str:
    import hashlib as _hl
    import os
    import tempfile

    tag = _hl.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    return os.path.join(tempfile.gettempdir(), f"dmrs_dedup_index_{tag}")


def ensure_neardup_index(
    spark: SparkSession, sf_dir: str, index_dir: str | None = None
) -> str:
    """Materialize the historical band/shingle/size index for
    ``sf_dir`` if absent or stale (mtime guard against a regenerated
    source parquet, the exec-pipe fixture discipline); returns the
    index dir. Shared by the batch indexed operator and the streaming
    ingest twin so both read the SAME lake tables."""
    import os

    index_dir = index_dir or _default_index_dir(sf_dir)
    marker = os.path.join(index_dir, "bands", "_SUCCESS")
    src = os.path.join(sf_dir, "documents.parquet")
    stale = os.path.exists(marker) and os.path.getmtime(src) > os.path.getmtime(marker)
    if stale or not os.path.exists(marker):
        dedup_index_build(spark, sf_dir, index_dir)
    return index_dir


def dedup_incremental_neardup_indexed(
    spark: SparkSession, sf_dir: str, index_dir: str | None = None
) -> DataFrame:
    """dedup_incremental_neardup consuming the STORED index — the
    honest day-2 cost profile: shingles, signatures and bands are
    computed for the NEW BATCH ONLY; the historical side arrives as
    parquet reads of the dedup_index_build tables (band-sig-clustered
    candidates, doc-id-clustered verification sets). Identical result
    and oracle as the recompute variant; what changes is that per-day
    compute now scales with the batch, full stop.

    The index materializes once per sf_dir into a temp dir (mtime
    stale-guard against a regenerated source, like the exec-pipe text
    fixture) — standing in for the lake table a production pipeline
    maintains and extends after each ingest.

    Honest crossover note: at sf0.1 (a 4k-doc "historical corpus")
    the recompute variant is FASTER (2.3 s vs ~6 s) — a dozen
    fixed-overhead jobs outweigh recomputing a few thousand shingle
    sets. The indexed shape pays off when index >> batch: recompute
    cost grows with the corpus, this plan's with the batch and its
    collision set only.
    """
    index_dir = ensure_neardup_index(spark, sf_dir, index_dir)

    docs = load_tables(spark, sf_dir, register_views=False)["documents"]
    num, den = INCR_INDEX_FRACTION
    cut = docs.agg(
        F.floor(((F.max("doc_id") + 1) * num) / den).cast("long").alias("cutoff")
    )
    batch_docs = (
        docs.crossJoin(F.broadcast(cut))
        .filter(F.col("doc_id") >= F.col("cutoff"))
        .select("doc_id", "text")
    )
    eb = _shingle_rows_from(spark, batch_docs, 32).persist()
    eb.count()
    sigb, bandsb = _minhash_bands(eb)
    sigb = sigb.persist()
    sigb.count()

    # dedup_index_build wrote the index from the same shingle and band
    # kernels, so the batch frames carry its schema: no inference job
    idx_bands = spark.read.schema(bandsb.schema).parquet(f"{index_dir}/bands")
    idx_shingles = spark.read.schema(eb.schema).parquet(f"{index_dir}/shingles")
    idx_sizes = spark.read.schema(sigb.select("doc_id", "n_sh").schema).parquet(
        f"{index_dir}/sizes"
    )

    ib, bb = idx_bands.alias("ib"), bandsb.alias("bb")
    cand_index = ib.join(
        bb,
        (F.col("ib.band_idx") == F.col("bb.band_idx"))
        & (F.col("ib.band_sig") == F.col("bb.band_sig")),
    ).select(F.col("ib.doc_id").alias("doc_a"), F.col("bb.doc_id").alias("doc_b"))
    b1, b2 = bandsb.alias("b1"), bandsb.alias("b2")
    cand_batch = b1.join(
        b2,
        (F.col("b1.band_idx") == F.col("b2.band_idx"))
        & (F.col("b1.band_sig") == F.col("b2.band_sig"))
        & (F.col("b1.doc_id") < F.col("b2.doc_id")),
    ).select(F.col("b1.doc_id").alias("doc_a"), F.col("b2.doc_id").alias("doc_b"))
    cand = cand_index.unionByName(cand_batch).distinct().persist()
    cand.count()  # referenced 3x below (id roster + both verify joins)

    # verification reads ONLY candidate docs' rows off the index —
    # semi-join pruning keeps the full index table out of the verify
    # shuffle (shuffling the whole stored index would be the exact
    # O(corpus) cost this operator exists to avoid; the semi join
    # scans it but ships only candidate rows, and AQE broadcasts the
    # candidate roster when it is small, which at a sane dup rate it
    # always is).
    cand_ids = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .unionByName(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    e_all = eb.unionByName(idx_shingles.join(cand_ids, "doc_id", "left_semi"))
    sizes = sigb.select("doc_id", "n_sh").unionByName(
        idx_sizes.join(cand_ids, "doc_id", "left_semi")
    )
    verified = _pair_jaccard(e_all, cand, sizes=sizes)
    pairs = verified.filter(F.col("jaccard") >= JACCARD_T)
    flags = (
        pairs.crossJoin(F.broadcast(cut))
        .groupBy(F.col("doc_b").alias("doc_id"))
        .agg(F.max(F.col("doc_a") < F.col("cutoff")).alias("from_index"))
    )
    out = _cache_result(
        batch_docs.select("doc_id")
        .join(flags, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("from_index"), F.lit("neardup_of_index"))
            .when(F.col("from_index") == F.lit(False), F.lit("neardup_in_batch"))
            .otherwise(F.lit("kept"))
            .alias("status"),
        )
    )
    eb.unpersist()
    sigb.unpersist()
    cand.unpersist()
    return out.orderBy("doc_id")


def dedup_index_extend(spark: SparkSession, sf_dir: str, index_dir: str) -> None:
    """Close the ingest loop: append the KEPT batch documents'
    band/shingle/size rows to the stored index, so tomorrow's batch
    dedups against today's accepted docs without any rebuild.

    Appended rows are computed from the batch only (same kernels as
    the build) and restricted to docs whose status came back 'kept' —
    near-dups never enter the index, keeping it one row set per
    retained document. Parquet append preserves the directory tables;
    periodic compact_small_files / write_sorted_parquet runs restore
    the clustered layout as appended files accumulate (the standard
    lake-maintenance cycle).
    """
    statuses = dedup_incremental_neardup_indexed(spark, sf_dir, index_dir=index_dir)
    kept = statuses.filter(F.col("status") == "kept").select("doc_id")
    docs = load_tables(spark, sf_dir, register_views=False)["documents"]
    batch_kept = docs.join(kept, "doc_id", "left_semi").select("doc_id", "text")
    e = _shingle_rows_from(spark, batch_kept, 32).persist()
    e.count()
    sig, bands = _minhash_bands(e)
    bands.write.mode("append").parquet(f"{index_dir}/bands")
    e.write.mode("append").parquet(f"{index_dir}/shingles")
    sig.select("doc_id", "n_sh").write.mode("append").parquet(f"{index_dir}/sizes")
    e.unpersist()


def dedup_keep_best_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware canonicalization — what a training pipeline
    actually wants from near-dup removal: within each near-dup
    cluster keep the member with the HIGHEST quality score (the text
    pipeline's heuristic quality signal; ties break to the lowest
    doc_id), not blindly the lowest id. Singletons pass through.

    Composition shape: clusters come from dedup_clusters (one
    near-dup graph pass), the score from text's quality expressions
    (one corpus scan, no extra shuffle beyond its projection), and
    the pick is a per-cluster window over the tiny clustered subset —
    the corpus-sized work is the same as dedup_keep_canonical, only
    the ranking key changes.
    """
    from distributed_mapreduce_server_spark.operators.text import _quality_exprs

    docs = load_tables(spark, sf_dir, register_views=False)["documents"]
    q = _quality_exprs()
    quality = docs.select("doc_id", fround(q["quality"], 4).alias("quality"))
    clusters = dedup_clusters(spark, sf_dir)
    w = Window.partitionBy("cluster_id").orderBy(F.desc("quality"), F.asc("doc_id"))
    dropped = (
        clusters.join(quality, "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") > 1)
        .select("doc_id")
    )
    return (
        docs.select("doc_id")
        .join(dropped, "doc_id", "left_anti")
        .withColumn("kept", F.lit(True))
        .orderBy("doc_id")
    )


# ExactSubstr span length (tokens): real pipelines use ~50-token
# byte-level spans (Lee et al. 2022); 10 fits the synthetic docs while
# keeping the same machinery.
SUBSTR_L = 10


def _gram_hash_array(ts_col: str, span_l: int):
    """Array of L-gram hashes for one document's token array: entry i
    = md5_u60 of tokens[i..i+L-1] joined by spaces — identical values
    to hashing concat_ws over posexplode + L−1 window leads (the
    pre-r13 assembly), but computed per row with slice/array_join in
    one codegen projection: no corpus-wide repartition, no window
    sort, no L-column lead cascade (measured 0.95 → 0.49 s for the
    sf0.1 gram build; multiset-equality of (doc_id, pos, h) verified
    against the lead form). NULL (so posexplode emits nothing) when
    the doc is shorter than L — the lead form dropped those rows via
    the trailing-lead null filter."""
    return F.when(
        F.size(ts_col) >= span_l,
        F.transform(
            F.sequence(F.lit(0), F.size(ts_col) - span_l),
            lambda i: md5_u60(F.array_join(F.slice(ts_col, i + 1, span_l), " ")),
        ),
    )


def _substr_covered(spark: SparkSession, sf_dir: str):
    """Shared construction behind the ExactSubstr family
    (dedup_exact_substr / dedup_span_clean / dedup_substr_spans):
    per-doc L-gram hash arrays (_gram_hash_array) posexploded to
    (doc_id, pos, h) rows, then ONE df-aggregation over the gram
    hash. Returns (docs, toks, hits, grams) where toks = (doc_id, ts
    token array) and hits = the START positions (doc_id, pos) of
    duplicated L-grams — one row per duplicated gram, NOT the L×
    exploded covered-position set (see _hit_islands for the r13
    interval-merge reshape that made the explosion unnecessary).
    Caller must unpersist the returned grams handle after
    materializing its result."""
    docs = load_tables(spark, sf_dir, register_views=False)["documents"]
    # the corpus parquet arrives as few splits; spread the docs before
    # the md5-heavy gram projection (round-robin — no key needed, the
    # per-doc arrays keep every downstream kernel doc-local)
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    toks = docs.select("doc_id", tokens("text").alias("ts"))
    grams = toks.select(
        "doc_id",
        F.posexplode(_gram_hash_array("ts", SUBSTR_L)).alias("pos", "h"),
    )
    grams = grams.persist()
    grams.count()  # referenced twice (df agg + cover join)
    dup_h = (
        grams.groupBy("h")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") >= 2)
        .select("h")
    )
    hits = grams.join(dup_h, "h").select("doc_id", "pos")
    return docs, toks, hits, grams


def _hit_islands(hits: DataFrame, span_l: int) -> DataFrame:
    """Maximal covered intervals (doc_id, start, end, span_len) from
    duplicated-gram START positions: each hit covers [pos, pos+L-1];
    equal-length intervals sorted by start merge into one contiguous
    island exactly when the gap to the previous start is <= L, so the
    island decomposition is a per-doc lag + running sum — no L×
    position explode, no distinct over the exploded set, no second
    window over corpus×L rows (r13, guide §2.3: the former form
    exploded every duplicated gram into L covered positions and
    re-deduplicated them; at the multiscale ladder's L=40 level that
    was a 40× row fan-out feeding a shuffle). Identical island set by
    construction: the union of fixed-length integer intervals is
    contiguous precisely where consecutive starts are within L.

    Both window expressions share one (doc_id, pos) spec — a single
    sort pass, partitions bounded by document length."""
    w = Window.partitionBy("doc_id").orderBy("pos")
    return (
        hits.withColumn(
            "new_island",
            F.coalesce(
                (F.col("pos") - F.lag("pos").over(w) > F.lit(span_l)).cast("int"),
                F.lit(1),
            ),
        )
        .withColumn("grp", F.sum("new_island").over(w))
        .groupBy("doc_id", "grp")
        .agg(
            F.min("pos").alias("start"),
            (F.max("pos") + F.lit(span_l - 1)).alias("end"),
            (F.max("pos") - F.min("pos") + F.lit(span_l)).alias("span_len"),
        )
    )


def dedup_exact_substr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr-style duplicate-SPAN detection (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): find
    every token covered by some >= SUBSTR_L-token run that appears
    more than once in the corpus, and emit each document's duplicated
    -token coverage — the signal behind span REMOVAL dedup, which
    catches boilerplate shared across otherwise-distinct documents
    that whole-document near-dup (MinHash) never pairs.

    Spark realization (the suffix-array algorithm is replaced by an
    equivalent fixed-L formulation: a token is in a duplicated run of
    length >= L iff some L-gram containing it is duplicated): the
    shared _substr_covered construction, then the covered-position
    count per doc as the sum of merged-interval lengths
    (_hit_islands — same value as counting the distinct exploded
    positions, without the L× fan-out). Shuffles: gram df
    (key-partitioned on hash) + the per-doc island window.
    """
    _, toks, hits, grams = _substr_covered(spark, sf_dir)
    covered = _hit_islands(hits, SUBSTR_L).groupBy("doc_id").agg(
        F.sum("span_len").alias("n_dup_covered")
    )
    sizes = toks.select("doc_id", F.size("ts").alias("n_tokens"))
    out = (
        sizes.join(covered, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce(F.col("n_dup_covered"), F.lit(0)).alias("n_dup_covered"),
            fround(
                F.coalesce(F.col("n_dup_covered"), F.lit(0))
                / F.greatest(F.col("n_tokens"), F.lit(1)),
                4,
            ).alias("dup_frac"),
        )
    )
    out = _cache_result(out)
    grams.unpersist()
    return out.orderBy("doc_id")


def dedup_substr_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal duplicated-SPAN structure per document (round 9) — the
    span-level report Lee et al.'s suffix-array pipeline produces
    before deciding what to cut: where dedup_exact_substr reports
    coverage (how many tokens) this reports SHAPE (how many maximal
    runs, how long the longest is), which separates a doc with one
    500-token boilerplate block from one with 50 scattered 10-token
    clichés — different curation actions (cut the block vs drop the
    doc).

    Spans = merged fixed-length intervals over the duplicated-gram
    start positions (_hit_islands — the same maximal runs the former
    covered-position gaps-and-islands produced, computed without the
    L× explode); the island window partitions by doc_id, so per-task
    work is bounded by document length, never corpus-sized."""
    _, toks, hits, grams = _substr_covered(spark, sf_dir)
    spans = _hit_islands(hits, SUBSTR_L)
    per = spans.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_spans"),
        F.max("span_len").cast("bigint").alias("max_span_tokens"),
        F.sum("span_len").cast("bigint").alias("n_dup_covered"),
    )
    sizes = toks.select("doc_id", F.size("ts").alias("n_tokens"))
    out = sizes.join(per, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce(F.col("n_spans"), F.lit(0)).cast("bigint").alias("n_spans"),
        F.coalesce(F.col("max_span_tokens"), F.lit(0))
        .cast("bigint")
        .alias("max_span_tokens"),
        F.coalesce(F.col("n_dup_covered"), F.lit(0))
        .cast("bigint")
        .alias("n_dup_covered"),
    )
    out = _cache_result(out)
    grams.unpersist()
    return out.orderBy("doc_id")


# Sampled span lengths for the multiscale ExactSubstr report — a
# doubling ladder so every level's gram hashes DERIVE from the
# previous level's (one corpus tokenize+hash pass total): Lee et
# al.'s suffix array answers "duplicated run of ANY length >= L";
# the fixed-L formulation probes that curve at these L values.
SUBSTR_L_GRID = (SUBSTR_L, 2 * SUBSTR_L, 4 * SUBSTR_L)


def dedup_substr_multiscale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variable-L ExactSubstr report (round 10, VERDICT r9 stretch):
    per document and per L in SUBSTR_L_GRID, the duplicated-span
    structure (n_spans / max_span_tokens / n_dup_covered / dup_frac)
    — the coverage-vs-L curve that approaches Lee et al.'s
    suffix-array semantics ("some duplicated run of >= L tokens")
    from the fixed-L side: a doc whose coverage survives at L=40 has
    long boilerplate blocks (cut the span); one whose coverage dies
    past L=10 has scattered clichés (score, don't cut).

    ONE gram-df pass per level but ONE CORPUS PASS TOTAL: the base
    level hashes L0-grams per doc into a hash ARRAY
    (_gram_hash_array); each doubling derives its array as
    hs_next[i] = md5_u60(hs[i] || ' ' || hs[i + L_prev]) with a
    transform over the previous level's array — no re-tokenize, no
    re-hash of text, and equal token runs map to equal level hashes
    by construction. All three levels live in ONE persisted doc-row
    frame (r13: the former row-form ladder persisted + eagerly
    counted a corpus-row frame per level and derived each level
    through a per-doc window lead — three corpus sorts and three
    materializations for what is one columnar projection). Per level
    the df filter and island aggregation are the shared spans
    kernel; per-task work is bounded by doc length."""
    docs = load_tables(spark, sf_dir, register_views=False)["documents"]
    # spread the few parquet splits before the md5-heavy ladder build
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    toks = docs.select("doc_id", tokens("text").alias("ts"))
    base = toks.select(
        "doc_id",
        F.size("ts").alias("n_tokens"),
        _gram_hash_array("ts", SUBSTR_L).alias("hs0"),
    )

    def derive(prev_col: str, step: int):
        # hs_next[i] = md5(str(hs[i]) + ' ' + str(hs[i+step])): the
        # same value the window form computed with lead(h, step) over
        # the dense per-doc position column.
        return F.when(
            F.size(prev_col) > step,
            F.transform(
                F.sequence(F.lit(0), F.size(prev_col) - 1 - step),
                lambda i: md5_u60(
                    F.concat_ws(
                        " ",
                        F.element_at(F.col(prev_col), i + 1).cast("string"),
                        F.element_at(F.col(prev_col), i + 1 + step).cast("string"),
                    )
                ),
            ),
        )

    prev_l = SUBSTR_L
    for level, L in enumerate(SUBSTR_L_GRID):
        if level:
            base = base.withColumn(f"hs{level}", derive(f"hs{level - 1}", prev_l))
            prev_l = L
    base = base.persist()
    base.count()
    sizes = base.select("doc_id", "n_tokens")
    # r14 (VERDICT r13 task 4): the three per-level document-frequency
    # aggregations shared no key (different L), but they CAN share one
    # PASS — tag each level's posexploded gram rows with the level
    # index and aggregate ONCE keyed (level, h): one Exchange where
    # three were, one island window keyed (doc_id, level) where three
    # (doc_id) windows were, one join back instead of three. Values
    # are untouched: level tags partition the key space, so per-
    # (level, h) counts equal each level's solo counts.
    n_levels = len(SUBSTR_L_GRID)
    l_arr = F.array(*[F.lit(int(L)) for L in SUBSTR_L_GRID])
    allg = None
    for level in range(n_levels):
        cur = base.select(
            "doc_id",
            F.lit(level).cast("int").alias("lv"),
            F.posexplode(f"hs{level}").alias("pos", "h"),
        )
        allg = cur if allg is None else allg.unionByName(cur)
    dup = (
        allg.groupBy("lv", "h")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") >= 2)
        .select("lv", "h")
    )
    hits = allg.join(dup, ["lv", "h"]).select("doc_id", "lv", "pos")
    # interval-merge islands (see _hit_islands) with the per-level L
    # riding as a column; one (doc_id, lv) window spec for both
    # expressions — a single sort pass, partitions bounded by doc
    # length.
    w = Window.partitionBy("doc_id", "lv").orderBy("pos")
    L_col = F.element_at(l_arr, F.col("lv") + 1)
    spans = (
        hits.withColumn(
            "new_island",
            F.coalesce(
                (F.col("pos") - F.lag("pos").over(w) > L_col).cast("int"),
                F.lit(1),
            ),
        )
        .withColumn("grp", F.sum("new_island").over(w))
        .groupBy("doc_id", "lv", "grp")
        .agg(
            (F.max("pos") - F.min("pos") + F.max(L_col)).alias("span_len"),
        )
    )
    per = spans.groupBy("doc_id", "lv").agg(
        F.count("*").cast("bigint").alias("n_spans"),
        F.max("span_len").cast("bigint").alias("max_span_tokens"),
        F.sum("span_len").cast("bigint").alias("n_dup_covered"),
    )
    szl = sizes.select(
        "doc_id",
        "n_tokens",
        F.explode(F.sequence(F.lit(0), F.lit(n_levels - 1))).alias("lv"),
    )
    out = szl.join(per, ["doc_id", "lv"], "left").select(
        "doc_id",
        F.element_at(l_arr, F.col("lv") + 1).cast("int").alias("span_l"),
        "n_tokens",
        F.coalesce(F.col("n_spans"), F.lit(0)).cast("bigint").alias("n_spans"),
        F.coalesce(F.col("max_span_tokens"), F.lit(0))
        .cast("bigint")
        .alias("max_span_tokens"),
        F.coalesce(F.col("n_dup_covered"), F.lit(0))
        .cast("bigint")
        .alias("n_dup_covered"),
        fround(
            F.coalesce(F.col("n_dup_covered"), F.lit(0))
            / F.greatest(F.col("n_tokens"), F.lit(1)),
            4,
        ).alias("dup_frac"),
    )
    out = _cache_result(out)
    base.unpersist()
    return out.orderBy("doc_id", "span_l")


CONTAINMENT_T = 0.9
# exact fraction for the integer prefix-length arithmetic (same
# discipline as JACCARD_T_NUM/DEN)
CONTAINMENT_T_NUM, CONTAINMENT_T_DEN = 9, 10


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment (asymmetric Jaccard) dedup: emit (contained_doc,
    container_doc) where |A∩B|/|A| >= 0.9 — the near-SUBSET duplicates
    that symmetric Jaccard misses (a paragraph quoted inside a longer
    document scores low Jaccard but containment ~1). Directional:
    mutual near-dups appear in both orders.

    Candidates via one-sided prefix filtering: |A∩B| >= ceil(t·|A|)
    forces A's (|A| − ceil(t·|A|) + 1)-prefix under the global
    rarest-first shingle order to intersect B — so only the contained
    side is prefix-pruned, joined against the FULL index on the
    container side (no constraint exists on where the shared shingles
    rank in B). Rarest-first prefixes keep the join keyed on
    low-df hashes, which is what bounds the fan-out at scale; the
    verify is the exact intersection count over candidate pairs, same
    machinery as dedup_prefix_filter_jaccard."""
    e = _shingle_rows(spark, sf_dir, 32).persist()
    e.count()
    ranked = _ranked_by_rarity(e)
    pref = (
        ranked.filter(
            F.col("rk")
            <= F.col("n")
            - F.floor(
                (F.lit(CONTAINMENT_T_NUM) * F.col("n") + F.lit(CONTAINMENT_T_DEN - 1))
                / F.lit(CONTAINMENT_T_DEN)
            )
            + 1
        )
        .select(F.col("doc_id").alias("doc_a"), "h", F.col("n").alias("na"))
        .persist()
    )
    pref.count()
    cand = (
        pref.select("doc_a", "h")
        .join(e.withColumnsRenamed({"doc_id": "doc_b"}), "h")
        .filter(F.col("doc_a") != F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    inter = _pair_intersections(e, cand)
    sizes = pref.groupBy("doc_a").agg(F.min("na").alias("na"))
    # EXACT integer threshold inter >= ceil(t*na): the same condition
    # the prefix-length bound guarantees recall for. Filtering on the
    # ROUNDED ratio instead would admit pairs at ~0.89995 that the
    # candidate generation never saw (threshold desynchronization).
    out = (
        inter.join(sizes, "doc_a")
        .filter(
            F.col("inter")
            >= F.floor(
                (F.lit(CONTAINMENT_T_NUM) * F.col("na") + F.lit(CONTAINMENT_T_DEN - 1))
                / F.lit(CONTAINMENT_T_DEN)
            )
        )
        .withColumn("containment", fround(F.col("inter") / F.col("na"), 4))
        .select(
            F.col("doc_a").alias("contained_doc"),
            F.col("doc_b").alias("container_doc"),
            "containment",
        )
    )
    res = _cache_result(out)
    e.unpersist()
    pref.unpersist()
    return res.orderBy("contained_doc", "container_doc")


def dedup_lsh_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall evaluation of the MinHash-LSH candidate scheme against
    the exhaustive baseline: every LSH pair is exact-verified (so
    precision is 1.0 BY CONSTRUCTION — asserted, not assumed), and
    recall = |LSH ∩ exact| / |exact| quantifies what the band layout
    (N_BANDS x ROWS_PER_BAND) trades away. The one-row answer to
    "can we trust the fast path" before pointing it at 100 TB."""
    exact = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    lsh = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    n_exact = exact.count()
    n_lsh = lsh.count()
    n_missed = exact.join(lsh, ["doc_a", "doc_b"], "left_anti").count()
    # recall from the anti-join, NOT n_lsh/n_exact: the two agree only
    # while LSH pairs ⊆ exact pairs (precision 1.0) — assert that
    # subset property instead of silently assuming it, so a threshold
    # drift can never report recall > 1.
    n_hit = n_exact - n_missed
    if n_lsh != n_hit:
        raise AssertionError(
            f"LSH emitted {n_lsh - n_hit} pairs outside the exact set — "
            "precision is no longer 1.0 by construction; re-check the "
            "verify threshold"
        )
    recall = fround(
        F.lit(float(n_hit)) / F.greatest(F.lit(n_exact).cast("double"), F.lit(1.0)), 4
    )
    return spark.range(1).select(
        F.lit(n_exact).cast("bigint").alias("n_exact_pairs"),
        F.lit(n_lsh).cast("bigint").alias("n_lsh_pairs"),
        F.lit(n_missed).cast("bigint").alias("n_missed"),
        recall.alias("recall"),
    )


# Band/row layouts of the 16-permutation signature for the LSH
# tuning sweep: (bands, rows_per_band) with b*r == N_PERMS. The
# S-curve threshold ~ (1/b)^(1/r): (16,1) ~ 0.06 (catch-all),
# (8,2) ~ 0.35, (4,4) ~ 0.71 (the shipped layout), (2,8) ~ 0.92
# (precision-first).
LSH_BR_LAYOUTS = ((16, 1), (8, 2), (4, 4), (2, 8))

# Per-bucket fan-out cap for the sweep's band self-joins (VERDICT r10
# task 4): with r=1 a band bucket is a single minhash value, so one
# corpus-common value makes a bucket that grows LINEARLY with the
# corpus and a self-join fan-out of C(size, 2). Buckets over the cap
# are deterministically hash-sampled down to ~cap members before the
# join (and COUNTED in the row's n_capped_buckets — the truncation is
# reported, never hidden). 4096² = 16M pairs per hot bucket is a
# bounded task at any corpus size; no bucket at the test SFs (<= 5000
# docs) comes near the cap, so oracles stay exact.
LSH_BUCKET_CAP = 4096


def _capped_band_candidates(
    bands: DataFrame, cap: int = LSH_BUCKET_CAP, tag_col: str | None = None
) -> "tuple[DataFrame, int | dict, _UnpersistGroup]":
    """(candidate-pair frame, over-cap bucket count, persisted-frame
    holder) from an LSH (doc_id, band_idx, band_sig) frame, bounding
    per-bucket self-join fan-out at ~``cap`` members.

    With ``tag_col`` (r13), the band frame carries several layouts at
    once distinguished by that column: buckets key on (tag, band_idx,
    band_sig), candidates come back tagged, and the over-cap count is
    a {tag: count} dict computed in ONE job — the union form
    dedup_lsh_br_sweep uses so all four layouts share a single bucket
    self-join. The per-member survival predicate is unchanged
    (xxhash64(doc_id, band_sig) vs cap/bsz with the tag-scoped bsz),
    so each layout's survivor set is identical to running it alone.

    One EAGER keyed aggregation counts the over-cap buckets (cheap:
    the band frame reduced to bucket sizes). In the common case —
    none over the cap, which includes every test SF — the candidate
    join is the PLAIN band self-join, zero extra plan nodes (round
    11 learned this the hard way: an unconditional bands⋈sizes
    filter re-executed its subtree ~5× across the self-join aliases
    and the count, 7 s → 17 s at sf0.1, because ReuseExchange does
    not dedupe repeated identical subtrees). Only when a bucket
    actually exceeds the cap do members survive with probability
    cap/size via the deterministic xxhash64(doc_id, band_sig)
    predicate — that `kept` frame is persisted here and released via
    the returned holder AFTER the caller materializes the
    candidates."""
    keys = ([tag_col] if tag_col else []) + ["band_idx", "band_sig"]
    sizes = bands.groupBy(*keys).agg(F.count("*").alias("bsz"))
    if tag_col:
        # one job for every layout's over-cap bucket count
        n_capped = {
            row[tag_col]: row["c"]
            for row in sizes.filter(F.col("bsz") > cap)
            .groupBy(tag_col)
            .agg(F.count("*").alias("c"))
            .collect()
        }
        any_capped = any(n_capped.values())
    else:
        n_capped = sizes.filter(F.col("bsz") > cap).count()
        any_capped = bool(n_capped)
    if any_capped:
        kept = (
            bands.join(sizes, keys)
            .filter(
                (F.col("bsz") <= cap)
                | (
                    F.pmod(
                        F.xxhash64("doc_id", "band_sig"), F.lit(1_000_000)
                    )
                    < (
                        F.lit(cap).cast("long")
                        * F.lit(1_000_000)
                        / F.col("bsz")
                    ).cast("long")
                )
            )
            .select("doc_id", *keys)
            .persist()
        )
        holder = _UnpersistGroup(kept)
    else:
        kept = bands
        holder = _UnpersistGroup()
    ka, kb = kept.alias("ka"), kept.alias("kb")
    cand = (
        ka.join(
            kb,
            functools.reduce(
                lambda acc, k: acc & (F.col(f"ka.{k}") == F.col(f"kb.{k}")),
                keys,
                F.col("ka.doc_id") < F.col("kb.doc_id"),
            ),
        )
        .select(
            *[F.col(f"ka.{k}") for k in ([tag_col] if tag_col else [])],
            F.col("ka.doc_id").alias("doc_a"),
            F.col("kb.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    return cand, n_capped, holder


def dedup_lsh_br_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MinHash-LSH BAND-LAYOUT tuning curve (round 10): per (b, r)
    layout of the SAME 16-perm signature, the candidate-pair budget,
    the verified (jaccard >= 0.8) pair count, and recall vs the
    exhaustive baseline — the table that picks N_BANDS x
    ROWS_PER_BAND for a corpus, completing the LSH trust suite
    (dedup_lsh_eval = one point on this curve;
    dedup_minhash_est_eval = the estimator's value quality;
    dedup_routed_probe_sweep = the same dial for the semantic
    router). Wider bands (more rows per band) buy precision at the
    cost of recall along the (1/b)^(1/r) S-curve; the sweep measures
    where THIS corpus sits on it.

    Scale shape (r13 union form): ONE shingle pass, ONE 16-min-agg
    signature pass, ONE exhaustive-baseline verify, ONE tagged band
    explode (Σb = 30 rows/doc covering all four layouts), ONE bucket
    self-join keyed on (layout, band_idx, band_sig) — fan-out still
    bounded at LSH_BUCKET_CAP members per bucket, truncated buckets
    counted per layout in n_capped_buckets — and ONE candidate verify
    over the DISTINCT union of every layout's pairs (the (16,1)
    catch-all arm's candidate set is a superset of the others', so
    the union verify costs what that single arm used to; the former
    per-layout verifies re-scored the same pairs up to four times).
    Per-layout counts come back from tagged aggregations: candidates,
    verified = layout candidates ∩ the verified union (identical to
    verifying each layout alone — a pair's jaccard does not depend on
    which layout proposed it), and the sampled-recall numerator.
    Verified pairs are exact-checked, so layout
    precision-of-candidates is measured, never assumed. The
    exhaustive baseline (and with it n_exact_pairs and recall) runs
    on the deterministic hash-sample above EXACT_EVAL_SAMPLE_BOUND
    docs — see the sampling contract banner."""
    from distributed_mapreduce_server_spark.catalog import table_row_count

    n_docs = table_row_count(sf_dir, "documents")
    e = _shingle_rows(spark, sf_dir, 32).persist()
    e.count()
    consts = perm_constants(N_PERMS)
    mh = [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(MINHASH_P32)).alias(f"mh{i}")
        for i, (a, b) in enumerate(consts)
    ]
    sig = e.groupBy("doc_id").agg(*mh, F.count("*").alias("n_sh")).persist()
    sig.count()
    sizes = sig.select("doc_id", "n_sh")
    e_eval, is_sampled = _exact_eval_sample(e, "doc_id", n_docs)
    # the exhaustive baseline's ONLY consumer is its pair count — it
    # folds into the candidate-count job below (r13, guide §2.6) so
    # the quadratic verify overlaps the bucket self-join instead of
    # running as its own sequential job
    exact_cnt = (
        _pair_jaccard(e_eval, None, sizes=sizes)
        .filter(F.col("jaccard") >= JACCARD_T)
        .agg(F.count("*").cast("bigint").alias("c"))
        .select(F.lit(-1).alias("nb"), "c")
    )
    sample_ids = e_eval.select("doc_id").distinct() if is_sampled else None
    from distributed_mapreduce_server_spark.functions import fround_scalar

    # ONE tagged band frame covering all four layouts (Σb rows/doc)
    band_structs = [
        F.struct(
            F.lit(b).alias("nb"),
            F.lit(i).alias("band_idx"),
            F.md5(
                F.concat_ws(",", *[F.col(f"mh{i * r + j}") for j in range(r)])
            ).alias("band_sig"),
        )
        for b, r in LSH_BR_LAYOUTS
        for i in range(b)
    ]
    bands = sig.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("band")
    ).select(
        "doc_id",
        F.col("band.nb").alias("nb"),
        F.col("band.band_idx").alias("band_idx"),
        F.col("band.band_sig").alias("band_sig"),
    )
    cand, n_capped_by, holder = _capped_band_candidates(bands, tag_col="nb")
    cand = cand.persist()
    # one concurrent job: per-layout candidate counts + the exhaustive
    # baseline count (tag −1) — the quadratic baseline subtree
    # schedules alongside the bucket self-join
    n_cand_by = {
        row["nb"]: int(row["c"])
        for row in cand.groupBy("nb")
        .agg(F.count("*").cast("bigint").alias("c"))
        .unionAll(exact_cnt)
        .collect()
    }
    n_exact = n_cand_by.pop(-1)
    holder.unpersist()
    # verify the DISTINCT pair union once; each layout's verified set
    # is its candidates ∩ the verified union (jaccard is
    # layout-independent)
    ver_union = (
        _pair_jaccard(e, cand.select("doc_a", "doc_b").distinct(), sizes=sizes)
        .filter(F.col("jaccard") >= JACCARD_T)
        .select("doc_a", "doc_b")
    )
    tagged_ver = cand.join(ver_union, ["doc_a", "doc_b"], "left_semi").persist()
    n_ver_by = {
        row["nb"]: row["c"]
        for row in tagged_ver.groupBy("nb").agg(F.count("*").alias("c")).collect()
    }
    if is_sampled:
        # recall numerator scoped to the baseline's sample (the
        # sampling contract); the verified-pair COUNT stays full —
        # it is the layout's actual output size
        n_hit_by = {
            row["nb"]: row["c"]
            for row in _pairs_within(tagged_ver, sample_ids, "doc_a", "doc_b")
            .groupBy("nb")
            .agg(F.count("*").alias("c"))
            .collect()
        }
    else:
        n_hit_by = n_ver_by
    rows = []
    for b, r in LSH_BR_LAYOUTS:
        n_cand = n_cand_by.get(b, 0)
        n_ver = n_ver_by.get(b, 0)
        n_hit = n_hit_by.get(b, 0)
        rows.append(
            (
                b,
                r,
                n_cand,
                n_ver,
                n_exact,
                fround_scalar(n_hit / max(n_exact, 1), 4),
                fround_scalar(n_ver / max(n_cand, 1), 4),
                n_capped_by.get(b, 0),
            )
        )
    cand.unpersist()
    tagged_ver.unpersist()
    e.unpersist()
    sig.unpersist()
    return spark.createDataFrame(
        rows,
        "n_bands int, rows_per_band int, n_candidate_pairs bigint,"
        " n_verified_pairs bigint, n_exact_pairs bigint, recall double,"
        " candidate_precision double, n_capped_buckets bigint",
    ).orderBy("rows_per_band")


def dedup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-size histogram over the near-dup components — the
    shape report a dedup run publishes (many pairs? a few giant
    boilerplate clusters? exactly-2 mirrors?). Rides dedup_clusters'
    converged labels; the histogram is two tiny aggregations over the
    cluster-count-sized frame."""
    labels = dedup_clusters(spark, sf_dir)
    sizes = labels.groupBy("cluster_id").agg(F.count("*").alias("cluster_size"))
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count("*").alias("n_clusters"))
        .orderBy("cluster_size")
    )


def dedup_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the EMBEDDING near-dup graph — the
    transitive view SemDedup-style pipelines cluster on (a ~ b ~ c
    groups all three even when cos(a, c) < T), completing the
    semantic arc: pairs (dedup_embedding_cosine) -> clusters (here)
    -> greedy keep (dedup_semantic_keep). Same star-contraction loop
    as the jaccard clusters (shared _star_contraction_cc), over edges
    from the exact blocked pair-matmul — both halves are the
    components already proven at scale. The cosine pairs are already
    distinct with vec_a < vec_b, so they feed the loop as
    (u, v) = (vec_b, vec_a) with no symmetric edge frame; the probe
    of the loop's first checkpoint runs the pair grid once, and a
    small pair set is labeled on the driver."""
    pairs = _embedding_cosine_pairs(spark, sf_dir)
    canon = pairs.select(F.col("vec_b").alias("u"), F.col("vec_a").alias("v"))
    labels = _star_contraction_cc(spark, canon)
    return labels.withColumnsRenamed({"doc_id": "vec_id"}).orderBy("vec_id")


def dedup_span_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr span REMOVAL (round 8) — the surgery
    dedup_exact_substr's detection feeds (Lee et al. 2022 remove the
    duplicated spans and keep the remainder): every token covered by a
    duplicated >= SUBSTR_L-token run is cut, the survivors are
    re-joined in order, and the cleaned corpus ships as (doc_id,
    n_tokens, n_removed, n_kept, clean_fp) with clean_fp = md5 of the
    reconstructed token stream — value-exact parity on the actual
    surgery, not just the counts.

    Scale shape: the shared _substr_covered construction (ONE df
    shuffle on the gram hash), then the surgery is a per-doc ARRAY
    filter: the merged islands (doc-bounded, duplicated-text-sized)
    group to one interval list per doc, join back on doc_id (small
    side — broadcastable), and each doc keeps the tokens whose index
    no island covers (r13: the former shape posexploded every token
    into a corpus-sized (doc_id, pos) frame, LEFT ANTI joined it
    against the exploded covered positions, and re-assembled the
    survivors with a collect_list sort fold — three corpus-row
    shuffles that the index filter does entirely inside one codegen
    projection). A fully covered document still emits its row
    (n_kept = 0, clean_fp = md5(''))."""
    _, toks, hits, grams = _substr_covered(spark, sf_dir)
    isl = (
        _hit_islands(hits, SUBSTR_L)
        .groupBy("doc_id")
        .agg(F.collect_list(F.struct("start", "end")).alias("isl"))
    )
    kept = toks.join(isl, "doc_id", "left").select(
        "doc_id",
        F.size("ts").alias("n_tokens"),
        F.when(F.col("isl").isNull(), F.col("ts"))
        .otherwise(
            F.filter(
                "ts",
                lambda t, i: ~F.exists(
                    "isl", lambda s: (s["start"] <= i) & (i <= s["end"])
                ),
            )
        )
        .alias("kept_ts"),
    )
    out = kept.select(
        "doc_id",
        "n_tokens",
        (F.col("n_tokens") - F.size("kept_ts")).cast("bigint").alias("n_removed"),
        F.size("kept_ts").cast("bigint").alias("n_kept"),
        F.md5(F.array_join("kept_ts", " ")).alias("clean_fp"),
    )
    out = _cache_result(out)
    grams.unpersist()
    return out.orderBy("doc_id")


def dedup_minhash_est_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash ESTIMATOR-quality evaluation (round 8): over every LSH
    candidate pair (band collision, NO jaccard threshold — the whole
    similarity range the sketch is asked about), compare the sketch's
    Jaccard estimate (fraction of the N_PERMS minhash coordinates that
    agree — the textbook unbiased estimator) against the exact
    shingle-set Jaccard: pair count, mean exact, mean estimate, MAE,
    worst absolute error. Completes the trust suite next to
    dedup_lsh_eval: that one measures CANDIDATE recall, this one
    measures the VALUE the sketch reports (at K=16, per-pair std is
    ~sqrt(j(1-j)/16) ≈ 0.12 — the report shows whether reality matches
    the theory before anyone routes on estimated similarity).

    Scale shape: identical to dedup_minhash_lsh's (banded candidates,
    signature-frame joins keyed on doc_id, intersection verify only on
    candidates); the signature frame carries the 16 coordinates the
    estimate needs, so no extra pass over the corpus. 1-row output."""
    docs = load_tables(spark, sf_dir, register_views=False).get("documents")
    docs = docs.select("doc_id", "text")
    e = _shingle_rows_from(spark, docs, 32).persist()
    e.count()
    sig, bands = _minhash_bands(e)
    sig = sig.persist()
    sig.count()
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    exact = _pair_jaccard(e, cand, sizes=sig.select("doc_id", "n_sh")).select(
        "doc_a", "doc_b", "jaccard"
    )
    siga = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh{i}").alias(f"__a{i}") for i in range(N_PERMS)],
    )
    sigb = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh{i}").alias(f"__b{i}") for i in range(N_PERMS)],
    )
    n_eq = None
    for i in range(N_PERMS):
        term = (F.col(f"__a{i}") == F.col(f"__b{i}")).cast("int")
        n_eq = term if n_eq is None else n_eq + term
    per_pair = (
        exact.join(siga, "doc_a")
        .join(sigb, "doc_b")
        .select(
            "jaccard",
            fround(n_eq / F.lit(N_PERMS), 4).alias("est_jaccard"),
        )
    )
    out = per_pair.agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        fround(F.avg("jaccard"), 4).alias("avg_exact"),
        fround(F.avg("est_jaccard"), 4).alias("avg_est"),
        fround(F.avg(F.abs(F.col("est_jaccard") - F.col("jaccard"))), 4).alias("mae"),
        fround(F.max(F.abs(F.col("est_jaccard") - F.col("jaccard"))), 4).alias(
            "max_abs_err"
        ),
    )
    out = _cache_result(out)
    e.unpersist()
    sig.unpersist()
    return out


# Threshold tuning grid for dedup_threshold_sweep: spans the corpus'
# cosine mass so every step is non-vacuous at both SFs (pair counts
# 990→1 at sf0.01, 14922→14 at sf0.1 across the grid — measured);
# the standard dedup cut COSINE_DEDUP_T (0.45) is an interior point.
SWEEP_THRESHOLDS = (0.30, 0.35, 0.40, 0.45, 0.50)


# The registry/bench sweep runs on the ROUTED candidate set (round
# 10, VERDICT r9 task 5): at 100 TB the tuning table must not pay
# the exact n²-flop kernel — the routed generator is exactly the
# candidate source the production dedup would score, so tuning on it
# measures the thresholds the deployed pipeline will actually see.
# "exact" keeps the brute pair-matmul arm for small-corpus audits
# and the routed-vs-exact invariant test.
SWEEP_PAIR_SOURCE = "routed"


def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup threshold tuning curve: for each cosine cut in
    SWEEP_THRESHOLDS, how many pairs qualify and how many distinct
    documents are touched — the table a data engineer reads to pick
    the dedup threshold (too low: mass deletion; too high: misses) —
    the semantic-dedup analog of sim_ivf_nprobe_sweep's recall curve.

    Pair source = SWEEP_PAIR_SOURCE (routed): candidates come from
    dedup_semantic_routed's coarse-bucket generator at the loosest
    cut, so the whole sweep is linear-ish (O(n·K·d) assignment +
    within-bucket matmuls) instead of the exact kernel's n²/B FLOPs
    — the 100 TB shape for a tuning table. The exact arm remains
    available via _threshold_sweep(..., "exact"); the invariant test
    pins routed counts ≤ exact counts per cut."""
    return _threshold_sweep(spark, sf_dir, SWEEP_PAIR_SOURCE)


def _threshold_sweep(
    spark: SparkSession, sf_dir: str, pair_source: str
) -> DataFrame:
    """dedup_threshold_sweep's body with the pair source as a
    parameter (exact | routed).

    Scale shape: ONE pair pass at the loosest cut (exact: the blocked
    pair-matmul; routed: the bucket-local matmuls — per-task memory
    contract unchanged in both, only the emitted pair list grows, and
    it is bounded by the 0.30-threshold pair count), then each grid
    step folds from the same persisted pair frame with conditional
    partial aggs. Pair cosines are pre-rounded to the 1e-4 grid by
    the kernels, so the ≥-comparisons are engine-stable at 2-dp
    thresholds."""
    from distributed_mapreduce_server_spark.catalog import table_row_count

    emb = load_tables(spark, sf_dir, register_views=False)["embeddings"]
    if pair_source == "exact":
        pairs = _blocked_cosine_pairs(
            spark,
            emb,
            n_hint=table_row_count(sf_dir, "embeddings"),
            threshold=min(SWEEP_THRESHOLDS),
        ).persist()
    else:
        emb, assign = _routed_assignments(spark, sf_dir)
        pairs = _routed_pairs_from(
            emb, assign, threshold=min(SWEEP_THRESHOLDS)
        ).persist()
    pairs.count()
    # The whole grid folds in TWO aggregations (round 10; previously
    # 2 agg legs + a crossJoin PER threshold — ~11 jobs whose
    # scheduling overhead dominated the routed pair pass): n_pairs(t)
    # are conditional sums in one row-pass; docs_affected(t) = docs
    # whose best pair clears t, so a per-doc max-cos reduction (pairs
    # exploded to both endpoints once) feeds the same conditional
    # fold. Values are identical to the per-threshold legs by
    # construction.
    pair_sums = [
        F.sum((F.col("cos_sim") >= t).cast("bigint")).alias(f"p{i}")
        for i, t in enumerate(SWEEP_THRESHOLDS)
    ]
    per_doc = (
        pairs.select(F.col("vec_a").alias("v"), "cos_sim")
        .unionAll(pairs.select(F.col("vec_b").alias("v"), "cos_sim"))
        .groupBy("v")
        .agg(F.max("cos_sim").alias("mc"))
    )
    doc_sums = [
        F.sum((F.col("mc") >= t).cast("bigint")).alias(f"d{i}")
        for i, t in enumerate(SWEEP_THRESHOLDS)
    ]
    prow = pairs.agg(*pair_sums).collect()[0]
    drow = per_doc.agg(*doc_sums).collect()[0]
    pairs.unpersist()
    rows = [
        (float(t), int(prow[f"p{i}"] or 0), int(drow[f"d{i}"] or 0))
        for i, t in enumerate(SWEEP_THRESHOLDS)
    ]
    return spark.createDataFrame(
        rows, "threshold double, n_pairs bigint, n_docs_affected bigint"
    ).orderBy("threshold")


# Coarse routing for embedding near-dup at 100 TB: the exact blocked
# pair-matmul (dedup_embedding_cosine) is O(n²/B) FLOPs by design —
# right at the test SFs, quadratic at corpus scale. Routing assigns
# every vector to its ROUTE_PROBES nearest coarse centroids (the IVF
# multi-probe shape, _centroid_assign) and runs the pair-matmul only
# WITHIN each centroid bucket.
#
# Codebook (round 9): FIXED-K, trained by ROUTE_ITERS rounds of
# cosine Lloyd (spherical k-means on the shared trainer,
# similarity._train_codebook: cosines rounded to the 1e-4 grid before
# the argmax, means to 1e-6 after every update — a fixed-point
# iteration both engines reproduce exactly). The r8 codebook was a
# stride sample (K = n/32): its driver collect and its n·K·d
# assignment both grew with the corpus — at n = 1e9 that is a ~15 GB
# driver object and n²d/32 FLOPs, the quadratic routing exists to
# retire. With K fixed the codebook is a bounded driver object
# (K·d·8 B = 32 KiB) at ANY corpus size, assignment is one linear
# O(n·K·d) Arrow matmul pass, and training is ROUTE_ITERS such
# passes with K·d-row partial-sum shuffles (map-side combined).
# Candidate pairs are Σ_c C(n_c, 2) ≈ n²·P²/(2K) — the 1/K-of-brute
# budget a single-level IVF buys; for the next 100× the same
# machinery NESTS (round 11, dedup_semantic_routed_nested below:
# coarse route + a residual fine codebook trained by the same shared
# Lloyd), which multiplies the K's without growing any single
# collect.
#
# Recall vs the exact baseline is MEASURED, not assumed —
# dedup_routed_eval is the trust row and dedup_routed_probe_sweep
# the tuning curve (the discipline that rejected LSH at this
# threshold). At COSINE_DEDUP_T = 0.45 the corpus is near-isotropic
# in 64-dim (the pair angle 63° exceeds any coarse assignment
# radius), so no partition certifies recall at this cut and the
# exact blocked path stays the default; at production semantic-dedup
# thresholds (cos ≥ 0.8, ≤ 37°) the radius argument flips and
# routing recall approaches 1. Measured on sf0.1 with the trained
# K=64 codebook (round 9): recall 0.9375 at t=0.45 (144 pairs), 0.93
# at 0.50 (14), 1.0 at t ≥ 0.55 — consistent with the radius
# argument, though the tight-cut denominators are small (2 pairs at
# 0.55, 1 at 0.60) and the corpus has NO pairs at t ≥ 0.7, so a true
# production-cut certification needs a real near-dup corpus; the
# probe-sweep key is exactly the dial to run there. Trained numbers
# are committed in the SURVEY §2.3 rows.
ROUTE_K = 64
ROUTE_ITERS = 2
ROUTE_PROBES = 6


def _route_codebook(spark: SparkSession, sf_dir: str):
    """Train the fixed-K routing codebook: ROUTE_ITERS rounds of
    cosine Lloyd over the embeddings, returning the bounded
    (ids, matrix) numpy pair `_centroid_assign` broadcasts. Init =
    the first ROUTE_K vectors by vec_id.

    This wrapper pins dedup's corpus (ALL embeddings), init cut and
    round count for the shared trainer, similarity._train_codebook
    (the IVF coarse quantizer, the PQ sub-codebooks and emb_kmeans
    train on it too; its docstring holds the grid and scale-shape
    contract). Memoized per (session, sf_dir) via the shared codebook
    memo (similarity._codebook_memo) — the whole routed family (flat
    + nested + the eval/sweep trust keys) shares ONE training per
    session. The key carries CODEBOOK_TRAIN_LIMIT, so a training
    forced onto the Spark rounds (the cap at 0) is its own entry."""
    from distributed_mapreduce_server_spark.operators.similarity import (
        CODEBOOK_TRAIN_LIMIT,
        _codebook_memo,
        _train_codebook,
    )

    def build():
        emb = load_tables(spark, sf_dir, register_views=False)[
            "embeddings"
        ].select("vec_id", "embedding")
        return _train_codebook(emb, range(ROUTE_K), ROUTE_ITERS, "cosine")

    # Every tuning constant rides in the key (ADVICE r12 extended the
    # r12 K convention to iters/limit): a caller that retunes any of
    # them must never see the previous tuning's book.
    return _codebook_memo(
        spark,
        sf_dir,
        f"dedup_route[K={ROUTE_K},i={ROUTE_ITERS},lim={CODEBOOK_TRAIN_LIMIT}]",
        build,
    )


def _routed_assignments(spark: SparkSession, sf_dir: str, with_rank: bool = False):
    """(embeddings frame, multi-probe (vec_id, centroid_id[, crank])
    frame) under the trained fixed-K codebook."""
    from distributed_mapreduce_server_spark.operators.similarity import (
        _centroid_assign,
    )

    emb = load_tables(spark, sf_dir, register_views=False)["embeddings"]
    codebook = _route_codebook(spark, sf_dir)
    assign = _centroid_assign(emb, codebook, ROUTE_PROBES, with_rank=with_rank)
    return emb, assign


def dedup_semantic_routed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Routed embedding near-dup: candidate pairs only within coarse
    (centroid) buckets — the 100 TB path for dedup_embedding_cosine.
    Emits the qualifying (vec_a, vec_b, cos_sim >= COSINE_DEDUP_T)
    pairs found by the router; dedup_routed_eval reports its recall
    against the exact blocked baseline.

    Scale shape: the codebook is a FIXED-K trained object (ROUTE_K
    rows of 64 floats — bounded at any corpus size, see
    _route_codebook); assignment is one numpy
    matmul per Arrow batch (no crossJoin); the bucket grouping
    is ONE keyed shuffle partitioned by centroid_id (the inverted
    file); per-task work is one bucket's C(size, 2) cosine matmul on
    full vectors (exact verify — routing only limits WHICH pairs are
    scored, never how). Multi-probe duplicates collapse in a distinct
    over pairs whose cosines are bit-identical (same full-vector
    kernel, 1e-4 grid rounding)."""
    emb, assign = _routed_assignments(spark, sf_dir)
    return _routed_pairs_from(emb, assign).orderBy("vec_a", "vec_b")


def _routed_pairs_from(
    emb: DataFrame,
    assign: DataFrame,
    threshold: float = COSINE_DEDUP_T,
    keys: tuple[str, ...] = ("centroid_id",),
    strategy: str = "fused",
) -> DataFrame:
    """Qualifying (vec_a, vec_b, cos_sim >= ``threshold``) pairs
    within each ``keys`` bucket of ``assign`` — the exact-verify
    kernel shared by dedup_semantic_routed, dedup_routed_eval (the
    eval reuses ITS assignment frame so the codebook trains once per
    operator), the routed threshold sweep (which loosens the cut
    to its grid minimum), and the nested router (composite
    (coarse, fine) bucket key). Both strategies return the identical
    pair set (oracle-parity-pinned); they differ only in cost shape:

    - ``strategy="fused"`` (default — the FLAT router's regime):
      per-bucket dense matmul fused with pair generation, one bucket
      shuffle of each membership. Optimal when buckets are few and
      large and pair multiplicity is low (flat K=64, P=6: measured
      0.65 s at sf0.1 vs ~2.3 s for pairdist — the pairdist join
      moves 2 embeddings per DISTINCT candidate, which loses when
      candidates ≫ memberships).
    - ``strategy="pairdist"`` (the NESTED router's regime): bucket-id
      self-join → DISTINCT candidate pairs BEFORE any vector is
      touched → one Arrow-batch einsum verify per pair. Under nested
      multi-probe a co-routed pair shares up to P1·P2 = 56 buckets;
      on clustered-duplicate corpora that multiplicity dominates the
      fused form (SCALING.md finding 3: 42 s fused vs 3.5 s pairdist
      on the 10x rehearsal corpus, identical 7,724 pairs; equal at
      sf0.1's small buckets).
    - ``strategy="pairdist_rank1"`` (SCALING.md finding 3's second
      lever — NOT the shipped default, see dedup_routed_rank1_eval):
      probe wide on the QUERY side only; the index side keeps each
      vector's single HOME bucket (crank = frank = 1, so ``assign``
      must carry ranks). A pair is a candidate iff either endpoint
      probes the other's home bucket — the standard IVF search rule —
      capping each pair's pre-distinct multiplicity at 2·P1·P2
      instead of (P1·P2)². STRICTLY SMALLER candidate set than the
      symmetric rule (pairs sharing only non-home buckets are lost),
      and measurement says the loss is THRESHOLD-shaped, not
      corpus-shaped: at t=0.45 it keeps 7/14 qualifying pairs at
      sf0.01 and 167/287 on the clustered rehearsal corpus (31×
      join-volume cut there), while at production cuts the home
      cells align and it keeps 94/97 (t=0.6-0.7) and 89/90 (t=0.8)
      on the same clustered corpus. Never exactly identical — the
      r12 hypothesis ("identical pair set") failed measurement, like
      finding 3's first hypothesis did. The trust row
      (dedup_routed_rank1_eval) carries the numbers; callers flip
      strategies per (corpus, threshold) regime with evidence, not
      globally.

    Grid-boundary caveat (shared by all strategies): pairdist scores
    each pair with a per-row einsum, fused with a per-bucket GEMM —
    different summation orders whose float64 low bits can differ, so
    a dot product sitting EXACTLY on the fround 1e-4 grid boundary
    could round apart across strategies and break pair-set identity.
    Theoretical at 64-dim/unit-scale inputs (parity holds at both
    SFs and the 10x rehearsal); a corpus engineered with
    boundary-adjacent cosines would surface it."""
    import pandas as pd

    from distributed_mapreduce_server_spark.operators.similarity import _arrow_map

    if strategy in ("pairdist", "pairdist_rank1"):
        if strategy == "pairdist_rank1":
            probe = assign.select(*keys, "vec_id")
            home = assign.filter(
                (F.col("crank") == 1) & (F.col("frank") == 1)
            ).select(*keys, F.col("vec_id").alias("vec_h"))
            cand = (
                probe.join(home, list(keys))
                .filter(F.col("vec_id") != F.col("vec_h"))
                .select(
                    F.least("vec_id", "vec_h").alias("vec_a"),
                    F.greatest("vec_id", "vec_h").alias("vec_b"),
                )
                .distinct()
            )
        else:
            a = assign.select(*keys, F.col("vec_id").alias("vec_a"))
            b = assign.select(*keys, F.col("vec_id").alias("vec_b"))
            cand = (
                a.join(b, list(keys))
                .filter(F.col("vec_a") < F.col("vec_b"))
                .select("vec_a", "vec_b")
                .distinct()
            )
        ea = emb.select(
            F.col("vec_id").alias("vec_a"), F.col("embedding").alias("e_a")
        )
        eb = emb.select(
            F.col("vec_id").alias("vec_b"), F.col("embedding").alias("e_b")
        )

        def verify(_, cols):
            ma, mb = cols["e_a"], cols["e_b"]
            cos = fround_np(
                np.einsum("ij,ij->i", ma, mb)
                / (np.sqrt((ma * ma).sum(axis=1)) * np.sqrt((mb * mb).sum(axis=1)))
            )
            keep = cos >= threshold
            return {
                "vec_a": cols["vec_a"][keep],
                "vec_b": cols["vec_b"][keep],
                "cos_sim": cos[keep],
            }

        return _arrow_map(
            cand.join(ea, "vec_a").join(eb, "vec_b"),
            verify,
            "vec_a long, vec_b long, cos_sim double",
        )

    bucketed = assign.select("vec_id", *keys).join(
        emb.select("vec_id", "embedding"), "vec_id"
    )

    def bucket_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame({"vec_a": [], "vec_b": [], "cos_sim": []})
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        norms = np.sqrt((mat * mat).sum(axis=1))
        cos = fround_np((mat @ mat.T) / np.outer(norms, norms))
        ai, bj = np.nonzero((cos >= threshold) & (ids[:, None] < ids[None, :]))
        return pd.DataFrame(
            {"vec_a": ids[ai], "vec_b": ids[bj], "cos_sim": cos[ai, bj]}
        )

    return (
        bucketed.groupBy(*keys)
        .applyInPandas(
            lambda _, pdf: bucket_pairs(pdf),
            "vec_a long, vec_b long, cos_sim double",
        )
        .distinct()
    )


def dedup_routed_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trust row for the routed near-dup path: recall vs the exact
    blocked baseline AND the candidate-reduction factor — the two
    numbers that justify switching the 100 TB pipeline off the
    quadratic matmul (same discipline as dedup_lsh_eval: measure the
    fast path against the exact one before trusting it).

    n_candidates counts the scored pairs INCLUDING multi-probe
    duplicates (the honest FLOP measure); n_brute_pairs = C(n, 2) is
    what the exact grid scores. Routed pairs are exact-verified, so
    precision is 1 by construction and recall is the only loss axis.

    Above EXACT_EVAL_SAMPLE_BOUND vectors the exact baseline — and
    with it n_exact_pairs / n_routed_pairs / n_missed / recall —
    is computed on the deterministic hash-sample (see the sampling
    contract banner; n_eval_vecs reports the denominator corpus, == n
    below the bound); n_candidates / n_brute_pairs stay full-corpus
    (they cost nothing quadratic)."""
    emb, assign = _routed_assignments(spark, sf_dir)
    return _routed_eval(spark, sf_dir, emb, assign, ("centroid_id",), "fused")


def _routed_eval(
    spark: SparkSession,
    sf_dir: str,
    emb: DataFrame,
    assign: DataFrame,
    keys: tuple[str, ...],
    strategy: str,
) -> DataFrame:
    """The routed trust row behind dedup_routed_eval (flat router:
    coarse buckets, fused pairs) and dedup_routed_nested_eval (nested
    router: (coarse, fine) buckets, pairdist): recall of the routed
    pairs within ``keys`` buckets of ``assign`` against the exact
    baseline (hash-sampled above EXACT_EVAL_SAMPLE_BOUND), the
    multi-probe candidate budget Σ C(bucket, 2) and the reduction
    against brute force."""
    from distributed_mapreduce_server_spark.catalog import table_row_count

    assign = assign.persist()
    n = table_row_count(sf_dir, "embeddings")
    cand = (
        assign.groupBy(*keys)
        .agg(F.count("*").alias("c"))
        .agg(F.sum(F.col("c") * (F.col("c") - 1) / 2).cast("bigint").alias("n_candidates"))
    )
    routed = _routed_pairs_from(emb, assign, keys=keys, strategy=strategy).select(
        "vec_a", "vec_b"
    )
    emb_eval, is_sampled = _exact_eval_sample(emb, "vec_id", n)
    if is_sampled:
        emb_eval = emb_eval.select("vec_id", "embedding").persist()
        n_eval = emb_eval.count()
        routed = _pairs_within(
            routed, emb_eval.select("vec_id"), "vec_a", "vec_b"
        )
    else:
        n_eval = n
    exact = _blocked_cosine_pairs(spark, emb_eval, n_hint=n_eval).select(
        "vec_a", "vec_b"
    )
    # ONE concurrent job for the three independent counts (r13, guide
    # §2.6 — the q_sketch_error_bounds discipline): the routed verify,
    # the exact baseline and the budget fold union into a 3-row
    # collect, so wall-clock tracks the slowest subtree, not the sum.
    # The budget is NULL over no buckets (SUM of no rows).
    counts = {
        row["k"]: row["c"]
        for row in routed.agg(F.count("*").cast("bigint").alias("c"))
        .select(F.lit("routed").alias("k"), "c")
        .unionAll(
            exact.agg(F.count("*").cast("bigint").alias("c")).select(
                F.lit("exact").alias("k"), "c"
            )
        )
        .unionAll(cand.select(F.lit("cand").alias("k"), F.col("n_candidates").alias("c")))
        .collect()
    }
    n_routed, n_exact, n_cand = counts["routed"], counts["exact"], counts["cand"]
    assign.unpersist()
    if is_sampled:
        emb_eval.unpersist()
    # routed ⊆ exact (same kernel, same threshold) — missed = difference
    n_brute = n * (n - 1) // 2
    return spark.range(1).select(
        F.lit(n_eval).cast("bigint").alias("n_eval_vecs"),
        F.lit(n_exact).cast("bigint").alias("n_exact_pairs"),
        F.lit(n_routed).cast("bigint").alias("n_routed_pairs"),
        F.lit(n_exact - n_routed).cast("bigint").alias("n_missed"),
        # max(ne, 1): empty exact baseline pins recall 0.0 (same
        # convention as dedup_routed_probe_sweep / GREATEST in oracle)
        fround(F.lit(n_routed / max(n_exact, 1)), 4).alias("recall"),
        F.lit(n_cand).cast("bigint").alias("n_candidates"),
        F.lit(n_brute).cast("bigint").alias("n_brute_pairs"),
        # no candidate pairs: NULL, as DuckDB's CAST(nb AS DOUBLE) / nc
        fround(
            F.try_divide(F.lit(float(n_brute)), F.lit(n_cand).cast("bigint")), 2
        ).alias("candidate_reduction"),
    )


def dedup_routed_probe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probe-width tuning curve for the routed near-dup path: for
    every P in 1..ROUTE_PROBES, the candidate-pair budget and the
    recall vs the exact baseline — the sim_ivf_nprobe_sweep analog
    that picks dedup_semantic_routed's dial per corpus (the measured
    recall/cost trade-off in the module banner came from exactly this
    curve).

    One assignment pass at the WIDEST width folds every P: a pair is
    caught at width P iff some shared centroid has rank <= P on BOTH
    sides, i.e. pair_min_p = MIN over shared centroids of
    MAX(rank_a, rank_b) — so recall at P is one conditional count
    over the (tiny) exact-pair frame annotated with pair_min_p, and
    the candidate budget at P folds from the (centroid, rank) count
    histogram: sum_c C(n_c(P), 2). No per-P corpus pass, no per-P
    pair enumeration.

    Scale shape: assignment = one Arrow matmul pass (codebook
    broadcast); the histogram is K x P rows; the recall join
    broadcasts the exact pairs (bounded: the near-dup pair list) onto
    the P-fold assignment frame keyed by vec_id then centroid —
    nothing corpus-squared anywhere beyond the exact baseline itself,
    which is hash-sampled above EXACT_EVAL_SAMPLE_BOUND vectors (the
    sampling contract banner: recall becomes a within-sample estimate
    with a ±1/sqrt(s) CI; byte-identical below the bound)."""
    from distributed_mapreduce_server_spark.catalog import table_row_count

    n = table_row_count(sf_dir, "embeddings")
    emb, assign = _routed_assignments(spark, sf_dir, with_rank=True)
    assign = assign.persist()

    # (centroid, rank) histogram -> cumulative bucket size per P ->
    # candidate budget per P, all in ONE pass over the K x P-row
    # frame: a rank-r row belongs to every width P >= r, so explode
    # each histogram row onto its widths and fold.
    hist = assign.groupBy("centroid_id", "crank").agg(F.count("*").alias("cnt"))
    widths = F.array(*[F.lit(p) for p in range(1, ROUTE_PROBES + 1)])
    budgets = (
        hist.withColumn(
            "probes",
            F.explode(F.filter(widths, lambda p: p >= F.col("crank"))),
        )
        .groupBy("probes", "centroid_id")
        .agg(F.sum("cnt").alias("c"))
        .groupBy("probes")
        .agg(
            F.sum(F.col("c") * (F.col("c") - 1) / 2)
            .cast("bigint")
            .alias("n_candidates")
        )
    )

    # exact pairs annotated with the minimal width that catches them
    # (hash-sampled above the eval bound — see the sampling contract
    # banner; recall is then the within-sample estimate)
    emb_eval, _is_sampled = _exact_eval_sample(emb, "vec_id", n)
    exact = (
        _blocked_cosine_pairs(
            spark, emb_eval, n_hint=min(n, EXACT_EVAL_SAMPLE_TARGET)
        )
        .select("vec_a", "vec_b")
        .persist()
    )
    # n_exact folds into the final job below (1-row broadcast
    # crossJoin, the dedup_nested_probe_sweep pattern): the exact
    # baseline overlaps the budget fold instead of running as its own
    # sequential count job; exact stays persisted so its two
    # consumers share one materialization.
    aa = assign.select(
        F.col("vec_id").alias("vec_a"),
        "centroid_id",
        F.col("crank").alias("ra"),
    )
    ab = assign.select(
        F.col("vec_id").alias("vec_b"),
        "centroid_id",
        F.col("crank").alias("rb"),
    )
    pair_min_p = (
        F.broadcast(exact)
        .join(aa, "vec_a")
        .join(ab, ["vec_b", "centroid_id"])
        .groupBy("vec_a", "vec_b")
        .agg(F.min(F.greatest(F.col("ra"), F.col("rb"))).alias("min_p"))
    )
    caught = pair_min_p.agg(
        *[
            F.sum((F.col("min_p") <= p).cast("long")).alias(f"c_{p}")
            for p in range(1, ROUTE_PROBES + 1)
        ]
    )
    curve = F.array(
        *[
            F.struct(
                F.lit(p).alias("probes"),
                F.col(f"c_{p}").alias("n_routed_pairs"),
            )
            for p in range(1, ROUTE_PROBES + 1)
        ]
    )
    recalls = caught.select(F.explode(curve).alias("r")).select(
        F.col("r.probes").alias("probes"),
        F.coalesce(F.col("r.n_routed_pairs"), F.lit(0)).alias("n_routed_pairs"),
    )
    ne = exact.agg(F.count("*").cast("bigint").alias("__ne"))
    # every width gets its row; its budget is NULL over no buckets
    out = (
        recalls.join(budgets, "probes", "left")
        .crossJoin(F.broadcast(ne))
        .select(
            "probes",
            "n_candidates",
            F.col("n_routed_pairs").cast("bigint").alias("n_routed_pairs"),
            F.col("__ne").alias("n_exact_pairs"),
            # greatest(ne, 1): an empty exact baseline pins recall at
            # 0.0 deterministically instead of NULL (GREATEST(ne, 1)
            # in the oracle)
            fround(
                F.col("n_routed_pairs")
                / F.greatest(F.col("__ne").cast("double"), F.lit(1.0)),
                4,
            ).alias("recall"),
        )
        .orderBy("probes")
        .localCheckpoint(eager=True)
    )
    assign.unpersist()
    exact.unpersist()
    return out.orderBy("probes")


# Nested coarse→fine routing (VERDICT r10 task 6 — the module
# banner's "for the next 100× the same machinery nests"): a SECOND
# codebook, trained on home-cell residuals with the SAME shared Lloyd
# trainer, splits every coarse bucket into K2 fine cells; the bucket
# key becomes (coarse, fine) and the candidate budget drops to
# ~n²·(P1·P2)²/(2·K1·K2). The widths below were TUNED on the sf0.1
# corpus against the exact baseline (numpy replica of the exact
# kernels): at (P1=14, K2=128, P2=4) the nested router measures
# recall 0.9653 on 0.74× the flat router's (P=6, K=64) candidate
# budget — strictly dominating it on both axes (flat: 0.9375 at
# 1.00×). dedup_routed_nested_eval re-measures both numbers live.
NESTED_P1 = 14
NESTED_K2 = 128
NESTED_P2 = 4


def _fine_codebook(spark: SparkSession, sf_dir: str, coarse):
    """Train the fine (residual) codebook: every vector's residual
    against its HOME (rank-1) coarse centroid, run through the same
    shared cosine-Lloyd trainer (init = first NESTED_K2 residuals by
    vec_id, ROUTE_ITERS rounds). The residual frame is one Arrow
    matmul pass over the corpus — nothing coarse-bucket-local is ever
    trained, so no per-cell state grows with K1 and the SQL oracle
    unrolls the exact same global recipe.

    Memoized per (session, sf_dir, coarse fingerprint): internal
    callers pass the memoized coarse book for the same sf_dir, but
    the memo key folds a CRC of the coarse (ids, matrix) in anyway
    (ADVICE r12) — a caller handing any other coarse book (a
    sweep-retuned one) can never silently receive a fine book
    trained against a different coarse. The home centroid is the
    trainer's own cosine assignment (similarity._nearest)."""
    from distributed_mapreduce_server_spark.operators.similarity import (
        CODEBOOK_TRAIN_LIMIT,
        _arrow_map,
        _codebook_memo,
        _nearest,
        _train_codebook,
    )

    def residuals(codebook, cols):
        ids_b, mat_b = codebook
        if not len(ids_b):
            return None
        home, _ = _nearest(cols["embedding"], mat_b, "cosine")
        return {"vec_id": cols["vec_id"], "embedding": cols["embedding"] - mat_b[home]}

    def build():
        emb = load_tables(spark, sf_dir, register_views=False)["embeddings"]
        resid = _arrow_map(
            emb.select("vec_id", "embedding"),
            residuals,
            "vec_id long, embedding array<double>",
            coarse,
        )
        return _train_codebook(resid, range(NESTED_K2), ROUTE_ITERS, "cosine")

    import zlib

    c_ids, c_mat = coarse
    fp = zlib.crc32(c_ids.tobytes()) ^ zlib.crc32(c_mat.tobytes())
    return _codebook_memo(
        spark,
        sf_dir,
        f"dedup_fine[K={ROUTE_K},K2={NESTED_K2},i={ROUTE_ITERS},"
        f"lim={CODEBOOK_TRAIN_LIMIT},coarse={fp:08x}]",
        build,
    )


def _nested_assign(
    emb: DataFrame, coarse, fine, p1: int, p2: int, with_rank: bool = False
) -> DataFrame:
    """(vec_id, centroid_id, fine_id[, crank, frank]) multi-probe rows
    under the two-level codebook: per vector, the p1 nearest coarse
    cells by rounded cosine (centroid_id ASC tie-break), and WITHIN
    each probed cell the p2 nearest fine cells by rounded cosine of
    the residual against THAT cell's centroid. Both codebooks
    broadcast (bounded: K1·d + K2·d doubles at any corpus size); each
    Arrow batch scores everything in two numpy matmuls — the residual
    tensor is (batch × p1 × d), never corpus-sized. ``with_rank=True``
    adds the 1-based coarse/fine probe ranks so
    dedup_nested_probe_sweep folds every (p1, p2) width from one
    pass."""
    from distributed_mapreduce_server_spark.operators.similarity import (
        _arrow_map,
        _cosines,
        _topk_desc,
    )

    def blocks(books, cols):
        (ci, cm), (fi, fm) = books
        a_ids, a_mat = cols["vec_id"], cols["embedding"]
        b, d = a_mat.shape
        # p may exceed the codebook size in sweeps: _topk_desc then
        # ranks every cell.
        top1 = _topk_desc(_cosines(a_mat, cm), p1)  # (b, p1e)
        p1e = top1.shape[1]
        res = a_mat[:, None, :] - cm[top1]  # (b, p1e, d)
        rn = np.sqrt((res * res).sum(axis=2)).reshape(-1)  # (b·p1e,)
        rn[rn == 0] = 1e-12  # degenerate x == centroid guard
        fn = np.sqrt((fm * fm).sum(axis=1))
        # ONE stacked (b·p1e, d) @ (d, K2) matmul scores every
        # probed cell's residual against the fine book at once.
        # a zero-norm fine centroid scores NaN: _topk_desc ranks it last
        with np.errstate(invalid="ignore"):
            cos2 = fround_np((res.reshape(-1, d) @ fm.T) / (rn[:, None] * fn[None, :]))
        top2 = _topk_desc(cos2, p2)
        p2e = top2.shape[1]
        out = {
            "vec_id": np.repeat(a_ids, p1e * p2e),
            "centroid_id": np.repeat(ci[top1].reshape(-1), p2e),
            "fine_id": fi[top2].reshape(-1),
        }
        if with_rank:
            out["crank"] = np.tile(np.repeat(np.arange(1, p1e + 1), p2e), b)
            out["frank"] = np.tile(np.arange(1, p2e + 1), b * p1e)
        return out

    schema = "vec_id long, centroid_id long, fine_id long" + (
        ", crank long, frank long" if with_rank else ""
    )
    return _arrow_map(emb.select("vec_id", "embedding"), blocks, schema, (coarse, fine))


def _nested_assignments(
    spark: SparkSession, sf_dir: str, with_rank: bool = False
):
    """(embeddings frame, (vec_id, centroid_id, fine_id[, crank,
    frank]) multi-probe frame) under the trained two-level codebook."""
    emb = load_tables(spark, sf_dir, register_views=False)["embeddings"]
    coarse = _route_codebook(spark, sf_dir)
    fine = _fine_codebook(spark, sf_dir, coarse)
    assign = _nested_assign(
        emb, coarse, fine, NESTED_P1, NESTED_P2, with_rank=with_rank
    )
    return emb, assign


def dedup_semantic_routed_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level routed embedding near-dup — the 100 TB path one
    scale notch past dedup_semantic_routed: candidate pairs only
    within (coarse, fine) buckets of the nested codebook, exact
    full-vector verify (routing limits WHICH pairs are scored, never
    how), multi-probe duplicates collapsed by distinct over
    bit-identical pairs.

    Scale shape: both codebooks are FIXED-size trained objects
    ((K1 + K2)·64 doubles); assignment is one Arrow pass; the bucket
    grouping is ONE keyed shuffle on the composite (coarse, fine) key
    whose cells are ~K2× smaller than the flat router's — per-task
    verify work shrinks by the same factor the candidate budget does
    (measured at tuned widths: 0.74× flat's candidates at HIGHER
    recall, see dedup_routed_nested_eval)."""
    emb, assign = _nested_assignments(spark, sf_dir)
    return _routed_pairs_from(
        emb, assign, keys=("centroid_id", "fine_id"), strategy="pairdist"
    ).orderBy("vec_a", "vec_b")


# Coarse widths for the nested tuning grid (full fine range 1..P2
# rides along): every 2nd width keeps the grid readable (28 rows)
# while spanning the flat router's P=6 budget on both sides.
NESTED_SWEEP_P1S = (2, 4, 6, 8, 10, 12, 14)


def dedup_nested_probe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(p1, p2) tuning grid for the NESTED router — the
    dedup_routed_probe_sweep analog one level deeper, completing the
    trust suite: per coarse width p1 (NESTED_SWEEP_P1S) and fine
    width p2 (1..NESTED_P2), the candidate-pair budget and recall vs
    the exact baseline. This is the table that PICKED (14, 4) — the
    equal-budget dominance claim in the module banner reads straight
    off it.

    One ranked assignment at the widest widths folds every cell: a
    member is in bucket (c, f) at width (p1, p2) iff its coarse rank
    <= p1 AND fine rank <= p2, so budgets fold from ONE
    (bucket, crank, frank) histogram (each row exploded onto the
    widths that include it) and recall from each exact pair's
    per-shared-bucket (max crank, max frank) frontier — no per-width
    corpus pass, no per-width pair enumeration. The exact baseline is
    hash-sampled above the eval bound (sampling contract banner)."""
    from distributed_mapreduce_server_spark.catalog import table_row_count

    n = table_row_count(sf_dir, "embeddings")
    emb = load_tables(spark, sf_dir, register_views=False)["embeddings"]
    coarse = _route_codebook(spark, sf_dir)
    fine = _fine_codebook(spark, sf_dir, coarse)
    assign = _nested_assign(
        emb, coarse, fine, NESTED_P1, NESTED_P2, with_rank=True
    ).persist()

    widths1 = F.array(*[F.lit(p) for p in NESTED_SWEEP_P1S])
    widths2 = F.array(*[F.lit(p) for p in range(1, NESTED_P2 + 1)])
    hist = assign.groupBy("centroid_id", "fine_id", "crank", "frank").agg(
        F.count("*").alias("cnt")
    )
    budgets = (
        hist.withColumn(
            "p1", F.explode(F.filter(widths1, lambda w: w >= F.col("crank")))
        )
        .withColumn(
            "p2", F.explode(F.filter(widths2, lambda w: w >= F.col("frank")))
        )
        .groupBy("p1", "p2", "centroid_id", "fine_id")
        .agg(F.sum("cnt").alias("c"))
        .groupBy("p1", "p2")
        .agg(
            F.sum(F.col("c") * (F.col("c") - 1) / 2)
            .cast("bigint")
            .alias("n_candidates")
        )
    )

    emb_eval, _is_sampled = _exact_eval_sample(emb, "vec_id", n)
    exact = (
        _blocked_cosine_pairs(
            spark, emb_eval, n_hint=min(n, EXACT_EVAL_SAMPLE_TARGET)
        )
        .select("vec_a", "vec_b")
        .persist()
    )
    # n_exact folds into the final job below (crossJoin of the 1-row
    # broadcast count) instead of an eager count — the exact baseline
    # then overlaps the budgets/frontier subtrees in ONE job (r13,
    # guide §2.6); exact is persisted, so the two consumers (the
    # frontier broadcast and the count agg) share one materialization.
    aa = assign.select(
        F.col("vec_id").alias("vec_a"),
        "centroid_id",
        "fine_id",
        F.col("crank").alias("cra"),
        F.col("frank").alias("fra"),
    )
    ab = assign.select(
        F.col("vec_id").alias("vec_b"),
        "centroid_id",
        "fine_id",
        F.col("crank").alias("crb"),
        F.col("frank").alias("frb"),
    )
    # (pair, shared bucket) frontier rows — bounded: near-dup pairs ×
    # ≤ P1·P2 shared buckets
    pb = (
        F.broadcast(exact)
        .join(aa, "vec_a")
        .join(ab, ["vec_b", "centroid_id", "fine_id"])
        .select(
            "vec_a",
            "vec_b",
            F.greatest(F.col("cra"), F.col("crb")).alias("cr"),
            F.greatest(F.col("fra"), F.col("frb")).alias("fr"),
        )
    )
    caught = (
        pb.withColumn(
            "p1", F.explode(F.filter(widths1, lambda w: w >= F.col("cr")))
        )
        .withColumn(
            "p2", F.explode(F.filter(widths2, lambda w: w >= F.col("fr")))
        )
        .groupBy("p1", "p2")
        .agg(F.count_distinct("vec_a", "vec_b").alias("n_routed_pairs"))
    )
    ne = exact.agg(F.count("*").cast("bigint").alias("__ne"))
    # every (p1, p2) cell gets its row; its budget is NULL over no buckets
    grid = spark.range(1).select(F.explode(widths1).alias("p1")).select(
        "p1", F.explode(widths2).alias("p2")
    )
    out = (
        grid.join(budgets, ["p1", "p2"], "left")
        .join(caught, ["p1", "p2"], "left")
        .crossJoin(F.broadcast(ne))
        .select(
            F.col("p1").cast("int").alias("p1"),
            F.col("p2").cast("int").alias("p2"),
            "n_candidates",
            F.coalesce(F.col("n_routed_pairs"), F.lit(0))
            .cast("bigint")
            .alias("n_routed_pairs"),
            F.col("__ne").alias("n_exact_pairs"),
            fround(
                F.coalesce(F.col("n_routed_pairs"), F.lit(0))
                / F.greatest(F.col("__ne").cast("double"), F.lit(1.0)),
                4,
            ).alias("recall"),
        )
        .orderBy("p1", "p2")
        .localCheckpoint(eager=True)
    )
    assign.unpersist()
    exact.unpersist()
    return out.orderBy("p1", "p2")


def dedup_routed_nested_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trust row for the NESTED router, directly comparable to
    dedup_routed_eval's flat row: recall vs the (hash-sampled above
    the eval bound) exact baseline, the multi-probe candidate budget
    Σ C(bucket, 2) over (coarse, fine) buckets, and the reduction vs
    brute force. Reading the two eval rows side by side is the
    equal-budget dominance check: nested must match or beat flat
    recall on no more candidates."""
    emb, assign = _nested_assignments(spark, sf_dir)
    return _routed_eval(
        spark, sf_dir, emb, assign, ("centroid_id", "fine_id"), "pairdist"
    )


def dedup_routed_rank1_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trust row for rank-1 index-side probing (SCALING.md finding 3's
    second lever, VERDICT r12 task 3): the nested router's symmetric
    probe-intersection rule vs the IVF-search rule where the index
    side keeps only each vector's HOME (crank = frank = 1) bucket and
    the query side probes wide. Reports both rules' qualifying-pair
    counts, the recall of rank-1 against the symmetric rule (rank-1's
    candidates are a strict subset, so this is the only loss axis),
    and both rules' candidate JOIN VOLUMES — symmetric emits
    Σ C(F_c, 2) pre-distinct rows per (coarse, fine) cell (F_c = probe
    memberships), rank-1 emits Σ F_c·H_c − H_c (H_c = home members;
    the −H_c removes each vector's self-match) — the multiplicity
    measure that explodes on clustered-duplicate corpora.

    Why this is a separate row and not the nested default: the loss
    is real and THRESHOLD-shaped. Measured at t=0.45 rank-1 keeps
    7/14 qualifying pairs at sf0.01 and 167/287 on the clustered
    rehearsal corpus (31× join-volume cut there) — loose-cut pairs
    sit in different home cells and meet only in shared non-home
    probes; at production cuts on the same clustered corpus it keeps
    94/97 (t=0.6-0.7) and 89/90 (t=0.8). The r12 hypothesis that the
    pair set would be identical failed measurement (the finding-3
    discipline: name the real behavior), so the symmetric rule stays
    the shipped default and this row makes the trade measurable per
    (corpus, threshold) for pipelines that can spend ~1-3% recall
    for the volume cap."""
    emb, assign = _nested_assignments(spark, sf_dir, with_rank=True)
    assign = assign.persist()
    cells = assign.groupBy("centroid_id", "fine_id").agg(
        F.count("*").alias("f"),
        F.sum(
            F.when(
                (F.col("crank") == 1) & (F.col("frank") == 1), 1
            ).otherwise(0)
        ).alias("h"),
    )
    vols = cells.agg(
        F.sum(F.col("f") * (F.col("f") - 1) / 2)
        .cast("bigint")
        .alias("sym_rows"),
        F.sum(F.col("f") * F.col("h") - F.col("h"))
        .cast("bigint")
        .alias("r1_rows"),
    ).select(
        F.explode(
            F.create_map(
                F.lit("sym_rows"),
                F.col("sym_rows"),
                F.lit("r1_rows"),
                F.col("r1_rows"),
            )
        ).alias("k", "c")
    )
    sym = _routed_pairs_from(
        emb, assign, keys=("centroid_id", "fine_id"), strategy="pairdist"
    )
    r1 = _routed_pairs_from(
        emb,
        assign,
        keys=("centroid_id", "fine_id"),
        strategy="pairdist_rank1",
    )
    # ONE concurrent job for the four independent counts (r13, guide
    # §2.6): the two pair verifies are the heavy subtrees and now
    # schedule together instead of back to back.
    counts = {
        row["k"]: row["c"]
        for row in sym.agg(F.count("*").cast("bigint").alias("c"))
        .select(F.lit("sym").alias("k"), "c")
        .unionAll(
            r1.agg(F.count("*").cast("bigint").alias("c")).select(
                F.lit("r1").alias("k"), "c"
            )
        )
        .unionAll(vols)
        .collect()
    }
    n_sym, n_r1 = counts["sym"], counts["r1"]
    assign.unpersist()
    # the two volumes are NULL over no cells (SUM of no rows); greatest
    # skips a NULL like DuckDB's GREATEST(rv, 1)
    sym_rows = F.lit(counts["sym_rows"]).cast("bigint")
    r1_rows = F.lit(counts["r1_rows"]).cast("bigint")
    return spark.range(1).select(
        F.lit(n_sym).cast("bigint").alias("n_sym_pairs"),
        F.lit(n_r1).cast("bigint").alias("n_r1_pairs"),
        F.lit(n_sym - n_r1).cast("bigint").alias("n_missed"),
        fround(F.lit(n_r1 / max(n_sym, 1)), 4).alias("recall_vs_sym"),
        sym_rows.alias("n_sym_cand_rows"),
        r1_rows.alias("n_r1_cand_rows"),
        fround(sym_rows / F.greatest(r1_rows, F.lit(1)), 2).alias("volume_reduction"),
    )
