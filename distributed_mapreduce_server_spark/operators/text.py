"""Text-analysis operators for LLM-data pipelines (SURVEY.md §2.5).

All scoring is pure column expressions (JVM-side, codegen'd) with an
exact DuckDB-SQL twin — no Python in the hot path, so these run at
scan speed over 100 TB of documents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from distributed_mapreduce_server_spark.catalog import load_tables
from distributed_mapreduce_server_spark.functions import fround, tokens
from distributed_mapreduce_server_spark.session import (
    checkpoint_loop,
    fetch_if_small,
    release_checkpoints,
)

# Per-language marker words for the n-gram/stopword language-ID
# heuristic. On real corpora these would be the top function words per
# language; scoring = marker hit-rate, argmax with deterministic
# tie-break on language code.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "value", "data", "fast"),
    "de": ("der", "und", "nicht", "das", "ist"),
    "es": ("el", "de", "que", "la", "los"),
    "fr": ("le", "la", "et", "les", "des"),
    "zh": ("de5", "le5", "shi4", "zai4", "he2"),
}

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")


def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens, wordish (BPE-ish regex)
    tokens, distinct tokens, avg token length per document."""
    docs = load_tables(spark, sf_dir, register_views=False)["documents"]
    toks = tokens("text")
    ws_count = F.size(F.filter(F.split("text", r"\s+"), lambda t: t != F.lit("")))
    return (
        docs.select(
            "doc_id",
            ws_count.alias("n_ws_tokens"),
            F.size(toks).alias("n_word_tokens"),
            F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
            fround(
                F.aggregate(toks, F.lit(0).cast("bigint"), lambda acc, t: acc + F.length(t))
                / F.greatest(F.size(toks), F.lit(1)),
                4,
            ).alias("avg_token_len"),
        )
        .orderBy("doc_id")
    )


def _quality_exprs() -> dict:
    """Quality-score column expressions over the implicit `text`
    column — shared by the score/keep analysis ops and the composed
    corpus pipeline so all three filter on the identical quantity."""
    toks = tokens("text")
    n_tok = F.greatest(F.size(toks), F.lit(1))
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    n_punct = F.length(F.regexp_replace("text", r"[^.,;:!?]", ""))
    distinct_ratio = F.size(F.array_distinct(toks)) / n_tok
    stop_ratio = n_stop / n_tok
    punct_density = n_punct / F.greatest(F.length("text"), F.lit(1))
    len_score = F.when((F.length("text") >= 100) & (F.length("text") <= 20000), 1.0).otherwise(0.5)
    quality = (
        F.lit(0.4) * distinct_ratio
        + F.lit(0.3) * F.least(stop_ratio * 4, F.lit(1.0))
        + F.lit(0.2) * len_score
        + F.lit(0.1) * (1 - F.least(punct_density * 10, F.lit(1.0)))
    )
    return {
        "toks": toks,
        "distinct_ratio": distinct_ratio,
        "stop_ratio": stop_ratio,
        "quality": quality,
    }


def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic document quality: length band + punctuation density +
    stopword ratio + repetition (distinct/total token ratio)."""
    docs = load_tables(spark, sf_dir, register_views=False)["documents"]
    q = _quality_exprs()
    toks, distinct_ratio, stop_ratio, quality = (
        q["toks"],
        q["distinct_ratio"],
        q["stop_ratio"],
        q["quality"],
    )
    return (
        docs.select(
            "doc_id",
            F.length("text").alias("n_chars_text"),
            F.size(toks).alias("n_tokens"),
            fround(distinct_ratio, 4).alias("distinct_ratio"),
            fround(stop_ratio, 4).alias("stop_ratio"),
            fround(quality, 4).alias("quality"),
        )
        .orderBy("doc_id")
    )


def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language ID: per-language marker-word hit counts, argmax with
    deterministic tie-break (higher count wins, then language code).

    Emits predicted language + score; parity with the labeled `lang`
    column is a model-quality question, not a correctness one.
    """
    docs = load_tables(spark, sf_dir, register_views=False)["documents"]
    toks = tokens("text")
    scored = docs.select("doc_id", "lang", toks.alias("toks"))
    def marker_count(markers: tuple[str, ...]):
        return F.size(F.filter(F.col("toks"), lambda t: t.isin(*markers)))

    score_cols = []
    for code, markers in sorted(LANG_MARKERS.items()):
        c = marker_count(markers)
        score_cols.append(F.struct(c.alias("score"), F.lit(code).alias("code")))
    best = F.array_max(F.array(*score_cols))
    return (
        scored.select(
            "doc_id",
            "lang",
            best["code"].alias("pred_lang"),
            best["score"].alias("marker_hits"),
        )
        .orderBy("doc_id")
    )


def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: md5 over the normalized token stream —
    the canonical-form hash used by exact dedup."""
    docs = load_tables(spark, sf_dir, register_views=False)["documents"]
    normalized = F.array_join(tokens("text"), " ")
    return (
        docs.select(
            "doc_id",
            F.md5(normalized).alias("fingerprint"),
            F.substring(F.md5(normalized), 1, 8).alias("shard_key"),
        )
        .orderBy("doc_id")
    )


def text_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level top-20 word trigrams by occurrence count.

    Row-form n-gram assembly (posexplode + window lead) like the dedup
    shingler — stays in codegen; the aggregation is map-side partial
    so the shuffle carries one row per (partition, ngram).
    """
    from pyspark.sql.window import Window

    docs = load_tables(spark, sf_dir, register_views=False)["documents"].repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    tok = docs.select("doc_id", F.posexplode(tokens("text")).alias("pos", "tok"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    grams = (
        tok.withColumn("t1", F.lead("tok", 1).over(w))
        .withColumn("t2", F.lead("tok", 2).over(w))
        .filter(F.col("t2").isNotNull())
        .select(F.concat_ws(" ", "tok", "t1", "t2").alias("ngram"))
    )
    return (
        grams.groupBy("ngram")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), "ngram")
        .limit(20)
    )


def text_lang_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus language mix: the langid heuristic's calls rolled up
    against the labeled lang column — per (label, predicted) counts,
    i.e. the confusion matrix a pipeline would monitor."""
    pred = text_langid(spark, sf_dir).select("doc_id", "pred_lang")
    docs = load_tables(spark, sf_dir, register_views=False)["documents"].select("doc_id", "lang")
    return (
        docs.join(pred, "doc_id")
        .groupBy("lang", "pred_lang")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("lang", "pred_lang")
    )


QUALITY_KEEP_T = 0.5


def text_quality_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pipeline's filtering step: documents whose quality score
    clears the bar. text_quality_score is the analysis artifact; this
    is the dataset a training run consumes."""
    scored = text_quality_score(spark, sf_dir)
    return (
        scored.filter(F.col("quality") >= QUALITY_KEEP_T)
        .select("doc_id", "quality")
        .orderBy("doc_id")
    )


SPLIT_PCT_VAL = 10


def text_train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val split by content-independent hash:
    md5(doc_id) mod 100 -> val if < 10. Hash-based (not rand()) so the
    split is reproducible across runs, engines, and repartitioning —
    the property a training pipeline actually needs. Returns per-split
    counts + token totals for drift monitoring."""
    from distributed_mapreduce_server_spark.functions import md5_u60, tokens

    docs = load_tables(spark, sf_dir, register_views=False)["documents"]
    bucket = md5_u60(F.col("doc_id").cast("string")) % 100
    return (
        docs.select(
            F.when(bucket < SPLIT_PCT_VAL, F.lit("val")).otherwise(F.lit("train")).alias("split"),
            F.size(tokens("text")).alias("n_tokens"),
        )
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
        .orderBy("split")
    )


CHUNK_SIZE = 20


def text_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size token chunking: split each document into CHUNK_SIZE-token
    chunks — the context-window packing step before tokenized training
    data is written. 1:N row expansion stays in codegen (posexplode of a
    chunk-index sequence + O(1) `slice` per chunk); at 100 TB the
    explode multiplies rows ~n_tokens/CHUNK_SIZE so the output is
    repartitioned downstream by the writer, never collected."""
    docs = load_tables(spark, sf_dir, register_views=False)["documents"]
    t = tokens("text")
    n_chunks = F.ceil(F.size("t") / F.lit(float(CHUNK_SIZE))).cast("int")
    chunk_ids = F.when(
        F.size("t") > 0, F.sequence(F.lit(0), n_chunks - 1)
    ).otherwise(F.array().cast("array<int>"))
    chunk = F.slice(F.col("t"), F.col("chunk_id") * CHUNK_SIZE + 1, CHUNK_SIZE)
    return (
        docs.select("doc_id", t.alias("t"))
        .select("doc_id", F.explode(chunk_ids).alias("chunk_id"), "t")
        .select(
            "doc_id",
            "chunk_id",
            F.array_join(chunk, " ").alias("chunk_text"),
            F.size(chunk).alias("n_tokens"),
        )
        .orderBy("doc_id", "chunk_id")
    )


TFIDF_TOP_K = 5


def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-K terms by TF-IDF.

    Two partial aggregations over one exploded token stream (tf per
    (doc, term); document frequency per term), then a broadcast join of
    the tiny term->df table back onto tf — no second shuffle of the
    corpus. Ranking rounds tfidf to 6 decimals before the window so the
    tie-break (term asc) fires identically in Spark and the oracle."""
    from pyspark.sql.window import Window

    docs = load_tables(spark, sf_dir, register_views=False)["documents"]
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = tok.groupBy("term").agg(F.count_distinct("doc_id").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            fround(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "term")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TFIDF_TOP_K)
        .drop("rk")
        .orderBy("doc_id", F.desc("tfidf"), "term")
    )


SAMPLE_MOD = 5
SAMPLE_SEED = 17


def text_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~20% stratified sample of the corpus: seeded
    content-independent hash of doc_id mod SAMPLE_MOD. Like the
    train/val split, hash-based (not rand()/TABLESAMPLE) so the sample
    is identical across engines, runs, and partitionings — no shuffle,
    the filter runs at scan speed."""
    from distributed_mapreduce_server_spark.functions import seeded_u60

    docs = load_tables(spark, sf_dir, register_views=False)["documents"]
    keep = seeded_u60(F.col("doc_id").cast("string"), SAMPLE_SEED) % SAMPLE_MOD == 0
    return docs.filter(keep).select("doc_id", "lang", "source").orderBy("doc_id")


def text_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals per document: duplicate-token
    fraction, duplicate-bigram/-trigram fractions, and the share of the
    single most frequent token. All pure column expressions over one
    tokenization — repetition filtering runs at scan speed and needs no
    shuffle at all (the orderBy exists only for the deterministic
    oracle compare; a real filter pipeline drops it)."""
    docs = load_tables(spark, sf_dir, register_views=False)["documents"]

    def ngrams(t, k):
        ng = F.transform(
            F.sequence(F.lit(0), F.size(t) - k),
            lambda i: F.concat_ws(" ", *[F.element_at(t, i + j + 1) for j in range(k)]),
        )
        return F.when(F.size(t) >= k, ng).otherwise(F.array().cast("array<string>"))

    def dup_frac(arr):
        n = F.size(arr)
        return fround(
            (n - F.size(F.array_distinct(arr))) / F.greatest(n, F.lit(1)).cast("double"), 4
        )

    t = F.col("t")
    top_count = F.array_max(
        F.transform(F.array_distinct(t), lambda u: F.size(F.filter(t, lambda x: x == u)))
    )
    return (
        docs.select("doc_id", tokens("text").alias("t"))
        .select(
            "doc_id",
            F.size("t").alias("n_tokens"),
            dup_frac(t).alias("dup_token_frac"),
            dup_frac(ngrams(t, 2)).alias("dup_bigram_frac"),
            dup_frac(ngrams(t, 3)).alias("dup_trigram_frac"),
            fround(
                top_count / F.greatest(F.size(t), F.lit(1)).cast("double"), 4
            ).alias("top_token_frac"),
        )
        .orderBy("doc_id")
    )


def text_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixing table for a training run: per-source doc and token
    counts, the source's token share, and a sqrt-damped sampling weight
    (upweights small domains the way real data-mixture recipes do).
    One map-side-combined aggregation of the corpus down to one row per
    source; the share/weight normalizers come from a broadcast
    cross-join of the tiny re-aggregated totals — the 100 TB scan is
    touched exactly once."""
    docs = load_tables(spark, sf_dir, register_views=False)["documents"]
    per_src = (
        docs.select("source", F.size(tokens("text")).alias("n_tok"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
        )
    )
    totals = per_src.agg(
        F.sum("n_tokens").alias("tot_tokens"),
        F.sum(F.sqrt(F.col("n_tokens").cast("double"))).alias("tot_sqrt"),
    )
    return (
        per_src.crossJoin(F.broadcast(totals))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            fround(F.col("n_tokens") / F.col("tot_tokens"), 6).alias("token_share"),
            fround(
                F.sqrt(F.col("n_tokens").cast("double")) / F.col("tot_sqrt"), 6
            ).alias("sample_weight"),
        )
        .orderBy("source")
    )


def text_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed end-to-end training-corpus build — what a user of
    this engine actually ships: quality filter (score >= 0.5) ->
    exact-dedup canonical keep (min doc_id per content fingerprint) ->
    deterministic hash train/val split, reported per (split, lang).

    One corpus scan computes quality + fingerprint + token count
    together; dedup is a row_number window over the fingerprint (ONE
    shuffle and one scan — the groupBy + semi-join form tokenized the
    corpus twice, once per join branch, measured 38% slower at
    sf0.1); the split adds no shuffle.
    """
    from distributed_mapreduce_server_spark.functions import md5_u60
    from pyspark.sql.window import Window

    docs = load_tables(spark, sf_dir, register_views=False)["documents"]
    q = _quality_exprs()
    enriched = docs.select(
        "doc_id",
        "lang",
        F.size(q["toks"]).alias("n_tokens"),
        F.md5(F.array_join(q["toks"], " ")).alias("fp"),
        fround(q["quality"], 4).alias("quality"),
    ).filter(F.col("quality") >= QUALITY_KEEP_T)
    w = Window.partitionBy("fp").orderBy("doc_id")
    canon = (
        enriched.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    bucket = md5_u60(F.col("doc_id").cast("string")) % 100
    split = F.when(bucket < SPLIT_PCT_VAL, F.lit("val")).otherwise(F.lit("train"))
    return (
        canon.select(split.alias("split"), "lang", "n_tokens")
        .groupBy("split", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
        .orderBy("split", "lang")
    )


def _trigram_rows(docs: DataFrame) -> DataFrame:
    """Distinct (doc_id, gram) trigram rows, built as one codegen
    projection per document (r13; see dedup._shingle_rows_from):
    transform(sequence(0, n-3), i -> array_join(slice(ts, i+1, 3)))
    -> array_distinct -> explode. Gram strings are byte-identical to
    the former posexplode + lead-window form; per-doc array_distinct
    replaces the dropDuplicates aggregate."""
    grams = F.transform(
        F.sequence(F.lit(0), F.size("ts") - 3),
        lambda i: F.array_join(F.slice(F.col("ts"), i + 1, 3), " "),
    )
    # sequence(0, n-3) DESCENDS when n < 3 — guard short docs.
    return (
        docs.select("doc_id", tokens("text").alias("ts"))
        .select(
            "doc_id",
            F.when(F.size("ts") >= 3, grams)
            .otherwise(F.array().cast("array<string>"))
            .alias("gs"),
        )
        .select("doc_id", F.explode(F.array_distinct("gs")).alias("gram"))
    )


def text_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination audit (GPT-3/PaLM style n-gram overlap):
    for every val-split document, the fraction of its distinct trigrams
    that also occur anywhere in the train split.

    The split is the same deterministic md5(doc_id) bucket as
    text_train_val_split. Both gram sets come from ONE trigram
    build over the corpus; the val side left-joins the distinct train
    gram set on the gram key — a key-partitioned shuffle join (the
    train side is corpus-sized at 100 TB, so no broadcast), with
    map-side-combined counts per val doc after it."""
    from distributed_mapreduce_server_spark.functions import md5_u60

    docs = load_tables(spark, sf_dir, register_views=False)["documents"].repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    grams = _trigram_rows(docs).withColumn(
        "is_val", md5_u60(F.col("doc_id").cast("string")) % 100 < SPLIT_PCT_VAL
    )
    train_grams = grams.filter(~F.col("is_val")).select("gram").distinct()
    val_grams = grams.filter(F.col("is_val")).select("doc_id", "gram")
    return (
        val_grams.join(train_grams.withColumn("hit", F.lit(1)), "gram", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.count("hit").alias("n_overlap"),
            fround(F.count("hit") / F.count("*").cast("double"), 4).alias(
                "contamination_rate"
            ),
        )
        .orderBy("doc_id")
    )


def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM scoring — the cheap perplexity proxy quality filters
    use: per document, mean -ln p(token) under the corpus unigram
    distribution (high = rare-token-heavy / out-of-distribution text).

    Two partial aggregations over one exploded token stream (corpus
    term counts; per-doc sums) plus a broadcast of the tiny vocabulary
    table back onto the stream — the corpus is scanned once and never
    re-shuffled."""
    docs = load_tables(spark, sf_dir, register_views=False)["documents"]
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("term"))
    vocab = tok.groupBy("term").agg(F.count("*").alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("total"))
    neg_lp = -F.log(F.col("cnt") / F.col("total").cast("double"))
    return (
        tok.join(F.broadcast(vocab), "term")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            fround(F.avg(neg_lp), 4).alias("avg_neg_logprob"),
            fround(F.max(neg_lp), 4).alias("max_neg_logprob"),
        )
        .orderBy("doc_id")
    )


def text_corpus_pipeline_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL training-corpus build, near-dup removal included —
    corpus_pipeline v2: quality filter (score >= 0.5) -> exact-dedup
    canonical keep -> MinHash-LSH near-dup removal (greedy keep-lowest
    -doc-id over verified jaccard >= 0.8 pairs, the same rule as
    dedup_semantic_keep) -> deterministic hash train/val split,
    reported per (split, lang).

    Composition notes at scale: one scan computes quality + fingerprint
    + token count; exact dedup is one fingerprint shuffle; the MinHash
    stage runs on the ALREADY-FILTERED corpus (each stage shrinks the
    data the next one touches — the reason pipelines order cheap
    filters first); the split adds no shuffle. Full DuckDB oracle via
    the composable minhash-pairs SQL in dedup_oracles."""
    from distributed_mapreduce_server_spark.functions import md5_u60
    from distributed_mapreduce_server_spark.operators.dedup import _minhash_pairs_from

    docs = load_tables(spark, sf_dir, register_views=False)["documents"]
    q = _quality_exprs()
    enriched = docs.select(
        "doc_id",
        "lang",
        "text",
        F.size(q["toks"]).alias("n_tokens"),
        F.md5(F.array_join(q["toks"], " ")).alias("fp"),
        fround(q["quality"], 4).alias("quality"),
    ).filter(F.col("quality") >= QUALITY_KEEP_T)
    from pyspark.sql.window import Window

    w = Window.partitionBy("fp").orderBy("doc_id")
    canon = (
        enriched.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
        .persist()
    )
    canon.count()  # feeds both the shingle build and the final anti-join

    pairs, e = _minhash_pairs_from(spark, canon.select("doc_id", "text"))
    dropped = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    kept = canon.join(dropped, "doc_id", "left_anti")

    bucket = md5_u60(F.col("doc_id").cast("string")) % 100
    split = F.when(bucket < SPLIT_PCT_VAL, F.lit("val")).otherwise(F.lit("train"))
    out = (
        kept.select(split.alias("split"), "lang", "n_tokens")
        .groupBy("split", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
    )
    out = out.persist()
    out.count()
    e.unpersist()
    canon.unpersist()
    return out.orderBy("split", "lang")


def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM scoring with add-one smoothing — the next step up from
    the unigram proxy: per document, mean/max -ln P(w_i | w_{i-1}) with
    P(b|a) = (c(a,b)+1) / (c(a,*)+V). Flags locally-implausible token
    sequences that unigram frequency misses.

    One row-form bigram build (posexplode + window lead, codegen) feeds
    both the corpus counts and the per-doc stream; counts join back on
    the bigram key — key-partitioned (the bigram table is vocab-bounded
    but can exceed broadcast size on real corpora), contexts and V are
    broadcast-sized."""
    from pyspark.sql.window import Window

    docs = load_tables(spark, sf_dir, register_views=False)["documents"].repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    tok = docs.select("doc_id", F.posexplode(tokens("text")).alias("pos", "tok"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    big = (
        tok.withColumn("nxt", F.lead("tok", 1).over(w))
        .filter(F.col("nxt").isNotNull())
        .select("doc_id", F.col("tok").alias("w1"), F.col("nxt").alias("w2"))
    )
    bigram_counts = big.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    context_counts = big.groupBy("w1").agg(F.count("*").alias("c1"))
    vocab_size = tok.agg(F.count_distinct("tok").alias("v"))
    neg_lp = -F.log(
        (F.col("c12") + 1) / (F.col("c1") + F.col("v")).cast("double")
    )
    return (
        big.join(bigram_counts, ["w1", "w2"])
        .join(F.broadcast(context_counts), "w1")
        .crossJoin(F.broadcast(vocab_size))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            fround(F.avg(neg_lp), 4).alias("avg_neg_logprob"),
            fround(F.max(neg_lp), 4).alias("max_neg_logprob"),
        )
        .orderBy("doc_id")
    )


# PII scrubbing patterns — RE2/Java-regex common subset (no
# lookarounds) so the Spark and DuckDB runs compile identically.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE_RE = r"\+\d[\d.-]{6,}\d"


def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: redact emails, IPv4 addresses, and +intl phone
    numbers to typed placeholders, with per-doc redaction counts.

    The synthetic corpus carries no PII, so a deterministic injection
    step (doc_id-derived email/IP/phone appended to the text) makes
    the scrub observable; both engines inject identically, so parity
    covers the actual replacement behavior, not zeros. Scrubbed text
    is asserted by md5 — full content equality without hauling text
    into the compare. Pure regexp column expressions: scan-speed at
    100 TB, no shuffle at all (the output orderBy is the test
    harness's, droppable in production)."""
    docs = load_tables(spark, sf_dir, register_views=False)["documents"]
    injected = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id"),
        F.lit("@example.com or 10.0."),
        F.col("doc_id") % 256,
        F.lit("."),
        (F.col("doc_id") * 7) % 256,
        F.lit(" tel +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(injected, PII_EMAIL_RE, "<EMAIL>"),
            PII_IPV4_RE,
            "<IP>",
        ),
        PII_PHONE_RE,
        "<PHONE>",
    )
    return (
        docs.select(
            "doc_id",
            F.regexp_count(injected, F.lit(PII_EMAIL_RE)).alias("n_emails"),
            F.regexp_count(injected, F.lit(PII_IPV4_RE)).alias("n_ips"),
            F.regexp_count(injected, F.lit(PII_PHONE_RE)).alias("n_phones"),
            F.length(scrubbed).alias("scrubbed_len"),
            F.md5(scrubbed).alias("scrubbed_md5"),
        )
        .orderBy("doc_id")
    )


PACK_BUDGET = 256


def text_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy next-fit sequence packing: assign documents (in doc_id
    order) to fixed PACK_BUDGET-token context windows, one pack feed
    per source shard — how a training pipeline packs tokenized docs
    into context-length batches without truncation bookkeeping.

    Next-fit is a sequential recurrence (pack boundary depends on the
    running remainder), so it is NOT a prefix-sum; the parallel form
    is pack-per-shard: token counts are computed JVM-side, only the
    narrow (source, doc_id, n_tokens) frame crosses the Arrow
    boundary, and applyInPandas packs each source partition
    independently. At 100 TB the shard key is the file/path prefix, so
    packing scales with shard count and never needs a global order.
    Oracle: DuckDB recursive CTE walking doc ranks per source."""
    import pandas as pd

    docs = load_tables(spark, sf_dir, register_views=False)["documents"]
    narrow = docs.select(
        "source", "doc_id", F.size(tokens("text")).cast("long").alias("n_tokens")
    )

    def pack(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        pack_ids, used_after = [], []
        pack_id, used = 0, 0
        for n in pdf["n_tokens"]:
            if used > 0 and used + n > PACK_BUDGET:
                pack_id += 1
                used = 0
            used += int(n)
            pack_ids.append(pack_id)
            used_after.append(used)
        pdf["pack_id"] = pack_ids
        pdf["pack_used"] = used_after
        return pdf

    return (
        narrow.groupBy("source")
        .applyInPandas(
            pack,
            "source string, doc_id long, n_tokens long, pack_id long, pack_used long",
        )
        .orderBy("source", "doc_id")
    )


C4_MIN_TOKENS = 5
C4_BAD_PHRASES = ("lorem ipsum", "terms of service", "cookie policy")
C4_TERMINAL_RE = r'[.!?"]\s*$'


def text_c4_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style heuristic cleaning signals (Raffel et al. 2020 §2.2
    shape, adapted to this corpus): per-document line count, fraction
    of lines with terminal punctuation, boilerplate-phrase and
    curly-brace flags, token count, and the resulting keep decision —
    the cheap rule pass a pipeline runs BEFORE model-based quality
    scoring. All pure column expressions (line split + array filters
    over per-doc line arrays, bounded by doc size): scan speed, no
    shuffle beyond the harness's output ordering."""
    docs = load_tables(spark, sf_dir, register_views=False)["documents"]
    lines = F.filter(F.split("text", "\n"), lambda l: l != F.lit(""))
    n_lines = F.greatest(F.size(lines), F.lit(1))
    n_terminal = F.size(F.filter(lines, lambda l: l.rlike(C4_TERMINAL_RE)))
    lower = F.lower(F.col("text"))
    has_bad = None
    for p in C4_BAD_PHRASES:
        c = lower.contains(p)
        has_bad = c if has_bad is None else (has_bad | c)
    n_tokens = F.size(tokens("text"))
    terminal_ratio = fround(n_terminal / n_lines, 4)
    keep = (
        (~has_bad)
        & (~F.col("text").contains("{"))
        & (n_tokens >= C4_MIN_TOKENS)
    )
    return (
        docs.select(
            "doc_id",
            F.size(lines).alias("n_lines"),
            terminal_ratio.alias("terminal_punct_ratio"),
            has_bad.alias("has_bad_phrase"),
            F.col("text").contains("{").alias("has_curly"),
            n_tokens.alias("n_tokens"),
            keep.alias("keep"),
        )
        .orderBy("doc_id")
    )


def _two_phase_rank(
    spark: SparkSession, df: DataFrame, order_cols: list, out_col: str
) -> DataFrame:
    """Distributed global 1-based rank of ``df`` under ``order_cols``
    — the two-phase shape a single-partition ``row_number`` window
    cannot survive at scale: range-partition on the order key
    (sampled boundaries), count rows per partition (a
    partition-count-sized collect, bounded by cluster width), then
    rank WITHIN each partition in parallel and add the broadcast
    cumulative offset. Rank values are independent of where the
    sampled boundaries land. Since round 5 this delegates to the
    shared grouped kernel (operators/scale.py) also used by
    q_events_value_deciles / q_balance_percentiles / q_abc_analysis."""
    from distributed_mapreduce_server_spark.operators.scale import two_phase_rank

    return two_phase_rank(spark, df, list(order_cols), rn_col=out_col)


def text_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global corpus shuffle — the training-order
    permutation step before sharding a dataset for a run. Each doc's
    shuffle key is md5(doc_id); the output position is its global
    1-based rank under that key. Hash-keyed (not rand()) so the
    permutation is reproducible across runs, engines, and
    partitionings.

    Scale shape — two-phase distributed ranking (a global-partition
    ``row_number`` window would collapse everything onto ONE task):
    range-partition on the shuffle key (sampled quantile boundaries,
    the mr_distributed_sort machinery), count rows per partition (a
    partition-count-sized collect — bounded by cluster width, never
    data size), broadcast the cumulative offsets back, and rank
    WITHIN each partition in parallel. Output values are independent
    of where the sampled range boundaries land, so the result is
    deterministic even though the partitioning isn't.
    """
    docs = load_tables(spark, sf_dir, register_views=False)["documents"]
    keyed = docs.select(
        "doc_id", F.md5(F.col("doc_id").cast("string")).alias("shuffle_key")
    )
    ranked, _ = _two_phase_rank(spark, keyed, ["shuffle_key", "doc_id"], "position")
    return ranked.select("position", "doc_id", "shuffle_key").orderBy("position")


# equalizing mixture: each source's token budget is the mean source
# size; bigger sources are hash-downsampled toward it, smaller ones
# keep everything (rate capped at 1)
MIXTURE_RATE_GRID = 10_000


def text_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mixture sampling — the step that turns a raw
    domain mix into the training mixture: each source gets a token
    budget (here: the mean source size, i.e. equalize domains), and
    oversized sources are DETERMINISTICALLY downsampled to their
    budget by hashing doc_id against the source's keep-rate. Hash
    selection (not rand()) keeps the sampled corpus stable across
    runs, engines, and repartitioning, and is scan-speed at 100 TB.

    Output: per-source audit row — keep rate on a 1/10000 grid,
    docs/tokens kept. The same predicate filters the full corpus in a
    real run; aggregating here keeps the verified result small while
    the oracle checks every per-doc keep decision arithmetically.
    """
    from distributed_mapreduce_server_spark.functions import md5_u60

    docs = load_tables(spark, sf_dir, register_views=False)["documents"]
    per_doc = docs.select(
        "doc_id", "source", F.size(tokens("text")).alias("n_tok")
    )
    per_src = per_doc.groupBy("source").agg(F.sum("n_tok").alias("src_tokens"))
    budget = per_src.agg(
        F.floor(F.avg("src_tokens")).cast("long").alias("budget")
    )
    rates = per_src.crossJoin(F.broadcast(budget)).select(
        "source",
        F.least(
            F.lit(MIXTURE_RATE_GRID),
            F.floor(F.lit(MIXTURE_RATE_GRID) * F.col("budget") / F.col("src_tokens"))
            .cast("long"),
        ).alias("keep_grid"),
    )
    kept = (
        per_doc.join(F.broadcast(rates), "source")
        .withColumn(
            "keep",
            md5_u60(F.col("doc_id").cast("string")) % MIXTURE_RATE_GRID
            < F.col("keep_grid"),
        )
        .filter(F.col("keep"))
    )
    return (
        kept.groupBy("source", "keep_grid")
        .agg(
            F.count("*").alias("n_docs_kept"),
            F.sum("n_tok").alias("tokens_kept"),
        )
        .select(
            "source",
            fround(F.col("keep_grid") / MIXTURE_RATE_GRID, 4).alias("keep_rate"),
            "n_docs_kept",
            "tokens_kept",
        )
        .orderBy("source")
    )


def text_corpus_pipeline_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """corpus_pipeline v3 — the full modern LLM-corpus build: quality
    filter -> exact-dedup canonical keep -> MinHash-LSH near-dup
    removal -> SemDedup-style SEMANTIC dedup (drop any survivor whose
    embedding near-dups an earlier surviving doc; un-embedded docs
    pass) -> deterministic hash train/val split, reported per
    (split, lang).

    Composition at scale: every stage runs on the PREVIOUS stage's
    survivors, so the expensive stages see the least data — the
    semantic stage's blocked pair-matmul (dedup._blocked_cosine_pairs,
    distributed, collect-free) only embeds-joins the docs that made it
    through the cheap filters. Full DuckDB oracle composed from the
    same minhash-pairs SQL and cosine fragment the standalone
    operators verify against."""
    from distributed_mapreduce_server_spark.functions import md5_u60
    from distributed_mapreduce_server_spark.operators.dedup import (
        _blocked_cosine_pairs,
        _minhash_pairs_from,
    )
    from pyspark.sql.window import Window

    tables = load_tables(spark, sf_dir, register_views=False)
    docs = tables["documents"]
    q = _quality_exprs()
    enriched = docs.select(
        "doc_id",
        "lang",
        "text",
        F.size(q["toks"]).alias("n_tokens"),
        F.md5(F.array_join(q["toks"], " ")).alias("fp"),
        fround(q["quality"], 4).alias("quality"),
    ).filter(F.col("quality") >= QUALITY_KEEP_T)
    w = Window.partitionBy("fp").orderBy("doc_id")
    canon = (
        enriched.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
        .persist()
    )
    canon.count()

    near_pairs, e = _minhash_pairs_from(spark, canon.select("doc_id", "text"))
    near_dropped = near_pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    survivors = canon.join(near_dropped, "doc_id", "left_anti").persist()
    n_survivors = survivors.count()
    e.unpersist()

    emb_s = tables["embeddings"].join(
        survivors.select(F.col("doc_id").alias("vec_id")), "vec_id"
    ).select("vec_id", "embedding")
    # grid sizing hint = the survivor count the persist pass above
    # already paid for: embeddings-join rows ≤ survivors, so this is a
    # TIGHT upper bound — the full-table footer count would oversize
    # the block grid (per-row cell fan-out is O(B)) whenever the cheap
    # filters dropped most of the corpus, replicating survivors into
    # empty cells for nothing (grid RESULTS are B-independent; cost
    # is not)
    sem_pairs = _blocked_cosine_pairs(spark, emb_s, n_hint=n_survivors)
    sem_dropped = sem_pairs.select(F.col("vec_b").alias("doc_id")).distinct()
    final = survivors.join(sem_dropped, "doc_id", "left_anti")

    bucket = md5_u60(F.col("doc_id").cast("string")) % 100
    split = F.when(bucket < SPLIT_PCT_VAL, F.lit("val")).otherwise(F.lit("train"))
    out = (
        final.select(split.alias("split"), "lang", "n_tokens")
        .groupBy("split", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
    )
    out = out.persist()
    out.count()
    survivors.unpersist()
    canon.unpersist()
    return out.orderBy("split", "lang")


PPL_BUCKETS = 3
PPL_BUCKET_NAMES = ("head", "middle", "tail")


def text_perplexity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing — the quality partition a
    pretraining pipeline draws from: score every document with the
    corpus bigram LM (text_bigram_logprob's mean -ln P(w|prev), lower
    = more fluent), rank all docs by (score, doc_id), and split the
    ranking into integer TERCILES: 'head' (most fluent third),
    'middle', 'tail'.

    Buckets come from integer rank arithmetic — bucket =
    ((rank-1) * 3) div n — NOT from float quantile boundaries:
    percentile interpolation differs across engines in the last ulp,
    and a doc sitting exactly on a boundary would flip buckets;
    ranks are exact integers in both engines, so parity is
    unconditional. Ranking is the same two-phase distributed shape
    as text_global_shuffle (no single-partition global window).
    """
    lp = text_bigram_logprob(spark, sf_dir).select("doc_id", "avg_neg_logprob")
    ranked, total = _two_phase_rank(spark, lp, ["avg_neg_logprob", "doc_id"], "rk")
    bucket = F.expr(f"((rk - 1) * {PPL_BUCKETS}) div {max(total, 1)}")
    label = (
        F.when(bucket == 0, F.lit(PPL_BUCKET_NAMES[0]))
        .when(bucket == 1, F.lit(PPL_BUCKET_NAMES[1]))
        .otherwise(F.lit(PPL_BUCKET_NAMES[2]))
    )
    return ranked.select(
        "doc_id", "avg_neg_logprob", label.alias("ppl_bucket")
    ).orderBy("doc_id")


BPE_TOP_PAIRS = 20


def text_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training, merge step 1: corpus-weighted adjacent
    CHARACTER-pair frequencies — the statistic byte-pair encoding
    greedily merges on (Sennrich et al. 2016). Emits the top-20 pairs
    by weighted count: each distinct word contributes its (len-1)
    adjacent pairs, weighted by the word's corpus frequency.

    Scale shape — the classic BPE trick: aggregate the corpus to the
    WORD-FREQUENCY table first (one wordcount shuffle, map-side
    partial agg), then explode character positions on that vocab-sized
    frame only. Pair-counting cost is bounded by vocabulary size *
    word length, independent of corpus size; a full training loop
    would re-run this per merge over the (tiny) evolving symbol
    table. Position explode + substring stays in codegen — no arrays
    of 1-char strings materialized per corpus row.
    """
    docs = load_tables(spark, sf_dir, register_views=False)["documents"]
    vocab = (
        docs.select(F.explode(tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("n"))
    )
    pairs = (
        vocab.filter(F.length("tok") >= 2)
        .select(
            "n",
            "tok",
            F.explode(F.sequence(F.lit(1), F.length("tok") - 1)).alias("i"),
        )
        .select(
            F.concat_ws(
                " ",
                F.expr("substring(tok, i, 1)"),
                F.expr("substring(tok, i + 1, 1)"),
            ).alias("pair"),
            "n",
        )
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("n").alias("cnt"))
        .orderBy(F.desc("cnt"), "pair")
        .limit(BPE_TOP_PAIRS)
    )


# smaller than the corpus token set (31 distinct tokens) so the
# OOV path is genuinely exercised; the tie-break on (count, token)
# keeps the vocab boundary deterministic at any size.
VOCAB_SIZE = 16
TOKENIZE_PREFIX = 8


def text_tokenize_to_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus tokenization to integer ids — the step that turns curated
    text into model input: build a VOCAB_SIZE vocabulary (top tokens
    by corpus frequency, rank = id, deterministic (count, token)
    tie-break), then encode every document against it. Per doc:
    token count, OOV count (id 0), and the first TOKENIZE_PREFIX ids
    in order, comma-joined (the full id sequence in production; a
    bounded prefix here so the oracle compares a scalar, not a blob).

    Scale shape: the vocab build is a wordcount shuffle + distributed
    TakeOrdered (never a global sort); the rank window runs over the
    VOCAB_SIZE-row result only. Encoding is a BROADCAST join of the
    token stream against the bounded vocab — one groupBy(doc_id)
    shuffle; the per-doc prefix assembly sorts <= TOKENIZE_PREFIX
    structs per doc. Real tokenizers (BPE/SentencePiece) broadcast
    their merge table the same way; text_bpe_pair_counts is the
    train-side statistic this consumes.
    """
    from pyspark.sql.window import Window

    docs = load_tables(spark, sf_dir, register_views=False)["documents"]
    tok_counts = (
        docs.select(F.explode(tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("cnt"))
    )
    top = tok_counts.orderBy(F.desc("cnt"), "tok").limit(VOCAB_SIZE)
    vocab = top.withColumn(
        "id", F.row_number().over(Window.orderBy(F.desc("cnt"), "tok"))
    ).select("tok", "id")
    # n_tokens falls out of the final per-doc row count — no second
    # tokenization of the corpus on the encode side.
    tok_rows = docs.select(
        "doc_id", F.posexplode(tokens("text")).alias("pos", "tok")
    )
    mapped = tok_rows.join(F.broadcast(vocab), "tok", "left").select(
        "doc_id", "pos", F.coalesce(F.col("id"), F.lit(0)).alias("id")
    )
    prefix_ids = F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.when(
                        F.col("pos") < TOKENIZE_PREFIX,
                        F.struct("pos", "id"),
                    )
                )
            ),
            lambda s: s["id"].cast("string"),
        ),
        ",",
    )
    return (
        mapped.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum((F.col("id") == 0).cast("long")).alias("n_oov"),
            prefix_ids.alias("first_ids"),
        )
        .orderBy("doc_id")
    )


BPE_TRAIN_MERGES = 10
# word-frequency tables up to this size train on the driver (every
# production BPE trainer is in-process over exactly this table);
# larger vocabularies use the distributed merge loop below. Probed
# with session.fetch_if_small; tests set it to 0 to force the loop.
BPE_DRIVER_VOCAB_LIMIT = 1_000_000


def _bpe_train_local(vocab: "list[tuple[str, int]]") -> "list[tuple]":
    """Driver-side BPE merge rounds over a bounded (word, count)
    table — exactly the distributed loop's semantics (every adjacent
    occurrence counted, weighted by word frequency; argmax tie-break
    on the pair string; greedy left-to-right application) so the two
    paths are result-identical and share one oracle."""
    syms = [([*tok], n) for tok, n in vocab]
    merges: list[tuple] = []
    for rank in range(1, BPE_TRAIN_MERGES + 1):
        counts: dict = {}
        for s, n in syms:
            for i in range(len(s) - 1):
                p = (s[i], s[i + 1])
                counts[p] = counts.get(p, 0) + n
        if not counts:
            break
        (a, b), cnt = min(
            counts.items(), key=lambda kv: (-kv[1], f"{kv[0][0]} {kv[0][1]}")
        )
        merges.append((rank, a, b, a + b, int(cnt)))
        for s, _ in syms:
            out: list = []
            for x in s:
                if out and out[-1] == a and x == b:
                    out[-1] = a + b
                else:
                    out.append(x)
            s[:] = out
    return merges


def text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative BPE tokenizer TRAINING (Sennrich et al. 2016): run
    BPE_TRAIN_MERGES greedy merge rounds over the corpus and emit the
    merge table — (rank, left, right, merged symbol, weighted count),
    the artifact a tokenizer ships. text_bpe_pair_counts is round 1's
    statistic; text_tokenize_to_ids consumes the resulting vocab.

    Scale shape: the corpus is touched ONCE (the word-frequency
    aggregation); every merge round works on the VOCAB-sized symbol
    table. A table of at most BPE_DRIVER_VOCAB_LIMIT words
    (session.fetch_if_small is the size check and the data) trains on
    the driver like every production BPE trainer (measured 4.5 s ->
    <1 s at sf0.1). A larger one runs on session.checkpoint_loop: a
    round rewrites the symbol arrays with the last merge, and its one
    action is the pair-count aggregation with its 1-ROW argmax fetch.
    Array lambdas run interpreted, which is fine BECAUSE the frame is
    vocabulary-sized; the corpus-sized word count stays codegen.

    Deterministic (ties break on pair string); full DuckDB oracle
    since round 8 — text_oracles._bpe_train_sql unrolls the
    BPE_TRAIN_MERGES rounds as MATERIALIZED CTEs with the greedy merge
    expressed as sentinel-wrapped string replace(). Invariant tests
    additionally pin round-1 parity with text_bpe_pair_counts,
    symbol-mass conservation per round, and merge-table
    well-formedness.
    """
    docs = load_tables(spark, sf_dir, register_views=False)["documents"]
    vocab_counts = (
        docs.select(F.explode(tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("n"))
    )

    def top_pair(vocab: DataFrame):
        # (left, right, weighted count) of the most frequent adjacent pair
        # (ties break on the pair string); None if no word has two symbols
        pairs = (
            vocab.filter(F.size("syms") >= 2)
            .select(
                "n",
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(syms) - 1), "
                        "i -> struct(syms[i - 1] AS a, syms[i] AS b))"
                    )
                ).alias("p"),
            )
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("n").alias("cnt"))
        )
        top = pairs.orderBy(F.desc("cnt"), F.concat_ws(" ", "a", "b")).limit(1).collect()
        return tuple(top[0]) if top else None

    def merge(vocab: DataFrame, top) -> DataFrame:
        # greedy left-to-right application of the last round's merge
        if top is None:
            return vocab
        a, b, _ = top
        return vocab.withColumn(
            "syms",
            F.aggregate(
                "syms",
                F.array().cast("array<string>"),
                lambda acc, x: F.when(
                    (F.size(acc) > 0)
                    & (F.element_at(acc, -1) == F.lit(a))
                    & (x == F.lit(b)),
                    F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(a + b))),
                ).otherwise(F.concat(acc, F.array(x))),
            ),
        )

    table = fetch_if_small(vocab_counts, BPE_DRIVER_VOCAB_LIMIT)
    if table is not None:
        merges = _bpe_train_local(list(zip(table["tok"].to_pylist(), table["n"].to_pylist())))
    else:
        vocab = vocab_counts.withColumn("syms", F.split("tok", ""))
        last, tops = checkpoint_loop(
            spark, vocab, merge, top_pair, rounds=BPE_TRAIN_MERGES - 1, until=lambda _, t: t is None
        )
        release_checkpoints(spark, last)
        merges = [(r, a, b, a + b, int(n)) for r, (a, b, n) in enumerate(filter(None, tops), 1)]
    return spark.createDataFrame(
        merges, "merge_rank int, left string, right string, merged string, weighted_count long"
    ).orderBy("merge_rank")


# ---------------------------------------------------------------------------
# Deterministic sampling & splits (round 4)
# ---------------------------------------------------------------------------

RESERVOIR_K = 50
RESERVOIR_SEED = 7
WEIGHTED_K = 50
WEIGHTED_SEED = 11
KFOLD_K = 5
KFOLD_SEED = 13
_U60_SCALE = float(1 << 60)  # exact power-of-two double


def text_reservoir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniform k-sample without replacement, reservoir-equivalent:
    rank every document by an independent content-free hash and keep
    the k smallest. Identical in distribution to reservoir sampling
    but embarrassingly parallel — Spark's sort-limit computes a
    per-partition top-k and merges k·P candidates, so no partition
    ever materializes more than k rows for the tail stage. Unlike
    ``df.sample``, re-runs, repartitioning, and engine changes all
    yield the SAME sample (hash-determinism, as train_val_split)."""
    from pyspark.sql.window import Window

    from distributed_mapreduce_server_spark.functions import seeded_u60

    docs = load_tables(spark, sf_dir, register_views=False)["documents"]
    h = seeded_u60(F.col("doc_id").cast("string"), RESERVOIR_SEED)
    w = Window.orderBy(F.asc("sample_key"), F.asc("doc_id"))
    return (
        docs.select("doc_id", "lang", "source", h.alias("sample_key"))
        .orderBy(F.asc("sample_key"), F.asc("doc_id"))
        .limit(RESERVOIR_K)
        .select(
            "doc_id",
            "lang",
            "source",
            F.row_number().over(w).cast("integer").alias("sample_rank"),
        )
        .orderBy("sample_rank")
    )


def text_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis–Spirakis
    A-ES): priority = ln(u)/w with u = (hash+1)/2^60 ∈ (0,1] and
    w = n_chars; the k LARGEST priorities form an exact weighted
    sample. u comes from the portable seeded hash, so the sample is
    reproducible across engines; priorities are rounded before
    ranking with a doc_id tie-break (the cross-engine guard all
    ranked ops here use). Same sort-limit top-k shape as the
    reservoir sample — one scan, k·P-bounded merge."""
    from pyspark.sql.window import Window

    from distributed_mapreduce_server_spark.functions import seeded_u60

    docs = load_tables(spark, sf_dir, register_views=False)["documents"]
    h = seeded_u60(F.col("doc_id").cast("string"), WEIGHTED_SEED)
    priority = fround(F.log((h + F.lit(1)) / F.lit(_U60_SCALE)) / F.col("n_chars"), 8)
    w = Window.orderBy(F.desc("priority"), F.asc("doc_id"))
    return (
        docs.select("doc_id", "n_chars", priority.alias("priority"))
        .orderBy(F.desc("priority"), F.asc("doc_id"))
        .limit(WEIGHTED_K)
        .select(
            "doc_id",
            "n_chars",
            "priority",
            F.row_number().over(w).cast("integer").alias("sample_rank"),
        )
        .orderBy("sample_rank")
    )


def text_kfold_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-fold cross-validation assignment by content-free hash:
    fold = h(doc_id) mod K. Returns per-fold balance diagnostics
    (doc count, token total, distinct languages) — the check a
    pipeline runs before trusting its folds. One scan + one K-row
    aggregate."""
    from distributed_mapreduce_server_spark.functions import seeded_u60, tokens

    docs = load_tables(spark, sf_dir, register_views=False)["documents"]
    fold = (seeded_u60(F.col("doc_id").cast("string"), KFOLD_SEED) % KFOLD_K).cast("integer")
    return (
        docs.select(
            fold.alias("fold"),
            F.size(tokens("text")).alias("n_tokens"),
            "lang",
        )
        .groupBy("fold")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.countDistinct("lang").alias("n_langs"),
        )
        .orderBy("fold")
    )


# Gopher quality rules (Rae et al. 2021, table A1), thresholds
# adapted so the synthetic corpus exercises both outcomes of
# word-count, word-length, stopword, and repetition rules.
GOPHER_MIN_WORDS = 30
GOPHER_MAX_WORDS = 90
GOPHER_MIN_WORD_LEN = 3.0
GOPHER_MAX_WORD_LEN = 5.0
GOPHER_MIN_STOPWORDS = 2
GOPHER_MAX_TOP_TOKEN_FRAC = 0.125


def text_gopher_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style document quality rules as one codegen'd scan:
    word-count bounds, mean-word-length bounds, minimum stopword
    hits, and a top-token repetition cap (the most frequent token may
    not exceed 12.5% of the document). Emits each rule's verdict plus
    the conjunctive keep flag so downstream can audit WHY a document
    dropped — the c4_filters companion from the Gopher lineage."""
    docs = load_tables(spark, sf_dir, register_views=False)["documents"]
    toks = tokens("text")
    n_tok = F.size(toks)
    mean_len = F.aggregate(
        toks, F.lit(0).cast("bigint"), lambda acc, t: acc + F.length(t)
    ) / F.greatest(n_tok, F.lit(1))
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    top_cnt = F.array_max(
        F.transform(
            F.array_distinct(toks),
            lambda w: F.size(F.filter(toks, lambda t: t == w)),
        )
    )
    top_frac = top_cnt / F.greatest(n_tok, F.lit(1))
    base = docs.select(
        "doc_id",
        n_tok.alias("n_words"),
        ((n_tok >= GOPHER_MIN_WORDS) & (n_tok <= GOPHER_MAX_WORDS)).alias("r_word_count"),
        ((mean_len >= GOPHER_MIN_WORD_LEN) & (mean_len <= GOPHER_MAX_WORD_LEN)).alias(
            "r_word_len"
        ),
        (n_stop >= GOPHER_MIN_STOPWORDS).alias("r_stopwords"),
        (top_frac <= GOPHER_MAX_TOP_TOKEN_FRAC).alias("r_repetition"),
    )
    return base.select(
        "doc_id",
        "n_words",
        "r_word_count",
        "r_word_len",
        "r_stopwords",
        "r_repetition",
        (
            F.col("r_word_count")
            & F.col("r_word_len")
            & F.col("r_stopwords")
            & F.col("r_repetition")
        ).alias("keep"),
    ).orderBy("doc_id")


COLLOC_MIN_COUNT = 5
COLLOC_TOP_K = 20


def text_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI-ranked collocations: bigrams whose co-occurrence beats the
    unigram-independence expectation — pmi = ln(p(ab)/(p(a)·p(b)))
    (Church & Hanks). The standard phrase-mining signal a tokenizer
    or stopword-list builder runs first.

    One exploded token stream feeds BOTH counts (bigram via lead
    window over the same partitioning as chunking's, unigram via a
    second partial agg); totals are 1-row broadcasts; PMI arithmetic
    on the bigram-vocabulary-sized frame only."""
    from pyspark.sql.window import Window

    docs = load_tables(spark, sf_dir, register_views=False)["documents"]
    tok = docs.select("doc_id", F.posexplode(tokens("text")).alias("pos", "w"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    big = (
        tok.withColumn("w2", F.lead("w", 1).over(w))
        .filter(F.col("w2").isNotNull())
        .groupBy("w", "w2")
        .agg(F.count("*").alias("n_ab"))
        .filter(F.col("n_ab") >= COLLOC_MIN_COUNT)
    )
    uni = tok.groupBy("w").agg(F.count("*").alias("n_w"))
    n_tok = tok.agg(F.count("*").alias("n_total"))
    ua = uni.select(F.col("w").alias("w"), F.col("n_w").alias("n_a"))
    ub = uni.select(F.col("w").alias("w2"), F.col("n_w").alias("n_b"))
    # pmi = ln( (n_ab/N) / ((n_a/N)*(n_b/N)) ) = ln(n_ab*N/(n_a*n_b))
    return (
        big.join(ua, "w")
        .join(ub, "w2")
        .crossJoin(F.broadcast(n_tok))
        .select(
            F.col("w").alias("left_tok"),
            F.col("w2").alias("right_tok"),
            "n_ab",
            fround(
                F.log((F.col("n_ab") * F.col("n_total")) / (F.col("n_a") * F.col("n_b"))), 4
            ).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), "left_tok", "right_tok")
        .limit(COLLOC_TOP_K)
    )


def text_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token entropy H = -Σ p·ln p over the document's
    token distribution — the information-density quality signal
    (boilerplate and keyword-stuffed docs score low for their
    length). Pure column expressions: the per-doc histogram is a
    transform over the distinct-token array, no explode shuffle."""
    docs = load_tables(spark, sf_dir, register_views=False)["documents"]
    toks = tokens("text")
    n = F.greatest(F.size(toks), F.lit(1))
    probs = F.transform(
        F.array_distinct(toks),
        lambda w: F.size(F.filter(toks, lambda t: t == w)) / n,
    )
    # + 0.0 normalizes the empty-doc fold's negative zero (-0.0 would
    # hash differently from the oracle's 0.0)
    entropy = -F.aggregate(
        probs, F.lit(0.0), lambda acc, p: acc + p * F.log(p)
    ) + F.lit(0.0)
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        fround(entropy, 4).alias("token_entropy"),
    ).orderBy("doc_id")


def text_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus DATASHEET — one row summarizing what a training run
    is about to consume: document/token volume, language spread,
    exact-duplicate rate, quality-keep rate, mean token entropy. Each
    metric reuses its owning operator's exact definitions (same
    tokenizer, same thresholds), composed as 1-row aggregates
    broadcast-joined together — a handful of corpus scans, nothing
    driver-sized."""
    docs = load_tables(spark, sf_dir, register_views=False)["documents"]
    toks = tokens("text")
    base = docs.agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(toks)).alias("total_tokens"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
    )
    from distributed_mapreduce_server_spark.operators.dedup import dedup_exact

    groups = dedup_exact(spark, sf_dir)
    dup_stats = groups.agg(
        (F.sum("n_docs") - F.count("*")).cast("bigint").alias("n_exact_dupes")
    )
    kept = text_quality_keep(spark, sf_dir).agg(
        F.count("*").cast("bigint").alias("n_quality_keep")
    )
    ent = text_token_entropy(spark, sf_dir).agg(
        fround(F.avg("token_entropy"), 4).alias("avg_token_entropy")
    )
    return (
        base.crossJoin(F.broadcast(dup_stats))
        .crossJoin(F.broadcast(kept))
        .crossJoin(F.broadcast(ent))
        .select(
            "n_docs",
            "total_tokens",
            "n_langs",
            "n_sources",
            "n_exact_dupes",
            # try_divide: an empty corpus gives NULL rates, as in DuckDB
            fround(F.try_divide("n_exact_dupes", "n_docs"), 4).alias("dup_rate"),
            "n_quality_keep",
            fround(F.try_divide("n_quality_keep", "n_docs"), 4).alias("quality_keep_rate"),
            "avg_token_entropy",
        )
    )


# fixed classifier weights: a transparent linear stand-in for the
# FastText-style quality model the production pipelines run (DCLM /
# FineWeb-Edu shape). Intercept sized so the corpus splits, not
# rubber-stamps (keep rate ~0.5-0.8 at both SFs).
MODEL_QF_W = {
    "intercept": -4.5,
    "distinct_ratio": 5.0,
    "stop_signal": 4.0,  # over least(stop_ratio * 8, 1)
    "log_tokens": 0.3,  # over ln(1 + n_tokens)
    "avg_tok_len": -0.2,
}
MODEL_QF_THRESHOLD = 0.5


def text_model_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering — the classifier stage modern
    corpus pipelines run AFTER heuristic filters (a trained quality
    classifier scores each doc; docs below threshold drop). The model
    here is a fixed-weight logistic regression over interpretable
    features (distinct-token ratio, saturating stopword signal,
    log-length, mean token length): transparent enough for an exact
    cross-engine oracle, same serving shape as a FastText/linear
    scorer — per-doc feature extraction + dot product + sigmoid, all
    codegen column arithmetic, embarrassingly parallel at 100 TB (a
    learned model would broadcast its weights exactly the same way).

    Determinism: features are exact integer ratios; the logit is
    rounded to 6 dp before the sigmoid and the score to 6 dp before
    the threshold compare, so the keep decision cannot hinge on
    sub-rounding libm noise."""
    docs = load_tables(spark, sf_dir, register_views=False)["documents"]
    return model_quality_frame(docs).orderBy("doc_id")


def model_quality_frame(docs: DataFrame) -> DataFrame:
    """The scorer itself over any (doc_id, text) frame — shared by the
    batch operator and the streaming filter (streaming/jobs.py
    stream_model_quality_filter) so both score with the identical
    expressions and carry the same oracle arithmetic."""
    toks = tokens("text")
    n_tok = F.greatest(F.size(toks), F.lit(1))
    distinct_ratio = F.size(F.array_distinct(toks)) / n_tok
    stop_ratio = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS))) / n_tok
    avg_tok_len = F.aggregate(
        toks, F.lit(0).cast("bigint"), lambda a, t: a + F.length(t)
    ) / n_tok
    w = MODEL_QF_W
    logit = fround(
        F.lit(w["intercept"])
        + F.lit(w["distinct_ratio"]) * distinct_ratio
        + F.lit(w["stop_signal"]) * F.least(stop_ratio * 8, F.lit(1.0))
        + F.lit(w["log_tokens"]) * F.log(F.lit(1.0) + F.size(toks))
        + F.lit(w["avg_tok_len"]) * avg_tok_len,
        6,
    )
    score = fround(F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("logit"))), 6)
    return (
        docs.select(
            "doc_id",
            F.size(toks).alias("n_tokens"),
            fround(distinct_ratio, 4).alias("distinct_ratio"),
            fround(stop_ratio, 4).alias("stop_ratio"),
            fround(avg_tok_len, 4).alias("avg_tok_len"),
            logit.alias("logit"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "distinct_ratio",
            "stop_ratio",
            "avg_tok_len",
            score.alias("model_score"),
            (score >= MODEL_QF_THRESHOLD).alias("keep"),
        )
    )


# ---------------------------------------------------------------------------
# TRAINED quality classifier (round 10, VERDICT r9 task 6): completes
# the model-based-filtering arc from the fixed-weight scorer above to
# a logistic regression TRAINED on the corpus — full-batch gradient
# descent where each round is ONE partial-agg aggregation over the
# persisted feature frame (the emb_kmeans / BPE driver-coordinated
# round discipline), with fround-pinned updates so the trajectory is
# engine-reproducible and the DuckDB oracle unrolls the rounds.
# Labels are the heuristic quality gate (quality >= QUALITY_KEEP_T) —
# the standard weak-supervision bootstrap: the trained model imitates
# (then generalizes past) the hand rules, the FastText-classifier
# recipe of the DCLM / FineWeb pipelines.
# ---------------------------------------------------------------------------

LR_TRAIN_ROUNDS = 6
LR_RATE = 0.1
# sigmoid outputs are clamped into [LR_CLAMP, 1 - LR_CLAMP] before the
# log-loss (a 6-dp-rounded s can be exactly 0 or 1 -> ln(0))
LR_CLAMP = 1e-6


def _lr_feature_frame(docs: DataFrame) -> DataFrame:
    """(doc_id, x1..x4, y) — the classifier's design matrix: the four
    model_quality_frame features, each ROUNDED TO 6 DP so both
    engines train on the identical matrix, plus the heuristic label.
    One codegen projection; nothing leaves the executor."""
    q = _quality_exprs()
    toks = q["toks"]
    n_tok = F.greatest(F.size(toks), F.lit(1))
    dr = F.size(F.array_distinct(toks)) / n_tok
    sr = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS))) / n_tok
    atl = F.aggregate(
        toks, F.lit(0).cast("bigint"), lambda a, t: a + F.length(t)
    ) / n_tok
    return docs.select(
        "doc_id",
        fround(dr, 6).alias("x1"),
        fround(F.least(sr * 8, F.lit(1.0)), 6).alias("x2"),
        fround(F.log(F.lit(1.0) + F.size(toks)), 6).alias("x3"),
        fround(atl, 6).alias("x4"),
        (fround(q["quality"], 4) >= QUALITY_KEEP_T).cast("double").alias("y"),
    )


def _lr_train(
    spark: SparkSession,
    sf_dir: str,
    train_split_only: bool = False,
    return_feat: bool = False,
):
    """Full-batch GD on the logistic loss: returns (history, weights)
    where history[r] = (round, loss(w_r), *w_r) for r = 0..ROUNDS and
    weights = w_ROUNDS. With ``train_split_only`` the GD sees only
    the text_train_val_split TRAIN side (hash(doc_id) % 100 >=
    SPLIT_PCT_VAL) — the text_quality_eval protocol. With
    ``return_feat`` the FULL persisted feature frame is returned as a
    third element for the caller to score from (and unpersist) —
    the serving ops were rebuilding the identical tokenize+feature
    projection a second time (r13, guide §1.3/§5: reuse the
    persisted intermediate instead of recomputing it).

    Determinism grid: per row the logit is fround(·, 6) before the
    sigmoid and the sigmoid fround(·, 6) before anything sums; the
    mean gradient and mean loss are fround(·, 6) after the n-fold
    sum (sum-order noise ~1e-12 relative, 6 orders below the grid);
    each weight update is fround(w - LR_RATE·g, 6). The DuckDB twin
    (text_oracles._lr_ctes) applies the identical grid per round.

    Scale shape: the feature frame is built once and persisted
    (corpus-sized, executor-resident); each round is ONE map-side-
    combined aggregation to a 1-row (5 gradient sums + loss sum)
    collect — driver state is 5 floats, rounds are O(scan), nothing
    grows with n."""
    from distributed_mapreduce_server_spark.functions import fround_scalar

    from distributed_mapreduce_server_spark.functions import md5_u60

    docs = load_tables(spark, sf_dir, register_views=False)["documents"]
    # the corpus parquet arrives as ONE row group (one scan task);
    # spread the docs before the tokenize-heavy feature projection
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    # persist the FULL frame even when training on the split: the
    # eval caller scores both splits from this same cache
    feat_full = _lr_feature_frame(docs).persist()
    feat = feat_full
    if train_split_only:
        feat = feat_full.filter(
            md5_u60(F.col("doc_id").cast("string")) % 100 >= SPLIT_PCT_VAL
        )
    n = feat.count()

    def mean(total):
        # SUM over no rows is NULL, as in the oracle: with no training
        # rows the loss and gradients are NULL and so is every weight
        # after round 0
        return None if total is None else fround_scalar(total / n, 6)

    w = [0.0] * 5
    hist = []
    for r in range(LR_TRAIN_ROUNDS + 1):
        z = fround(
            F.lit(w[0])
            + F.lit(w[1]) * F.col("x1")
            + F.lit(w[2]) * F.col("x2")
            + F.lit(w[3]) * F.col("x3")
            + F.lit(w[4]) * F.col("x4"),
            6,
        )
        scored = feat.select(
            "x1", "x2", "x3", "x4", "y", z.alias("z")
        ).select(
            "x1",
            "x2",
            "x3",
            "x4",
            "y",
            fround(F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("z"))), 6).alias("s"),
        )
        sc = F.least(
            F.greatest(F.col("s"), F.lit(LR_CLAMP)), F.lit(1.0 - LR_CLAMP)
        )
        e = F.col("s") - F.col("y")
        row = scored.agg(
            F.sum(e).alias("g0"),
            F.sum(e * F.col("x1")).alias("g1"),
            F.sum(e * F.col("x2")).alias("g2"),
            F.sum(e * F.col("x3")).alias("g3"),
            F.sum(e * F.col("x4")).alias("g4"),
            F.sum(
                -(F.col("y") * F.log(sc) + (1 - F.col("y")) * F.log(1 - sc))
            ).alias("l"),
        ).collect()[0]
        hist.append((r, mean(row["l"]), *w))
        if r == LR_TRAIN_ROUNDS:
            break
        g = [mean(row[f"g{j}"]) for j in range(5)]
        w = [None if gj is None else fround_scalar(wj - LR_RATE * gj, 6) for wj, gj in zip(w, g)]
    if return_feat:
        return hist, w, feat_full
    feat_full.unpersist()
    return hist, w


def text_quality_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training trajectory table: per GD round, the mean logistic
    loss at the round's INCOMING weights and those weights — the
    audit a pipeline reads to confirm the classifier converged before
    trusting its keep decisions (loss monotone nonincreasing is the
    invariant test). Full value parity: the oracle unrolls the rounds
    as CTEs on the identical fround grid."""
    hist, _ = _lr_train(spark, sf_dir)
    return spark.createDataFrame(
        hist,
        "round int, loss double, w_intercept double, w_distinct_ratio double,"
        " w_stop_signal double, w_log_tokens double, w_avg_tok_len double",
    ).orderBy("round")


def text_quality_trained_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus scored under the TRAINED weights — the serving step the
    fixed-weight text_model_quality_filter stands in for, now closed
    end-to-end: train (one pass of GD rounds) then score every doc
    (one codegen projection, weights as literals — exactly how a
    learned model broadcasts). Emits the heuristic label beside the
    model's keep so the imitation quality is visible per doc."""
    _, w, feat = _lr_train(spark, sf_dir, return_feat=True)
    z = fround(
        F.lit(w[0])
        + F.lit(w[1]) * F.col("x1")
        + F.lit(w[2]) * F.col("x2")
        + F.lit(w[3]) * F.col("x3")
        + F.lit(w[4]) * F.col("x4"),
        6,
    )
    score = fround(F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("z"))), 6)
    out = (
        feat.select("doc_id", "y", z.alias("z"))
        .select(
            "doc_id",
            score.alias("model_score"),
            (score >= MODEL_QF_THRESHOLD).alias("keep"),
            (F.col("y") >= 1.0).alias("heuristic_label"),
        )
        .persist()
    )
    out.count()  # materialize through the cache before releasing feat
    feat.unpersist()
    return out.orderBy("doc_id")


def text_quality_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out evaluation closing the classifier arc (train → serve
    → EVAL, the sim_ann_eval trust-row discipline): the LR trains on
    the text_train_val_split TRAIN side only, then BOTH splits score
    under the trained weights and report confusion counts + accuracy
    / precision / recall / F1 against the heuristic labels — the val
    row is the generalization number a pipeline reads before letting
    the model gate a corpus the heuristics never saw.

    Scale shape: training as _lr_train (per-round 1-row partial-agg
    collects); evaluation is one codegen projection + a 2-group
    partial agg. Deterministic end to end (hash split, fround grid)
    -> FULL value parity.

    Measured honesty note: on this synthetic corpus (86-92% positive
    prior) the GD-trained linear model lowers loss monotonically but
    never pushes a negative below the 0.5 cut (verified offline out
    to 500 rounds — the 4 features don't separate the tail), so the
    confusion row reads tn = fn = 0 and precision == the kept-side
    prior. That IS the finding this table exists to surface: the
    classifier ranks but cannot yet gate, so a pipeline would keep
    the heuristic gate and use the score for curriculum/weighting —
    exactly what a production eval row decides."""
    from distributed_mapreduce_server_spark.functions import md5_u60

    _, w, feat = _lr_train(spark, sf_dir, train_split_only=True, return_feat=True)
    z = fround(
        F.lit(w[0])
        + F.lit(w[1]) * F.col("x1")
        + F.lit(w[2]) * F.col("x2")
        + F.lit(w[3]) * F.col("x3")
        + F.lit(w[4]) * F.col("x4"),
        6,
    )
    score = fround(F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("z"))), 6)
    scored = feat.select(
        F.when(
            md5_u60(F.col("doc_id").cast("string")) % 100 < SPLIT_PCT_VAL,
            F.lit("val"),
        )
        .otherwise(F.lit("train"))
        .alias("split"),
        "y",
        z.alias("z"),
    ).select(
        "split", "y", (score >= MODEL_QF_THRESHOLD).cast("double").alias("p")
    )
    tp = F.sum(F.col("p") * F.col("y"))
    fp = F.sum(F.col("p") * (1 - F.col("y")))
    fn = F.sum((1 - F.col("p")) * F.col("y"))
    tn = F.sum((1 - F.col("p")) * (1 - F.col("y")))
    agg = scored.groupBy("split").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        tp.cast("bigint").alias("tp"),
        fp.cast("bigint").alias("fp"),
        fn.cast("bigint").alias("fn"),
        tn.cast("bigint").alias("tn"),
    )
    out = agg.select(
        "split",
        "n_docs",
        "tp",
        "fp",
        "fn",
        "tn",
        fround((F.col("tp") + F.col("tn")) / F.col("n_docs"), 6).alias("accuracy"),
        fround(
            F.col("tp") / F.greatest(F.col("tp") + F.col("fp"), F.lit(1)), 6
        ).alias("precision"),
        fround(
            F.col("tp") / F.greatest(F.col("tp") + F.col("fn"), F.lit(1)), 6
        ).alias("recall"),
        fround(
            2 * F.col("tp")
            / F.greatest(2 * F.col("tp") + F.col("fp") + F.col("fn"), F.lit(1)),
            6,
        ).alias("f1"),
    ).persist()
    out.count()  # materialize through the cache before releasing feat
    feat.unpersist()
    return out.orderBy("split")


# hashing-trick featurization: fixed output dimensionality regardless
# of vocabulary size — the FastText/Vowpal-Wabbit input representation
HASH_FEAT_DIM = 256


def text_hashed_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature hashing (the "hashing trick", Weinberger et al. 2009):
    unigrams + bigrams hash into a fixed HASH_FEAT_DIM-bucket count
    vector — the featurization that feeds linear text classifiers
    (FastText/VW) without ever materializing a vocabulary, which is
    what makes it a one-scan, shuffle-light operation at 100 TB
    (vocabulary-based featurization needs a fit pass + broadcast
    dictionary; hashing needs neither).

    Buckets use the portable md5-based hash (functions.md5_u60), so
    the vector is bit-identical across engines and runs. The verified
    output is a per-doc summary (nnz, l1 = term count, l2 norm,
    deterministic arg-max bucket) rather than the 256-wide vector —
    the oracle checks every bucket count arithmetically through the
    aggregates without shipping arrays through the comparator."""
    from distributed_mapreduce_server_spark.functions import md5_u60

    docs = load_tables(spark, sf_dir, register_views=False)["documents"]
    from pyspark.sql.window import Window

    tok = docs.select("doc_id", F.posexplode(tokens("text")).alias("pos", "tok"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    uni = tok.select("doc_id", F.col("tok").alias("term"))
    bi = (
        tok.withColumn("t2", F.lead("tok", 1).over(w))
        .filter(F.col("t2").isNotNull())
        .select("doc_id", F.concat_ws(" ", "tok", "t2").alias("term"))
    )
    terms = uni.unionByName(bi)
    counts = (
        terms.select(
            "doc_id", F.pmod(md5_u60(F.col("term")), F.lit(HASH_FEAT_DIM)).alias("bucket")
        )
        .groupBy("doc_id", "bucket")
        .agg(F.count("*").alias("cnt"))
    )
    best = F.max(F.struct(F.col("cnt").alias("cnt"), (-F.col("bucket")).alias("nb")))
    return (
        counts.groupBy("doc_id")
        .agg(
            F.count("*").cast("integer").alias("nnz"),
            F.sum("cnt").cast("bigint").alias("l1"),
            fround(F.sqrt(F.sum(F.col("cnt") * F.col("cnt"))), 4).alias("l2"),
            best.alias("b"),
        )
        .select(
            "doc_id",
            "nnz",
            "l1",
            "l2",
            (-F.col("b.nb")).cast("integer").alias("top_bucket"),
            F.col("b.cnt").cast("bigint").alias("top_count"),
        )
        .orderBy("doc_id")
    )


def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency fit: least-squares slope of log10(freq) on
    log10(rank) over the corpus vocabulary, plus intercept and R² —
    the standard corpus-health check (natural-language corpora fit
    slope ≈ -1; a crawl whose slope collapses toward 0 is template
    spam, one that steepens is vocabulary collapse).

    Scale shape: token counts partial-aggregate per type; the
    frequency rank rides the two-phase kernel (operators/scale.py) —
    vocabulary is corpus-dependent (Heaps' law: ~√N types at N
    tokens), so a global ``row_number`` window would funnel the whole
    vocabulary through one task at 100 TB. The regression consumes
    only the six scalar moments (n, Σx, Σy, Σx², Σy², Σxy) — one
    partial-agg reduction to a single row, nothing vocabulary-sized
    ever reaches the driver."""
    from distributed_mapreduce_server_spark.operators.scale import two_phase_rank

    docs = load_tables(spark, sf_dir, register_views=False)["documents"]
    counts = (
        docs.select(F.explode(tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("cnt"))
    )
    ranked, _, tagged = two_phase_rank(
        spark, counts, [F.desc("cnt"), "tok"], rn_col="rank", materialize=False
    )
    x = F.log10(F.col("rank").cast("double"))
    y = F.log10(F.col("cnt").cast("double"))
    moments = ranked.agg(
        F.count("*").alias("n"),
        F.sum("cnt").cast("bigint").alias("n_tokens"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
        F.sum(x * y).alias("sxy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    denx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    deny = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    slope = num / denx
    out = moments.select(
        F.col("n").alias("n_types"),
        "n_tokens",
        fround(slope, 6).alias("zipf_slope"),
        fround((F.col("sy") - slope * F.col("sx")) / F.col("n"), 6).alias(
            "zipf_intercept"
        ),
        fround(num * num / (denx * deny), 6).alias("r2"),
    )
    # fold through the tagged range-partition cache into the 1-row
    # checkpoint, then release the cache (two_phase_rank contract)
    out = out.localCheckpoint(eager=True)
    tagged.unpersist()
    return out


def text_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-pair contamination matrix: for every pair of corpus
    sources, how many DISTINCT word trigrams they share and the
    Jaccard of their trigram vocabularies — the corpus-forensics step
    after text_contamination_check's train/test probe ("which feeds
    are re-crawling each other" decides what to down-weight before
    any per-document dedup sees the data).

    Scale shape: trigrams assemble in the row form (posexplode +
    window lead, per-doc partitions — the text_top_ngrams kernel),
    reduce to DISTINCT (source, gram), and pairs generate PER GRAM
    with fan-out bounded by C(|sources|, 2) — sources are a bounded
    catalog dimension (like event types), so no cap is needed; the
    gram-keyed grouping is the only corpus-scale shuffle. Output is
    |sources|²-bounded."""
    from pyspark.sql.window import Window

    docs = load_tables(spark, sf_dir, register_views=False)["documents"].repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    tok = docs.select("doc_id", "source", F.posexplode(tokens("text")).alias("pos", "tok"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    grams = (
        tok.withColumn("t1", F.lead("tok", 1).over(w))
        .withColumn("t2", F.lead("tok", 2).over(w))
        .filter(F.col("t2").isNotNull())
        .select("source", F.concat_ws(" ", "tok", "t1", "t2").alias("g"))
        .distinct()
    )
    sizes = grams.groupBy("source").agg(F.count("*").alias("n_grams"))
    by_gram = grams.groupBy("g").agg(F.collect_list("source").alias("ss"))
    pairs = (
        by_gram.select(F.explode("ss").alias("sa"), "ss")
        .select("sa", F.explode("ss").alias("sb"))
        .filter(F.col("sa") < F.col("sb"))
        .groupBy("sa", "sb")
        .agg(F.count("*").alias("n_shared"))
    )
    return (
        pairs.join(sizes.select(F.col("source").alias("sa"), F.col("n_grams").alias("na")), "sa")
        .join(sizes.select(F.col("source").alias("sb"), F.col("n_grams").alias("nb")), "sb")
        .select(
            F.col("sa").alias("source_a"),
            F.col("sb").alias("source_b"),
            "n_shared",
            fround(
                F.col("n_shared").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_shared")),
                6,
            ).alias("jaccard"),
        )
        .orderBy("source_a", "source_b")
    )


def text_source_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distribution-shift audit (round 8): KL(P_source ||
    P_corpus) over unigram token distributions — which sources' word
    statistics drift from the corpus mix. The monitoring table a
    mixture-weighted training build (text_mixture_sample /
    text_source_mix) checks before trusting per-source sampling rates;
    complements text_source_overlap (shared CONTENT) with shared
    SHAPE.

    Scale shape: one corpus-sized explode into a partial-agg
    (source, token) count — the only fact-scale shuffle; the corpus
    marginal re-aggregates THAT frame (vocab-sized input, never the
    corpus), the KL join is keyed on token at vocab scale, and
    per-source totals broadcast. Every source token is a corpus token
    by construction, so no zero-denominator smoothing is needed. Both
    engines sum the identical (p * ln(p/q)) terms; fround 6 absorbs
    sum-order noise (~1e-15)."""
    docs = load_tables(spark, sf_dir, register_views=False)["documents"]
    per_src = (
        docs.select("source", F.explode(tokens("text")).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count("*").alias("n_st"))
    )
    return kl_from_source_counts(per_src)


def kl_from_source_counts(per_src: DataFrame) -> DataFrame:
    """KL(P_source || P_corpus) from a (source, tok, n_st) count frame
    — shared by the batch audit above and its streaming twin
    (streaming/jobs.stream_kl_drift), so the two can never diverge on
    the divergence. All inputs from per_src onward are vocab-scale.

    per_src feeds FOUR consumers (the join spine, the corpus
    marginal, the per-source totals, the grand total) and
    ReuseExchange does not dedupe repeated subtrees (the measured
    q_pagerank fact) — so it persists eagerly for the build (one
    corpus pass instead of four), and the |sources|-row result
    materializes through the cache before release."""
    per_src = per_src.persist()
    per_src.count()
    corpus = per_src.groupBy("tok").agg(F.sum("n_st").alias("n_t"))
    src_tot = per_src.groupBy("source").agg(F.sum("n_st").alias("n_s"))
    n_c = corpus.agg(F.sum("n_t").alias("__n_c"))
    term = (F.col("n_st") / F.col("n_s")) * F.log(
        (F.col("n_st") * F.col("__n_c")) / (F.col("n_s") * F.col("n_t"))
    )
    out = (
        per_src.join(corpus, "tok")
        .join(F.broadcast(src_tot), "source")
        .crossJoin(F.broadcast(n_c))
        .groupBy("source")
        .agg(
            F.max("n_s").cast("bigint").alias("n_tokens"),
            fround(F.sum(term), 6).alias("kl_divergence"),
        )
        .localCheckpoint(eager=True)
    )
    per_src.unpersist()
    return out.orderBy("source")


def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document NOVELTY scoring (round 8): the fraction of a doc's
    distinct trigrams whose corpus-wide FIRST occurrence (lowest
    doc_id — ingest order) is this doc. The redundancy-vs-novelty
    curation signal: near-1 docs introduce new content, near-0 docs
    restate what the corpus already has — the soft complement of hard
    span-removal (dedup_span_clean) used to PRIORITIZE rather than
    cut. Trigram definition shared with text_source_overlap.

    Scale shape: one corpus-sized distinct over (doc, trigram), then
    first-occurrence attribution as a min() WINDOW over the gram key
    (gram cardinality — cluster-wide parallelism) on the SAME rows —
    single subtree, one scan (a groupBy + self-join formulation would
    execute the corpus-sized distinct twice: ReuseExchange does not
    dedupe repeated subtrees, the measured q_pagerank fact), and a
    partial-agg per-doc fold. Short docs (< 3 tokens) emit
    n_grams = 0 / novelty 0.0 via the documents left join."""
    from pyspark.sql.window import Window

    docs = load_tables(spark, sf_dir, register_views=False)["documents"]
    toks = docs.select("doc_id", tokens("text").alias("t"))
    grams = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, greatest(size(t) - 2, 0)), "
                "i -> concat(t[i-1], ' ', t[i], ' ', t[i+1]))"
            )
        ).alias("g"),
    ).distinct()
    attributed = grams.withColumn(
        "first_doc", F.min("doc_id").over(Window.partitionBy("g"))
    )
    per_doc = attributed.groupBy("doc_id").agg(
        F.count("*").alias("n_grams"),
        F.sum((F.col("first_doc") == F.col("doc_id")).cast("long")).alias(
            "n_novel"
        ),
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).cast("bigint").alias("n_grams"),
            F.coalesce("n_novel", F.lit(0)).cast("bigint").alias("n_novel"),
            fround(
                F.coalesce(F.col("n_novel"), F.lit(0))
                / F.greatest(F.coalesce(F.col("n_grams"), F.lit(0)), F.lit(1)),
                4,
            ).alias("novelty"),
        )
        .orderBy("doc_id")
    )


def text_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer FERTILITY evaluation (round 8): symbols-per-word
    under the trained BPE merge table, per source — the standard
    tokenizer-quality metric (fertility ~1 = the vocabulary compresses
    this source well; high fertility = the source pays more sequence
    length per word, the signal that drives vocab retraining and
    mixture re-weighting). Closes the tokenizer arc: pair stats ->
    trainer -> encoder -> EVALUATION.

    Scale shape: training is text_bpe_train's loop (corpus touched
    once, vocab-sized rounds); the merge table collected here is
    BPE_TRAIN_MERGES rows — bounded. Application is pure codegen: the
    vocabulary's wrapped-symbol strings pass through 10 literal
    replace()s (greedy left-to-right — same semantics as the training
    fold, same sentinel trick as the oracle), then one weighted agg
    over per-(source, word) counts. Nothing corpus-sized beyond the
    two token scans."""
    merges = [
        (r["left"], r["right"], r["merged"])
        for r in text_bpe_train(spark, sf_dir).collect()
    ]
    docs = load_tables(spark, sf_dir, register_views=False)["documents"]
    st = (
        docs.select("source", F.explode(tokens("text")).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count("*").alias("n"))
    )
    wrapped = F.array_join(
        F.transform(
            F.split("tok", ""),
            lambda c: F.concat(F.lit("\x01"), c, F.lit("\x02")),
        ),
        "",
    )
    s = wrapped
    for a, b, merged in merges:
        s = F.replace(
            s,
            F.lit("\x01" + a + "\x02" + "\x01" + b + "\x02"),
            F.lit("\x01" + merged + "\x02"),
        )
    n_syms = F.length(s) - F.length(F.replace(s, F.lit("\x01"), F.lit("")))
    per = st.withColumn("n_syms", n_syms)
    return (
        per.groupBy("source")
        .agg(
            F.sum("n").cast("bigint").alias("n_words"),
            F.sum(F.col("n") * F.col("n_syms")).cast("bigint").alias("total_symbols"),
            fround(
                F.sum(F.col("n") * F.col("n_syms")) / F.sum("n"), 6
            ).alias("fertility"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Unigram-LM tokenizer (round 9) — the SentencePiece-style counterpart
# to the BPE arc (Kudo 2018): a FIXED seed vocabulary (all single
# chars + the top UNI_SEED_VOCAB substrings of length 2..4 by
# corpus-weighted position count) is re-estimated by UNI_EM_ROUNDS of
# Viterbi (hard) EM. Everything is integer-exact: piece costs are
# -round(ln(p_Laplace) * 1e6) micro-nats (the q_events_user_entropy
# integer-grid trick), so the Viterbi DP minimizes an INTEGER sum —
# no float comparison anywhere in the inner loop — and ties break on
# the zero-padded piece-id path string, which composes under the
# backward DP (fixed-width components make suffix order == full-path
# order for a shared prefix). Both engines therefore pick identical
# segmentations, giving the full value-parity oracle that production
# unigram trainers (lattice forward-backward, float marginals) can't.
# Differences from Kudo 2018 are deliberate and documented: hard EM
# instead of soft (determinism), fixed vocab instead of pruning
# rounds (the prune schedule adds nothing at this vocab size), +1
# Laplace smoothing so unused pieces keep finite cost.
# ---------------------------------------------------------------------------

UNI_PIECE_MAX_LEN = 4
UNI_SEED_VOCAB = 48
UNI_EM_ROUNDS = 3
# word-frequency tables up to this size train on the driver (probed
# with session.fetch_if_small, like text_bpe_train's); larger
# vocabularies run the distributed per-round Viterbi kernel below —
# result-identical, pinned by a test that sets this cap to 0.
UNI_DRIVER_VOCAB_LIMIT = 1_000_000
# text_unigram_tokenize broadcasts its (distinct word -> piece ids)
# map only under this many distinct words: the map is Heaps-law-sized
# (~n^0.5-0.6 of corpus tokens), so an unconditional broadcast ships
# GBs to every executor at 100 TB. 250k words x (~8B word + ~8x8B id
# array) keeps the exchange well under typical 100-200 MB broadcast
# comfort; past it the join shuffles on tok.
UNI_WORDMAP_BROADCAST_LIMIT = 250_000


def _unigram_seed(vocab: "list[tuple[str, int]]"):
    """Seed piece set + initial counts from a (word, freq) table:
    every start position of every substring of length 1..MAX_LEN
    contributes the word's corpus frequency. Single chars are always
    kept (segmentation coverage); multi-char pieces cap at
    UNI_SEED_VOCAB by (count DESC, piece ASC)."""
    sub_counts: dict = {}
    for tok, n in vocab:
        ln = len(tok)
        for piece_len in range(1, UNI_PIECE_MAX_LEN + 1):
            for i in range(ln - piece_len + 1):
                p = tok[i : i + piece_len]
                sub_counts[p] = sub_counts.get(p, 0) + n
    chars = [p for p in sub_counts if len(p) == 1]
    multi = sorted(
        (p for p in sub_counts if len(p) >= 2),
        key=lambda p: (-sub_counts[p], p),
    )[:UNI_SEED_VOCAB]
    pieces = sorted(chars + multi)
    # The Viterbi tie-break pads piece ids to a FIXED width of 3
    # ('|%03d' here, lpad(pid, 3, '0') in the DuckDB oracle). Python's
    # %03d WIDENS past 999 while lpad TRUNCATES — cross-engine parity
    # silently breaks, and the oracle's path-argmin join collides
    # distinct paths. Today tokens() limits the alphabet to [a-z0-9]
    # (≤36 single chars + UNI_SEED_VOCAB multi pieces), but that
    # invariant is implicit; enforce it so a vocab-size or tokenizer
    # change fails loudly instead (ADVICE r9).
    assert len(pieces) <= 999, (
        f"unigram vocab {len(pieces)} > 999: widen the fixed piece-id "
        "pad width in BOTH _unigram_viterbi and the text_oracles CTEs"
    )
    return pieces, {p: sub_counts[p] for p in pieces}


def _unigram_costs(counts: dict) -> dict:
    """Integer micro-nat piece costs from raw counts: p = (c + 1) /
    (T + |V|) Laplace-smoothed, cost = -round(ln(p) * 1e6) on the
    half-away grid (fround_scalar == DuckDB ROUND; Python round is
    banker's at .5)."""
    import math

    from distributed_mapreduce_server_spark.functions import fround_scalar

    total = sum(counts.values())
    nv = len(counts)
    return {
        p: -int(fround_scalar(math.log((c + 1.0) / (total + nv)) * 1e6, 0))
        for p, c in counts.items()
    }


def _unigram_viterbi(tok: str, cost: dict, pid: dict):
    """Min-cost segmentation of ``tok`` into vocab pieces — backward
    DP over suffixes keeping (integer cost, zero-padded piece-id path
    string); the string tie-break composes because candidates sharing
    a first piece share its fixed-width prefix. Returns the piece
    tuple. Every word is segmentable (single chars are in-vocab)."""
    ln = len(tok)
    best: list = [None] * (ln + 1)
    best[ln] = (0, "", ())
    for j in range(ln - 1, -1, -1):
        cand = None
        for piece_len in range(1, min(UNI_PIECE_MAX_LEN, ln - j) + 1):
            p = tok[j : j + piece_len]
            c = cost.get(p)
            if c is None:
                continue
            nxt = best[j + piece_len]
            key = (c + nxt[0], "|%03d" % pid[p] + nxt[1])
            if cand is None or key < (cand[0], cand[1]):
                cand = (key[0], key[1], (p,) + nxt[2])
        best[j] = cand
    return best[0][2]


def _unigram_train_local(vocab: "list[tuple[str, int]]"):
    """Driver-side EM rounds over a bounded (word, freq) table —
    identical semantics to the distributed loop (same seed, same
    integer costs, same Viterbi tie-break) so the two paths are
    result-identical and share one oracle. Returns (pieces, pid,
    seed_counts, final_counts, final_costs)."""
    pieces, counts = _unigram_seed(vocab)
    pid = {p: i + 1 for i, p in enumerate(pieces)}
    seed = dict(counts)
    for _ in range(UNI_EM_ROUNDS):
        cost = _unigram_costs(counts)
        new_counts = {p: 0 for p in pieces}
        for tok, n in vocab:
            for p in _unigram_viterbi(tok, cost, pid):
                new_counts[p] += n
        counts = new_counts
    return pieces, pid, seed, counts, _unigram_costs(counts)


def _unigram_word_freqs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, register_views=False)["documents"]
    return (
        docs.select(F.explode(tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("n"))
    )


def _unigram_fit(spark: SparkSession, sf_dir: str):
    """(pieces, pid, seed_counts, final_counts, final_costs) — driver
    fast path when the word-frequency table is bounded, else the
    distributed per-round loop: the corpus is touched ONCE (the
    wordcount shuffle); seeding explodes substring positions on the
    vocab-sized frame in codegen; each EM round is one Arrow
    mapInPandas Viterbi pass over the word table (costs broadcast,
    vocab-sized (piece, weighted_count) partials shuffled) and a
    bounded driver collect for the M-step. Nothing corpus-sized after
    the first aggregation."""
    vocab_counts = _unigram_word_freqs(spark, sf_dir)
    table = fetch_if_small(vocab_counts, UNI_DRIVER_VOCAB_LIMIT)
    if table is not None:
        return _unigram_train_local(list(zip(table["tok"].to_pylist(), table["n"].to_pylist())))

    import pandas as pd

    words = vocab_counts.persist()
    words.count()
    # seed: substring-position explode, all in codegen on the
    # vocab-sized frame (text_bpe_pair_counts' shape generalized to
    # lengths 1..MAX)
    subs = (
        words.select(
            "n",
            "tok",
            F.explode(F.sequence(F.lit(1), F.lit(UNI_PIECE_MAX_LEN))).alias("l"),
        )
        .filter(F.length("tok") >= F.col("l"))
        .select(
            "n",
            "l",
            F.explode(
                F.sequence(F.lit(1), F.length("tok") - F.col("l") + 1)
            ).alias("i"),
            F.expr("substring(tok, i, l)").alias("piece"),
        )
        .groupBy("piece", "l")
        .agg(F.sum("n").alias("cnt"))
        .persist()
    )
    chars = subs.filter(F.col("l") == 1).select("piece", "cnt")
    multi = (
        subs.filter(F.col("l") >= 2)
        .orderBy(F.desc("cnt"), "piece")
        .limit(UNI_SEED_VOCAB)
        .select("piece", "cnt")
    )
    rows = chars.unionAll(multi).collect()
    subs.unpersist()
    pieces = sorted(r["piece"] for r in rows)
    pid = {p: i + 1 for i, p in enumerate(pieces)}
    seed = {r["piece"]: r["cnt"] for r in rows}
    counts = dict(seed)
    for _ in range(UNI_EM_ROUNDS):
        cost = _unigram_costs(counts)
        bc = spark.sparkContext.broadcast((cost, pid))

        def viterbi_counts(batches):
            cost_b, pid_b = bc.value
            for pdf in batches:
                out: dict = {}
                for tok, n in zip(pdf["tok"], pdf["n"]):
                    for p in _unigram_viterbi(tok, cost_b, pid_b):
                        out[p] = out.get(p, 0) + int(n)
                yield pd.DataFrame(
                    {"piece": list(out), "c": list(out.values())}
                )

        got = (
            words.mapInPandas(viterbi_counts, "piece string, c long")
            .groupBy("piece")
            .agg(F.sum("c").alias("c"))
            .collect()
        )
        counts = {p: 0 for p in pieces}
        counts.update({r["piece"]: r["c"] for r in got})
    words.unpersist()
    return pieces, pid, seed, counts, _unigram_costs(counts)


def text_unigram_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM tokenizer TRAINING (Kudo 2018, deterministic
    Viterbi-EM variant — see the section banner): emits the trained
    piece table (piece, piece_len, seed_count, em_count, cost_micro)
    — the artifact a SentencePiece-style tokenizer ships, next to
    text_bpe_train's merge table. seed_count is the substring-
    position statistic the vocab was seeded from; em_count the
    weighted piece usage in the final round's best segmentations;
    cost_micro the shipped integer micro-nat cost.

    Scale shape: one corpus wordcount shuffle, then everything is
    vocab-sized (driver fast path under UNI_DRIVER_VOCAB_LIMIT;
    distributed rounds = one Arrow Viterbi pass each, costs
    broadcast). Full value-parity DuckDB oracle: the fixed vocab and
    integer costs make every EM round an exact integer program the
    oracle unrolls — segmentations enumerate ONCE as MATERIALIZED
    CTEs (piece structure is round-independent), each round re-costs
    the paths and takes the same (cost, padded-id path) argmin."""
    pieces, _, seed, counts, cost = _unigram_fit(spark, sf_dir)
    return spark.createDataFrame(
        [(p, len(p), int(seed[p]), int(counts[p]), int(cost[p])) for p in pieces],
        "piece string, piece_len int, seed_count bigint, em_count bigint, "
        "cost_micro bigint",
    ).orderBy("piece")


def text_unigram_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-tokenizer FERTILITY evaluation: pieces-per-word under
    the trained unigram vocabulary, per source — text_bpe_fertility's
    twin, so the two tokenizer families are comparable on the same
    metric before choosing one for a corpus.

    Scale shape: training as in text_unigram_train; evaluation is one
    Arrow Viterbi pass over the per-(source, word) frequency table
    (vocab-sized costs broadcast, frame bounded by sources x
    vocabulary) and one weighted agg."""
    import pandas as pd

    pieces, pid, _, _, cost = _unigram_fit(spark, sf_dir)
    docs = load_tables(spark, sf_dir, register_views=False)["documents"]
    st = (
        docs.select("source", F.explode(tokens("text")).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count("*").alias("n"))
    )
    bc = spark.sparkContext.broadcast((cost, pid))

    def n_pieces(batches):
        cost_b, pid_b = bc.value
        for pdf in batches:
            pdf = pdf.assign(
                n_pieces=[
                    len(_unigram_viterbi(t, cost_b, pid_b)) for t in pdf["tok"]
                ]
            )
            yield pdf[["source", "n", "n_pieces"]]

    per = st.mapInPandas(n_pieces, "source string, n long, n_pieces long")
    return (
        per.groupBy("source")
        .agg(
            F.sum("n").cast("bigint").alias("n_words"),
            F.sum(F.col("n") * F.col("n_pieces")).cast("bigint").alias("total_pieces"),
            fround(F.sum(F.col("n") * F.col("n_pieces")) / F.sum("n"), 6).alias(
                "fertility"
            ),
        )
        .orderBy("source")
    )


def text_unigram_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus ENCODING under the trained unigram vocabulary — the
    text_tokenize_to_ids step for the unigram family, completing its
    arc (train → ENCODE → evaluate) the way the BPE family has pair
    stats → train → encode → fertility. Per document: word count,
    total piece count, and the first TOKENIZE_PREFIX piece ids of the
    flattened best-segmentation stream, comma-joined (the full id
    sequence in production; a bounded prefix here so the oracle
    compares a scalar, not a blob).

    Scale shape: the corpus token stream never crosses the Python
    boundary — Viterbi runs once per DISTINCT word (one Arrow pass
    over the vocab-sized word set), and the resulting
    (word → piece ids) map joins against the corpus stream JVM-side;
    the per-doc prefix assembly sorts bounded structs. The word map
    is Heaps-law-sized (distinct words grow ~n^0.5-0.6 with the
    corpus), so the broadcast hint is applied only under a bounded
    distinct-word count — past UNI_WORDMAP_BROADCAST_LIMIT it
    shuffle-joins on ``tok``, the key the stream side already
    groups by. Piece ids are the trained vocab's 1-based rank by
    piece string — the same ids the train table's sort order
    implies."""
    import pandas as pd

    pieces, pid, _, _, cost = _unigram_fit(spark, sf_dir)
    docs = load_tables(spark, sf_dir, register_views=False)["documents"]
    tok_rows = docs.select(
        "doc_id", F.posexplode(tokens("text")).alias("pos", "tok")
    )
    words = tok_rows.select("tok").distinct()
    bc = spark.sparkContext.broadcast((cost, pid))

    def encode(batches):
        cost_b, pid_b = bc.value
        for pdf in batches:
            segs = [_unigram_viterbi(t, cost_b, pid_b) for t in pdf["tok"]]
            yield pd.DataFrame(
                {
                    "tok": pdf["tok"],
                    "ids": [[pid_b[p] for p in s] for s in segs],
                    "np": [len(s) for s in segs],
                }
            )

    wmap = words.mapInPandas(encode, "tok string, ids array<long>, np long")
    # Bounded size check: count at most LIMIT+1 distinct words (no
    # driver collect of the map itself). Under the bound a broadcast
    # skips the corpus-side shuffle; over it, broadcasting a GB-scale
    # Heaps frame to every executor is the failure mode, so let the
    # planner shuffle-join on tok.
    small = (
        words.limit(UNI_WORDMAP_BROADCAST_LIMIT + 1).count()
        <= UNI_WORDMAP_BROADCAST_LIMIT
    )
    joined = tok_rows.join(F.broadcast(wmap) if small else wmap, "tok")
    flat = F.slice(
        F.flatten(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "ids"))),
                lambda s: s["ids"],
            )
        ),
        1,
        TOKENIZE_PREFIX,
    )
    return (
        joined.groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_words"),
            F.sum("np").cast("bigint").alias("n_pieces"),
            F.array_join(
                F.transform(flat, lambda x: x.cast("string")), ","
            ).alias("first_piece_ids"),
        )
        .orderBy("doc_id")
    )
