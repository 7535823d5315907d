"""Similarity search over embedding columns (SURVEY.md §2.4).

- sim_cosine_topk: exact brute-force top-k for a small query set —
  the query vectors broadcast to every partition, candidates stream
  through once, a per-query heap (TakeOrdered via window rank) picks
  k. This is the correctness baseline and is already 100 TB-shaped
  for small query sets: one scan, no shuffle of the candidate side.
- sim_lsh_ann: random-hyperplane LSH buckets -> candidates only
  compare within their bucket. Deterministic md5-seeded hyperplanes
  so results are reproducible across runs and engines.
- sim_ivf_ann / emb_pq_quantize / sim_pq_adc_ann: the IVF + product-
  quantization serving stack (broadcast codebooks, Arrow-batch numpy
  kernels, grid-rounded selection for full value parity).
- sim_knn_join: all-pairs top-k join on the shared blocked cogroup
  grid (blocked.py) — local top-k per cell bounds the shuffle.
- emb_* analytics: centroids, dim stats, covariance, PCA, k-means,
  int8 quantization, backfill coverage and the batch-inference
  backfill stage (emb_encode_backfill).

Every per-batch numpy kernel runs through one block runner,
_arrow_map: a partition-local function from one Arrow batch's columns
to its output columns, the reference's line-streaming mapper with
vectors for lines.
"""

from __future__ import annotations

import functools
import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast
from pyspark.sql.window import Window

from distributed_mapreduce_server_spark.catalog import (
    load_tables,
    register_refresh_hook,
)
from distributed_mapreduce_server_spark.functions import cosine_sim, fround, fround_np
from distributed_mapreduce_server_spark.session import fetch_if_small

# Trained-codebook memo (VERDICT r11 task 3): Lloyd training is
# deterministic per (corpus, recipe), so within one session every
# re-train of the same codebook is pure waste — a full bench/drive
# pass was re-running the identical coarse training 5+ times across
# the routed/IVF/PQ families. Same contract as catalog._plan_cache:
# keyed (applicationId, sf_dir, kind), the owning SparkSession rides
# along and is identity-compared on every hit (a spark.newSession()
# must retrain — its broadcasts/jobs belong to a different session),
# and sf_dir contents are assumed immutable for the app's lifetime
# (catalog.refresh_tables() clears this cache via the registered
# hook). Values are the bounded driver-side (ids, matrix) numpy
# pairs — K·d doubles, never corpus-sized.
_CODEBOOK_CACHE: dict[tuple[str, str, str], tuple] = {}

# kind -> number of ACTUAL trainings (test instrumentation: the memo
# tests assert one training per codebook per (session, sf_dir)).
CODEBOOK_TRAIN_COUNTS: dict[str, int] = {}


def _codebook_memo(spark: SparkSession, sf_dir: str, kind: str, builder):
    """Return the memoized trained codebook for (session, sf_dir,
    kind), invoking ``builder`` exactly once per key."""
    key = (spark.sparkContext.applicationId, str(sf_dir), kind)
    hit = _CODEBOOK_CACHE.get(key)
    if hit is not None and hit[0] is spark:
        return hit[1]
    CODEBOOK_TRAIN_COUNTS[kind] = CODEBOOK_TRAIN_COUNTS.get(kind, 0) + 1
    pair = builder()
    _CODEBOOK_CACHE[key] = (spark, pair)
    return pair


def release_codebook_caches() -> None:
    """Drop every memoized trained codebook — the refresh_tables()
    analog for the codebook layer (and invoked BY refresh_tables via
    the registered hook). Call directly to bound driver memory in a
    very long session touching many sf_dirs."""
    _CODEBOOK_CACHE.clear()


register_refresh_hook(release_codebook_caches)

N_QUERIES = 5
TOP_K = 10
N_PLANES = 6
N_TABLES = 4
EMB_DIM = 64


def _numpy_columns(data) -> dict:
    """Every column of an Arrow table or record batch as numpy: a list
    column (``embedding``, ``e_a``/``e_b``, ``codes``) as its (rows,
    width) matrix by flatten-and-reshape, floats as float64, and any
    other column as a 1-D array."""
    import numpy as np
    import pyarrow as pa

    cols = {}
    for name, col in zip(data.column_names, data.columns):
        if isinstance(col, pa.ChunkedArray):
            col = col.combine_chunks()
        if not pa.types.is_list(col.type):
            cols[name] = col.to_numpy(zero_copy_only=False)
            continue
        flat = col.flatten().to_numpy(zero_copy_only=False)
        if flat.dtype.kind == "f":
            flat = flat.astype(np.float64)
        cols[name] = flat.reshape(len(col), len(flat) // max(len(col), 1))
    return cols


@functools.cache
def _ddl_struct(schema: str):
    """The StructType of a DDL string, parsed once per process:
    ``StructType.fromDDL`` parses in the JVM on every call (~5 ms
    warm, ~0.6 s on a session's first call)."""
    from pyspark.sql.types import StructType

    return StructType.fromDDL(schema)


def _arrow_map(frame: DataFrame, kernel, schema: str, shared=None) -> DataFrame:
    """``frame`` mapped one Arrow batch at a time through the numpy
    ``kernel``: ``kernel(shared, cols)`` receives the broadcast value
    of ``shared`` and the batch's columns (_numpy_columns) and returns
    the columns of the DDL ``schema`` as numpy arrays (2-D for an
    array column), or None for no rows. Empty batches never reach the
    kernel, and a NaN is written as NULL, as mapInPandas wrote it."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = _ddl_struct(schema)
    out_schema = to_arrow_schema(struct)
    # broadcast lifetime = the returned plan's; ContextCleaner reclaims
    # it. None needs no broadcast (one driver round trip each).
    bc = None if shared is None else frame.sparkSession.sparkContext.broadcast(shared)

    def column(values, typ):
        if not pa.types.is_list(typ):
            return pa.array(values, type=typ, from_pandas=True)
        n, width = values.shape
        offsets = pa.array(np.arange(n + 1, dtype=np.int32) * width)
        flat = pa.array(values.reshape(-1), type=typ.value_type, from_pandas=True)
        return pa.ListArray.from_arrays(offsets, flat, type=typ)

    def run(batches):
        value = None if bc is None else bc.value
        for batch in batches:
            if not batch.num_rows:
                continue
            out = kernel(value, _numpy_columns(batch))
            if out is not None:
                yield pa.RecordBatch.from_arrays(
                    [column(out[f.name], f.type) for f in out_schema], schema=out_schema
                )

    return frame.mapInArrow(run, struct)


def _matrix(table):
    """(ids, matrix) of a (vec_id, embedding) Arrow table sorted by
    vec_id: the flattened embedding lists reshaped to (n, EMB_DIM).
    The matrix has that shape for every n, 0 included, so an empty
    corpus or codebook flows through the numpy kernels as zero rows."""
    cols = _numpy_columns(table.sort_by("vec_id").select(["vec_id", "embedding"]))
    return cols["vec_id"], cols["embedding"].reshape(table.num_rows, EMB_DIM)


def _collect_matrix(df):
    """Bounded driver fetch of (ids, matrix) sorted by id - for
    codebooks and query sets ONLY (fixed size at any corpus scale;
    never call on a corpus-sized frame)."""
    return _matrix(df.select("vec_id", "embedding").toArrow())


def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 neighbors for query vectors (vec_id < 5)."""
    emb = load_tables(spark, sf_dir, register_views=False)["embeddings"]
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    c = emb.filter(F.col("vec_id") >= N_QUERIES).select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("ce")
    )
    scored = broadcast(q).crossJoin(c).withColumn(
        "cos_sim", fround(cosine_sim(F.col("qe"), F.col("ce")), 4)
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
        .orderBy("query_id", "rank")
    )


def _hyperplanes(table: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes from md5(table|plane|dim):
    components in [-1, 1], reproducible everywhere."""
    planes = []
    for j in range(N_PLANES):
        row = []
        for d in range(EMB_DIM):
            h = int(hashlib.md5(f"{table}|{j}|{d}".encode()).hexdigest()[:15], 16)
            row.append((h % 2001 - 1000) / 1000.0)
        planes.append(row)
    return planes


def sim_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via random-hyperplane LSH: L=4 independent 6-bit hash
    tables (the standard recall lever — a neighbor is found if ANY
    table buckets it with the query) with Hamming-1 multi-probe on the
    query side (7 probes per table — costs probes, not index space),
    exact rerank over the deduplicated candidates. Rows-only check
    (approximate recall by design); tests assert recall against the
    exact top-k.

    Scale shape: candidates partition by (table, bucket) — the
    inverted index; each query touches ~L*(1+n_planes)/2^n_planes of
    the corpus instead of all of it, tunable via N_TABLES/N_PLANES.
    """
    emb = load_tables(spark, sf_dir, register_views=False)["embeddings"]

    def bucket(col, table: int):
        bits = []
        for j, plane in enumerate(_hyperplanes(table)):
            pl = F.array(*[F.lit(x) for x in plane])
            dot = F.aggregate(
                F.zip_with(col, pl, lambda a, b: a.cast("double") * b),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            # sign decided on the ROUNDED dot (6 dp, half-away): ±1e-16
            # fold-order noise rounds to ±0.0 in BOTH engines, so the
            # bucket bit — and therefore the candidate SET — is
            # engine-reproducible, which is what lets this ANN path
            # carry a full value oracle (round 4).
            bits.append(F.when(fround(dot, 6) >= 0, F.lit(1 << j)).otherwise(F.lit(0)))
        out = bits[0]
        for b in bits[1:]:
            out = out + b
        return out

    tables = F.array(
        *[
            F.struct(F.lit(t).alias("tbl"), bucket(F.col("embedding"), t).alias("bucket"))
            for t in range(N_TABLES)
        ]
    )
    with_bucket = emb.select("vec_id", "embedding", F.explode(tables).alias("tb")).select(
        "vec_id", "embedding", F.col("tb.tbl").alias("tbl"), F.col("tb.bucket").alias("bucket")
    )
    probes = F.array(
        F.col("bucket"), *[F.col("bucket").bitwiseXOR(F.lit(1 << j)) for j in range(N_PLANES)]
    )
    q = with_bucket.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        "tbl",
        F.explode(probes).alias("qb"),
    )
    c = with_bucket.filter(F.col("vec_id") >= N_QUERIES).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("ce"),
        F.col("tbl").alias("ctbl"),
        F.col("bucket").alias("cb"),
    )
    cand = (
        broadcast(q)
        .join(c, (F.col("tbl") == F.col("ctbl")) & (F.col("qb") == F.col("cb")))
        .select("query_id", "qe", "neighbor_id", "ce")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = cand.withColumn("cos_sim", fround(cosine_sim(F.col("qe"), F.col("ce")), 4))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
        .orderBy("query_id", "rank")
    )


N_CENTROIDS = 16
N_PROBE = 4


def _cosines(x, mat):
    """(n, k) cosines between the rows of ``x`` and of ``mat``,
    dot-then-divide like the oracles' dot / (|x| |c|), on the 1e-4 grid
    (fround_np: DuckDB ROUND semantics, scaled half-away-from-zero;
    np.round is banker's at scaled .5 ties). A zero norm gives NaN,
    where DuckDB's 0 / 0 gives NULL; _topk_desc ranks both last."""
    import numpy as np

    x_norms = np.sqrt((x * x).sum(axis=1))
    norms = np.sqrt((mat * mat).sum(axis=1))
    with np.errstate(invalid="ignore"):
        return fround_np((x @ mat.T) / np.outer(x_norms, norms))


def _topk_desc(cos, k):
    """Column indices of the k largest per row of ``cos``, ordered
    desc with ties broken to the SMALLEST index (== smallest cid: the
    codebook ids are sorted ascending) — lexsort((ids, -cos))
    semantics at O(K + k log k) per row instead of the full O(K log K)
    argsort. Tie handling: cos sits on the fround 1e-4 grid, so
    subtracting index·1e-9 (max K·1e-9 ≈ 1.3e-6 ≪ grid step) makes
    every key distinct and strictly index-ordered within a tie without
    ever crossing grid levels. A NaN cosine ranks below every number,
    as the oracles' NULL does under ORDER BY cos DESC (NULLS LAST):
    it keys as -2, under the smallest cosine, -1."""
    import numpy as np

    key = np.where(np.isnan(cos), -2.0, cos) - np.arange(cos.shape[1], dtype=np.float64) * 1e-9
    if k >= cos.shape[1]:
        return np.argsort(-key, axis=1)
    part = np.argpartition(-key, k - 1, axis=1)[:, :k]
    order = np.argsort(-np.take_along_axis(key, part, axis=1), axis=1)
    return np.take_along_axis(part, order, axis=1)


def _centroid_assign(
    emb: DataFrame, centroids, n_best: int, with_rank: bool = False
) -> DataFrame:
    """(vec_id, centroid_id) for each vector's ``n_best`` nearest
    centroids by cosine (rounded, centroid_id tie-break — deterministic
    across engines). ``centroids`` is either a (vec_id, embedding)
    DataFrame or an already-collected ``(ids, matrix)`` numpy pair
    (dedup's trained routing codebook arrives pre-collected).
    ``with_rank=True`` adds the 1-based ``crank``
    column (the probe width at which this centroid enters the
    vector's probe set — dedup_routed_probe_sweep folds every width
    from one assignment pass).

    Vectorized like dedup's pair kernel: the (tiny) codebook matrix is
    broadcast, each Arrow batch of vectors scores all centroids in one
    numpy matmul (a per-pair array-lambda crossJoin runs interpreted at
    ~35 us/pair — the assignment alone was >1 s at sf0.1) and ranks
    them with _topk_desc (row_number() over (cos desc, centroid_id
    asc)). Matmul reassociation stays ~1e-15 from the oracle's
    sequential fold, far below the 1e-4 rounding grid."""
    import numpy as np

    if not isinstance(centroids, tuple):
        centroids = _collect_matrix(centroids)

    def assign(codebook, cols):
        ids_b, mat_b = codebook
        # no centroids: no vector has a nearest one, so no rows
        if not len(ids_b):
            return None
        top = _topk_desc(_cosines(cols["embedding"], mat_b), n_best)
        n, k = top.shape
        out = {"vec_id": np.repeat(cols["vec_id"], k), "centroid_id": ids_b[top].reshape(-1)}
        if with_rank:
            out["crank"] = np.tile(np.arange(1, k + 1), n)
        return out

    schema = "vec_id long, centroid_id long" + (
        ", crank long" if with_rank else ""
    )
    return _arrow_map(emb.select("vec_id", "embedding"), assign, schema, centroids)


# Driver fast path bound for codebook training, probed with
# session.fetch_if_small: 65536 x 64-dim doubles = 32 MiB. Below it
# every round runs the block kernel once over the whole corpus on the
# driver; above it each round runs the same kernel per Arrow batch
# (_arrow_map) — result-identical on the 1e-4/1e-6 grids. Tests set it
# to 0 to force the second path.
CODEBOOK_TRAIN_LIMIT = 65536


def _sq_dists(x, mat, nd: int):
    """(n, k) squared L2 distances between the rows of ``x`` and of
    ``mat`` in the direct-difference form ((x - c) ** 2).sum(), on the
    10^-nd grid (fround_np). One centroid at a time, so the temporary
    is (n, d) rather than (n, k, d)."""
    import numpy as np

    d = np.empty((len(x), len(mat)))
    for j, c in enumerate(mat):
        d[:, j] = ((x - c) ** 2).sum(axis=1)
    return fround_np(d, nd)


def _pq_dists(x, mat, m: int):
    """(n, k) 1e-4-rounded squared distances between subspace ``m`` of
    the rows of ``x`` and of the stitched PQ codebook ``mat`` — the
    kernel the PQ trainer, encoder and ADC tables share."""
    sub = slice(m * PQ_SUB_DIM, (m + 1) * PQ_SUB_DIM)
    return _sq_dists(x[:, sub], mat[:, sub], 4)


def _pq_encode(x, mat):
    """``(codes, err)`` of the rows of ``x`` under the stitched PQ
    codebook ``mat``: codes[i, m] is the row of the first min of
    _pq_dists in subspace m (the lowest cid on ties — distances are
    rounded BEFORE the argmin, so selection never depends on sub-1e-4
    float noise) and err[i] sums the chosen rounded distances over the
    subspaces in order. The one encoder of the trainer, the quantizer
    and every ADC scan."""
    import numpy as np

    codes = np.empty((len(x), PQ_M), dtype=np.int64)
    err = np.zeros(len(x))
    rows = np.arange(len(x))
    for m in range(PQ_M):
        d = _pq_dists(x, mat, m)
        codes[:, m] = d.argmin(axis=1)
        err += d[rows, codes[:, m]]
    return codes, err


def _pq_lut(q, mat):
    """(|q|, PQ_M, k) ADC lookup table of the query rows ``q``:
    LUT[i, m, j] = _pq_dists of query i's subspace m to sub-centroid
    j of the stitched codebook ``mat``."""
    import numpy as np

    lut = np.empty((len(q), PQ_M, len(mat)))
    for m in range(PQ_M):
        lut[:, m, :] = _pq_dists(q, mat, m)
    return lut


def _nearest(x, mat, metric: str):
    """Row index into ``mat`` of each vector's nearest centroid and
    its rounded score. ``cosine``: the _topk_desc top-1 of the
    1e-4-rounded cosines (NaN last); ``l2``: first argmin of the
    1e-6-rounded squared distances. Codebook rows are sorted by id, so
    "first" is the smallest-cid tie-break (ROW_NUMBER ... cid ASC in
    the oracles)."""
    import numpy as np

    if metric == "cosine":
        scores = _cosines(x, mat)
        best = _topk_desc(scores, 1)[:, 0]
    else:
        scores = _sq_dists(x, mat, 6)
        best = scores.argmin(axis=1)
    return best, scores[np.arange(len(x)), best]


def _lloyd_partials(x, mat, metric: str):
    """One Lloyd map step: the per-cluster partial ``(sums, counts)``
    of the block of vectors ``x`` under the codebook ``mat``, both
    shaped like ``mat``. Counts are per element, so a PQ sub-cluster
    counts only the vectors whose subspace it won (``pq``: per-subspace
    _pq_encode). Serves unchanged as the driver step
    (the whole corpus as one block) and as the per-batch map kernel."""
    import numpy as np

    sums = np.zeros(mat.shape)
    counts = np.zeros(mat.shape, dtype=np.int64)
    if not (len(x) and len(mat)):
        return sums, counts
    if metric == "pq":
        codes, _ = _pq_encode(x, mat)
        for m in range(PQ_M):
            sub = slice(m * PQ_SUB_DIM, (m + 1) * PQ_SUB_DIM)
            np.add.at(sums[:, sub], codes[:, m], x[:, sub])
            np.add.at(counts[:, sub], codes[:, m], 1)
    else:
        best, _ = _nearest(x, mat, metric)
        np.add.at(sums, best, x)
        np.add.at(counts, best, 1)
    return sums, counts


def _distributed_partials(emb: DataFrame, mat, metric: str):
    """One Lloyd round's map and shuffle on Spark: _lloyd_partials per
    Arrow batch, emitted as (row, pos, s, c) rows for the elements it
    touched, summed per (row, pos) — a map-side-combined shuffle of
    at most K·d rows per task — and collected into ``(sums, counts)``
    arrays shaped like ``mat``."""
    import numpy as np

    def block_partials(mat_b, cols):
        sums, counts = _lloyd_partials(cols["embedding"], mat_b, metric)
        row, pos = np.nonzero(counts)
        return {"row": row, "pos": pos, "s": sums[row, pos], "c": counts[row, pos]}

    sums = np.zeros(mat.shape)
    counts = np.zeros(mat.shape, dtype=np.int64)
    for r in (
        _arrow_map(
            emb.select("embedding"), block_partials, "row long, pos long, s double, c long", mat
        )
        .groupBy("row", "pos")
        .agg(F.sum("s").alias("s"), F.sum("c").alias("c"))
        .collect()
    ):
        sums[r["row"], r["pos"]] = r["s"]
        counts[r["row"], r["pos"]] = r["c"]
    return sums, counts


def _train_codebook(
    emb: DataFrame,
    init: range,
    iters: int,
    metric: str,
):
    """The one Lloyd trainer: ``iters`` rounds over the (vec_id,
    embedding) frame ``emb`` from the codebook of its rows whose
    vec_id lies in ``init``, returning the bounded (ids, matrix) numpy
    pair (matrix (k, EMB_DIM), rows sorted by id).

    Each round is the reference's job shape: the map step assigns
    every vector to its nearest centroid and emits per-cluster partial
    sums (_lloyd_partials), the sums meet per cluster, and the update
    is their mean on the 1e-6 grid — ~9 orders above the engines'
    sum-order noise, so the fit is a fixed point both engines and the
    unrolled DuckDB oracles reproduce exactly. The metric decides the
    assignment (_nearest, _pq_dists) and the fate of a centroid that
    wins no vectors: ``cosine`` (IVF coarse, dedup route and fine) and
    ``l2`` (emb_kmeans) drop it; ``pq`` keeps it per subspace, so the
    stitched (PQ_K, EMB_DIM) codebook keeps its shape.

    Corpora of at most CODEBOOK_TRAIN_LIMIT vectors train on the
    driver (session.fetch_if_small is the size check AND the data);
    larger ones run each round as one corpus scan plus a K·d-row
    collect (_distributed_partials)."""
    table = fetch_if_small(emb, CODEBOOK_TRAIN_LIMIT)
    if table is not None:
        corpus_ids, corpus = _matrix(table)
        seed = (corpus_ids >= init.start) & (corpus_ids < init.stop)
        ids, mat = corpus_ids[seed], corpus[seed]

        def partials(mat):
            return _lloyd_partials(corpus, mat, metric)

    else:
        ids, mat = _collect_matrix(
            emb.filter(F.col("vec_id").between(init.start, init.stop - 1))
        )

        def partials(mat):
            return _distributed_partials(emb, mat, metric)

    for _ in range(iters):
        sums, counts = partials(mat)
        won = counts > 0
        mat[won] = fround_np(sums[won] / counts[won], 6)
        if metric != "pq":
            live = won.all(axis=1)
            ids, mat = ids[live], mat[live]
    return ids, mat


IVF_TRAIN_ITERS = 2


def _ivf_codebook(spark: SparkSession, sf_dir: str):
    """The TRAINED coarse quantizer every IVF-family operator routes
    on (round 10 — previously a fixed vec_id 5..20 stand-in): Lloyd
    over the candidate corpus (vec_id >= N_QUERIES) seeded from the
    former stand-in rows, via the shared quantized-grid trainer. The
    DuckDB twin is similarity_oracles._ivf_codebook_ctes (the
    dedup_semantic_routed unrolled-Lloyd composition). Memoized per
    (session, sf_dir) — every IVF-family operator shares ONE
    training."""

    def build():
        emb = load_tables(spark, sf_dir, register_views=False)[
            "embeddings"
        ].select("vec_id", "embedding")
        cand = emb.filter(F.col("vec_id") >= N_QUERIES)
        return _train_codebook(
            cand, range(N_QUERIES, N_QUERIES + N_CENTROIDS), IVF_TRAIN_ITERS, "cosine"
        )

    return _codebook_memo(
        spark,
        sf_dir,
        f"ivf_coarse[K={N_CENTROIDS},i={IVF_TRAIN_ITERS},lim={CODEBOOK_TRAIN_LIMIT}]",
        build,
    )


def sim_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: inverted-file buckets by nearest centroid, probe
    the query's 4 nearest lists, exact rerank inside them.

    The codebook is TRAINED (cosine Lloyd, _ivf_codebook) yet fully
    deterministic — quantized-grid rounds make the fit reproducible,
    so the operator keeps a full value-parity DuckDB oracle (the
    oracle unrolls the training rounds as CTEs) — unusual for ANN. At
    100 TB the candidate side is partitioned BY centroid_id (the
    inverted file); a query touches nprobe/nlist of the data instead
    of all of it.
    """
    return _ivf_topk(spark, sf_dir, N_PROBE)


def _ivf_topk(
    spark: SparkSession, sf_dir: str, nprobe: int, centroids=None
) -> DataFrame:
    """sim_ivf_ann's body with the probe width as a parameter — shared
    by the registry operator (nprobe = N_PROBE) and the
    sim_ivf_nprobe_sweep tuning curve (which trains the codebook once
    and passes it to every width)."""
    emb = load_tables(spark, sf_dir, register_views=False)["embeddings"]
    if centroids is None:
        centroids = _ivf_codebook(spark, sf_dir)
    cand = emb.filter(F.col("vec_id") >= N_QUERIES)
    q = emb.filter(F.col("vec_id") < N_QUERIES)

    cand_buckets = _centroid_assign(cand, centroids, 1).withColumnsRenamed(
        {"vec_id": "neighbor_id"}
    )
    q_probes = _centroid_assign(q, centroids, nprobe).withColumnsRenamed({"vec_id": "query_id"})

    qe = q.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe"))
    ce = cand.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("ce"))
    pairs = (
        broadcast(q_probes)
        .join(cand_buckets, "centroid_id")
        .join(broadcast(qe), "query_id")
        .join(ce, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            fround(cosine_sim(F.col("qe"), F.col("ce")), 4).alias("cos_sim"),
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
        .orderBy("query_id", "rank")
    )


def emb_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid vectors in long form (label, dim, centroid):
    posexplode the embedding column and average per (label, dim). One
    map-side-combined shuffle of 64 partial sums per label per task —
    the building block for k-means / IVF codebook training at scale
    (never materializes vectors on the driver)."""
    emb = load_tables(spark, sf_dir, register_views=False)["embeddings"]
    return (
        emb.select("label", F.posexplode("embedding").alias("pos", "x"))
        .groupBy("label", (F.col("pos") + 1).alias("dim"))
        .agg(fround(F.avg(F.col("x").cast("double")), 4).alias("centroid"))
        .orderBy("label", "dim")
    )


def emb_label_coherence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-tightness diagnostic: per-label vector count and the L2
    norm of the mean vector. Unit-norm inputs make the centroid norm
    exactly the average pairwise-alignment of the class (||c|| close
    to 1 = tight cluster, close to 0 = random). Same single-shuffle
    shape as emb_centroids, then a 640-row fold."""
    emb = load_tables(spark, sf_dir, register_views=False)["embeddings"]
    sums = (
        emb.select("label", F.posexplode("embedding").alias("pos", "x"))
        .groupBy("label", "pos")
        .agg(F.avg(F.col("x").cast("double")).alias("c"), F.count("*").alias("n"))
    )
    return (
        sums.groupBy("label")
        .agg(
            F.max("n").alias("n_vectors"),
            fround(F.sqrt(F.sum(F.col("c") * F.col("c"))), 4).alias("centroid_norm"),
        )
        .orderBy("label")
    )


def emb_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 scalar quantization of the embedding column —
    the storage/serving compression step (4x smaller vectors, fast
    int dot products). Per vector: scale = max|x| / 127, q_i =
    round(x_i / scale). Everything is array expressions in codegen;
    the verified output is one summary row per vector (scale + exact
    moments of the quantized values), so the oracle checks every q_i
    arithmetically without shipping a 100 TB long-form table through
    the compare."""
    emb = load_tables(spark, sf_dir, register_views=False)["embeddings"]
    amax = F.array_max(F.transform("embedding", lambda x: F.abs(x.cast("double"))))
    q = F.when(
        amax > 0,
        F.transform("embedding", lambda x: fround(x.cast("double") * 127 / F.col("amax"))),
    ).otherwise(F.transform("embedding", lambda x: F.lit(0.0)))
    return (
        emb.select("vec_id", "embedding", amax.alias("amax"))
        .select("vec_id", "amax", q.cast("array<int>").alias("q"))
        .select(
            "vec_id",
            fround(F.col("amax") / 127, 6).alias("scale"),
            F.aggregate("q", F.lit(0).cast("bigint"), lambda a, x: a + x).alias("q_sum"),
            F.aggregate(
                "q", F.lit(0).cast("bigint"), lambda a, x: a + F.abs(x)
            ).alias("q_l1"),
            F.array_min("q").alias("q_min"),
            F.array_max("q").alias("q_max"),
        )
        .orderBy("vec_id")
    )


def emb_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension distribution statistics over the embedding corpus
    (mean / population stddev / min / max / L2 energy per dim) — the
    whitening & normalization table computed before building an index
    or quantizer. Same single posexplode + map-side-combined shuffle
    as emb_centroids: 64 partial rows per task regardless of corpus
    size, never a vector on the driver."""
    emb = load_tables(spark, sf_dir, register_views=False)["embeddings"]
    x = F.col("x").cast("double")
    return (
        emb.select(F.posexplode("embedding").alias("pos", "x"))
        .groupBy((F.col("pos") + 1).alias("dim"))
        .agg(
            fround(F.avg(x), 4).alias("mean"),
            fround(F.stddev_pop(x), 4).alias("std"),
            fround(F.min(x), 4).alias("vmin"),
            fround(F.max(x), 4).alias("vmax"),
            fround(F.sum(x * x), 4).alias("energy"),
        )
        .orderBy("dim")
    )


KMEANS_K = 8
KMEANS_ITERS = 5


def emb_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means clustering summary: per-cluster size and within-cluster
    sum of squares after KMEANS_ITERS Lloyd rounds from the first
    KMEANS_K vectors by vec_id, trained by the shared trainer's ``l2``
    metric (squared distances on the 1e-6 grid before the argmin,
    smallest cid on ties; means on the 1e-6 grid). One closing corpus
    pass assigns every vector under the final centroids; wcss sums
    the rounded distances, so the unrolled DuckDB oracle reproduces
    every row exactly.

    Scale shape: the K x dim codebook is broadcast and each Arrow
    batch scores it in numpy — one corpus scan into a K-row
    aggregation, no crossJoin and no per-vector window."""
    emb = load_tables(spark, sf_dir, register_views=False)["embeddings"].select(
        "vec_id", "embedding"
    )

    def assign(codebook, cols):
        ids_b, mat_b = codebook
        if not len(ids_b):
            return None
        best, dist_sq = _nearest(cols["embedding"], mat_b, "l2")
        return {"cid": ids_b[best], "dist_sq": dist_sq}

    codebook = _train_codebook(emb, range(KMEANS_K), KMEANS_ITERS, "l2")
    return (
        _arrow_map(emb, assign, "cid int, dist_sq double", codebook)
        .groupBy("cid")
        .agg(
            F.count("*").alias("n_vectors"),
            fround(F.sum("dist_sq"), 2).alias("wcss"),
        )
        .orderBy("cid")
    )


def _cov_enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle covariance matrix of the embedding corpus in
    long form (i <= j, population covariance, plus the row's mu_i so
    PCA can rebuild the mean vector from the same frame) — the PCA /
    ZCA-whitening input that pairs with emb_dim_stats' per-dim moments.

    Scale shape: each Arrow batch folds into one 64x64 partial Gram
    matrix via numpy matmul (the same kernel as _centroid_assign), so
    the shuffle carries ~2k rows PER PARTITION regardless of corpus
    size — never a row per (vector, dim-pair). Means arrive by
    broadcast-joining the 64-row moment frame onto the pair totals;
    no driver collect, no cross join. Matmul reassociation stays
    ~1e-15 of the oracle's fold, far below the 1e-5 rounding grid.
    """
    import numpy as np
    import pandas as pd

    emb = load_tables(spark, sf_dir, register_views=False)["embeddings"]

    # gram folds EVERY batch of its partition into one partial Gram
    # matrix before it emits, so it is no per-batch _arrow_map kernel:
    # it keeps its own generator.
    def gram(batches):
        acc = None
        for pdf in batches:
            if pdf.empty:
                continue
            m = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            g = m.T @ m
            acc = g if acc is None else acc + g
        if acc is None:
            return
        iu = np.triu_indices(acc.shape[0])
        yield pd.DataFrame(
            {"i": (iu[0] + 1).astype("int32"), "j": (iu[1] + 1).astype("int32"), "s": acc[iu]}
        )

    pair_sums = (
        emb.select("embedding")
        .mapInPandas(gram, "i int, j int, s double")
        .groupBy("i", "j")
        .agg(F.sum("s").alias("s"))
    )
    means = (
        emb.select(F.posexplode("embedding").alias("pos", "x"))
        .groupBy((F.col("pos") + 1).cast("int").alias("dim"))
        .agg(F.avg(F.col("x").cast("double")).alias("mu"), F.count("*").alias("n"))
    )
    mi = means.select(F.col("dim").alias("i"), F.col("mu").alias("mu_i"), "n")
    mj = means.select(F.col("dim").alias("j"), F.col("mu").alias("mu_j"))
    return (
        pair_sums.join(F.broadcast(mi), "i")
        .join(F.broadcast(mj), "j")
        .select(
            "i",
            "j",
            fround(F.col("s") / F.col("n") - F.col("mu_i") * F.col("mu_j"), 5).alias("cov"),
            "mu_i",
        )
        .orderBy("i", "j")
    )


def emb_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle covariance matrix (registry view of
    _cov_enriched without the means column)."""
    return _cov_enriched(spark, sf_dir).select("i", "j", "cov")


PCA_K = 2


def _pca_fit(spark: SparkSession, sf_dir: str):
    """Driver-side spectral solve over the 64x64 covariance matrix
    (fixed size regardless of corpus — the only driver-sized object in
    the PCA pipeline). Returns (components dim x PCA_K leading-first,
    mean vector, descending eigenvalues, 4dp covariance trace). One
    collect serves the matrix, the mean vector (mu_i rides on every
    row; row (i, i) pins dim i's mean) and the trace."""
    import numpy as np

    from distributed_mapreduce_server_spark.functions import fround_scalar

    cov_rows = _cov_enriched(spark, sf_dir).collect()
    C = np.zeros((EMB_DIM, EMB_DIM))
    means = np.zeros(EMB_DIM)
    trace = 0.0
    for r in cov_rows:
        C[r["i"] - 1, r["j"] - 1] = r["cov"]
        C[r["j"] - 1, r["i"] - 1] = r["cov"]
        means[r["i"] - 1] = r["mu_i"]
        if r["i"] == r["j"]:
            trace += r["cov"]
    vals, vecs = np.linalg.eigh(C)  # ascending
    top = vecs[:, ::-1][:, :PCA_K]  # top-K components, leading first
    # no rows: a NULL trace, as DuckDB's SUM over no rows
    return top, means, vals[::-1][:PCA_K], fround_scalar(trace, 4) if cov_rows else None


def _pca_project_df(spark: SparkSession, sf_dir: str, comp, means) -> DataFrame:
    """Project every embedding onto the fitted components: the
    (comp, means) pair broadcasts and each Arrow batch projects with
    one numpy matmul."""
    import numpy as np

    def project(fit, cols):
        cmp_, mu = fit
        p = np.round((cols["embedding"] - mu) @ cmp_, 6)
        return {"vec_id": cols["vec_id"], **{f"pc{k + 1}": p[:, k] for k in range(p.shape[1])}}

    emb = load_tables(spark, sf_dir, register_views=False)["embeddings"]
    schema = "vec_id long, " + ", ".join(
        f"pc{k + 1} double" for k in range(comp.shape[1])
    )
    return _arrow_map(emb.select("vec_id", "embedding"), project, schema, (comp, means))


def emb_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA projection onto the top-PCA_K principal components — the
    dimensionality-reduction step after emb_covariance: whitening,
    visualization, or a compact pre-index embedding.

    Scale shape: the spectral solve runs on the DRIVER (_pca_fit,
    bounded 64x64), then the k projection vectors broadcast and every
    Arrow batch projects with one numpy matmul (_pca_project_df).
    Rows-only at the gate: eigenvector SIGN (and order under equal
    eigenvalues) is LAPACK-specific, so the signed coordinates cannot
    be oracle-hashed; everything sign-INVARIANT about the solve is
    oracle-gated by emb_pca_invariants instead.
    """
    comp, means, _vals, _trace = _pca_fit(spark, sf_dir)
    return _pca_project_df(spark, sf_dir, comp, means).orderBy("vec_id")


def emb_pca_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-gated PCA trust row (VERDICT r10 task 5): the
    sign-invariant contract of the spectral solve, verified per
    component k against live data —

    - mean_zero: projections of mean-centered data average to 0;
    - var_matches_eigenvalue: POPULATION variance of the projected
      data equals the k-th eigenvalue of the covariance matrix (the
      Rayleigh identity; tolerance 1e-3 covers the 1e-5 grid the
      matrix entries are rounded on, spectral perturbation <= 64·5e-6);
    - orthonormal: unit norm and <= 1e-9 dot with every other
      component;
    - variance_ordered: component variances descend;
    - cov_trace: the covariance trace (total variance budget), the
      one NUMERIC column DuckDB recomputes independently from the
      parquet — same 5dp-entry/4dp-sum rounding as the Spark side.

    The booleans are computed from the live solve and pinned TRUE by
    the oracle, so a broken eigh / projection / covariance fails the
    driver's hash gate, not just a local pytest; emb_pca_project's
    EXPECTED_ROWS_ONLY entry then covers ONLY the eigenvector
    sign/order ambiguity."""
    comp, means, vals, trace = _pca_fit(spark, sf_dir)
    proj = _pca_project_df(spark, sf_dir, comp, means)
    aggs = []
    for k in range(1, PCA_K + 1):
        aggs += [
            F.avg(f"pc{k}").alias(f"mean{k}"),
            F.var_pop(f"pc{k}").alias(f"var{k}"),
        ]
    # no rows: the NULL moments read as 0.0, the zero covariance's
    # eigenvalues, so every check holds vacuously (DuckDB pins TRUE)
    stats = {k: v or 0.0 for k, v in proj.agg(*aggs).collect()[0].asDict().items()}
    gram = comp.T @ comp
    rows = []
    for k in range(1, PCA_K + 1):
        ortho = abs(gram[k - 1, k - 1] - 1.0) <= 1e-9 and all(
            abs(gram[k - 1, j]) <= 1e-9 for j in range(PCA_K) if j != k - 1
        )
        ordered = (
            k == PCA_K or stats[f"var{k}"] >= stats[f"var{k + 1}"] - 1e-9
        )
        rows.append(
            (
                k,
                bool(abs(stats[f"mean{k}"]) <= 1e-4),
                bool(abs(stats[f"var{k}"] - float(vals[k - 1])) <= 1e-3),
                bool(ortho),
                bool(ordered),
                trace,
            )
        )
    return spark.createDataFrame(
        rows,
        "component int, mean_zero boolean, var_matches_eigenvalue boolean,"
        " orthonormal boolean, variance_ordered boolean, cov_trace double",
    ).orderBy("component")


def emb_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-backfill coverage audit: per document source, how many
    docs have an embedding row (doc_id == vec_id) and the coverage
    fraction — the monitoring table a pipeline watches while an
    embedding backfill crawls a 100 TB corpus (dedup_semantic_keep
    documents the partial-coverage semantics this audit quantifies).

    Scale shape: a key-partitioned left join of ids only (no text, no
    vectors cross the shuffle) followed by a map-side-combined
    aggregation down to one row per source."""
    tables = load_tables(spark, sf_dir, register_views=False)
    docs = tables["documents"].select("doc_id", "source")
    emb_ids = tables["embeddings"].select(
        F.col("vec_id").alias("doc_id"), F.lit(True).alias("embedded")
    )
    return (
        docs.join(emb_ids, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.count("embedded").alias("n_embedded"),
        )
        .select(
            "source",
            "n_docs",
            "n_embedded",
            fround(F.col("n_embedded") / F.col("n_docs"), 4).alias("coverage"),
        )
        .orderBy("source")
    )


PQ_M = 8  # subspaces (64 dims -> 8 x 8)
PQ_SUB_DIM = EMB_DIM // PQ_M


PQ_TRAIN_ITERS = 2


def _pq_codebook(emb: DataFrame, sf_dir: str | None = None):
    """The TRAINED per-subspace PQ codebook (round 10 — previously the
    fixed vec_id 5..20 stand-in): PQ_TRAIN_ITERS rounds of L2 Lloyd
    per subspace over the FULL corpus (the encoder encodes every
    vector), seeded from the former stand-in rows. ONE definition
    shared by the encoder (emb_pq_quantize) and every ADC serving
    scan, so they can never disagree on the codebook.

    Returns the (ids, stitched matrix) pair — block m of each row is
    subspace m's centroid — so every downstream kernel slices it per
    subspace (_pq_dists). Trained by the shared trainer's ``pq``
    metric (1e-4 distances before the argmin, 1e-6 means, keep-previous
    on empty) -> the oracles unroll the rounds as CTEs
    (similarity_oracles._pq_codebook_ctes). Callers that derive
    ``emb`` straight from load_tables pass ``sf_dir`` so the training
    memoizes per (session, sf_dir).
    """
    def build():
        return _train_codebook(
            emb.select("vec_id", "embedding"),
            range(N_QUERIES, N_QUERIES + PQ_K),
            PQ_TRAIN_ITERS,
            "pq",
        )

    if sf_dir is None:
        return build()
    # i/lim ride in the key like K does (ADVICE r12): a sweep that
    # retunes the training constants must never see a stale book.
    return _codebook_memo(
        emb.sparkSession,
        sf_dir,
        f"pq[M={PQ_M},K={PQ_K},i={PQ_TRAIN_ITERS},lim={CODEBOOK_TRAIN_LIMIT}]",
        build,
    )


PQ_K = 16  # centroids per sub-codebook -> 4-bit codes


def emb_pq_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization — the storage side of IVF-PQ ANN: each
    vector splits into PQ_M subspaces, and each subspace is encoded as
    the id of its nearest sub-codebook centroid (PQ_K=16 -> 4-bit
    codes, a 64x compression of a float32 vector). Output per vector:
    the PQ code word plus the reconstruction error — the quantization
    audit a serving index is sized against.

    Like sim_ivf_ann, the codebook is TRAINED (per-subspace L2 Lloyd,
    _pq_codebook, round 10) yet fully deterministic via the
    quantized-grid discipline, which keeps the whole operator
    reproducible -> FULL value parity (the oracle unrolls the
    training rounds), rare for a quantizer. Scale shape: the codebook is broadcast
    (PQ_K x EMB_DIM — fixed at any corpus size), each Arrow batch
    scores all subspaces with numpy broadcasting, nothing corpus-
    sized on the driver. Distances are rounded to the 1e-4 grid
    BEFORE the argmin (ties break to the lower centroid id) so the
    selection is stable across engines — the _centroid_assign
    pattern (_pq_encode)."""
    emb = load_tables(spark, sf_dir, register_views=False)["embeddings"]

    def encode(codebook, cols):
        ids_c, cen = codebook
        # an empty codebook encodes nothing (no nearest centroid)
        if not len(ids_c):
            return None
        codes, err = _pq_encode(cols["embedding"], cen)
        out = {"vec_id": cols["vec_id"], "recon_err": fround_np(err)}
        return out | {f"code{m}": ids_c[codes[:, m]] for m in range(PQ_M)}

    schema = (
        "vec_id long, "
        + ", ".join(f"code{m} int" for m in range(PQ_M))
        + ", recon_err double"
    )
    return _arrow_map(
        emb.select("vec_id", "embedding"), encode, schema, _pq_codebook(emb, sf_dir=sf_dir)
    ).orderBy("vec_id")


def sim_pq_adc_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-ADC ANN — the serving-side half of IVF-PQ: queries score
    candidates by Asymmetric Distance Computation (a per-query lookup
    table of subspace distances to every sub-centroid; a candidate's
    distance is 8 table lookups summed over its PQ code — no float
    vector is ever touched at query time). Top-10 per query by ADC
    distance.

    Fully deterministic given the deterministic codebook (distances
    rounded to the 1e-4 grid before argmin/sum, ties to the lower
    id), so this ANN variant carries a FULL value-parity oracle.
    Scale shape: the LUT is PQ_M x PQ_K doubles per query — built
    once from the bounded query set and broadcast; the candidate side
    streams through the same Arrow kernel that encodes it, so the
    scan reads codes-only state at serving time in a real index.

    Recall caveat (measured, not hidden): on this corpus's
    near-random vectors, 4-bit codes are quantization-limited even
    with the TRAINED per-subspace codebook (round 10) — 64 dims of
    noise cannot be summarized by 8x4 bits, which is what PQ does to
    unstructured data. Trained recalls are committed in SURVEY §2.4;
    a production index additionally ranks within IVF probe lists
    (sim_ivfpq_ann); the operator here verifies the ADC machinery
    itself, exactly."""
    import numpy as np

    emb = load_tables(spark, sf_dir, register_views=False)["embeddings"]
    _, cen_mat = _pq_codebook(emb, sf_dir=sf_dir)
    q_ids, q_mat = _collect_matrix(emb.filter(F.col("vec_id") < N_QUERIES))

    # LUT[q, m, j] = rounded squared distance from query q's subspace
    # m to sub-centroid j — fixed size (|Q| x 8 x 16) at any corpus
    lut = _pq_lut(q_mat, cen_mat)

    def score(shared, cols):
        cen, qids, tab = shared
        if not len(cen):
            return None
        # encode (emb_pq_quantize's encoder), then ADC-score all
        # queries against the batch via LUT gathers
        codes, _ = _pq_encode(cols["embedding"], cen)
        adc = np.zeros((len(qids), len(codes)))
        for m in range(PQ_M):
            adc += tab[:, m, :][:, codes[:, m]]
        return {
            "query_id": np.repeat(qids, len(codes)),
            "neighbor_id": np.tile(cols["vec_id"], len(qids)),
            "adc_dist": fround_np(adc).reshape(-1),
        }

    cand = emb.filter(F.col("vec_id") >= N_QUERIES).select("vec_id", "embedding")
    scored = _arrow_map(
        cand, score, "query_id long, neighbor_id long, adc_dist double", (cen_mat, q_ids, lut)
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adc_dist"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "adc_dist", "rank")
        .orderBy("query_id", "rank")
    )


def sim_ivfpq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN — the two serving halves composed the way a
    production index (FAISS IVFPQ) ships them: the coarse quantizer
    routes every candidate into its nearest IVF list (sim_ivf_ann's
    assignment), queries probe their N_PROBE nearest lists, and
    INSIDE the probed lists candidates are scored by PQ-ADC over
    their code words (sim_pq_adc_ann's LUT kernel) — no float vector
    is touched at query time, and only nprobe/nlist of the corpus is
    scanned per query. This is the ``by_residual=False`` IVFPQ
    variant (codes encode raw vectors, not list residuals), which is
    a real FAISS option and what keeps the operator fully
    deterministic -> FULL value-parity oracle, like both parents.

    Scale shape: candidate codes+list-ids partition BY centroid_id
    (the inverted file); the query LUT is |Q| x PQ_M x PQ_K doubles —
    bounded at any corpus size — broadcast to the Arrow kernel; the
    probe join is an equi-join on centroid_id whose fan-out is list
    size, never the corpus. Recall carries both parents' documented
    caveats (untrained stand-in codebooks on near-random vectors);
    the machinery — routing, probing, encode, ADC — is verified
    exactly."""
    import numpy as np

    emb = load_tables(spark, sf_dir, register_views=False)["embeddings"]
    centroids = _ivf_codebook(spark, sf_dir)
    cand = emb.filter(F.col("vec_id") >= N_QUERIES)
    q = emb.filter(F.col("vec_id") < N_QUERIES)

    cand_buckets = _centroid_assign(cand, centroids, 1).withColumnsRenamed(
        {"vec_id": "neighbor_id"}
    )
    q_probes = _centroid_assign(q, centroids, N_PROBE).withColumnsRenamed(
        {"vec_id": "query_id"}
    )

    # ADC lookup table from the bounded query set (sim_pq_adc_ann's
    # construction, shared rounding discipline)
    _, cen_mat = _pq_codebook(emb, sf_dir=sf_dir)
    q_ids, q_mat = _collect_matrix(q)
    lut = _pq_lut(q_mat, cen_mat)

    # candidates restricted to probed lists BEFORE any scoring — the
    # IVF pruning is the point; each candidate sits in exactly one
    # list and probes are distinct, so pairs are already unique
    ce = cand.select(F.col("vec_id").alias("neighbor_id"), "embedding")
    pairs = (
        broadcast(q_probes)
        .join(cand_buckets, "centroid_id")
        .select("query_id", "neighbor_id")
        .join(ce, "neighbor_id")
    )

    def score(shared, cols):
        cen, qids, tab = shared
        if not len(cen):
            return None
        codes, _ = _pq_encode(cols["embedding"], cen)
        # LUT row of each pair's query: the query ids are sorted
        qi = np.searchsorted(qids, cols["query_id"])
        adc = np.zeros(len(qi))
        for m in range(PQ_M):
            adc += tab[qi, m, codes[:, m]]
        return {
            "query_id": cols["query_id"],
            "neighbor_id": cols["neighbor_id"],
            "adc_dist": fround_np(adc),
        }

    scored = _arrow_map(
        pairs, score, "query_id long, neighbor_id long, adc_dist double", (cen_mat, q_ids, lut)
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adc_dist"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "adc_dist", "rank")
        .orderBy("query_id", "rank")
    )


def sim_ann_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN recall harness: every approximate serving arm (Hamming/BQ,
    IVF, IVF-PQ, LSH, full-scan PQ-ADC) scored against the exact
    cosine top-k — the one-table answer to "which index can I trust
    at which recall" that an ANN stack publishes before pointing any
    arm at 100 TB (dedup_lsh_eval's role, for the similarity side).

    recall@k = |arm ∩ exact top-k| / |exact top-k|. Every arm here is
    deterministic (rounded-grid selection, id tie-breaks), so the
    report itself carries a FULL value oracle — the DuckDB side
    re-runs each arm's own oracle SQL as a CTE and intersects, so the
    eval can never drift from the operators it evaluates. Each arm
    keeps its own scale shape; the intersections are top-k-sized
    joins (|Q|·k rows), nothing corpus-scale beyond the arms
    themselves."""
    from distributed_mapreduce_server_spark.functions import fround_scalar

    exact = sim_cosine_topk(spark, sf_dir).select("query_id", "neighbor_id").persist()
    n_exact = exact.count()
    arms = [
        ("hamming", sim_hamming_ann),
        ("ivf", sim_ivf_ann),
        ("ivfpq", sim_ivfpq_ann),
        ("lsh", sim_lsh_ann),
        ("pq_adc", sim_pq_adc_ann),
    ]
    rows = []
    for name, fn in arms:
        got = fn(spark, sf_dir).select("query_id", "neighbor_id").persist()
        n_ret = got.count()
        n_hit = got.join(exact, ["query_id", "neighbor_id"], "left_semi").count()
        got.unpersist()
        # no exact neighbors (no queries): recall is NULL, as in DuckDB
        recall = fround_scalar(n_hit / n_exact, 4) if n_exact else None
        rows.append((name, n_ret, n_hit, recall))
    exact.unpersist()
    return spark.createDataFrame(
        rows, "arm string, n_returned bigint, n_hits bigint, recall_at_k double"
    ).orderBy("arm")


# all-pairs k-NN join: neighbors kept per vector (block count B is
# adaptive, blocked.BLOCK_TARGET_ROWS rows per block)
KNN_K = 5


def sim_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs k-NN JOIN: every vector's top-5 most-similar other
    vectors by cosine — the batch kernel behind SemDedup-style
    clustering, embedding-graph construction, and retrieval-index
    bootstrapping (sim_cosine_topk answers a small query SET; this
    answers it for the WHOLE corpus).

    Scale shape: vectors hash into B adaptive blocks; each unordered
    block pair is one cogrouped applyInPandas task that computes its
    cos sub-matrix (numpy matmul) and emits only each vector's LOCAL
    top-k within that cell — so the shuffle out of the kernel is
    <= k rows per (vector, cell), i.e. k*B per vector, never the n^2
    score matrix. A final per-vector window merges the partial top-ks.
    Per-task memory is two n/B-row blocks; B trades task count
    against replication exactly like the dedup matmul
    (dedup.py:_blocked_cosine_pairs). The n^2 flop count is the
    operator's exact semantics; the approximate regime (IVF/LSH/PQ)
    lives in the sim_*_ann family.

    Determinism: scores are rounded to the 1e-4 grid half-away (DuckDB
    ROUND semantics) BEFORE local selection AND the local selection
    uses the same (cos desc, nbr_id asc) order as the final window, so
    a tied global top-k member can never be dropped by a cell. The
    grid scaffold is shared with the dedup matmul via blocked.py.
    """
    import numpy as np
    import pandas as pd

    from distributed_mapreduce_server_spark.operators.blocked import (
        blocked_cosine_grid,
    )

    emb = load_tables(spark, sf_dir, register_views=False)["embeddings"]

    def _local_topk(ids_from: np.ndarray, ids_to: np.ndarray, cos: np.ndarray):
        """Per row of ``cos``: the <=k best (cos desc, id asc) columns.
        One C-level lexsort over the whole cell — no per-row Python
        loop; ties at the k boundary resolve by id, matching the
        final merge window, so a global top-k member always
        survives its cell."""
        k = min(KNN_K, cos.shape[1])
        order = np.lexsort((np.broadcast_to(ids_to, cos.shape), -cos), axis=-1)[:, :k]
        top_cos = np.take_along_axis(cos, order, axis=1)
        keep = (top_cos > -np.inf).reshape(-1)  # drop masked self-pairs
        return pd.DataFrame(
            {
                "vec_id": np.repeat(ids_from, k)[keep],
                "nbr_id": ids_to[order].reshape(-1)[keep],
                "cos_sim": top_cos.reshape(-1)[keep],
            }
        )

    def cell(diagonal, a_ids, b_ids, cos):
        if diagonal:
            cos = cos.copy()
            cos[a_ids[:, None] == b_ids[None, :]] = -np.inf
            return _local_topk(a_ids, b_ids, cos)
        return pd.concat(
            [_local_topk(a_ids, b_ids, cos), _local_topk(b_ids, a_ids, cos.T)],
            ignore_index=True,
        )

    from distributed_mapreduce_server_spark.catalog import table_row_count

    cand = blocked_cosine_grid(
        spark, emb, None, cell, "vec_id long, nbr_id long, cos_sim double",
        n_hint=table_row_count(sf_dir, "embeddings"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos_sim"), F.asc("nbr_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= KNN_K)
        .select("vec_id", "nbr_id", "cos_sim", "rank")
        .orderBy("vec_id", "rank")
    )


# deterministic fake encoder: output dim and the re-encode tail size
# (newest docs re-embedded after a model refresh)
ENC_DIM = 8
EMB_REFRESH_TAIL = 100


def emb_encode_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding BACKFILL inference — the pipeline stage emb_coverage
    audits and dedup_semantic_keep consumes: encode every document
    that is missing an embedding row, plus re-encode the newest
    EMB_REFRESH_TAIL docs (the shard a model refresh re-embeds).
    Output is long-form (doc_id, dim, val).

    Scale shape: the backfill set comes from one ids-only
    key-partitioned left join (flag null = missing) + a 1-row
    broadcast max-id cutoff; encoding runs per Arrow batch
    (_arrow_map) — batches stream through the Python worker with NO
    shuffle, memory bounded by
    spark.sql.execution.arrow.maxRecordsPerBatch, perfectly parallel
    across input splits. That is exactly the production
    batch-inference shape; swapping the hash kernel below for a real
    model forward pass (ONNX/torch session per worker, reused across
    batches) changes nothing about the plan. The deterministic
    stand-in — val(d) = (md5_u60(text|'|'|d) % 2001 - 1000)/1000 —
    exists so the whole stage carries a FULL value oracle (DuckDB
    reproduces md5 bit-for-bit), like the multimodal decode fake
    (multimodal.py).
    """
    import numpy as np

    tables = load_tables(spark, sf_dir, register_views=False)
    docs = tables["documents"].select("doc_id", "text")
    have = tables["embeddings"].select(
        F.col("vec_id").alias("doc_id"), F.lit(True).alias("has_emb")
    )
    cut = docs.agg((F.max("doc_id") - (EMB_REFRESH_TAIL - 1)).alias("tail_from"))
    backfill = (
        docs.join(have, "doc_id", "left")
        .crossJoin(broadcast(cut))
        .filter(F.col("has_emb").isNull() | (F.col("doc_id") >= F.col("tail_from")))
        .select("doc_id", "text")
    )

    def encode(_, cols):
        dims = range(1, ENC_DIM + 1)
        hashes = [
            int(hashlib.md5(f"{text}|{d}".encode()).hexdigest()[:15], 16)
            for text in cols["text"]
            for d in dims
        ]
        return {
            "doc_id": np.repeat(cols["doc_id"], ENC_DIM),
            "dim": np.tile(dims, len(cols["doc_id"])),
            "val": (np.array(hashes, dtype=np.int64) % 2001 - 1000) / 1000.0,
        }

    return _arrow_map(backfill, encode, "doc_id long, dim int, val double").orderBy(
        "doc_id", "dim"
    )


RANGE_SEARCH_T = 0.3


def sim_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine RANGE search: every corpus neighbor within similarity >=
    RANGE_SEARCH_T of each query vector — the radius-query twin of
    sim_cosine_topk (retrieval wants top-k; dedup/matching wants
    "everything this close", where the result size is data-dependent).
    Same scale shape as top-k: broadcast the bounded query set, scan
    the corpus once, emit only threshold survivors — no ranking
    window at all, so the plan is scan + broadcast join + filter. The
    threshold compares the ROUNDED score (fround 4) in both engines,
    so the boundary cannot flip on a sub-rounding ulp.
    """
    emb = load_tables(spark, sf_dir, register_views=False)["embeddings"]
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    c = emb.filter(F.col("vec_id") >= N_QUERIES).select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("ce")
    )
    return (
        broadcast(q)
        .crossJoin(c)
        .withColumn("cos_sim", fround(cosine_sim(F.col("qe"), F.col("ce")), 4))
        .filter(F.col("cos_sim") >= RANGE_SEARCH_T)
        .select("query_id", "neighbor_id", "cos_sim")
        .orderBy("query_id", "neighbor_id")
    )


MMR_QUERY_ID = 0
MMR_CANDIDATES = 30
MMR_K = 10
MMR_LAMBDA = 0.7
MMR_ONE_MINUS_LAMBDA = 0.3  # explicit literal: 1 - 0.7 != 0.3 in doubles


def sim_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein):
    from the top-MMR_CANDIDATES cosine hits for the query vector,
    greedily select MMR_K results maximizing
    0.7·rel(d) − 0.3·max_{s∈selected} sim(d, s) — relevance with a
    diversity penalty, the standard serving-side re-rank after ANN.

    Scale shape: candidate generation is the distributed part (one
    broadcast-query corpus scan + sort-limit top-30, exactly
    sim_cosine_topk's plan). The greedy loop then runs driver-side
    over the CANDIDATE SET ONLY — a bounded MMR_CANDIDATES-row
    collect, constant at any corpus scale. Both rel and pairwise
    sims are rounded to 4 dp before selection with vec_id
    tie-breaks, and the pairwise cosines are computed dot-then-divide
    (same FP operation order as the oracle's dot/(|x||y|), NOT
    normalize-then-matmul) so the greedy path is engine-reproducible;
    the oracle unrolls the same 10 steps as sequential CTEs."""
    import numpy as np

    emb = load_tables(spark, sf_dir, register_views=False)["embeddings"]
    q = emb.filter(F.col("vec_id") == MMR_QUERY_ID).select(F.col("embedding").alias("qe"))
    c = emb.filter(F.col("vec_id") != MMR_QUERY_ID).select("vec_id", "embedding")
    cand = (
        broadcast(q)
        .crossJoin(c)
        .select(
            "vec_id",
            "embedding",
            fround(cosine_sim(F.col("qe"), F.col("embedding")), 4).alias("rel"),
        )
        .orderBy(F.desc("rel"), F.asc("vec_id"))
        .limit(MMR_CANDIDATES)
    )
    table = cand.toArrow()  # bounded: MMR_CANDIDATES rows
    ids = sorted(table["vec_id"].to_pylist())
    rel = dict(zip(table["vec_id"].to_pylist(), table["rel"].to_pylist()))
    _, mat = _matrix(table)
    norms = np.linalg.norm(mat, axis=1)
    sim = fround_np((mat @ mat.T) / np.outer(norms, norms), 4)

    idx = {v: i for i, v in enumerate(ids)}
    selected: list[int] = []
    remaining = set(ids)
    picks = []
    while len(selected) < MMR_K and remaining:
        if not selected:
            # first pick: pure relevance
            best = max(remaining, key=lambda v: (rel[v], -v))
        else:
            sel_idx = [idx[s] for s in selected]

            def score(v: int) -> float:
                return (
                    MMR_LAMBDA * rel[v]
                    - MMR_ONE_MINUS_LAMBDA * float(np.max(sim[idx[v], sel_idx]))
                )

            best = max(remaining, key=lambda v: (score(v), -v))
        selected.append(best)
        remaining.discard(best)
        picks.append((len(selected), best, rel[best]))
    return spark.createDataFrame(picks, "mmr_rank int, vec_id bigint, rel double").orderBy(
        "mmr_rank"
    )


MATRYOSHKA_DIM = 16


def sim_matryoshka_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style truncation evaluation: for each query, how
    much of the full-dimension cosine top-k survives when vectors are
    truncated to the first MATRYOSHKA_DIM dims (the MRL serving
    trade-off: 4x less memory/bandwidth per vector vs recall). Emits
    per-query overlap and recall@k between the two rankings — the
    measurement that decides whether the cheap index is good enough.

    Plan shape: both rankings are the sim_cosine_topk plan (broadcast
    queries x one corpus scan; the truncated arm scans SLICED arrays,
    so at scale the column reader feeds 4x fewer bytes into the
    kernel); the final overlap join is k-vs-k per query."""
    emb = load_tables(spark, sf_dir, register_views=False)["embeddings"]

    def topk(vec_expr_q, vec_expr_c, label: str) -> DataFrame:
        q = emb.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"), vec_expr_q.alias("qe")
        )
        c = emb.filter(F.col("vec_id") >= N_QUERIES).select(
            F.col("vec_id").alias("neighbor_id"), vec_expr_c.alias("ce")
        )
        scored = broadcast(q).crossJoin(c).select(
            "query_id",
            "neighbor_id",
            fround(cosine_sim(F.col("qe"), F.col("ce")), 4).alias("s"),
        )
        w = Window.partitionBy("query_id").orderBy(F.desc("s"), F.asc("neighbor_id"))
        return (
            scored.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= TOP_K)
            .select("query_id", F.col("neighbor_id").alias(f"nb_{label}"))
        )

    full = topk(F.col("embedding"), F.col("embedding"), "full")
    trunc_expr = F.slice(F.col("embedding"), 1, MATRYOSHKA_DIM)
    trunc = topk(trunc_expr, trunc_expr, "trunc")
    overlap = full.join(
        trunc.withColumnRenamed("query_id", "qid2"),
        (F.col("query_id") == F.col("qid2")) & (F.col("nb_full") == F.col("nb_trunc")),
    )
    counts = overlap.groupBy("query_id").agg(F.count("*").cast("integer").alias("n_overlap"))
    # left join from the query list so a fully-divergent ranking still
    # reports its query with recall 0 instead of silently vanishing
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(F.col("vec_id").alias("query_id"))
    return (
        queries.join(counts, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_overlap"), F.lit(0)).cast("integer").alias("n_overlap"),
            fround(
                F.coalesce(F.col("n_overlap"), F.lit(0)) / F.lit(float(TOP_K)), 2
            ).alias("recall_at_k"),
        )
        .orderBy("query_id")
    )


def _sign_words(col: "F.Column") -> tuple["F.Column", "F.Column"]:
    """Pack a 64-dim vector's sign bits into two 32-bit words
    (MSB-first fold acc*2 + bit — variable-shift-free, identical
    integer arithmetic in DuckDB's weighted list_sum twin)."""

    def word(start: int):
        bits = F.transform(
            F.slice(col, start, 32), lambda x: (x > 0).cast("bigint")
        )
        return F.aggregate(bits, F.lit(0).cast("bigint"), lambda acc, b: acc * 2 + b)

    return word(1), word(33)


def emb_binary_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-bit binary quantization (sign bits): each 64-dim float vector
    compressed to two 32-bit words — 256 bytes -> 8, the cheapest
    serving representation below int8 (emb_quantize) and PQ
    (emb_pq_quantize). Pure codegen column expressions; exact integer
    output so the oracle is bit-perfect, no rounding discipline
    needed."""
    emb = load_tables(spark, sf_dir, register_views=False)["embeddings"]
    hi, lo = _sign_words(F.col("embedding"))
    return (
        emb.select(
            "vec_id",
            hi.alias("sig_hi"),
            lo.alias("sig_lo"),
            (F.bit_count(hi) + F.bit_count(lo)).cast("integer").alias("n_pos_dims"),
        )
        .orderBy("vec_id")
    )


def _hamming_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, neighbor_id, hamming) over the binary signatures —
    the shared scoring frame behind sim_hamming_ann (direct top-k)
    and sim_bq_rerank (shortlist stage): broadcast query signatures x
    one 8-byte-signature scan, popcount-of-XOR distance."""
    sigs = emb_binary_quantize(spark, sf_dir).select("vec_id", "sig_hi", "sig_lo")
    q = sigs.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("sig_hi").alias("q_hi"),
        F.col("sig_lo").alias("q_lo"),
    )
    c = sigs.filter(F.col("vec_id") >= N_QUERIES).select(
        F.col("vec_id").alias("neighbor_id"), "sig_hi", "sig_lo"
    )
    dist = (
        F.bit_count(F.col("q_hi").bitwiseXOR(F.col("sig_hi")))
        + F.bit_count(F.col("q_lo").bitwiseXOR(F.col("sig_lo")))
    ).cast("integer")
    return broadcast(q).crossJoin(c).select("query_id", "neighbor_id", dist.alias("hamming"))


HAMMING_TOP_K = 10


def sim_hamming_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN over the binary-quantized vectors: top-k by Hamming
    distance between sign signatures (popcount of XOR) — the serving
    scan that pairs with emb_binary_quantize. The whole query is
    integer-only (no float ties anywhere): broadcast 5-query
    signature set x one signature scan, per-query top-k via window
    rank with id tie-break. At scale the candidate side reads 8-byte
    signatures instead of 256-byte vectors — a 32x scan-bandwidth
    cut, which is the entire point of binary quantization."""
    scored = _hamming_scored(spark, sf_dir)
    w = Window.partitionBy("query_id").orderBy(F.asc("hamming"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("integer"))
        .filter(F.col("rank") <= HAMMING_TOP_K)
        .select("query_id", "neighbor_id", "hamming", "rank")
        .orderBy("query_id", "rank")
    )


BQ_SHORTLIST = 50


def sim_bq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The real binary-quantization serving pattern: Hamming shortlist
    (top BQ_SHORTLIST signatures per query — the 8-byte scan), then
    EXACT cosine rerank of only those candidates against the full
    float vectors (the 256-byte reads drop from corpus-sized to
    shortlist-sized). Both stages are deterministic (integer distance
    + id tie-break; rounded cosine + id tie-break), so unlike most
    two-stage ANN this carries a full value-parity oracle."""
    emb = load_tables(spark, sf_dir, register_views=False)["embeddings"]
    wham = Window.partitionBy("query_id").orderBy(F.asc("hamming"), F.asc("neighbor_id"))
    shortlist = (
        _hamming_scored(spark, sf_dir)
        .withColumn("hrank", F.row_number().over(wham))
        .filter(F.col("hrank") <= BQ_SHORTLIST)
        .select("query_id", "neighbor_id")
    )
    qv = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qv_id"), F.col("embedding").alias("qe")
    )
    cv = emb.select(F.col("vec_id").alias("cv_id"), F.col("embedding").alias("ce"))
    scored = (
        shortlist.join(broadcast(qv), F.col("query_id") == F.col("qv_id"))
        .join(cv, F.col("neighbor_id") == F.col("cv_id"))
        .select(
            "query_id",
            "neighbor_id",
            fround(cosine_sim(F.col("qe"), F.col("ce")), 4).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("integer"))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
        .orderBy("query_id", "rank")
    )


def emb_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-quality report: assign every vector to its nearest IVF
    centroid (the deterministic codebook sim_ivf_ann uses) and score
    each cluster's label PURITY — majority-label fraction + distinct
    labels — against the embeddings' ground-truth label column. The
    measurement that decides whether a codebook is good enough to
    route by. Assignment is the vectorized broadcast-codebook kernel;
    purity is max_by over per-(cluster, label) counts — two tiny aggs
    above one corpus pass."""
    emb = load_tables(spark, sf_dir, register_views=False)["embeddings"]
    centroids = emb.filter(
        (F.col("vec_id") >= N_QUERIES) & (F.col("vec_id") < N_QUERIES + N_CENTROIDS)
    )
    assigned = _centroid_assign(emb, centroids, 1).join(
        emb.select("vec_id", "label"), "vec_id"
    )
    per_label = assigned.groupBy("centroid_id", "label").agg(
        F.count("*").alias("n")
    )
    return (
        per_label.groupBy("centroid_id")
        .agg(
            F.sum("n").alias("n_vectors"),
            F.countDistinct("label").alias("n_labels"),
            F.max_by(F.col("label"), F.struct(F.col("n"), -F.col("label"))).alias(
                "majority_label"
            ),
            fround(F.max("n") / F.sum("n"), 4).alias("purity"),
        )
        .orderBy("centroid_id")
    )


NORM_OUTLIER_SIGMA = 2.5


def emb_norm_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-norm outliers: vectors whose L2 norm sits more than
    NORM_OUTLIER_SIGMA·σ from the corpus mean — the 30-second sanity gate before any
    index build (a batch of zero vectors or exploded norms from a bad
    encoder checkpoint shows up here first; the ANN arms all assume
    roughly calibrated norms).

    Scale shape: the norm is a per-row sequential array fold (same
    left-to-right order as the oracle's list_sum — bit-comparable,
    the cosine_sim contract); (μ, σ) reduce to a 1-row broadcast
    joined back, exactly the q_events_anomaly shape — no window over
    the corpus, two passes, nothing vector-sized on the driver."""
    emb = load_tables(spark, sf_dir, register_views=False)["embeddings"]
    norm = F.sqrt(
        F.aggregate(
            "embedding",
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )
    norms = emb.select("vec_id", "label", norm.alias("norm"))
    stats = norms.agg(
        F.avg("norm").alias("mu"), F.stddev_samp("norm").alias("sigma")
    )
    return (
        norms.crossJoin(F.broadcast(stats))
        .filter(F.abs(F.col("norm") - F.col("mu")) > NORM_OUTLIER_SIGMA * F.col("sigma"))
        .select(
            "vec_id",
            "label",
            fround("norm", 4).alias("norm"),
            fround((F.col("norm") - F.col("mu")) / F.col("sigma"), 4).alias("z"),
        )
        .orderBy("vec_id")
    )


def emb_centroid_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-class centroid geometry: L2 distance and cosine between
    every pair of label centroids — the class-separability map read
    next to emb_label_coherence (tight classes whose centroids sit on
    top of each other are still unseparable; this is the between-class
    half of that diagnostic).

    Scale shape: one map-side-combined shuffle to the (label × dim)
    centroid frame (the emb_centroids kernel — nothing vector-sized
    on the driver), then all pair arithmetic runs on the K·64-row
    aggregate. Centroids are rounded to 4 dp BEFORE the pair math in
    both engines, so the distance sums start from identical inputs."""
    emb = load_tables(spark, sf_dir, register_views=False)["embeddings"]
    c = (
        emb.select("label", F.posexplode("embedding").alias("pos", "x"))
        .groupBy("label", "pos")
        .agg(fround(F.avg(F.col("x").cast("double")), 4).alias("c"))
    )
    norms = c.groupBy("label").agg(F.sum(F.col("c") * F.col("c")).alias("ss"))
    a = c.select(F.col("label").alias("la"), "pos", F.col("c").alias("ca"))
    b = c.select(F.col("label").alias("lb"), "pos", F.col("c").alias("cb"))
    pairs = (
        a.join(b, "pos")
        .filter(F.col("la") < F.col("lb"))
        .groupBy("la", "lb")
        .agg(
            F.sum(F.col("ca") * F.col("cb")).alias("dot"),
            F.sum((F.col("ca") - F.col("cb")) * (F.col("ca") - F.col("cb"))).alias("d2"),
        )
    )
    return (
        pairs.join(norms.select(F.col("label").alias("la"), F.col("ss").alias("ssa")), "la")
        .join(norms.select(F.col("label").alias("lb"), F.col("ss").alias("ssb")), "lb")
        .select(
            F.col("la").alias("label_a"),
            F.col("lb").alias("label_b"),
            fround(F.sqrt("d2"), 6).alias("l2_dist"),
            fround(
                F.col("dot") / (F.sqrt("ssa") * F.sqrt("ssb")), 6
            ).alias("cosine"),
        )
        .orderBy("label_a", "label_b")
    )


IVF_SWEEP_PROBES = (1, 2, 4, 8)


def sim_ivf_nprobe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF tuning curve: recall@k vs probe width for
    IVF_SWEEP_PROBES — the table an ANN operator reads to pick nprobe
    (latency grows ~linearly with probes; recall saturates), extending
    sim_ann_eval's single-point IVF row to the whole dial. Every
    point is the SAME deterministic IVF arm (_ivf_topk) at a
    different width, so the sweep carries a full composed oracle —
    the DuckDB side re-runs the IVF chain per width and intersects
    with the exact top-k, like sim_ann_eval. Cost scales with
    Σ probes × bucket size; the exact baseline is the bounded
    broadcast-query-set scan."""
    from distributed_mapreduce_server_spark.functions import fround_scalar

    exact = sim_cosine_topk(spark, sf_dir).select("query_id", "neighbor_id").persist()
    n_exact = exact.count()
    codebook = _ivf_codebook(spark, sf_dir)
    rows = []
    for nprobe in IVF_SWEEP_PROBES:
        got = (
            _ivf_topk(spark, sf_dir, nprobe, centroids=codebook)
            .select("query_id", "neighbor_id")
            .persist()
        )
        n_ret = got.count()
        n_hit = got.join(exact, ["query_id", "neighbor_id"], "left_semi").count()
        got.unpersist()
        # no exact neighbors (no queries): recall is NULL, as in DuckDB
        recall = fround_scalar(n_hit / n_exact, 4) if n_exact else None
        rows.append((nprobe, n_ret, n_hit, recall))
    exact.unpersist()
    return spark.createDataFrame(
        rows, "nprobe int, n_returned bigint, n_hits bigint, recall_at_k double"
    ).orderBy("nprobe")


KNN_OUTLIER_SIGMA = 1.5


def emb_outlier_knn_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN-distance outliers (round 8): vectors whose similarity to
    their KNN_K-th nearest neighbor sits more than KNN_OUTLIER_SIGMA·σ
    BELOW the corpus mean — the density-based isolation score
    (Ramaswamy et al. 2000's k-distance, in cosine form) that catches
    lone mis-embedded points emb_norm_outliers' norm gate cannot (a
    bad vector with a perfectly calibrated norm still lands far from
    everything). The contamination gate an embedding corpus runs
    before semantic dedup trusts its neighborhoods.

    Scale shape: rides sim_knn_join's blocked cogroup grid verbatim
    (<= k·B rows per vector out of the kernel, never the n² matrix);
    the k-th-neighbor slice is one filter on the merged rank, (μ, σ)
    reduce to a 1-row broadcast joined back — the emb_norm_outliers
    shape. knn_sim is rounded to the 1e-4 grid inside the join in
    BOTH engines, so the stats see identical multisets; σ is
    stddev_samp like the norm gate. KNN_OUTLIER_SIGMA = 1.5 keeps the
    result non-vacuous at sf0.001/0.01/0.1 (this corpus's k-NN sims
    concentrate tightly, so 2.5σ would select zero rows)."""
    # the k-th-NN slice feeds BOTH the stats aggregate and the filter
    # spine; without the eager persist the blocked-grid Arrow pass
    # would run twice (ReuseExchange does not dedupe repeated
    # subtrees) — persist, materialize the small outlier result
    # through the cache, then release
    kth = (
        sim_knn_join(spark, sf_dir)
        .filter(F.col("rank") == KNN_K)
        .select("vec_id", F.col("cos_sim").alias("knn_sim"))
        .persist()
    )
    kth.count()
    stats = kth.agg(
        F.avg("knn_sim").alias("__mu"), F.stddev_samp("knn_sim").alias("__sigma")
    )
    out = (
        kth.crossJoin(F.broadcast(stats))
        .filter(F.col("knn_sim") < F.col("__mu") - KNN_OUTLIER_SIGMA * F.col("__sigma"))
        .select(
            "vec_id",
            "knn_sim",
            fround((F.col("knn_sim") - F.col("__mu")) / F.col("__sigma"), 4).alias("z"),
        )
        .localCheckpoint(eager=True)
    )
    kth.unpersist()
    return out.orderBy("vec_id")


def sim_ivfpq_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ with RESIDUAL encoding (round 8) — FAISS's default
    ``by_residual=True`` IVFPQ, completing sim_ivfpq_ann's
    by_residual=False variant: PQ codes encode (vector − its coarse
    centroid), and each query builds a PER-PROBED-LIST lookup table
    from (query − that list's centroid). Residual encoding is why
    production IVFPQ tolerates coarse routing — the PQ codebook only
    has to cover the residual ball around each list center, not the
    whole space.

    Scale shape — one step closer to the serving index than the
    parent: candidate codes are encoded ONCE into the inverted file
    (neighbor_id, centroid_id, 8 4-bit codes) by an Arrow kernel, so
    the probe join ships ~8 B codes per candidate instead of the
    256 B float vector, and the scoring kernel is pure LUT lookups
    (the |Q| x N_CENTROIDS x PQ_M x PQ_K table — bounded at any
    corpus size — rides one broadcast). Probe fan-out is list size,
    never the corpus. Deterministic end-to-end (rounded subspace
    distances before every argmin, lowest-cid ties) -> FULL
    value-parity oracle like both parents."""
    import numpy as np

    emb = load_tables(spark, sf_dir, register_views=False)["embeddings"]
    centroids = _ivf_codebook(spark, sf_dir)
    cand = emb.filter(F.col("vec_id") >= N_QUERIES)
    q = emb.filter(F.col("vec_id") < N_QUERIES)

    cand_buckets = _centroid_assign(cand, centroids, 1).withColumnsRenamed(
        {"vec_id": "neighbor_id"}
    )
    q_probes = _centroid_assign(q, centroids, N_PROBE).withColumnsRenamed(
        {"vec_id": "query_id"}
    )

    _, cb_mat = _pq_codebook(emb, sf_dir=sf_dir)
    g_ids, g_mat = centroids
    q_ids, q_mat = _collect_matrix(q)
    # LUT[qi, gi, m, cid] = round(|| (q - g)_m - cb_cid_m ||^2, 4)
    lut = np.zeros((len(q_ids), len(g_ids), PQ_M, len(cb_mat)))
    for gi in range(len(g_ids)):
        lut[:, gi] = _pq_lut(q_mat - g_mat[gi][None, :], cb_mat)

    enc_in = cand_buckets.join(
        cand.select(F.col("vec_id").alias("neighbor_id"), "embedding"), "neighbor_id"
    )

    # codebook rows and query ids are sorted, so searchsorted is each
    # id's row
    def encode(shared, cols):
        cb, gids, g = shared
        if not len(cb):
            return None
        residual = cols["embedding"] - g[np.searchsorted(gids, cols["centroid_id"])]
        codes, _ = _pq_encode(residual, cb)
        return {
            "neighbor_id": cols["neighbor_id"],
            "centroid_id": cols["centroid_id"],
            "codes": codes,
        }

    inverted_file = _arrow_map(
        enc_in,
        encode,
        "neighbor_id long, centroid_id long, codes array<int>",
        (cb_mat, g_ids, g_mat),
    )
    pairs = broadcast(q_probes).join(inverted_file, "centroid_id")

    def score(shared, cols):
        qids, gids, tab = shared
        qi = np.searchsorted(qids, cols["query_id"])
        gi = np.searchsorted(gids, cols["centroid_id"])
        codes = cols["codes"]
        adc = np.zeros(len(qi))
        for m in range(PQ_M):
            adc += tab[qi, gi, m, codes[:, m]]
        return {
            "query_id": cols["query_id"],
            "neighbor_id": cols["neighbor_id"],
            "adc_dist": fround_np(adc),
        }

    scored = _arrow_map(
        pairs, score, "query_id long, neighbor_id long, adc_dist double", (q_ids, g_ids, lut)
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adc_dist"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "adc_dist", "rank")
        .orderBy("query_id", "rank")
    )


def emb_ivf_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF inverted-list BALANCE audit (round 8): per-centroid list
    size, corpus share, and imbalance factor (list size / mean list
    size) — the routing-skew report an IVF deployment reads before
    trusting nprobe latency (one hot list = every probe of it scans a
    disproportionate corpus slice; empty lists are wasted codebook
    capacity, and they ARE emitted here, zero-size rows included).
    Completes the IVF tooling arc: build (emb_kmeans/_centroid_assign)
    -> recall (sim_ann_eval, sim_ivf_nprobe_sweep) -> skew (this).

    Scale shape: one broadcast-codebook Arrow assignment pass over
    the corpus into a partial-agg count — N_CENTROIDS result rows;
    totals reduce to a 1-row broadcast. Nothing corpus-sized moves."""
    emb = load_tables(spark, sf_dir, register_views=False)["embeddings"]
    centroids = _ivf_codebook(spark, sf_dir)
    cand = emb.filter(F.col("vec_id") >= N_QUERIES)
    sizes = (
        _centroid_assign(cand, centroids, 1)
        .groupBy("centroid_id")
        .agg(F.count("*").alias("n_vectors"))
    )
    # the codebook is a bounded driver-side (ids, matrix) pair; its id
    # column seeds the zero-size rows (dead-at-train clusters dropped,
    # so the live K can be < N_CENTROIDS)
    cen_ids = spark.createDataFrame(
        [(int(i),) for i in centroids[0]], "centroid_id long"
    )
    sizes = (
        cen_ids.join(sizes, "centroid_id", "left")
        .select(
            "centroid_id",
            F.coalesce("n_vectors", F.lit(0)).cast("bigint").alias("n_vectors"),
        )
    )
    # totals come from the parquet FOOTER, not a second aggregation of
    # the assignment subtree: every candidate lands in exactly one
    # list, so sum(n_vectors) == n_candidates by construction — a
    # tot-agg cross-join would re-run the corpus assignment pass
    # (ReuseExchange does not dedupe repeated subtrees)
    from distributed_mapreduce_server_spark.catalog import table_row_count

    n_cand = table_row_count(sf_dir, "embeddings") - N_QUERIES
    # an empty codebook has no rows to divide
    avg = n_cand / max(len(centroids[0]), 1)
    return sizes.select(
        "centroid_id",
        "n_vectors",
        fround(F.col("n_vectors") / F.lit(float(n_cand)), 6).alias("share"),
        fround(F.col("n_vectors") / F.lit(float(avg)), 4).alias("imbalance"),
    ).orderBy("centroid_id")
