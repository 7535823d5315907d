"""DuckDB oracle SQL for similarity search (§2.4).

sim_lsh_ann gained a FULL oracle in round 4: bucket bits decide on
the ROUNDED dot sign (mirrored in the Spark expression), so the
candidate set is engine-identical; its recall floor is additionally
asserted in tests/test_similarity.py.
"""

from distributed_mapreduce_server_spark.operators.similarity import (
    N_CENTROIDS,
    N_PROBE,
    N_QUERIES,
    TOP_K,
)

_DOT = (
    "list_sum(list_transform(range(1, len(q.embedding) + 1), "
    "i -> CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))"
)
_NORM_Q = "sqrt(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
_NORM_C = "sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"

SIMILARITY_ORACLES: dict[str, str] = {
    "sim_cosine_topk": f"""
        WITH scored AS (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   ROUND({_DOT} / ({_NORM_Q} * {_NORM_C}), 4) AS cos_sim
            FROM embeddings q
            JOIN embeddings c ON q.vec_id < {N_QUERIES} AND c.vec_id >= {N_QUERIES}
        ), ranked AS (
            SELECT query_id, neighbor_id, cos_sim,
                   CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                        ORDER BY cos_sim DESC, neighbor_id) AS INTEGER) AS rank
            FROM scored
        )
        SELECT query_id, neighbor_id, cos_sim, rank
        FROM ranked WHERE rank <= {TOP_K}
        ORDER BY query_id, rank
    """,
}

# IVF: cosine between a vector (v) and a centroid (k), mirroring the
# Spark _centroid_assign expression exactly (round 4, id tie-break).
_DOT_VK = (
    "list_sum(list_transform(range(1, len(v.embedding) + 1), "
    "i -> CAST(v.embedding[i] AS DOUBLE) * CAST(k.embedding[i] AS DOUBLE)))"
)
_NORM_V = "sqrt(list_sum(list_transform(v.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
_NORM_K = "sqrt(list_sum(list_transform(k.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"

from distributed_mapreduce_server_spark.operators.similarity import (  # noqa: E402
    EMB_DIM,
    IVF_TRAIN_ITERS,
)


def _ivf_codebook_ctes() -> str:
    """Unrolled cosine-Lloyd trainer mirroring similarity's
    _ivf_codebook (round 10; the dedup_semantic_routed recipe with
    the IVF corpus/init): corpus = candidates (vec_id >= N_QUERIES),
    init = the former stand-in rows (vec_id < N_QUERIES +
    N_CENTROIDS), per round a 1e-4-rounded cosine argmax assignment
    (cid ASC tie-break == numpy argmax-first over the sorted id
    axis) and a 1e-6-rounded per-(cid, dim) mean update; dead
    clusters drop. Ends with `centroids(centroid_id, embedding)` in
    list form so every downstream assignment CTE is codebook-source-
    agnostic (they predate the trained codebook unchanged)."""
    parts = [
        f"""ie AS MATERIALIZED (
            SELECT vec_id, i AS pos, CAST(embedding[i] AS DOUBLE) AS x
            FROM embeddings, generate_series(1, {EMB_DIM}) AS s(i)
            WHERE vec_id >= {N_QUERIES}
        )""",
        """inv AS MATERIALIZED (
            SELECT vec_id, sqrt(SUM(x * x)) AS nrm FROM ie GROUP BY 1
        )""",
        f"""ic0 AS MATERIALIZED (
            SELECT CAST(vec_id AS BIGINT) AS cid, pos, x AS m
            FROM ie WHERE vec_id < {N_QUERIES + N_CENTROIDS}
        )""",
    ]
    for i in range(IVF_TRAIN_ITERS):
        parts += [
            f"""ikn{i} AS MATERIALIZED (
            SELECT cid, sqrt(SUM(m * m)) AS knrm FROM ic{i} GROUP BY 1
        )""",
            f"""is{i} AS MATERIALIZED (
            SELECT v.vec_id, c.cid,
                   ROUND(SUM(v.x * c.m) / (MIN(n.nrm) * MIN(k.knrm)), 4) AS cs
            FROM ie v
            JOIN ic{i} c ON v.pos = c.pos
            JOIN inv n ON n.vec_id = v.vec_id
            JOIN ikn{i} k ON k.cid = c.cid
            GROUP BY 1, 2
        )""",
            f"""ia{i} AS MATERIALIZED (
            SELECT vec_id, cid FROM (
                SELECT vec_id, cid,
                       ROW_NUMBER() OVER (PARTITION BY vec_id
                           ORDER BY cs DESC, cid) AS rk
                FROM is{i}
            ) WHERE rk = 1
        )""",
            f"""ic{i + 1} AS MATERIALIZED (
            SELECT a.cid, e.pos, ROUND(AVG(e.x), 6) AS m
            FROM ia{i} a JOIN ie e USING (vec_id)
            GROUP BY 1, 2
        )""",
        ]
    parts.append(
        f"""centroids AS MATERIALIZED (
            SELECT cid AS centroid_id, list(m ORDER BY pos) AS embedding
            FROM ic{IVF_TRAIN_ITERS} GROUP BY cid
        )"""
    )
    return ",\n    ".join(parts)


_IVF_CB = _ivf_codebook_ctes()

SIMILARITY_ORACLES["sim_ivf_ann"] = f"""
    WITH {_IVF_CB},
    cand_assign AS (
        SELECT vec_id AS neighbor_id, centroid_id FROM (
            SELECT v.vec_id, k.centroid_id,
                   ROW_NUMBER() OVER (PARTITION BY v.vec_id
                       ORDER BY ROUND({_DOT_VK} / ({_NORM_V} * {_NORM_K}), 4) DESC,
                                k.centroid_id) AS crank
            FROM embeddings v CROSS JOIN centroids k
            WHERE v.vec_id >= {N_QUERIES}
        ) WHERE crank <= 1
    ),
    q_probes AS (
        SELECT vec_id AS query_id, centroid_id FROM (
            SELECT v.vec_id, k.centroid_id,
                   ROW_NUMBER() OVER (PARTITION BY v.vec_id
                       ORDER BY ROUND({_DOT_VK} / ({_NORM_V} * {_NORM_K}), 4) DESC,
                                k.centroid_id) AS crank
            FROM embeddings v CROSS JOIN centroids k
            WHERE v.vec_id < {N_QUERIES}
        ) WHERE crank <= {N_PROBE}
    ),
    pairs AS (
        SELECT DISTINCT p.query_id, cb.neighbor_id,
               ROUND({_DOT} / ({_NORM_Q} * {_NORM_C}), 4) AS cos_sim
        FROM q_probes p
        JOIN cand_assign cb USING (centroid_id)
        JOIN embeddings q ON q.vec_id = p.query_id
        JOIN embeddings c ON c.vec_id = cb.neighbor_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id, cos_sim,
               CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY cos_sim DESC, neighbor_id) AS INTEGER) AS rank
        FROM pairs
    )
    SELECT query_id, neighbor_id, cos_sim, rank
    FROM ranked WHERE rank <= {TOP_K}
    ORDER BY query_id, rank
"""

SIMILARITY_ORACLES["emb_centroids"] = """
    SELECT label, CAST(i AS INTEGER) AS dim,
           ROUND(AVG(CAST(embedding[i] AS DOUBLE)), 4) AS centroid
    FROM embeddings, generate_series(1, 64) AS s(i)
    GROUP BY 1, 2
    ORDER BY 1, 2
"""

SIMILARITY_ORACLES["emb_label_coherence"] = """
    WITH sums AS (
        SELECT label, i,
               AVG(CAST(embedding[i] AS DOUBLE)) AS c,
               COUNT(*) AS n
        FROM embeddings, generate_series(1, 64) AS s(i)
        GROUP BY 1, 2
    )
    SELECT label,
           MAX(n) AS n_vectors,
           ROUND(SQRT(SUM(c * c)), 4) AS centroid_norm
    FROM sums
    GROUP BY label
    ORDER BY label
"""

SIMILARITY_ORACLES["emb_quantize"] = """
    WITH q AS (
        SELECT vec_id,
               list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS amax,
               list_transform(embedding,
                              x -> CAST(round(CAST(x AS DOUBLE) * 127 /
                                   list_max(list_transform(embedding,
                                            y -> abs(CAST(y AS DOUBLE))))) AS INTEGER)) AS qv
        FROM embeddings
    )
    SELECT vec_id,
           ROUND(amax / 127, 6) AS scale,
           CAST(list_sum(qv) AS BIGINT) AS q_sum,
           CAST(list_sum(list_transform(qv, x -> abs(x))) AS BIGINT) AS q_l1,
           list_min(qv) AS q_min,
           list_max(qv) AS q_max
    FROM q
    ORDER BY vec_id
"""

SIMILARITY_ORACLES["emb_dim_stats"] = """
    SELECT CAST(i AS INTEGER) AS dim,
           ROUND(AVG(CAST(embedding[i] AS DOUBLE)), 4) AS mean,
           ROUND(STDDEV_POP(CAST(embedding[i] AS DOUBLE)), 4) AS std,
           ROUND(MIN(CAST(embedding[i] AS DOUBLE)), 4) AS vmin,
           ROUND(MAX(CAST(embedding[i] AS DOUBLE)), 4) AS vmax,
           ROUND(SUM(CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)), 4) AS energy
    FROM embeddings, generate_series(1, 64) AS s(i)
    GROUP BY 1
    ORDER BY 1
"""

SIMILARITY_ORACLES["emb_covariance"] = """
    WITH pairs AS (
        SELECT i.i AS i, j.j AS j
        FROM (SELECT unnest(generate_series(1, 64)) AS i) i,
             (SELECT unnest(generate_series(1, 64)) AS j) j
        WHERE j.j >= i.i
    ),
    s AS (
        SELECT p.i, p.j,
               SUM(CAST(e.embedding[p.i] AS DOUBLE) * CAST(e.embedding[p.j] AS DOUBLE)) AS s,
               COUNT(*) AS n
        FROM embeddings e, pairs p
        GROUP BY p.i, p.j
    ),
    mu AS (
        SELECT d.d AS dim, AVG(CAST(embedding[d.d] AS DOUBLE)) AS mu
        FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS d) d
        GROUP BY d.d
    )
    SELECT s.i, s.j, ROUND(s.s / s.n - mi.mu * mj.mu, 5) AS cov
    FROM s
    JOIN mu mi ON mi.dim = s.i
    JOIN mu mj ON mj.dim = s.j
    ORDER BY s.i, s.j
"""


# emb_pca_invariants: the booleans are Spark-side live-data checks
# pinned TRUE here (a broken solve hash-mismatches); cov_trace is the
# one numeric DuckDB recomputes independently — per-dim variance on
# the same 5dp entry grid as emb_covariance, summed and rounded 4dp
# exactly like the Spark side's fround_scalar over the diagonal.
from distributed_mapreduce_server_spark.operators.similarity import PCA_K  # noqa: E402

SIMILARITY_ORACLES["emb_pca_invariants"] = f"""
    WITH diag AS (
        SELECT d.d AS dim,
               SUM(CAST(embedding[d.d] AS DOUBLE) * CAST(embedding[d.d] AS DOUBLE)) AS ss,
               AVG(CAST(embedding[d.d] AS DOUBLE)) AS mu,
               COUNT(*) AS n
        FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS d) d
        GROUP BY d.d
    ),
    tr AS (SELECT ROUND(SUM(ROUND(ss / n - mu * mu, 5)), 4) AS cov_trace FROM diag)
    SELECT k.k AS component, TRUE AS mean_zero,
           TRUE AS var_matches_eigenvalue, TRUE AS orthonormal,
           TRUE AS variance_ordered, tr.cov_trace
    FROM (SELECT CAST(unnest(generate_series(1, {PCA_K})) AS INTEGER) AS k) k
    CROSS JOIN tr
    ORDER BY component
"""


SIMILARITY_ORACLES["emb_coverage"] = """
    SELECT d.source,
           COUNT(*) AS n_docs,
           COUNT(e.vec_id) AS n_embedded,
           ROUND(COUNT(e.vec_id) / CAST(COUNT(*) AS DOUBLE), 4) AS coverage
    FROM documents d LEFT JOIN embeddings e ON d.doc_id = e.vec_id
    GROUP BY d.source
    ORDER BY d.source
"""


from distributed_mapreduce_server_spark.operators.similarity import (  # noqa: E402
    PQ_K,
    PQ_M,
    PQ_SUB_DIM,
    PQ_TRAIN_ITERS,
)


def _pq_codebook_ctes() -> str:
    """Unrolled per-subspace L2-Lloyd trainer mirroring similarity's
    _pq_codebook (round 10): corpus = ALL embeddings, init = the
    former stand-in rows (vec_id N_QUERIES..N_QUERIES+PQ_K-1), per
    round and subspace a 1e-4-rounded squared-distance argmin
    (cid ASC tie-break) and a 1e-6-rounded sub-vector mean; an empty
    sub-cluster KEEPS its previous centroid (COALESCE), so K stays
    fixed. Ends with `cen(cid, c)` — stitched 64-dim lists, block m
    = subspace m's codebook — so every downstream encode/LUT CTE is
    codebook-source-agnostic."""
    parts = [
        f"""pe AS MATERIALIZED (
            SELECT vec_id, i AS pos, (CAST(i - 1 AS BIGINT) // {PQ_SUB_DIM}) AS sub,
                   CAST(embedding[i] AS DOUBLE) AS x
            FROM embeddings, generate_series(1, {EMB_DIM}) AS s(i)
        )""",
        f"""pc0 AS MATERIALIZED (
            SELECT CAST(vec_id AS BIGINT) AS cid, sub, pos, x AS m
            FROM pe
            WHERE vec_id >= {N_QUERIES} AND vec_id < {N_QUERIES + PQ_K}
        )""",
    ]
    for i in range(PQ_TRAIN_ITERS):
        parts += [
            f"""pd{i} AS MATERIALIZED (
            SELECT v.vec_id, v.sub, c.cid,
                   ROUND(SUM((v.x - c.m) * (v.x - c.m)), 4) AS dist
            FROM pe v JOIN pc{i} c ON v.pos = c.pos
            GROUP BY 1, 2, 3
        )""",
            f"""pa{i} AS MATERIALIZED (
            SELECT vec_id, sub, cid FROM (
                SELECT vec_id, sub, cid,
                       ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                           ORDER BY dist, cid) AS rk
                FROM pd{i}
            ) WHERE rk = 1
        )""",
            f"""pc{i + 1} AS MATERIALIZED (
            SELECT p.cid, p.sub, p.pos, COALESCE(u.m2, p.m) AS m
            FROM pc{i} p LEFT JOIN (
                SELECT a.cid, e.sub, e.pos, ROUND(AVG(e.x), 6) AS m2
                FROM pa{i} a
                JOIN pe e ON a.vec_id = e.vec_id AND a.sub = e.sub
                GROUP BY 1, 2, 3
            ) u ON u.cid = p.cid AND u.sub = p.sub AND u.pos = p.pos
        )""",
        ]
    parts.append(
        f"""cen AS MATERIALIZED (
            SELECT cid, list(m ORDER BY pos) AS c
            FROM pc{PQ_TRAIN_ITERS} GROUP BY cid
        )"""
    )
    return ",\n    ".join(parts)


_PQ_CB = _pq_codebook_ctes()

_PQ_CODE_COLS = ",\n           ".join(
    f"MAX(CASE WHEN m = {m} THEN cid END) AS code{m}" for m in range(PQ_M)
)
SIMILARITY_ORACLES["emb_pq_quantize"] = f"""
    WITH {_PQ_CB},
    d AS (
        SELECT x.vec_id, sub.m, cen.cid,
               ROUND(list_sum(list_transform(range(1, {PQ_SUB_DIM} + 1),
                   i -> (CAST(x.embedding[sub.m * {PQ_SUB_DIM} + i] AS DOUBLE)
                         - CAST(cen.c[sub.m * {PQ_SUB_DIM} + i] AS DOUBLE))
                        * (CAST(x.embedding[sub.m * {PQ_SUB_DIM} + i] AS DOUBLE)
                           - CAST(cen.c[sub.m * {PQ_SUB_DIM} + i] AS DOUBLE)))),
                     4) AS dist
        FROM embeddings x, cen,
             (SELECT unnest(range(0, {PQ_M})) AS m) sub
    ),
    best AS (
        SELECT vec_id, m, cid, dist,
               ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                  ORDER BY dist, cid) AS rn
        FROM d
    )
    SELECT vec_id,
           {_PQ_CODE_COLS},
           ROUND(SUM(dist), 4) AS recon_err
    FROM best WHERE rn = 1
    GROUP BY vec_id
    ORDER BY vec_id
"""


from distributed_mapreduce_server_spark.operators.similarity import TOP_K as _PQ_TOP_K  # noqa: E402


def _pq_subdist(vec: str, cen: str) -> str:
    """Rounded squared distance between subspace m of ``vec`` and
    ``cen`` — shared by the PQ encoder and the ADC LUT so the two can
    never diverge."""
    a = f"CAST({vec}[sub.m * {PQ_SUB_DIM} + i] AS DOUBLE)"
    b = f"CAST({cen}[sub.m * {PQ_SUB_DIM} + i] AS DOUBLE)"
    return (
        f"ROUND(list_sum(list_transform(range(1, {PQ_SUB_DIM} + 1), "
        f"i -> ({a} - {b}) * ({a} - {b}))), 4)"
    )


SIMILARITY_ORACLES["sim_pq_adc_ann"] = f"""
    WITH {_PQ_CB},
    subs AS (SELECT unnest(range(0, {PQ_M})) AS m),
    d AS (
        SELECT x.vec_id, sub.m, cen.cid,
               {_pq_subdist('x.embedding', 'cen.c')} AS dist
        FROM embeddings x, cen, subs sub
        WHERE x.vec_id >= {N_QUERIES}
    ),
    codes AS (
        SELECT vec_id, m, cid FROM (
            SELECT vec_id, m, cid,
                   ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                      ORDER BY dist, cid) AS rn
            FROM d
        ) WHERE rn = 1
    ),
    lut AS (
        SELECT q.vec_id AS query_id, sub.m, cen.cid,
               {_pq_subdist('q.embedding', 'cen.c')} AS ldist
        FROM embeddings q, cen, subs sub
        WHERE q.vec_id < {N_QUERIES}
    ),
    adc AS (
        SELECT l.query_id, c.vec_id AS neighbor_id,
               ROUND(SUM(l.ldist), 4) AS adc_dist
        FROM codes c JOIN lut l ON l.m = c.m AND l.cid = c.cid
        GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id, adc_dist, rank
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY adc_dist, neighbor_id) AS rank
        FROM adc
    )
    WHERE rank <= {_PQ_TOP_K}
    ORDER BY query_id, rank
"""

# IVF-PQ = the IVF routing CTEs + the PQ encode/LUT CTEs, with ADC
# summed only over (query, candidate) pairs that share a probed list.
SIMILARITY_ORACLES["sim_ivfpq_ann"] = f"""
    WITH {_IVF_CB},
    cand_assign AS (
        SELECT vec_id AS neighbor_id, centroid_id FROM (
            SELECT v.vec_id, k.centroid_id,
                   ROW_NUMBER() OVER (PARTITION BY v.vec_id
                       ORDER BY ROUND({_DOT_VK} / ({_NORM_V} * {_NORM_K}), 4) DESC,
                                k.centroid_id) AS crank
            FROM embeddings v CROSS JOIN centroids k
            WHERE v.vec_id >= {N_QUERIES}
        ) WHERE crank <= 1
    ),
    q_probes AS (
        SELECT vec_id AS query_id, centroid_id FROM (
            SELECT v.vec_id, k.centroid_id,
                   ROW_NUMBER() OVER (PARTITION BY v.vec_id
                       ORDER BY ROUND({_DOT_VK} / ({_NORM_V} * {_NORM_K}), 4) DESC,
                                k.centroid_id) AS crank
            FROM embeddings v CROSS JOIN centroids k
            WHERE v.vec_id < {N_QUERIES}
        ) WHERE crank <= {N_PROBE}
    ),
    {_PQ_CB},
    subs AS (SELECT unnest(range(0, {PQ_M})) AS m),
    d AS (
        SELECT x.vec_id, sub.m, cen.cid,
               {_pq_subdist('x.embedding', 'cen.c')} AS dist
        FROM embeddings x, cen, subs sub
        WHERE x.vec_id >= {N_QUERIES}
    ),
    codes AS (
        SELECT vec_id, m, cid FROM (
            SELECT vec_id, m, cid,
                   ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                      ORDER BY dist, cid) AS rn
            FROM d
        ) WHERE rn = 1
    ),
    lut AS (
        SELECT q.vec_id AS query_id, sub.m, cen.cid,
               {_pq_subdist('q.embedding', 'cen.c')} AS ldist
        FROM embeddings q, cen, subs sub
        WHERE q.vec_id < {N_QUERIES}
    ),
    pairs AS (
        SELECT p.query_id, ca.neighbor_id
        FROM q_probes p JOIN cand_assign ca USING (centroid_id)
    ),
    adc AS (
        SELECT pr.query_id, pr.neighbor_id,
               ROUND(SUM(l.ldist), 4) AS adc_dist
        FROM pairs pr
        JOIN codes c ON c.vec_id = pr.neighbor_id
        JOIN lut l ON l.query_id = pr.query_id AND l.m = c.m AND l.cid = c.cid
        GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id, adc_dist, rank
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY adc_dist, neighbor_id) AS rank
        FROM adc
    )
    WHERE rank <= {_PQ_TOP_K}
    ORDER BY query_id, rank
"""

from distributed_mapreduce_server_spark.operators.similarity import KNN_K  # noqa: E402

SIMILARITY_ORACLES["sim_knn_join"] = f"""
    WITH scored AS (
        SELECT q.vec_id, c.vec_id AS nbr_id,
               ROUND({_DOT} / ({_NORM_Q} * {_NORM_C}), 4) AS cos_sim
        FROM embeddings q
        JOIN embeddings c ON q.vec_id <> c.vec_id
    ), ranked AS (
        SELECT vec_id, nbr_id, cos_sim,
               CAST(ROW_NUMBER() OVER (PARTITION BY vec_id
                    ORDER BY cos_sim DESC, nbr_id) AS INTEGER) AS rank
        FROM scored
    )
    SELECT vec_id, nbr_id, cos_sim, rank
    FROM ranked WHERE rank <= {KNN_K}
    ORDER BY vec_id, rank
"""

from distributed_mapreduce_server_spark.operators.similarity import (  # noqa: E402
    EMB_REFRESH_TAIL,
    ENC_DIM,
)

SIMILARITY_ORACLES["emb_encode_backfill"] = f"""
    WITH cut AS (SELECT MAX(doc_id) - {EMB_REFRESH_TAIL - 1} AS tail_from
                 FROM documents),
    bf AS (
        SELECT doc_id, text FROM documents CROSS JOIN cut
        WHERE doc_id >= tail_from
           OR doc_id NOT IN (SELECT vec_id FROM embeddings)
    )
    SELECT doc_id, CAST(d AS INTEGER) AS dim,
           (CAST(concat('0x', substr(md5(concat(text, '|', d)), 1, 15))
                 AS BIGINT) % 2001 - 1000) / 1000.0 AS val
    FROM bf CROSS JOIN (SELECT unnest(range(1, {ENC_DIM + 1})) AS d) dims
    ORDER BY doc_id, dim
"""


def _range_search_oracle() -> str:
    from distributed_mapreduce_server_spark.operators.similarity import (
        RANGE_SEARCH_T,
    )

    return f"""
        SELECT query_id, neighbor_id, cos_sim FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   ROUND({_DOT} / ({_NORM_Q} * {_NORM_C}), 4) AS cos_sim
            FROM embeddings q
            JOIN embeddings c
              ON q.vec_id < {N_QUERIES} AND c.vec_id >= {N_QUERIES}
        )
        WHERE cos_sim >= {RANGE_SEARCH_T}
        ORDER BY query_id, neighbor_id
    """


SIMILARITY_ORACLES["sim_range_search"] = _range_search_oracle()


# --- MMR re-ranking (round 4): greedy selection unrolled, one CTE pair
# per step (argmax via ORDER BY ... LIMIT 1 with the same id tie-break
# as the Python loop; identical 0.7/0.3 literals and operation order).

from distributed_mapreduce_server_spark.operators.similarity import (  # noqa: E402
    MMR_CANDIDATES,
    MMR_K,
    MMR_LAMBDA,
    MMR_ONE_MINUS_LAMBDA,
    MMR_QUERY_ID,
)

_DOT_XY = (
    "list_sum(list_transform(range(1, len(x.embedding) + 1), "
    "i -> CAST(x.embedding[i] AS DOUBLE) * CAST(y.embedding[i] AS DOUBLE)))"
)
_NORM_X = "sqrt(list_sum(list_transform(x.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))"
_NORM_Y = "sqrt(list_sum(list_transform(y.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))"


def _mmr_sql() -> str:
    parts = [
        f"""cand AS MATERIALIZED (
        SELECT c.vec_id AS id, ROUND({_DOT} / ({_NORM_Q} * {_NORM_C}), 4) AS rel
        FROM embeddings q JOIN embeddings c
          ON q.vec_id = {MMR_QUERY_ID} AND c.vec_id <> {MMR_QUERY_ID}
        ORDER BY rel DESC, id
        LIMIT {MMR_CANDIDATES}
    )""",
        """pv AS MATERIALIZED (
        SELECT c.id, e.embedding FROM cand c JOIN embeddings e ON e.vec_id = c.id
    )""",
        f"""pairsim AS MATERIALIZED (
        SELECT x.id AS a, y.id AS b,
               ROUND({_DOT_XY} / ({_NORM_X} * {_NORM_Y}), 4) AS sim
        FROM pv x JOIN pv y ON x.id <> y.id
    )""",
        "p1 AS MATERIALIZED (SELECT id, rel FROM cand ORDER BY rel DESC, id LIMIT 1)",
        "s1 AS MATERIALIZED (SELECT id FROM p1)",
    ]
    for t in range(2, MMR_K + 1):
        parts.append(
            f"""p{t} AS MATERIALIZED (
        SELECT c.id, c.rel
        FROM cand c
        WHERE c.id NOT IN (SELECT id FROM s{t - 1})
        ORDER BY {MMR_LAMBDA} * c.rel - {MMR_ONE_MINUS_LAMBDA} * (
                     SELECT max(ps.sim) FROM pairsim ps
                     WHERE ps.a = c.id AND ps.b IN (SELECT id FROM s{t - 1})
                 ) DESC, c.id
        LIMIT 1
    )"""
        )
        parts.append(
            f"s{t} AS MATERIALIZED (SELECT id FROM s{t - 1} UNION ALL SELECT id FROM p{t})"
        )
    finals = "\n    UNION ALL ".join(
        f"SELECT {t} AS mmr_rank, id AS vec_id, rel FROM p{t}" for t in range(1, MMR_K + 1)
    )
    joined = ",\n    ".join(parts)
    return f"""
    WITH {joined}
    SELECT * FROM ({finals})
    ORDER BY mmr_rank
"""


SIMILARITY_ORACLES["sim_mmr_rerank"] = _mmr_sql()


# --- Matryoshka truncation evaluation (round 4) ---------------------------

from distributed_mapreduce_server_spark.operators.similarity import (  # noqa: E402
    MATRYOSHKA_DIM,
)

_DOT_T = (
    f"list_sum(list_transform(range(1, {MATRYOSHKA_DIM} + 1), "
    "i -> CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))"
)
_NORM_QT = (
    f"sqrt(list_sum(list_transform(q.embedding[1:{MATRYOSHKA_DIM}], "
    "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
)
_NORM_CT = (
    f"sqrt(list_sum(list_transform(c.embedding[1:{MATRYOSHKA_DIM}], "
    "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
)

SIMILARITY_ORACLES["sim_matryoshka_eval"] = f"""
    WITH full_rk AS MATERIALIZED (
        SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY q.vec_id
                       ORDER BY ROUND({_DOT} / ({_NORM_Q} * {_NORM_C}), 4) DESC,
                                c.vec_id) AS rk
            FROM embeddings q JOIN embeddings c
              ON q.vec_id < {N_QUERIES} AND c.vec_id >= {N_QUERIES}
        ) WHERE rk <= {TOP_K}
    ),
    trunc_rk AS MATERIALIZED (
        SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY q.vec_id
                       ORDER BY ROUND({_DOT_T} / ({_NORM_QT} * {_NORM_CT}), 4) DESC,
                                c.vec_id) AS rk
            FROM embeddings q JOIN embeddings c
              ON q.vec_id < {N_QUERIES} AND c.vec_id >= {N_QUERIES}
        ) WHERE rk <= {TOP_K}
    ),
    counts AS (
        SELECT f.query_id, CAST(COUNT(*) AS INTEGER) AS n_overlap
        FROM full_rk f JOIN trunc_rk t
          ON f.query_id = t.query_id AND f.neighbor_id = t.neighbor_id
        GROUP BY 1
    )
    SELECT q.vec_id AS query_id,
           CAST(COALESCE(n_overlap, 0) AS INTEGER) AS n_overlap,
           ROUND(COALESCE(n_overlap, 0) / {float(TOP_K)}, 2) AS recall_at_k
    FROM embeddings q LEFT JOIN counts ON q.vec_id = counts.query_id
    WHERE q.vec_id < {N_QUERIES}
    ORDER BY query_id
"""


# --- binary quantization + Hamming ANN (round 4): integer-exact ------------

from distributed_mapreduce_server_spark.operators.similarity import (  # noqa: E402
    HAMMING_TOP_K,
)

# MSB-first weighted sum == Spark's acc*2+bit fold over the same slice
_SIG_HI = (
    "list_sum(list_transform(range(1, 33), "
    "i -> CAST(embedding[i] > 0 AS BIGINT) * (1::BIGINT << (32 - i))))"
)
_SIG_LO = (
    "list_sum(list_transform(range(33, 65), "
    "i -> CAST(embedding[i] > 0 AS BIGINT) * (1::BIGINT << (64 - i))))"
)

# list_sum returns HUGEINT; CAST the exposed signatures to BIGINT or
# they surface as floats in the driver's pandas hash and mismatch the
# Spark BIGINTs on string form (caught by the round-4 full drive).
SIMILARITY_ORACLES["emb_binary_quantize"] = f"""
    SELECT vec_id,
           CAST({_SIG_HI} AS BIGINT) AS sig_hi,
           CAST({_SIG_LO} AS BIGINT) AS sig_lo,
           CAST(bit_count({_SIG_HI}) + bit_count({_SIG_LO}) AS INTEGER) AS n_pos_dims
    FROM embeddings
    ORDER BY vec_id
"""

SIMILARITY_ORACLES["sim_hamming_ann"] = f"""
    WITH sigs AS MATERIALIZED (
        SELECT vec_id, {_SIG_HI} AS sig_hi, {_SIG_LO} AS sig_lo FROM embeddings
    ),
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               CAST(bit_count(xor(q.sig_hi, c.sig_hi))
                    + bit_count(xor(q.sig_lo, c.sig_lo)) AS INTEGER) AS hamming
        FROM sigs q JOIN sigs c
          ON q.vec_id < {N_QUERIES} AND c.vec_id >= {N_QUERIES}
    )
    SELECT query_id, neighbor_id, hamming, rank FROM (
        SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY hamming, neighbor_id) AS INTEGER) AS rank
        FROM scored
    )
    WHERE rank <= {HAMMING_TOP_K}
    ORDER BY query_id, rank
"""


from distributed_mapreduce_server_spark.operators.similarity import (  # noqa: E402
    BQ_SHORTLIST,
)

SIMILARITY_ORACLES["sim_bq_rerank"] = f"""
    WITH sigs AS MATERIALIZED (
        SELECT vec_id, {_SIG_HI} AS sig_hi, {_SIG_LO} AS sig_lo FROM embeddings
    ),
    shortlist AS MATERIALIZED (
        SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY q.vec_id
                       ORDER BY bit_count(xor(q.sig_hi, c.sig_hi))
                                + bit_count(xor(q.sig_lo, c.sig_lo)),
                                c.vec_id) AS hrank
            FROM sigs q JOIN sigs c
              ON q.vec_id < {N_QUERIES} AND c.vec_id >= {N_QUERIES}
        ) WHERE hrank <= {BQ_SHORTLIST}
    ),
    scored AS (
        SELECT s.query_id, s.neighbor_id,
               ROUND({_DOT} / ({_NORM_Q} * {_NORM_C}), 4) AS cos_sim
        FROM shortlist s
        JOIN embeddings q ON q.vec_id = s.query_id
        JOIN embeddings c ON c.vec_id = s.neighbor_id
    )
    SELECT query_id, neighbor_id, cos_sim, rank FROM (
        SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY cos_sim DESC, neighbor_id) AS INTEGER) AS rank
        FROM scored
    )
    WHERE rank <= {TOP_K}
    ORDER BY query_id, rank
"""


# --- sim_lsh_ann full oracle (round 4) -------------------------------------
# The hyperplane constants are embedded as literals; bucket bits use
# the same rounded-dot sign rule as the Spark expression, so the
# candidate set (and hence the ranked output) is engine-identical.

from distributed_mapreduce_server_spark.operators.similarity import (  # noqa: E402
    N_PLANES,
    N_TABLES,
    _hyperplanes,
)


def _lsh_bucket_sql(tbl: int) -> str:
    bits = []
    for j, plane in enumerate(_hyperplanes(tbl)):
        arr = "[" + ", ".join(repr(x) for x in plane) + "]"
        dot = (
            f"list_sum(list_transform(range(1, len(embedding) + 1), "
            f"i -> CAST(embedding[i] AS DOUBLE) * ({arr})[i]))"
        )
        rdot = f"(SIGN({dot}) * FLOOR(ABS({dot}) * 1000000 + 0.5) / 1000000)"
        bits.append(f"CASE WHEN {rdot} >= 0 THEN {1 << j} ELSE 0 END")
    return "(" + " + ".join(bits) + ")"


def _lsh_sql() -> str:
    per_table = "\n        UNION ALL ".join(
        f"SELECT vec_id, {t} AS tbl, {_lsh_bucket_sql(t)} AS bucket FROM embeddings"
        for t in range(N_TABLES)
    )
    probes = ", ".join(str(x) for x in [0] + [1 << j for j in range(N_PLANES)])
    dot = (
        "list_sum(list_transform(range(1, len(q2.embedding) + 1), "
        "i -> CAST(q2.embedding[i] AS DOUBLE) * CAST(c2.embedding[i] AS DOUBLE)))"
    )
    nq = "sqrt(list_sum(list_transform(q2.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    nc = "sqrt(list_sum(list_transform(c2.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    return f"""
    WITH wb AS MATERIALIZED (
        {per_table}
    ),
    q AS (
        SELECT vec_id AS query_id, tbl, xor(bucket, p.x) AS qb
        FROM wb, (SELECT unnest([{probes}]) AS x) p
        WHERE vec_id < {N_QUERIES}
    ),
    c AS (
        SELECT vec_id AS neighbor_id, tbl AS ctbl, bucket AS cb
        FROM wb WHERE vec_id >= {N_QUERIES}
    ),
    cand AS (
        SELECT DISTINCT query_id, neighbor_id
        FROM q JOIN c ON q.tbl = c.ctbl AND q.qb = c.cb
    ),
    scored AS (
        SELECT cand.query_id, cand.neighbor_id,
               ROUND({dot} / ({nq} * {nc}), 4) AS cos_sim
        FROM cand
        JOIN embeddings q2 ON q2.vec_id = cand.query_id
        JOIN embeddings c2 ON c2.vec_id = cand.neighbor_id
    )
    SELECT query_id, neighbor_id, cos_sim, rank FROM (
        SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY cos_sim DESC, neighbor_id) AS INTEGER) AS rank
        FROM scored
    )
    WHERE rank <= {TOP_K}
    ORDER BY query_id, rank
"""


SIMILARITY_ORACLES["sim_lsh_ann"] = _lsh_sql()


# cluster purity: the ivf crank=1 assignment over ALL vectors, then
# per-cluster majority stats (MAX-struct idiom for the tie-broken
# majority label: more votes wins, then smaller label).
SIMILARITY_ORACLES["emb_cluster_purity"] = f"""
    WITH centroids AS (
        SELECT vec_id AS centroid_id, embedding FROM embeddings
        WHERE vec_id >= {N_QUERIES} AND vec_id < {N_QUERIES + N_CENTROIDS}
    ),
    assign AS (
        SELECT vec_id, centroid_id, label FROM (
            SELECT v.vec_id, k.centroid_id, v.label,
                   ROW_NUMBER() OVER (PARTITION BY v.vec_id
                       ORDER BY ROUND({_DOT_VK} / ({_NORM_V} * {_NORM_K}), 4) DESC,
                                k.centroid_id) AS crank
            FROM embeddings v CROSS JOIN centroids k
        ) WHERE crank = 1
    ),
    per_label AS (
        SELECT centroid_id, label, COUNT(*) AS n FROM assign GROUP BY 1, 2
    )
    SELECT centroid_id,
           CAST(SUM(n) AS BIGINT) AS n_vectors,
           COUNT(DISTINCT label) AS n_labels,
           CAST(-((MAX({{'n': n, 'nl': -label}})).nl) AS INTEGER) AS majority_label,
           ROUND(MAX(n) / SUM(n), 4) AS purity
    FROM per_label
    GROUP BY 1
    ORDER BY 1
"""


def _ann_eval_sql() -> str:
    """Compose the recall report from each arm's OWN oracle SQL (as
    MATERIALIZED CTEs — each is referenced twice and DuckDB would
    otherwise inline-re-expand them), so the eval oracle can never
    diverge from the arm oracles it evaluates."""
    arms = {
        "hamming": "sim_hamming_ann",
        "ivf": "sim_ivf_ann",
        "ivfpq": "sim_ivfpq_ann",
        "lsh": "sim_lsh_ann",
        "pq_adc": "sim_pq_adc_ann",
    }
    ctes = ["exact AS MATERIALIZED (\n" + SIMILARITY_ORACLES["sim_cosine_topk"] + "\n)"]
    selects = []
    for arm, key in sorted(arms.items()):
        ctes.append(f"arm_{arm} AS MATERIALIZED (\n" + SIMILARITY_ORACLES[key] + "\n)")
        selects.append(
            f"SELECT '{arm}' AS arm, "
            f"(SELECT COUNT(*) FROM arm_{arm}) AS n_returned, "
            f"(SELECT COUNT(*) FROM arm_{arm} a JOIN exact e "
            f"USING (query_id, neighbor_id)) AS n_hits, "
            f"ROUND((SELECT COUNT(*) FROM arm_{arm} a JOIN exact e "
            f"USING (query_id, neighbor_id)) "
            f"/ (SELECT COUNT(*) FROM exact), 4) AS recall_at_k"
        )
    return (
        "WITH " + ",\n".join(ctes) + "\n"
        + "\nUNION ALL\n".join(selects)
        + "\nORDER BY arm"
    )


SIMILARITY_ORACLES["sim_ann_eval"] = _ann_eval_sql()

# norm outliers: same sequential list fold for the norm, same 1-row
# (mu, sigma) stats, same sigma cut (q_events_anomaly precedent for
# the unrounded boundary compare; 2.5 keeps both SFs non-vacuous).
# NORM_OUTLIER_SIGMA is interpolated so editing the operator constant
# cannot silently desynchronize the oracle.
from distributed_mapreduce_server_spark.operators.similarity import (  # noqa: E402
    NORM_OUTLIER_SIGMA as _NORM_SIGMA,
)

SIMILARITY_ORACLES["emb_norm_outliers"] = f"""
    WITH norms AS (
        SELECT vec_id, label,
               sqrt(list_sum(list_transform(embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS norm
        FROM embeddings
    ),
    stats AS (SELECT AVG(norm) AS mu, STDDEV_SAMP(norm) AS sigma FROM norms)
    SELECT vec_id, label,
           ROUND(norm, 4) AS norm,
           ROUND((norm - mu) / sigma, 4) AS z
    FROM norms, stats
    WHERE ABS(norm - mu) > {_NORM_SIGMA} * sigma
    ORDER BY vec_id
"""


# centroid pair geometry from the SAME 4 dp-rounded centroid frame.
SIMILARITY_ORACLES["emb_centroid_distances"] = """
    WITH c AS (
        SELECT label, i AS pos,
               ROUND(AVG(CAST(embedding[i] AS DOUBLE)), 4) AS c
        FROM embeddings, generate_series(1, 64) AS s(i)
        GROUP BY 1, 2
    ),
    norms AS (SELECT label, SUM(c * c) AS ss FROM c GROUP BY 1),
    pairs AS (
        SELECT a.label AS la, b.label AS lb,
               SUM(a.c * b.c) AS dot,
               SUM((a.c - b.c) * (a.c - b.c)) AS d2
        FROM c a JOIN c b ON a.pos = b.pos AND a.label < b.label
        GROUP BY 1, 2
    )
    SELECT la AS label_a, lb AS label_b,
           ROUND(sqrt(d2), 6) AS l2_dist,
           ROUND(dot / (sqrt(na.ss) * sqrt(nb.ss)), 6) AS cosine
    FROM pairs
    JOIN norms na ON la = na.label
    JOIN norms nb ON lb = nb.label
    ORDER BY 1, 2
"""


from distributed_mapreduce_server_spark.operators.similarity import (  # noqa: E402
    IVF_SWEEP_PROBES,
)


def _ivf_chain(nprobe: int, tag: str) -> str:
    """The IVF candidate->top-k CTE chain at a given probe width
    (clone of the sim_ivf_ann oracle with nprobe parametrized),
    emitting CTE `{tag}` with (query_id, neighbor_id). Base frames
    are MATERIALIZED per the unrolled-iterative-oracle gotcha."""
    return f"""
    {tag}_q_probes AS MATERIALIZED (
        SELECT vec_id AS query_id, centroid_id FROM (
            SELECT v.vec_id, k.centroid_id,
                   ROW_NUMBER() OVER (PARTITION BY v.vec_id
                       ORDER BY ROUND({_DOT_VK} / ({_NORM_V} * {_NORM_K}), 4) DESC,
                                k.centroid_id) AS crank
            FROM embeddings v CROSS JOIN centroids k
            WHERE v.vec_id < {N_QUERIES}
        ) WHERE crank <= {nprobe}
    ),
    {tag}_pairs AS (
        SELECT DISTINCT p.query_id, cb.neighbor_id,
               ROUND({_DOT} / ({_NORM_Q} * {_NORM_C}), 4) AS cos_sim
        FROM {tag}_q_probes p
        JOIN cand_assign cb USING (centroid_id)
        JOIN embeddings q ON q.vec_id = p.query_id
        JOIN embeddings c ON c.vec_id = cb.neighbor_id
    ),
    {tag} AS MATERIALIZED (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                        ORDER BY cos_sim DESC, neighbor_id) AS rank
            FROM {tag}_pairs
        ) WHERE rank <= {TOP_K}
    )"""


def _ivf_sweep_sql() -> str:
    chains = ", ".join(_ivf_chain(p, f"ivf{p}") for p in IVF_SWEEP_PROBES)
    terms = " UNION ALL ".join(
        f"""
        SELECT {p} AS nprobe,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM ivf{p}) AS n_returned,
               (SELECT CAST(COUNT(*) AS BIGINT)
                FROM ivf{p} JOIN exact USING (query_id, neighbor_id)) AS n_hits,
               ROUND((SELECT COUNT(*) FROM ivf{p}
                      JOIN exact USING (query_id, neighbor_id))
                     / (SELECT CAST(COUNT(*) AS DOUBLE) FROM exact), 4)
                   AS recall_at_k
        """
        for p in IVF_SWEEP_PROBES
    )
    return f"""
    WITH {_IVF_CB},
    cand_assign AS MATERIALIZED (
        SELECT vec_id AS neighbor_id, centroid_id FROM (
            SELECT v.vec_id, k.centroid_id,
                   ROW_NUMBER() OVER (PARTITION BY v.vec_id
                       ORDER BY ROUND({_DOT_VK} / ({_NORM_V} * {_NORM_K}), 4) DESC,
                                k.centroid_id) AS crank
            FROM embeddings v CROSS JOIN centroids k
            WHERE v.vec_id >= {N_QUERIES}
        ) WHERE crank <= 1
    ),
    exact AS MATERIALIZED (
        SELECT query_id, neighbor_id FROM (
{SIMILARITY_ORACLES["sim_cosine_topk"]}
        )
    ),
    {chains}
    {terms}
    ORDER BY nprobe
"""


SIMILARITY_ORACLES["sim_ivf_nprobe_sweep"] = _ivf_sweep_sql()


def _kmeans_sql() -> str:
    """Unrolled-Lloyd oracle for emb_kmeans (the q_graph_bfs_levels
    unrolled-CTE recipe applied to k-means): KMEANS_ITERS fixed rounds,
    each as a pair of MATERIALIZED CTEs — d{i}/a{i} (quantized distance
    + argmin assignment under centroids c{i}) and c{i+1} (per-(cid,
    dim) mean, fround 6) — then one closing assignment under the final
    centroids, exactly emb_kmeans: the shared trainer's ``l2`` rounds
    (similarity._train_codebook) plus its closing corpus pass.
    Both engines round distances and means to the same 1e-6 grid, so
    sum-order noise (~1e-15) cannot flip an argmin or a mean."""
    from distributed_mapreduce_server_spark.operators.similarity import (
        KMEANS_ITERS,
        KMEANS_K,
    )

    parts = [
        """e AS MATERIALIZED (
            SELECT vec_id, i AS pos,
                   CAST(embedding[i] AS DOUBLE) AS x
            FROM embeddings, generate_series(1, 64) AS s(i)
        )""",
        f"""c0 AS MATERIALIZED (
            SELECT CAST(vec_id AS INTEGER) AS cid, pos, x AS m
            FROM e WHERE vec_id < {KMEANS_K}
        )""",
    ]
    for i in range(KMEANS_ITERS + 1):
        parts.append(
            f"""d{i} AS MATERIALIZED (
            SELECT e.vec_id, c.cid,
                   ROUND(SUM((e.x - c.m) * (e.x - c.m)), 6) AS dist_sq
            FROM e JOIN c{i} c ON e.pos = c.pos
            GROUP BY 1, 2
        )"""
        )
        parts.append(
            f"""a{i} AS MATERIALIZED (
            SELECT vec_id, cid, dist_sq FROM (
                SELECT vec_id, cid, dist_sq,
                       ROW_NUMBER() OVER (PARTITION BY vec_id
                           ORDER BY dist_sq, cid) AS rk
                FROM d{i}
            ) WHERE rk = 1
        )"""
        )
        if i < KMEANS_ITERS:
            parts.append(
                f"""c{i + 1} AS MATERIALIZED (
            SELECT a.cid, e.pos, ROUND(AVG(e.x), 6) AS m
            FROM a{i} a JOIN e ON a.vec_id = e.vec_id
            GROUP BY 1, 2
        )"""
            )
    joined = ",\n    ".join(parts)
    return f"""
    WITH {joined}
    SELECT cid, COUNT(*) AS n_vectors, ROUND(SUM(dist_sq), 2) AS wcss
    FROM a{KMEANS_ITERS}
    GROUP BY cid
    ORDER BY cid
"""


SIMILARITY_ORACLES["emb_kmeans"] = _kmeans_sql()


def _knn_outlier_sql() -> str:
    from distributed_mapreduce_server_spark.operators.similarity import (
        KNN_K,
        KNN_OUTLIER_SIGMA,
    )

    return f"""
    WITH knn AS MATERIALIZED ({SIMILARITY_ORACLES["sim_knn_join"]}),
    kth AS MATERIALIZED (
        SELECT vec_id, cos_sim AS knn_sim FROM knn WHERE rank = {KNN_K}
    ),
    st AS (SELECT AVG(knn_sim) AS mu, STDDEV_SAMP(knn_sim) AS sigma FROM kth)
    SELECT vec_id, knn_sim, ROUND((knn_sim - mu) / sigma, 4) AS z
    FROM kth, st
    WHERE knn_sim < mu - {KNN_OUTLIER_SIGMA} * sigma
    ORDER BY vec_id
"""


SIMILARITY_ORACLES["emb_outlier_knn_distance"] = _knn_outlier_sql()


def _pq_subdist_res(vec: str, coarse: str, cen: str) -> str:
    """Rounded squared distance between subspace m of the RESIDUAL
    (``vec`` − ``coarse``) and ``cen`` — the by_residual=True twin of
    _pq_subdist, shared by the residual encoder and its LUT."""
    a = (
        f"(CAST({vec}[sub.m * {PQ_SUB_DIM} + i] AS DOUBLE)"
        f" - CAST({coarse}[sub.m * {PQ_SUB_DIM} + i] AS DOUBLE))"
    )
    b = f"CAST({cen}[sub.m * {PQ_SUB_DIM} + i] AS DOUBLE)"
    return (
        f"ROUND(list_sum(list_transform(range(1, {PQ_SUB_DIM} + 1), "
        f"i -> ({a} - {b}) * ({a} - {b}))), 4)"
    )


# IVF-PQ by_residual=True: the same routing CTEs, but candidate codes
# encode (x − its list centroid) and the LUT is per (query, probed
# list) on (q − that centroid). Base CTEs MATERIALIZED per the
# iterative-oracle gotcha (each is referenced 2-3 times downstream).
SIMILARITY_ORACLES["sim_ivfpq_residual"] = f"""
    WITH {_IVF_CB},
    cand_assign AS MATERIALIZED (
        SELECT vec_id AS neighbor_id, centroid_id FROM (
            SELECT v.vec_id, k.centroid_id,
                   ROW_NUMBER() OVER (PARTITION BY v.vec_id
                       ORDER BY ROUND({_DOT_VK} / ({_NORM_V} * {_NORM_K}), 4) DESC,
                                k.centroid_id) AS crank
            FROM embeddings v CROSS JOIN centroids k
            WHERE v.vec_id >= {N_QUERIES}
        ) WHERE crank <= 1
    ),
    q_probes AS MATERIALIZED (
        SELECT vec_id AS query_id, centroid_id FROM (
            SELECT v.vec_id, k.centroid_id,
                   ROW_NUMBER() OVER (PARTITION BY v.vec_id
                       ORDER BY ROUND({_DOT_VK} / ({_NORM_V} * {_NORM_K}), 4) DESC,
                                k.centroid_id) AS crank
            FROM embeddings v CROSS JOIN centroids k
            WHERE v.vec_id < {N_QUERIES}
        ) WHERE crank <= {N_PROBE}
    ),
    {_PQ_CB},
    subs AS (SELECT unnest(range(0, {PQ_M})) AS m),
    dres AS MATERIALIZED (
        SELECT x.vec_id, sub.m, cen.cid,
               {_pq_subdist_res('x.embedding', 'g.embedding', 'cen.c')} AS dist
        FROM embeddings x
        JOIN cand_assign ca ON x.vec_id = ca.neighbor_id
        JOIN centroids g ON g.centroid_id = ca.centroid_id,
        cen, subs sub
    ),
    codes AS MATERIALIZED (
        SELECT vec_id, m, cid FROM (
            SELECT vec_id, m, cid,
                   ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                      ORDER BY dist, cid) AS rn
            FROM dres
        ) WHERE rn = 1
    ),
    lutres AS MATERIALIZED (
        SELECT p.query_id, p.centroid_id, sub.m, cen.cid,
               {_pq_subdist_res('q.embedding', 'g.embedding', 'cen.c')} AS ldist
        FROM q_probes p
        JOIN embeddings q ON q.vec_id = p.query_id
        JOIN centroids g ON g.centroid_id = p.centroid_id,
        cen, subs sub
    ),
    pairs AS (
        SELECT p.query_id, p.centroid_id, ca.neighbor_id
        FROM q_probes p JOIN cand_assign ca USING (centroid_id)
    ),
    adc AS (
        SELECT pr.query_id, pr.neighbor_id,
               ROUND(SUM(l.ldist), 4) AS adc_dist
        FROM pairs pr
        JOIN codes c ON c.vec_id = pr.neighbor_id
        JOIN lutres l ON l.query_id = pr.query_id
                     AND l.centroid_id = pr.centroid_id
                     AND l.m = c.m AND l.cid = c.cid
        GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id, adc_dist, rank
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY adc_dist, neighbor_id) AS rank
        FROM adc
    )
    WHERE rank <= {_PQ_TOP_K}
    ORDER BY query_id, rank
"""


SIMILARITY_ORACLES["emb_ivf_balance"] = f"""
    WITH {_IVF_CB},
    cand_assign AS (
        SELECT vec_id AS neighbor_id, centroid_id FROM (
            SELECT v.vec_id, k.centroid_id,
                   ROW_NUMBER() OVER (PARTITION BY v.vec_id
                       ORDER BY ROUND({_DOT_VK} / ({_NORM_V} * {_NORM_K}), 4) DESC,
                                k.centroid_id) AS crank
            FROM embeddings v CROSS JOIN centroids k
            WHERE v.vec_id >= {N_QUERIES}
        ) WHERE crank <= 1
    ),
    sizes AS (
        SELECT c.centroid_id,
               CAST(COALESCE(s.n, 0) AS BIGINT) AS n_vectors
        FROM centroids c
        LEFT JOIN (SELECT centroid_id, COUNT(*) AS n
                   FROM cand_assign GROUP BY 1) s USING (centroid_id)
    ),
    tot AS (SELECT SUM(n_vectors) AS n, AVG(n_vectors) AS avg_n FROM sizes)
    SELECT centroid_id, n_vectors,
           ROUND(n_vectors / CAST(t.n AS DOUBLE), 6) AS share,
           ROUND(n_vectors / t.avg_n, 4) AS imbalance
    FROM sizes, tot t
    ORDER BY centroid_id
"""
