"""DuckDB oracle SQL for the dedup operators (§2.3).

The MinHash/SimHash statements are generated programmatically so the
constants (perm seeds, band layout, bit width) stay in lockstep with
dedup.py.
"""

from distributed_mapreduce_server_spark.operators.dedup import (
    COSINE_DEDUP_T,
    HAMMING_T,
    JACCARD_T,
    N_BANDS,
    N_PERMS,
    N_SIMHASH_BANDS,
    ROWS_PER_BAND,
    SIMHASH_BAND_BITS,
    SIMHASH_BITS,
)

_TOKS = "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '')"
_SHINGLES = (
    "list_distinct(list_transform(range(1, greatest(len(toks) - 2, 0) + 1), "
    "i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2])))"
)
def _doc_shingles_sql(doc_source: str) -> str:
    """The shingle-build fragment over any (doc_id, text) source —
    shared by the standalone dedup oracles and minhash_pairs_sql so
    the two can never diverge."""
    return f"""
    SELECT doc_id, sh FROM (
        SELECT doc_id, {_SHINGLES} AS sh
        FROM (SELECT doc_id, {_TOKS} AS toks FROM {doc_source})
    ) WHERE len(sh) > 0
"""


_DOC_SHINGLES = _doc_shingles_sql("documents")


def _u60(expr: str) -> str:
    return f"CAST(concat('0x', substr(md5({expr}), 1, 15)) AS BIGINT)"


from distributed_mapreduce_server_spark.functions import MINHASH_P32, perm_constants

_PERM_CONSTS = perm_constants(N_PERMS)


def _mh_col(i: int) -> str:
    a, b = _PERM_CONSTS[i]
    return f"list_min(list_transform(hs, h -> ({a} * h + {b}) % {MINHASH_P32})) AS mh{i}"


_MH_COLS = ",\n               ".join(_mh_col(i) for i in range(N_PERMS))
_HS = f"list_distinct(list_transform(sh, x -> {_u60('x')} & 4294967295))"
_BAND_STRUCTS = ", ".join(
    "{'band_idx': %d, 'band_sig': md5(concat_ws(',', %s))}"
    % (b, ", ".join(f"mh{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)))
    for b in range(N_BANDS)
)

_BIT_SUMS = ",\n               ".join(
    f"SUM(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS s{j}"
    for j in range(SIMHASH_BITS)
)
_SIMHASH_EXPR = " + ".join(
    f"(CASE WHEN s{j} >= 0 THEN CAST({1 << j} AS BIGINT) ELSE 0 END)"
    for j in range(SIMHASH_BITS)
)

DEDUP_ORACLES: dict[str, str] = {
    "dedup_exact": f"""
        SELECT md5(array_to_string({_TOKS}, ' ')) AS fingerprint,
               COUNT(*) AS n_docs,
               MIN(doc_id) AS keep_doc_id
        FROM documents
        GROUP BY 1
        ORDER BY keep_doc_id
    """,
    "dedup_ngram_jaccard": f"""
        WITH s AS ({_DOC_SHINGLES}),
        hashed AS (SELECT doc_id, {_HS} AS hs FROM s),
        e AS (SELECT doc_id, unnest(hs) AS g FROM hashed),
        inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
            FROM e a JOIN e b ON a.g = b.g AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT doc_a, doc_b,
               ROUND(i / (len(sa.hs) + len(sb.hs) - i), 4) AS jaccard
        FROM inter
        JOIN hashed sa ON doc_a = sa.doc_id
        JOIN hashed sb ON doc_b = sb.doc_id
        WHERE ROUND(i / (len(sa.hs) + len(sb.hs) - i), 4) >= {JACCARD_T}
        ORDER BY doc_a, doc_b
    """,
    # dedup_minhash_lsh is added below via minhash_pairs_sql (the
    # composable form the corpus-pipeline oracle also builds on).
    "dedup_simhash": f"""
        WITH s AS ({_DOC_SHINGLES}),
        e AS (
            SELECT doc_id,
                   unnest(list_distinct(list_transform(sh,
                       g -> {_u60("g")} & {(1 << SIMHASH_BITS) - 1}))) AS h
            FROM s
        ),
        sums AS (
            SELECT doc_id,
               {_BIT_SUMS}
            FROM e GROUP BY doc_id
        ),
        sh AS (SELECT doc_id, {_SIMHASH_EXPR} AS simhash FROM sums),
        bands AS (
            {" UNION ALL ".join(
                f"SELECT doc_id, simhash, {b} AS band_idx, "
                f"(simhash >> {b * SIMHASH_BAND_BITS}) & {(1 << SIMHASH_BAND_BITS) - 1} AS band_val FROM sh"
                for b in range(N_SIMHASH_BANDS)
            )}
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
            FROM bands a
            JOIN bands b ON a.band_idx = b.band_idx
                        AND a.band_val = b.band_val
                        AND a.doc_id < b.doc_id
        )
        SELECT doc_a, doc_b, hamming FROM cand
        WHERE hamming <= {HAMMING_T}
        ORDER BY doc_a, doc_b
    """,
    "dedup_embedding_cosine": f"""
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               ROUND(list_sum(list_transform(range(1, len(a.embedding) + 1),
                         i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
                     / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                        * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
                     4) AS cos_sim
        FROM embeddings a
        JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE ROUND(list_sum(list_transform(range(1, len(a.embedding) + 1),
                         i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
                     / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                        * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
                     4) >= {COSINE_DEDUP_T}
        ORDER BY vec_a, vec_b
    """,
}


def minhash_pairs_sql(doc_source: str) -> str:
    """Parenthesized subquery yielding the MinHash-LSH verified pairs
    (doc_a, doc_b, jaccard >= threshold) over any (doc_id, text)
    source — ``documents`` for the standalone operator, a filtered CTE
    for the composed corpus pipeline."""
    return f"""(
        WITH s AS ({_doc_shingles_sql(doc_source)}),
        hashed AS (SELECT doc_id, sh, {_HS} AS hs FROM s),
        sig AS (
            SELECT doc_id,
               {_MH_COLS}
            FROM hashed
        ),
        bands AS (
            SELECT doc_id, unnest([{_BAND_STRUCTS}], recursive := true)
            FROM sig
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a
            JOIN bands b ON a.band_idx = b.band_idx
                        AND a.band_sig = b.band_sig
                        AND a.doc_id < b.doc_id
        ),
        verified AS (
            SELECT doc_a, doc_b,
                   len(list_intersect(sa.hs, sb.hs)) AS i,
                   len(sa.hs) AS na, len(sb.hs) AS nb
            FROM cand
            JOIN hashed sa ON doc_a = sa.doc_id
            JOIN hashed sb ON doc_b = sb.doc_id
        )
        SELECT doc_a, doc_b, ROUND(i / (na + nb - i), 4) AS jaccard
        FROM verified
        WHERE ROUND(i / (na + nb - i), 4) >= {JACCARD_T}
    )"""


DEDUP_ORACLES["dedup_minhash_lsh"] = f"""
    SELECT doc_a, doc_b, jaccard
    FROM {minhash_pairs_sql("documents")} p
    ORDER BY doc_a, doc_b
"""


def _br_sweep_sql() -> str:
    """Mirrors dedup_lsh_br_sweep: one hashed-shingle/signature/
    exhaustive-baseline build shared by all layouts, then per (b, r)
    layout the band explode, distinct bucket-collision candidates,
    and candidates-only exact verify. n_capped_buckets COUNTS the
    buckets over LSH_BUCKET_CAP (none at test SFs — the Spark side's
    within-bucket sampling never activates there, so the uncapped SQL
    stays exact parity)."""
    from distributed_mapreduce_server_spark.operators.dedup import (
        LSH_BR_LAYOUTS,
        LSH_BUCKET_CAP,
    )

    parts = [
        f"brs AS ({_DOC_SHINGLES})",
        f"brh AS MATERIALIZED (SELECT doc_id, {_HS} AS hs FROM brs)",
        f"""brsig AS MATERIALIZED (
            SELECT doc_id,
               {_MH_COLS}
            FROM brh
        )""",
        f"""brexact AS MATERIALIZED (
            SELECT doc_a, doc_b FROM (
                WITH e AS (SELECT doc_id, unnest(hs) AS g FROM brh),
                inter AS (
                    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
                    FROM e a JOIN e b ON a.g = b.g AND a.doc_id < b.doc_id
                    GROUP BY 1, 2
                )
                SELECT doc_a, doc_b
                FROM inter
                JOIN brh sa ON doc_a = sa.doc_id
                JOIN brh sb ON doc_b = sb.doc_id
                WHERE ROUND(i / (len(sa.hs) + len(sb.hs) - i), 4) >= {JACCARD_T}
            )
        )""",
    ]
    selects = []
    for b, r in LSH_BR_LAYOUTS:
        structs = ", ".join(
            "{'band_idx': %d, 'band_sig': md5(concat_ws(',', %s))}"
            % (i, ", ".join(f"mh{i * r + j}" for j in range(r)))
            for i in range(b)
        )
        parts.append(
            f"""brc_{b}_{r} AS MATERIALIZED (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM (SELECT doc_id, unnest([{structs}], recursive := true) FROM brsig) a
            JOIN (SELECT doc_id, unnest([{structs}], recursive := true) FROM brsig) b
              ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig
                 AND a.doc_id < b.doc_id
        )"""
        )
        parts.append(
            f"""brv_{b}_{r} AS (
            SELECT COUNT(*) AS n FROM (
                SELECT doc_a, doc_b,
                       len(list_intersect(sa.hs, sb.hs)) AS i,
                       len(sa.hs) AS na, len(sb.hs) AS nb
                FROM brc_{b}_{r}
                JOIN brh sa ON doc_a = sa.doc_id
                JOIN brh sb ON doc_b = sb.doc_id
            ) WHERE ROUND(i / (na + nb - i), 4) >= {JACCARD_T}
        )"""
        )
        selects.append(
            f"""SELECT CAST({b} AS INTEGER) AS n_bands,
               CAST({r} AS INTEGER) AS rows_per_band,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM brc_{b}_{r}) AS n_candidate_pairs,
               (SELECT CAST(n AS BIGINT) FROM brv_{b}_{r}) AS n_verified_pairs,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM brexact) AS n_exact_pairs,
               ROUND((SELECT n FROM brv_{b}_{r})
                     / CAST(greatest((SELECT COUNT(*) FROM brexact), 1) AS DOUBLE), 4) AS recall,
               ROUND((SELECT n FROM brv_{b}_{r})
                     / CAST(greatest((SELECT COUNT(*) FROM brc_{b}_{r}), 1) AS DOUBLE), 4)
                   AS candidate_precision,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM (
                    SELECT band_idx, band_sig, COUNT(*) AS c
                    FROM (SELECT doc_id,
                          unnest([{structs}], recursive := true) FROM brsig)
                    GROUP BY 1, 2) WHERE c > {LSH_BUCKET_CAP}
               ) AS n_capped_buckets"""
        )
    joined = ",\n    ".join(parts)
    body = " UNION ALL ".join(selects)
    return f"""
    WITH {joined}
    SELECT * FROM ({body})
    ORDER BY rows_per_band
"""


DEDUP_ORACLES["dedup_lsh_br_sweep"] = _br_sweep_sql()


# Near-dup pair list (the ngram-jaccard query without the projection),
# reused by the clustering oracles.
_PAIRS_SQL = f"""
        SELECT doc_a, doc_b FROM (
            WITH s AS ({_DOC_SHINGLES}),
            hashed AS (SELECT doc_id, {_HS} AS hs FROM s),
            e AS (SELECT doc_id, unnest(hs) AS g FROM hashed),
            inter AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
                FROM e a JOIN e b ON a.g = b.g AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            )
            SELECT doc_a, doc_b
            FROM inter
            JOIN hashed sa ON doc_a = sa.doc_id
            JOIN hashed sb ON doc_b = sb.doc_id
            WHERE ROUND(i / (len(sa.hs) + len(sb.hs) - i), 4) >= {JACCARD_T}
        )
"""

_CLUSTERS_SQL = f"""
    WITH RECURSIVE pairs AS ({_PAIRS_SQL}),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION
        SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    reach(src, dst) AS (
        SELECT src, dst FROM edges
        UNION
        SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    )
    SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster_id
    FROM reach GROUP BY src
"""

DEDUP_ORACLES["dedup_clusters"] = f"""
    {_CLUSTERS_SQL}
    ORDER BY doc_id
"""

DEDUP_ORACLES["dedup_keep_canonical"] = f"""
    WITH clusters AS ({_CLUSTERS_SQL})
    SELECT doc_id, TRUE AS kept
    FROM documents
    WHERE doc_id NOT IN (SELECT doc_id FROM clusters WHERE doc_id <> cluster_id)
    ORDER BY doc_id
"""

_COS_AB = """ROUND(list_sum(list_transform(range(1, len(a.embedding) + 1),
                 i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
             4)"""

DEDUP_ORACLES["dedup_semantic_keep"] = f"""
    WITH dropped AS (
        SELECT DISTINCT b.vec_id AS doc_id
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE {_COS_AB} >= {COSINE_DEDUP_T}
    )
    SELECT d.doc_id, TRUE AS kept
    FROM documents d
    WHERE d.doc_id NOT IN (SELECT doc_id FROM dropped)
    ORDER BY d.doc_id
"""

from distributed_mapreduce_server_spark.operators.dedup import (  # noqa: E402
    INCR_INDEX_FRACTION,
)

_INCR_NUM, _INCR_DEN = INCR_INDEX_FRACTION
DEDUP_ORACLES["dedup_incremental"] = f"""
    WITH fp AS (
        SELECT doc_id, md5(array_to_string({_TOKS}, ' ')) AS fingerprint
        FROM documents
    ),
    cut AS (SELECT CAST(FLOOR(((MAX(doc_id) + 1) * {_INCR_NUM})
                              / {_INCR_DEN}) AS BIGINT) AS cutoff
            FROM documents),
    idx AS (SELECT DISTINCT fingerprint FROM fp, cut WHERE doc_id < cutoff),
    batch AS (
        SELECT doc_id, fingerprint,
               ROW_NUMBER() OVER (PARTITION BY fingerprint
                                  ORDER BY doc_id) AS rn
        FROM fp, cut WHERE doc_id >= cutoff
    )
    SELECT b.doc_id,
           CASE WHEN i.fingerprint IS NOT NULL THEN 'dup_of_index'
                WHEN b.rn > 1 THEN 'dup_in_batch'
                ELSE 'kept' END AS status
    FROM batch b LEFT JOIN idx i USING (fingerprint)
    ORDER BY b.doc_id
"""

# prefix filtering is candidate-generation only — verification is the
# exact jaccard, so its result set IS dedup_ngram_jaccard's: one
# oracle object serves both (edits can't desynchronize them).
DEDUP_ORACLES["dedup_prefix_filter_jaccard"] = DEDUP_ORACLES["dedup_ngram_jaccard"]

# large-star/small-star CC computes the same components as the label
# propagation — one oracle object serves both implementations.
DEDUP_ORACLES["dedup_clusters_bigstar"] = DEDUP_ORACLES["dedup_clusters"]

# incremental near-dup: MinHash-LSH pairs over the full table, then
# classify each batch doc (id >= cutoff) by its lowest-tier partner —
# an index pair (doc_a below the cutoff) wins over a batch pair.
DEDUP_ORACLES["dedup_incremental_neardup"] = f"""
    WITH cut AS (SELECT CAST(FLOOR(((MAX(doc_id) + 1) * {_INCR_NUM})
                                   / {_INCR_DEN}) AS BIGINT) AS cutoff
                 FROM documents),
    pairs AS (SELECT doc_a, doc_b FROM {minhash_pairs_sql("documents")} p),
    flags AS (
        SELECT doc_b AS doc_id,
               MAX(CASE WHEN doc_a < cutoff THEN 1 ELSE 0 END) AS from_index
        FROM pairs, cut
        GROUP BY 1
    )
    SELECT d.doc_id,
           CASE WHEN f.from_index = 1 THEN 'neardup_of_index'
                WHEN f.from_index = 0 THEN 'neardup_in_batch'
                ELSE 'kept' END AS status
    FROM documents d
    CROSS JOIN cut
    LEFT JOIN flags f ON f.doc_id = d.doc_id
    WHERE d.doc_id >= cutoff
    ORDER BY d.doc_id
"""

# the indexed variant is result-identical to the recompute variant —
# one oracle object serves both.
DEDUP_ORACLES["dedup_incremental_neardup_indexed"] = DEDUP_ORACLES[
    "dedup_incremental_neardup"
]

from distributed_mapreduce_server_spark.operators.text_oracles import (  # noqa: E402
    TEXT_ORACLES,
)

DEDUP_ORACLES["dedup_keep_best_quality"] = f"""
    WITH clusters AS ({_CLUSTERS_SQL}),
    quality AS (
        SELECT doc_id, quality FROM ({TEXT_ORACLES["text_quality_score"]})
    ),
    ranked AS (
        SELECT c.doc_id,
               ROW_NUMBER() OVER (PARTITION BY c.cluster_id
                                  ORDER BY q.quality DESC, c.doc_id) AS rn
        FROM clusters c JOIN quality q USING (doc_id)
    )
    SELECT d.doc_id, TRUE AS kept
    FROM documents d
    WHERE d.doc_id NOT IN (SELECT doc_id FROM ranked WHERE rn > 1)
    ORDER BY d.doc_id
"""


def _exact_substr_oracle() -> str:
    from distributed_mapreduce_server_spark.operators.dedup import SUBSTR_L

    L = SUBSTR_L
    gram = _u60(f"array_to_string(t[i:i + {L - 1}], ' ')")
    return f"""
        WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
        grams AS (
            SELECT doc_id, i AS pos, {gram} AS h
            FROM (
                SELECT doc_id, t,
                       unnest(generate_series(1, len(t) - {L - 1})) AS i
                FROM toks
            )
        ),
        dup AS (SELECT h FROM grams GROUP BY h HAVING COUNT(*) >= 2),
        cover AS (
            SELECT DISTINCT doc_id, pos + j AS cov
            FROM (
                SELECT g.doc_id, g.pos,
                       unnest(generate_series(0, {L - 1})) AS j
                FROM grams g JOIN dup ON g.h = dup.h
            )
        ),
        agg AS (
            SELECT doc_id, COUNT(*) AS n_dup_covered
            FROM cover GROUP BY doc_id
        )
        SELECT toks.doc_id,
               CAST(len(toks.t) AS INTEGER) AS n_tokens,
               COALESCE(agg.n_dup_covered, 0) AS n_dup_covered,
               ROUND(COALESCE(agg.n_dup_covered, 0)
                     / CAST(greatest(len(toks.t), 1) AS DOUBLE), 4)
                   AS dup_frac
        FROM toks LEFT JOIN agg ON toks.doc_id = agg.doc_id
        ORDER BY toks.doc_id
    """


DEDUP_ORACLES["dedup_exact_substr"] = _exact_substr_oracle()


def _substr_spans_oracle() -> str:
    """Mirrors dedup_substr_spans: the exact-substr cover set, then
    gaps-and-islands (cov − ROW_NUMBER constant within a maximal run)
    per document."""
    from distributed_mapreduce_server_spark.operators.dedup import SUBSTR_L

    L = SUBSTR_L
    gram = _u60(f"array_to_string(t[i:i + {L - 1}], ' ')")
    return f"""
        WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
        grams AS (
            SELECT doc_id, i AS pos, {gram} AS h
            FROM (
                SELECT doc_id, t,
                       unnest(generate_series(1, len(t) - {L - 1})) AS i
                FROM toks
            )
        ),
        dup AS (SELECT h FROM grams GROUP BY h HAVING COUNT(*) >= 2),
        cover AS (
            SELECT DISTINCT doc_id, pos + j AS cov
            FROM (
                SELECT g.doc_id, g.pos,
                       unnest(generate_series(0, {L - 1})) AS j
                FROM grams g JOIN dup ON g.h = dup.h
            )
        ),
        isl AS (
            SELECT doc_id, cov,
                   cov - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY cov)
                       AS grp
            FROM cover
        ),
        spans AS (
            SELECT doc_id, grp, COUNT(*) AS span_len
            FROM isl GROUP BY 1, 2
        ),
        agg AS (
            SELECT doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_spans,
                   CAST(MAX(span_len) AS BIGINT) AS max_span_tokens,
                   CAST(SUM(span_len) AS BIGINT) AS n_dup_covered
            FROM spans GROUP BY 1
        )
        SELECT toks.doc_id,
               CAST(len(toks.t) AS INTEGER) AS n_tokens,
               COALESCE(agg.n_spans, 0) AS n_spans,
               COALESCE(agg.max_span_tokens, 0) AS max_span_tokens,
               COALESCE(agg.n_dup_covered, 0) AS n_dup_covered
        FROM toks LEFT JOIN agg ON toks.doc_id = agg.doc_id
        ORDER BY toks.doc_id
    """


DEDUP_ORACLES["dedup_substr_spans"] = _substr_spans_oracle()


def _substr_multiscale_oracle() -> str:
    """Mirrors dedup_substr_multiscale: base L0-gram hashes, then each
    doubling's hashes derived as u60(h_prev || ' ' || lead(h_prev,
    L_prev)) — the identical ladder the Spark side runs, so the dup
    sets (and therefore the cover/span aggregates) are
    engine-identical including hash collisions. Level frames are
    MATERIALIZED (each feeds its df filter, its cover join, and the
    next level)."""
    from distributed_mapreduce_server_spark.operators.dedup import (
        SUBSTR_L,
        SUBSTR_L_GRID,
    )

    L0 = SUBSTR_L
    gram = _u60(f"array_to_string(t[i:i + {L0 - 1}], ' ')")
    parts = [
        f"""mtoks AS (SELECT doc_id, {_TOKS} AS t FROM documents)""",
        f"""mg0 AS MATERIALIZED (
            SELECT doc_id, i AS pos, {gram} AS h
            FROM (
                SELECT doc_id, t,
                       unnest(generate_series(1, len(t) - {L0 - 1})) AS i
                FROM mtoks
            )
        )""",
    ]
    combine = _u60("CAST(h AS VARCHAR) || ' ' || CAST(h2 AS VARCHAR)")
    prev_l = L0
    for k, L in enumerate(SUBSTR_L_GRID):
        if k:
            parts.append(
                f"""mg{k} AS MATERIALIZED (
            SELECT doc_id, pos, {combine} AS h
            FROM (
                SELECT doc_id, pos, h,
                       lead(h, {prev_l}) OVER (PARTITION BY doc_id ORDER BY pos) AS h2
                FROM mg{k - 1}
            ) WHERE h2 IS NOT NULL
        )"""
            )
            prev_l = L
        parts.append(
            f"""mper{k} AS MATERIALIZED (
            SELECT doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_spans,
                   CAST(MAX(span_len) AS BIGINT) AS max_span_tokens,
                   CAST(SUM(span_len) AS BIGINT) AS n_dup_covered
            FROM (
                SELECT doc_id, grp, COUNT(*) AS span_len
                FROM (
                    SELECT doc_id, cov,
                           cov - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY cov) AS grp
                    FROM (
                        SELECT DISTINCT g.doc_id, g.pos + j AS cov
                        FROM mg{k} g
                        JOIN (SELECT h FROM mg{k} GROUP BY h HAVING COUNT(*) >= 2) d
                          ON g.h = d.h,
                        (SELECT unnest(generate_series(0, {L - 1})) AS j) js
                    )
                ) GROUP BY 1, 2
            ) GROUP BY doc_id
        )"""
        )
    parts.append(
        "msizes AS (SELECT doc_id, CAST(len(t) AS INTEGER) AS n_tokens FROM mtoks)"
    )
    selects = " UNION ALL ".join(
        f"""SELECT s.doc_id, CAST({L} AS INTEGER) AS span_l, s.n_tokens,
               COALESCE(p.n_spans, 0) AS n_spans,
               COALESCE(p.max_span_tokens, 0) AS max_span_tokens,
               COALESCE(p.n_dup_covered, 0) AS n_dup_covered,
               ROUND(COALESCE(p.n_dup_covered, 0)
                     / CAST(greatest(s.n_tokens, 1) AS DOUBLE), 4) AS dup_frac
        FROM msizes s LEFT JOIN mper{k} p USING (doc_id)"""
        for k, L in enumerate(SUBSTR_L_GRID)
    )
    joined = ",\n    ".join(parts)
    return f"""
    WITH {joined}
    SELECT * FROM ({selects})
    ORDER BY doc_id, span_l
"""


DEDUP_ORACLES["dedup_substr_multiscale"] = _substr_multiscale_oracle()


from distributed_mapreduce_server_spark.operators.dedup import (  # noqa: E402
    CONTAINMENT_T_DEN,
    CONTAINMENT_T_NUM,
)

# exact integer threshold i >= ceil(t * |A|), matching the Spark
# verify AND the prefix-filter recall bound (a rounded-ratio filter
# would admit ~0.89995 pairs the candidate generation never saw)
DEDUP_ORACLES["dedup_containment"] = f"""
    WITH s AS ({_DOC_SHINGLES}),
    hashed AS (SELECT doc_id, {_HS} AS hs FROM s),
    e AS (SELECT doc_id, unnest(hs) AS g FROM hashed),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
        FROM e a JOIN e b ON a.g = b.g AND a.doc_id <> b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a AS contained_doc, doc_b AS container_doc,
           ROUND(i / len(sa.hs), 4) AS containment
    FROM inter JOIN hashed sa ON doc_a = sa.doc_id
    WHERE i >= ({CONTAINMENT_T_NUM} * len(sa.hs) + {CONTAINMENT_T_DEN - 1}) // {CONTAINMENT_T_DEN}
    ORDER BY 1, 2
"""


# LSH-recall evaluation: composes the two existing pair oracles. The
# verified LSH pairs are a subset of the exact pairs by construction,
# so n_missed = n_exact - n_lsh.
DEDUP_ORACLES["dedup_lsh_eval"] = f"""
    WITH exact AS (SELECT doc_a, doc_b FROM ({DEDUP_ORACLES["dedup_ngram_jaccard"]})),
    lsh AS (SELECT doc_a, doc_b FROM {minhash_pairs_sql("documents")} p)
    SELECT (SELECT COUNT(*) FROM exact) AS n_exact_pairs,
           (SELECT COUNT(*) FROM lsh) AS n_lsh_pairs,
           (SELECT COUNT(*) FROM exact) - (SELECT COUNT(*) FROM lsh) AS n_missed,
           ROUND(CAST((SELECT COUNT(*) FROM lsh) AS DOUBLE)
                 / greatest(CAST((SELECT COUNT(*) FROM exact) AS DOUBLE), 1.0), 4)
               AS recall
"""


DEDUP_ORACLES["dedup_cluster_stats"] = f"""
    WITH clusters AS ({_CLUSTERS_SQL}),
    sizes AS (
        SELECT cluster_id, COUNT(*) AS cluster_size FROM clusters GROUP BY 1
    )
    SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
           COUNT(*) AS n_clusters
    FROM sizes
    GROUP BY 1
    ORDER BY 1
"""

# semantic clusters: the jaccard-cluster recursive-reach shape over the
# embedding-cosine pair graph (pairs CTE swapped; same LEAST min-label
# semantics as the Spark loop's fixpoint).
DEDUP_ORACLES["dedup_semantic_clusters"] = f"""
    WITH RECURSIVE pairs AS (
        SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE {_COS_AB} >= {COSINE_DEDUP_T}
    ),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION
        SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    reach(src, dst) AS (
        SELECT src, dst FROM edges
        UNION
        SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    )
    SELECT src AS vec_id, LEAST(src, MIN(dst)) AS cluster_id
    FROM reach GROUP BY src
    ORDER BY vec_id
"""


def _span_clean_oracle() -> str:
    from distributed_mapreduce_server_spark.operators.dedup import SUBSTR_L

    L = SUBSTR_L
    gram = _u60(f"array_to_string(t[i:i + {L - 1}], ' ')")
    return f"""
        WITH toks AS MATERIALIZED (SELECT doc_id, {_TOKS} AS t FROM documents),
        grams AS MATERIALIZED (
            SELECT doc_id, i AS pos, {gram} AS h
            FROM (
                SELECT doc_id, t,
                       unnest(generate_series(1, len(t) - {L - 1})) AS i
                FROM toks
            )
        ),
        dup AS (SELECT h FROM grams GROUP BY h HAVING COUNT(*) >= 2),
        cover AS MATERIALIZED (
            SELECT DISTINCT doc_id, pos + j AS cov
            FROM (
                SELECT g.doc_id, g.pos,
                       unnest(generate_series(0, {L - 1})) AS j
                FROM grams g JOIN dup ON g.h = dup.h
            )
        ),
        tok_rows AS (
            SELECT doc_id, i AS pos, t[CAST(i AS INTEGER)] AS tok
            FROM (SELECT doc_id, t, unnest(generate_series(1, len(t))) AS i
                  FROM toks)
        ),
        kept AS (
            SELECT tr.doc_id, tr.pos, tr.tok
            FROM tok_rows tr
            LEFT JOIN cover c ON tr.doc_id = c.doc_id AND tr.pos = c.cov
            WHERE c.cov IS NULL
        ),
        clean AS (
            SELECT doc_id, COUNT(*) AS n_kept,
                   md5(string_agg(tok, ' ' ORDER BY pos)) AS clean_fp
            FROM kept GROUP BY doc_id
        )
        SELECT toks.doc_id,
               CAST(len(toks.t) AS INTEGER) AS n_tokens,
               CAST(len(toks.t) - COALESCE(clean.n_kept, 0) AS BIGINT)
                   AS n_removed,
               CAST(COALESCE(clean.n_kept, 0) AS BIGINT) AS n_kept,
               COALESCE(clean.clean_fp, md5('')) AS clean_fp
        FROM toks LEFT JOIN clean ON toks.doc_id = clean.doc_id
        ORDER BY toks.doc_id
    """


DEDUP_ORACLES["dedup_span_clean"] = _span_clean_oracle()


def _minhash_est_eval_sql() -> str:
    eq_terms = " + ".join(
        f"CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END"
        for i in range(N_PERMS)
    )
    return f"""
    WITH s AS ({_doc_shingles_sql("documents")}),
    hashed AS MATERIALIZED (SELECT doc_id, sh, {_HS} AS hs FROM s),
    sig AS MATERIALIZED (
        SELECT doc_id,
           {_MH_COLS}
        FROM hashed
    ),
    bands AS (
        SELECT doc_id, unnest([{_BAND_STRUCTS}], recursive := true)
        FROM sig
    ),
    cand AS MATERIALIZED (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a
        JOIN bands b ON a.band_idx = b.band_idx
                    AND a.band_sig = b.band_sig
                    AND a.doc_id < b.doc_id
    ),
    per_pair AS (
        SELECT ROUND(len(list_intersect(ha.hs, hb.hs))
                     / (len(ha.hs) + len(hb.hs)
                        - len(list_intersect(ha.hs, hb.hs))), 4) AS jaccard,
               ROUND(({eq_terms}) / {N_PERMS}.0, 4) AS est_jaccard
        FROM cand
        JOIN hashed ha ON cand.doc_a = ha.doc_id
        JOIN hashed hb ON cand.doc_b = hb.doc_id
        JOIN sig sa ON cand.doc_a = sa.doc_id
        JOIN sig sb ON cand.doc_b = sb.doc_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           ROUND(AVG(jaccard), 4) AS avg_exact,
           ROUND(AVG(est_jaccard), 4) AS avg_est,
           ROUND(AVG(abs(est_jaccard - jaccard)), 4) AS mae,
           ROUND(MAX(abs(est_jaccard - jaccard)), 4) AS max_abs_err
    FROM per_pair
"""


DEDUP_ORACLES["dedup_minhash_est_eval"] = _minhash_est_eval_sql()


from distributed_mapreduce_server_spark.operators.dedup import (  # noqa: E402
    SWEEP_THRESHOLDS,
)


from distributed_mapreduce_server_spark.operators.dedup import (  # noqa: E402
    NESTED_K2,
    NESTED_P1,
    NESTED_P2,
    ROUTE_ITERS,
    ROUTE_K,
    ROUTE_PROBES,
)

# vector↔centroid cosine for the routing oracle (v = embeddings row,
# k = centroids row) — mirrors _centroid_assign's rounded matmul.
_COS_VK = """ROUND(list_sum(list_transform(range(1, len(v.embedding) + 1),
                 i -> CAST(v.embedding[i] AS DOUBLE) * CAST(k.embedding[i] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(v.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                * sqrt(list_sum(list_transform(k.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
             4)"""


def _lloyd_ctes(prefix: str, source: str, k: int, iters: int, out_name: str) -> str:
    """Unrolled cosine-Lloyd trainer over any long-form
    (vec_id, pos, x) CTE ``source``, mirroring the shared trainer's
    cosine metric (similarity._train_codebook): init = rows with
    vec_id < ``k``, per round a 1e-4-rounded cosine argmax assignment
    (cid ASC tie-break == numpy argmax-first over the sorted id axis)
    and a 1e-6-rounded per-(cid, dim) mean update. Ends with
    ``out_name``(centroid_id, embedding) in list form; the final long
    form survives as {prefix}c{iters} for residual arithmetic."""
    parts = [
        f"""{prefix}nv AS MATERIALIZED (
            SELECT vec_id, sqrt(SUM(x * x)) AS nrm FROM {source} GROUP BY 1
        )""",
        f"""{prefix}c0 AS MATERIALIZED (
            SELECT CAST(vec_id AS BIGINT) AS cid, pos, x AS m
            FROM {source} WHERE vec_id < {k}
        )""",
    ]
    for i in range(iters):
        parts += [
            f"""{prefix}kn{i} AS MATERIALIZED (
            SELECT cid, sqrt(SUM(m * m)) AS knrm FROM {prefix}c{i} GROUP BY 1
        )""",
            f"""{prefix}s{i} AS MATERIALIZED (
            SELECT v.vec_id, c.cid,
                   ROUND(SUM(v.x * c.m) / (MIN(n.nrm) * MIN(k.knrm)), 4) AS cs
            FROM {source} v
            JOIN {prefix}c{i} c ON v.pos = c.pos
            JOIN {prefix}nv n ON n.vec_id = v.vec_id
            JOIN {prefix}kn{i} k ON k.cid = c.cid
            GROUP BY 1, 2
        )""",
            f"""{prefix}a{i} AS MATERIALIZED (
            SELECT vec_id, cid FROM (
                SELECT vec_id, cid,
                       ROW_NUMBER() OVER (PARTITION BY vec_id
                           ORDER BY cs DESC, cid) AS rk
                FROM {prefix}s{i}
            ) WHERE rk = 1
        )""",
            f"""{prefix}c{i + 1} AS MATERIALIZED (
            SELECT a.cid, e.pos, ROUND(AVG(e.x), 6) AS m
            FROM {prefix}a{i} a JOIN {source} e USING (vec_id)
            GROUP BY 1, 2
        )""",
        ]
    parts.append(
        f"""{out_name} AS MATERIALIZED (
            SELECT cid AS centroid_id, list(m ORDER BY pos) AS embedding
            FROM {prefix}c{iters} GROUP BY cid
        )"""
    )
    return ",\n    ".join(parts)


def _route_codebook_ctes() -> str:
    """Coarse codebook mirroring dedup._route_codebook: the shared
    Lloyd recipe over the raw embedding corpus, ending in
    `centroids(centroid_id, embedding)` list form."""
    re_cte = """re AS MATERIALIZED (
            SELECT vec_id, i AS pos, CAST(embedding[i] AS DOUBLE) AS x
            FROM embeddings, generate_series(1, 64) AS s(i)
        )"""
    return re_cte + ",\n    " + _lloyd_ctes("r", "re", ROUTE_K, ROUTE_ITERS, "centroids")


_ROUTED_ASSIGN = f"""
    {_route_codebook_ctes()},
    assign AS MATERIALIZED (
        SELECT vec_id, centroid_id FROM (
            SELECT v.vec_id, k.centroid_id,
                   ROW_NUMBER() OVER (PARTITION BY v.vec_id
                       ORDER BY {_COS_VK} DESC, k.centroid_id) AS crank
            FROM embeddings v CROSS JOIN centroids k
        ) WHERE crank <= {ROUTE_PROBES}
    )
"""

_ROUTED_PAIRS = f"""
    cand AS MATERIALIZED (
        SELECT DISTINCT x.vec_id AS va, y.vec_id AS vb
        FROM assign x JOIN assign y
          ON x.centroid_id = y.centroid_id AND x.vec_id < y.vec_id
    ),
    routed AS MATERIALIZED (
        SELECT va AS vec_a, vb AS vec_b, {_COS_AB} AS cos_sim
        FROM cand
        JOIN embeddings a ON va = a.vec_id
        JOIN embeddings b ON vb = b.vec_id
        WHERE {_COS_AB} >= {COSINE_DEDUP_T}
    )
"""

DEDUP_ORACLES["dedup_semantic_routed"] = f"""
    WITH {_ROUTED_ASSIGN},
    {_ROUTED_PAIRS}
    SELECT vec_a, vec_b, cos_sim FROM routed
    ORDER BY vec_a, vec_b
"""


def _threshold_sweep_sql() -> str:
    """Mirrors dedup_threshold_sweep (ROUTED pair source since round
    10): the trained-codebook assignment CTEs feed one materialized
    within-bucket pair frame at the loosest cut, then each grid step
    counts pairs and distinct touched docs from it (cosines
    pre-rounded to the 1e-4 grid, so the >= comparisons are
    engine-stable at 2-dp thresholds)."""
    rows = " UNION ALL ".join(
        f"""SELECT CAST({t} AS DOUBLE) AS threshold,
               (SELECT CAST(COUNT(*) AS BIGINT)
                FROM pairs WHERE cs >= {t}) AS n_pairs,
               (SELECT CAST(COUNT(DISTINCT v) AS BIGINT)
                FROM (SELECT va AS v FROM pairs WHERE cs >= {t}
                      UNION ALL SELECT vb FROM pairs WHERE cs >= {t})
               ) AS n_docs_affected"""
        for t in SWEEP_THRESHOLDS
    )
    return f"""
    WITH {_ROUTED_ASSIGN},
    cand AS MATERIALIZED (
        SELECT DISTINCT x.vec_id AS va, y.vec_id AS vb
        FROM assign x JOIN assign y
          ON x.centroid_id = y.centroid_id AND x.vec_id < y.vec_id
    ),
    pairs AS MATERIALIZED (
        SELECT va, vb, {_COS_AB} AS cs
        FROM cand
        JOIN embeddings a ON va = a.vec_id
        JOIN embeddings b ON vb = b.vec_id
        WHERE {_COS_AB} >= {min(SWEEP_THRESHOLDS)}
    )
    SELECT * FROM ({rows})
    ORDER BY threshold
"""


DEDUP_ORACLES["dedup_threshold_sweep"] = _threshold_sweep_sql()

DEDUP_ORACLES["dedup_routed_eval"] = f"""
    WITH {_ROUTED_ASSIGN},
    {_ROUTED_PAIRS},
    exact AS MATERIALIZED (
        SELECT a.vec_id AS va, b.vec_id AS vb
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE {_COS_AB} >= {COSINE_DEDUP_T}
    ),
    m AS (
        SELECT (SELECT COUNT(*) FROM exact) AS ne,
               (SELECT COUNT(*) FROM routed) AS nr,
               (SELECT CAST(SUM(c * (c - 1) // 2) AS BIGINT)
                FROM (SELECT COUNT(*) AS c FROM assign GROUP BY centroid_id)
               ) AS nc,
               (SELECT COUNT(*) * (COUNT(*) - 1) // 2 FROM embeddings) AS nb,
               (SELECT COUNT(*) FROM embeddings) AS nev
    )
    SELECT CAST(nev AS BIGINT) AS n_eval_vecs,
           CAST(ne AS BIGINT) AS n_exact_pairs,
           CAST(nr AS BIGINT) AS n_routed_pairs,
           CAST(ne - nr AS BIGINT) AS n_missed,
           ROUND(CAST(nr AS DOUBLE) / GREATEST(ne, 1), 4) AS recall,
           nc AS n_candidates,
           CAST(nb AS BIGINT) AS n_brute_pairs,
           ROUND(CAST(nb AS DOUBLE) / nc, 2) AS candidate_reduction
    FROM m
"""


_ROUTED_ASSIGN_RANKED = f"""
    {_route_codebook_ctes()},
    assign AS MATERIALIZED (
        SELECT vec_id, centroid_id, crank FROM (
            SELECT v.vec_id, k.centroid_id,
                   ROW_NUMBER() OVER (PARTITION BY v.vec_id
                       ORDER BY {_COS_VK} DESC, k.centroid_id) AS crank
            FROM embeddings v CROSS JOIN centroids k
        ) WHERE crank <= {ROUTE_PROBES}
    )
"""


def _probe_sweep_sql() -> str:
    """Mirrors dedup_routed_probe_sweep: one ranked assignment at the
    widest width, per-P candidate budgets from the (centroid, rank)
    histogram, per-P recall from the exact pairs' minimal catching
    width."""
    rows = " UNION ALL ".join(
        f"""SELECT {p} AS probes,
               (SELECT CAST(SUM(c * (c - 1) // 2) AS BIGINT)
                FROM (SELECT centroid_id, COUNT(*) AS c FROM assign
                      WHERE crank <= {p} GROUP BY 1)) AS n_candidates,
               (SELECT CAST(COUNT(*) AS BIGINT)
                FROM minp WHERE min_p <= {p}) AS n_routed_pairs"""
        for p in range(1, ROUTE_PROBES + 1)
    )
    return f"""
    WITH {_ROUTED_ASSIGN_RANKED},
    exact AS MATERIALIZED (
        SELECT a.vec_id AS va, b.vec_id AS vb
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE {_COS_AB} >= {COSINE_DEDUP_T}
    ),
    minp AS MATERIALIZED (
        SELECT e.va, e.vb, MIN(GREATEST(x.crank, y.crank)) AS min_p
        FROM exact e
        JOIN assign x ON x.vec_id = e.va
        JOIN assign y ON y.vec_id = e.vb AND y.centroid_id = x.centroid_id
        GROUP BY 1, 2
    ),
    ne AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_exact_pairs FROM exact)
    SELECT probes, n_candidates, n_routed_pairs, ne.n_exact_pairs,
           ROUND(n_routed_pairs / GREATEST(ne.n_exact_pairs, 1), 4) AS recall
    FROM ({rows}) CROSS JOIN ne
    ORDER BY probes
"""


DEDUP_ORACLES["dedup_routed_probe_sweep"] = _probe_sweep_sql()


# Nested coarse→fine router (dedup_semantic_routed_nested /
# dedup_routed_nested_eval): the SAME unrolled-Lloyd recipe twice —
# once over the raw embeddings (coarse, shared with the flat router's
# CTEs) and once over home-cell residuals (fine, prefix "f") — then a
# two-level ranked assignment and a bucket self-join on the composite
# (coarse, fine) key. Residual arithmetic runs in long form against
# the coarse trainer's final per-(cid, pos) means rc{ROUTE_ITERS}.
_NESTED_CTES = f"""
    {_route_codebook_ctes()},
    home AS MATERIALIZED (
        SELECT vec_id, centroid_id FROM (
            SELECT v.vec_id, k.centroid_id,
                   ROW_NUMBER() OVER (PARTITION BY v.vec_id
                       ORDER BY {_COS_VK} DESC, k.centroid_id) AS crank
            FROM embeddings v CROSS JOIN centroids k
        ) WHERE crank = 1
    ),
    rre AS MATERIALIZED (
        SELECT e.vec_id, e.pos, e.x - c.m AS x
        FROM re e
        JOIN home h ON e.vec_id = h.vec_id
        JOIN rc{ROUTE_ITERS} c ON c.cid = h.centroid_id AND c.pos = e.pos
    ),
    {_lloyd_ctes("f", "rre", NESTED_K2, ROUTE_ITERS, "fine_centroids")},
    a1 AS MATERIALIZED (
        SELECT vec_id, centroid_id, crank FROM (
            SELECT v.vec_id, k.centroid_id,
                   ROW_NUMBER() OVER (PARTITION BY v.vec_id
                       ORDER BY {_COS_VK} DESC, k.centroid_id) AS crank
            FROM embeddings v CROSS JOIN centroids k
        ) WHERE crank <= {NESTED_P1}
    ),
    rplist AS MATERIALIZED (
        SELECT a.vec_id, a.centroid_id,
               list(e.x - c.m ORDER BY e.pos) AS r
        FROM a1 a
        JOIN re e ON e.vec_id = a.vec_id
        JOIN rc{ROUTE_ITERS} c ON c.cid = a.centroid_id AND c.pos = e.pos
        GROUP BY 1, 2
    ),
    rpn AS MATERIALIZED (
        SELECT vec_id, centroid_id,
               sqrt(list_sum(list_transform(r, x -> x * x))) AS nrm
        FROM rplist
    ),
    fkl AS MATERIALIZED (
        SELECT centroid_id, embedding,
               sqrt(list_sum(list_transform(embedding, x -> x * x))) AS knrm
        FROM fine_centroids
    ),
    a2 AS MATERIALIZED (
        -- GREATEST(nrm, 1e-12) mirrors the Python kernel's
        -- rn[rn == 0] = 1e-12 guard (_nested_assign): a vector equal
        -- to a probed coarse centroid would otherwise score 0/0=NaN.
        SELECT s.vec_id, s.centroid_id, s.fid, a.crank, s.frank FROM (
            SELECT p.vec_id, p.centroid_id, k.centroid_id AS fid,
                   ROW_NUMBER() OVER (PARTITION BY p.vec_id, p.centroid_id
                       ORDER BY ROUND(list_sum(list_transform(range(1, len(p.r) + 1),
                                  i -> p.r[i] * k.embedding[i]))
                              / (GREATEST(n.nrm, 1e-12) * k.knrm), 4) DESC, k.centroid_id) AS frank
            FROM rplist p
            JOIN rpn n USING (vec_id, centroid_id)
            CROSS JOIN fkl k
        ) s JOIN a1 a ON a.vec_id = s.vec_id AND a.centroid_id = s.centroid_id
        WHERE s.frank <= {NESTED_P2}
    )
"""

_NESTED_PAIRS = f"""
    nrouted AS MATERIALIZED (
        SELECT va AS vec_a, vb AS vec_b, {_COS_AB} AS cos_sim
        FROM (
            SELECT DISTINCT x.vec_id AS va, y.vec_id AS vb
            FROM a2 x JOIN a2 y
              ON x.centroid_id = y.centroid_id AND x.fid = y.fid
                 AND x.vec_id < y.vec_id
        )
        JOIN embeddings a ON va = a.vec_id
        JOIN embeddings b ON vb = b.vec_id
        WHERE {_COS_AB} >= {COSINE_DEDUP_T}
    )
"""

DEDUP_ORACLES["dedup_semantic_routed_nested"] = f"""
    WITH {_NESTED_CTES},
    {_NESTED_PAIRS}
    SELECT vec_a, vec_b, cos_sim FROM nrouted
    ORDER BY vec_a, vec_b
"""

def _nested_sweep_sql() -> str:
    """Mirrors dedup_nested_probe_sweep: the ranked two-level
    assignment CTEs, a (bucket, crank, frank) histogram for the
    per-width budgets, and each exact pair's per-shared-bucket
    (max crank, max frank) frontier for the per-width recalls."""
    from distributed_mapreduce_server_spark.operators.dedup import (
        NESTED_SWEEP_P1S,
    )

    rows = " UNION ALL ".join(
        f"""SELECT {p1} AS p1, {p2} AS p2,
               (SELECT CAST(SUM(cc * (cc - 1) // 2) AS BIGINT)
                FROM (SELECT SUM(c) AS cc FROM nhist
                      WHERE crank <= {p1} AND frank <= {p2}
                      GROUP BY centroid_id, fid)) AS n_candidates,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM (
                    SELECT DISTINCT va, vb FROM npb
                    WHERE cr <= {p1} AND fr <= {p2})) AS n_routed_pairs"""
        for p1 in NESTED_SWEEP_P1S
        for p2 in range(1, NESTED_P2 + 1)
    )
    return f"""
    WITH {_NESTED_CTES},
    nexact AS MATERIALIZED (
        SELECT a.vec_id AS va, b.vec_id AS vb
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE {_COS_AB} >= {COSINE_DEDUP_T}
    ),
    nhist AS MATERIALIZED (
        SELECT centroid_id, fid, crank, frank, COUNT(*) AS c
        FROM a2 GROUP BY 1, 2, 3, 4
    ),
    npb AS MATERIALIZED (
        SELECT e.va, e.vb,
               GREATEST(x.crank, y.crank) AS cr,
               GREATEST(x.frank, y.frank) AS fr
        FROM nexact e
        JOIN a2 x ON x.vec_id = e.va
        JOIN a2 y ON y.vec_id = e.vb
            AND y.centroid_id = x.centroid_id AND y.fid = x.fid
    ),
    nne AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_exact_pairs FROM nexact)
    SELECT p1, p2, n_candidates, n_routed_pairs, nne.n_exact_pairs,
           ROUND(n_routed_pairs / GREATEST(nne.n_exact_pairs, 1), 4) AS recall
    FROM ({rows}) CROSS JOIN nne
    ORDER BY p1, p2
"""


DEDUP_ORACLES["dedup_nested_probe_sweep"] = _nested_sweep_sql()


# Rank-1 index-side probing trust row (round 13): the symmetric rule's
# qualifying pairs (nrouted, from _NESTED_PAIRS) against the IVF-search
# rule where the y side keeps only its home (crank = frank = 1) row.
# Join volumes come straight off the a2 cell histogram: symmetric
# emits C(f, 2) pre-distinct rows per cell, rank-1 emits f·h − h
# (h home members, each home row also being one of the f probe rows).
DEDUP_ORACLES["dedup_routed_rank1_eval"] = f"""
    WITH {_NESTED_CTES},
    {_NESTED_PAIRS},
    r1cand AS MATERIALIZED (
        SELECT DISTINCT LEAST(x.vec_id, y.vec_id) AS va,
                        GREATEST(x.vec_id, y.vec_id) AS vb
        FROM a2 x JOIN a2 y
          ON x.centroid_id = y.centroid_id AND x.fid = y.fid
             AND y.crank = 1 AND y.frank = 1 AND x.vec_id <> y.vec_id
    ),
    r1q AS (
        SELECT c.va, c.vb FROM r1cand c
        JOIN embeddings a ON c.va = a.vec_id
        JOIN embeddings b ON c.vb = b.vec_id
        WHERE {_COS_AB} >= {COSINE_DEDUP_T}
    ),
    cellsz AS (
        SELECT COUNT(*) AS f,
               COALESCE(SUM(CASE WHEN crank = 1 AND frank = 1 THEN 1 END), 0) AS h
        FROM a2 GROUP BY centroid_id, fid
    ),
    nm AS (
        SELECT (SELECT COUNT(*) FROM nrouted) AS ns,
               (SELECT COUNT(*) FROM r1q) AS nr,
               (SELECT CAST(SUM(f * (f - 1) // 2) AS BIGINT) FROM cellsz) AS sv,
               (SELECT CAST(SUM(f * h - h) AS BIGINT) FROM cellsz) AS rv
    )
    SELECT CAST(ns AS BIGINT) AS n_sym_pairs,
           CAST(nr AS BIGINT) AS n_r1_pairs,
           CAST(ns - nr AS BIGINT) AS n_missed,
           ROUND(CAST(nr AS DOUBLE) / GREATEST(ns, 1), 4) AS recall_vs_sym,
           sv AS n_sym_cand_rows,
           rv AS n_r1_cand_rows,
           ROUND(CAST(sv AS DOUBLE) / GREATEST(rv, 1), 2) AS volume_reduction
    FROM nm
"""


DEDUP_ORACLES["dedup_routed_nested_eval"] = f"""
    WITH {_NESTED_CTES},
    {_NESTED_PAIRS},
    nexact AS MATERIALIZED (
        SELECT a.vec_id AS va, b.vec_id AS vb
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE {_COS_AB} >= {COSINE_DEDUP_T}
    ),
    nm AS (
        SELECT (SELECT COUNT(*) FROM nexact) AS ne,
               (SELECT COUNT(*) FROM nrouted) AS nr,
               (SELECT CAST(SUM(c * (c - 1) // 2) AS BIGINT)
                FROM (SELECT COUNT(*) AS c FROM a2 GROUP BY centroid_id, fid)
               ) AS nc,
               (SELECT COUNT(*) * (COUNT(*) - 1) // 2 FROM embeddings) AS nb,
               (SELECT COUNT(*) FROM embeddings) AS nev
    )
    SELECT CAST(nev AS BIGINT) AS n_eval_vecs,
           CAST(ne AS BIGINT) AS n_exact_pairs,
           CAST(nr AS BIGINT) AS n_routed_pairs,
           CAST(ne - nr AS BIGINT) AS n_missed,
           ROUND(CAST(nr AS DOUBLE) / GREATEST(ne, 1), 4) AS recall,
           nc AS n_candidates,
           CAST(nb AS BIGINT) AS n_brute_pairs,
           ROUND(CAST(nb AS DOUBLE) / nc, 2) AS candidate_reduction
    FROM nm
"""
