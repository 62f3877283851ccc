"""Catalog entries for the training-data pipeline operators (SURVEY.md
§7 north-star): dedup, similarity search, text analysis, multimodal.

Every entry pairs the Spark operator (from ``operators/``) with a
DuckDB oracle that re-derives the same result in SQL — including the
full MinHash-LSH pipeline, whose polynomial hashing was chosen
specifically to be bit-identical across engines (see operators/text.py).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ..operators import dedup as D
from ..operators import multimodal as M
from ..operators import similarity as S
from ..operators import text as T
from .catalog import register, table

P = T.HASH_P

# ---------------------------------------------------------------------------
# shared SQL fragments (DuckDB side)
# ---------------------------------------------------------------------------

_SQL_TOKS = r"string_split_regex(lower(trim(text)), '\s+')"
_SQL_CANON = r"lower(trim(regexp_replace(text, '\s+', ' ', 'g')))"


def _sql_shingles_cte(source: str = "documents") -> str:
    """CTEs producing (doc_id, shingle) distinct word-3-gram rows."""
    return f"""
    toks AS (SELECT doc_id, {_SQL_TOKS} AS t FROM {source}),
    sh AS (
      SELECT doc_id, unnest(list_distinct(
        list_transform(range(0, greatest(len(t) - 2, 0)),
                       i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]))) AS shingle
      FROM toks
    )"""


_SQL_JACCARD_TAIL = """
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    common AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS common
      FROM cand c
      JOIN sh sa ON sa.doc_id = c.doc_a
      JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
      GROUP BY c.doc_a, c.doc_b
    )
    SELECT c.doc_a, c.doc_b, c.common,
           CAST(c.common AS DOUBLE) / (na.n_sh + nb.n_sh - c.common) AS jaccard
    FROM common c
    JOIN sizes na ON na.doc_id = c.doc_a
    JOIN sizes nb ON nb.doc_id = c.doc_b
    WHERE CAST(c.common AS DOUBLE) / (na.n_sh + nb.n_sh - c.common) >= {thr}
"""

_SQL_QUANT_EMB = (
    "list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000) AS BIGINT))"
)


def _sql_dot(a: str, b: str) -> str:
    return f"list_sum(list_transform(range(0, 64), i -> {a}[i+1] * {b}[i+1]))"


def _sql_sqnorm(v: str) -> str:
    return f"list_sum(list_transform({v}, x -> x * x))"


def _sql_cosine(dot: str, na: str, nb: str) -> str:
    return (
        f"CAST({dot} AS DOUBLE) / "
        f"(SQRT(CAST({na} AS DOUBLE)) * SQRT(CAST({nb} AS DOUBLE)))"
    )


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------


@register(
    "text_token_stats",
    oracle=rf"""
    SELECT doc_id,
           CAST(len({_SQL_TOKS}) AS INT) AS ws_tokens,
           CAST(len(regexp_extract_all(text, '{T.BPE_ISH_PATTERN}')) AS INT)
               AS bpeish_tokens,
           CAST(LENGTH(text) AS INT) AS n_chars_measured,
           CAST(octet_length(encode(text)) AS INT) AS n_bytes
    FROM documents
    """,
    tags=("text", "bench"),
    doc="Token counting: whitespace tokens + BPE-ish regex tokens + char/byte counts.",
)
def text_token_stats(spark: SparkSession, sf: str):
    return T.with_token_stats(table(spark, sf, "documents"))


@register(
    "text_quality_score",
    oracle=rf"""
    WITH t AS (SELECT doc_id, text, {_SQL_TOKS} AS toks FROM documents)
    SELECT doc_id,
           CAST(len(toks) AS INT) AS token_cnt,
           CAST(len(list_filter(toks, x -> x IN {T.STOPWORDS!r})) AS INT) AS stop_cnt,
           CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[.,;:!?]', '', 'g')) AS INT)
               AS punct_cnt,
           CAST(len(list_filter(toks, x -> x IN {T.STOPWORDS!r})) AS DOUBLE)
               / len(toks) AS stop_ratio,
           CAST(LENGTH(text) AS DOUBLE) / len(toks) AS chars_per_token,
           (len(toks) >= 20 AND len(toks) <= 2000) AS len_ok
    FROM t
    """,
    tags=("text",),
    doc="Heuristic quality scoring (stopword/punct ratios, chars-per-token).",
)
def text_quality_score(spark: SparkSession, sf: str):
    return T.with_quality_score(table(spark, sf, "documents"))


def _sql_lang_score(markers: tuple[str, ...]) -> str:
    return f"CAST(len(list_filter({_SQL_TOKS}, x -> x IN {markers!r})) AS INT)"


@register(
    "text_lang_guess",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang,
             {_sql_lang_score(T.LANG_MARKERS['en'])} AS c_en,
             {_sql_lang_score(T.LANG_MARKERS['de'])} AS c_de,
             {_sql_lang_score(T.LANG_MARKERS['fr'])} AS c_fr,
             {_sql_lang_score(T.LANG_MARKERS['es'])} AS c_es
      FROM documents
    )
    SELECT doc_id, c_en, c_de, c_fr, c_es,
           CASE WHEN c_en >= c_de AND c_en >= c_fr AND c_en >= c_es THEN 'en'
                WHEN c_de >= c_fr AND c_de >= c_es THEN 'de'
                WHEN c_fr >= c_es THEN 'fr'
                ELSE 'es' END AS lang_guess,
           lang,
           (CASE WHEN c_en >= c_de AND c_en >= c_fr AND c_en >= c_es THEN 'en'
                 WHEN c_de >= c_fr AND c_de >= c_es THEN 'de'
                 WHEN c_fr >= c_es THEN 'fr'
                 ELSE 'es' END) = lang AS label_match
    FROM scored
    """,
    tags=("text",),
    doc="Marker-stopword language-ID heuristic (fixed tie-break priority).",
)
def text_lang_guess(spark: SparkSession, sf: str):
    return T.with_lang_guess(table(spark, sf, "documents"))


@register(
    "text_fingerprints",
    oracle=f"""
    SELECT doc_id,
           sha256({_SQL_CANON}) AS sha256_fp,
           md5({_SQL_CANON}) AS md5_fp,
           {T.sql_poly_hash(_SQL_CANON)} AS poly_fp
    FROM documents
    """,
    tags=("text", "bench"),
    doc="Document fingerprinting: SHA-256 + MD5 + polynomial rolling hash "
    "over the canonical (lowercased, ws-collapsed) text.",
)
def text_fingerprints(spark: SparkSession, sf: str):
    return T.with_fingerprints(table(spark, sf, "documents"))


# ---------------------------------------------------------------------------
# dedup
# ---------------------------------------------------------------------------


@register(
    "dedup_exact",
    oracle=f"""
    SELECT sha256({_SQL_CANON}) AS content_fp,
           MIN(doc_id) AS keep_id,
           COUNT(*) AS dup_cnt
    FROM documents
    GROUP BY sha256({_SQL_CANON})
    """,
    tags=("dedup", "bench"),
    doc="Exact dedup: one hash-aggregate on the content fingerprint.",
)
def dedup_exact(spark: SparkSession, sf: str):
    return D.exact_dedup(table(spark, sf, "documents"))


@register(
    "pipeline_incremental_dedup",
    # History/incoming split by doc parity stands in for
    # yesterday's-corpus vs today's-crawl; survivors are incoming
    # fingerprints absent from history, collapsed to first-in-batch.
    oracle=f"""
    WITH fp AS (
      SELECT doc_id, sha256({_SQL_CANON}) AS content_fp FROM documents),
    hist AS (SELECT content_fp FROM fp WHERE doc_id % 2 = 0),
    batch AS (
      SELECT content_fp, MIN(doc_id) AS keep_id,
             COUNT(*) AS batch_dup_cnt
      FROM fp WHERE doc_id % 2 = 1 GROUP BY content_fp)
    SELECT b.content_fp, b.keep_id, b.batch_dup_cnt
    FROM batch b
    WHERE NOT EXISTS (
      SELECT 1 FROM hist h WHERE h.content_fp = b.content_fp)
    """,
    tags=("dedup",),
    doc="Incremental dedup of an incoming batch against the already "
    "ingested corpus: batch hash-aggregate + LEFT ANTI join on the "
    "SHA-256 fingerprint, both on one key so the join reuses the "
    "aggregate's partitioning; at scale the history side is a "
    "pre-bucketed fingerprint index (operators/dedup."
    "incremental_dedup).",
)
def pipeline_incremental_dedup(spark: SparkSession, sf: str):
    from pyspark.sql import functions as F

    docs = table(spark, sf, "documents")
    return D.incremental_dedup(
        history=docs.filter(F.col("doc_id") % 2 == 0),
        incoming=docs.filter(F.col("doc_id") % 2 == 1),
    )


def _sql_minhash_incremental(threshold: float) -> str:
    """Cross-set LSH: batch (odd doc_id) bands probe history (even)
    bands; verified exact Jaccard over the shared 64-bit shingle-hash
    sets. Same constants/CTE shapes as :func:`_sql_minhash_lsh`."""
    h = T.sql_md5_hash64("shingle")
    mins = ",\n             ".join(
        f"MIN(({a} * h + {b}) % {P}) AS m{k}"
        for k, (a, b) in enumerate(zip(D.MINHASH_A, D.MINHASH_B))
    )
    band_selects = "\n      UNION ALL ".join(
        f"SELECT doc_id, {j} AS band, m{2 * j} * {P} + m{2 * j + 1} AS band_val FROM sig"
        for j in range(D.N_MINHASH // D.BAND_ROWS)
    )
    return f"""
    WITH {_sql_shingles_cte()},
    hashed AS MATERIALIZED (SELECT doc_id, {h} AS h FROM sh),
    sig AS MATERIALIZED (
      SELECT doc_id,
             {mins}
      FROM hashed GROUP BY doc_id
    ),
    bands AS (
      {band_selects}
    ),
    cand AS (
      SELECT DISTINCT x.doc_id AS doc_id, y.doc_id AS match_id
      FROM bands x JOIN bands y
        ON x.band = y.band AND x.band_val = y.band_val
       AND x.doc_id % 2 = 1 AND y.doc_id % 2 = 0
    ),
    sizes AS (SELECT doc_id, COUNT(DISTINCT h) AS n_sh FROM hashed GROUP BY doc_id),
    common AS (
      SELECT c.doc_id, c.match_id, COUNT(DISTINCT sa.h) AS common
      FROM cand c
      JOIN hashed sa ON sa.doc_id = c.doc_id
      JOIN hashed sb ON sb.doc_id = c.match_id AND sb.h = sa.h
      GROUP BY c.doc_id, c.match_id
    )
    SELECT c.doc_id, c.match_id, c.common,
           CAST(c.common AS DOUBLE) / (na.n_sh + nb.n_sh - c.common) AS jaccard
    FROM common c
    JOIN sizes na ON na.doc_id = c.doc_id
    JOIN sizes nb ON nb.doc_id = c.match_id
    WHERE CAST(c.common AS DOUBLE) / (na.n_sh + nb.n_sh - c.common) >= {threshold}
    """


@register(
    "pipeline_incremental_minhash",
    oracle=_sql_minhash_incremental(0.2),
    tags=("dedup", "bench"),
    doc="Incremental NEAR-dedup: the incoming batch's LSH bands probe "
    "the corpus's precomputed band index ((band, band_val) equi-join, "
    "never a corpus self-join), exact-Jaccard verified at >= 0.2; at "
    "scale the history index is bucketed on the band key so the probe "
    "costs one batch-sized shuffle (operators/dedup."
    "incremental_minhash_dedup).",
)
def pipeline_incremental_minhash(spark: SparkSession, sf: str):
    from pyspark.sql import functions as F

    docs = table(spark, sf, "documents")
    return D.incremental_minhash_dedup(
        history=docs.filter(F.col("doc_id") % 2 == 0),
        incoming=docs.filter(F.col("doc_id") % 2 == 1),
        threshold=0.2,
    )


def _sql_minhash_lsh(threshold: float) -> str:
    h = T.sql_md5_hash64("shingle")
    mins = ",\n             ".join(
        f"MIN(({a} * h + {b}) % {P}) AS m{k}"
        for k, (a, b) in enumerate(zip(D.MINHASH_A, D.MINHASH_B))
    )
    band_selects = "\n      UNION ALL ".join(
        f"SELECT doc_id, {j} AS band, m{2 * j} * {P} + m{2 * j + 1} AS band_val FROM sig"
        for j in range(D.N_MINHASH // D.BAND_ROWS)
    )
    return f"""
    WITH {_sql_shingles_cte()},
    hashed AS MATERIALIZED (SELECT doc_id, {h} AS h FROM sh),
    sig AS MATERIALIZED (
      SELECT doc_id,
             {mins}
      FROM hashed GROUP BY doc_id
    ),
    bands AS (
      {band_selects}
    ),
    cand AS (
      SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      FROM bands x JOIN bands y
        ON x.band = y.band AND x.band_val = y.band_val AND x.doc_id < y.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(DISTINCT h) AS n_sh FROM hashed GROUP BY doc_id),
    common AS (
      SELECT c.doc_a, c.doc_b, COUNT(DISTINCT sa.h) AS common
      FROM cand c
      JOIN hashed sa ON sa.doc_id = c.doc_a
      JOIN hashed sb ON sb.doc_id = c.doc_b AND sb.h = sa.h
      GROUP BY c.doc_a, c.doc_b
    )
    SELECT c.doc_a, c.doc_b, c.common,
           CAST(c.common AS DOUBLE) / (na.n_sh + nb.n_sh - c.common) AS jaccard
    FROM common c
    JOIN sizes na ON na.doc_id = c.doc_a
    JOIN sizes nb ON nb.doc_id = c.doc_b
    WHERE CAST(c.common AS DOUBLE) / (na.n_sh + nb.n_sh - c.common) >= {threshold}
    """


@register(
    "dedup_minhash_lsh",
    oracle=_sql_minhash_lsh(0.2),
    tags=("dedup", "bench"),
    doc="MinHash(8)+LSH(4 bands) near-dup pairs, exact-Jaccard verified at "
    ">= 0.2. The LSH band join bounds candidates — the 100 TB shape.",
)
def dedup_minhash_lsh(spark: SparkSession, sf: str):
    return D.minhash_lsh_dedup(table(spark, sf, "documents"), threshold=0.2)


def _sql_simhash() -> str:
    h = T.sql_md5_hash64("token")
    sums = ",\n             ".join(
        f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}"
        for b in range(D.SIMHASH_BITS)
    )
    combine = " + ".join(
        f"CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END" for b in range(D.SIMHASH_BITS)
    )
    return f"""
    WITH toks AS (SELECT doc_id, list_distinct({_SQL_TOKS}) AS t FROM documents),
    tok AS (SELECT doc_id, unnest(t) AS token FROM toks),
    hashed AS (SELECT doc_id, {h} AS h FROM tok),
    sums AS (SELECT doc_id, {sums} FROM hashed GROUP BY doc_id)
    SELECT doc_id, CAST({combine} AS BIGINT) AS simhash FROM sums
    """


@register(
    "dedup_simhash",
    oracle=_sql_simhash(),
    tags=("dedup",),
    doc="16-bit SimHash signature per document (near-dup key; Hamming "
    "banding is the scale path for pairing).",
)
def dedup_simhash(spark: SparkSession, sf: str):
    return D.simhash_signatures(table(spark, sf, "documents"))


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH src AS (SELECT doc_id, text FROM documents WHERE doc_id < 60),
    {_sql_shingles_cte('src').lstrip()},
    ids AS (SELECT doc_id FROM src),
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM ids a JOIN ids b ON a.doc_id < b.doc_id
    ),
    {_SQL_JACCARD_TAIL.format(thr=0.02).lstrip()}
    """,
    tags=("dedup",),
    doc="Exact n-gram Jaccard on a bounded range — ground truth for LSH "
    "recall tests (brute force is NOT the scale path).",
)
def dedup_ngram_jaccard(spark: SparkSession, sf: str):
    return D.ngram_jaccard_pairs(
        table(spark, sf, "documents"), max_doc_id=60, threshold=0.02
    )


@register(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH base AS (SELECT vec_id, {_SQL_QUANT_EMB} AS v FROM embeddings),
    pairs AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             {_sql_dot('a.v', 'b.v')} AS dot,
             {_sql_sqnorm('a.v')} AS na,
             {_sql_sqnorm('b.v')} AS nb
      FROM base a JOIN base b ON a.vec_id < b.vec_id
    )
    SELECT vec_a, vec_b, {_sql_cosine('dot', 'na', 'nb')} AS cos_sim
    FROM pairs
    WHERE {_sql_cosine('dot', 'na', 'nb')} >= 0.45
    """,
    tags=("dedup", "similarity"),
    doc="Embedding near-dup pairs (quantized-integer cosine >= 0.45). "
    "Scale path: LSH buckets feed the same verify step.",
)
def dedup_embedding_cosine(spark: SparkSession, sf: str):
    return S.embedding_near_dup_pairs(table(spark, sf, "embeddings"), threshold=0.45)


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------


@register(
    "ann_cosine_topk",
    oracle=f"""
    WITH base AS (SELECT vec_id, {_SQL_QUANT_EMB} AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM base WHERE vec_id < 5),
    sims AS (
      SELECT q.query_id, a.vec_id AS neighbor_id,
             {_sql_cosine(_sql_dot('q.qv', 'a.v'), _sql_sqnorm('q.qv'), _sql_sqnorm('a.v'))}
                 AS cos_sim
      FROM q JOIN base a ON a.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, cos_sim, rank FROM (
      SELECT query_id, neighbor_id, cos_sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, neighbor_id) AS rank
      FROM sims
    ) t WHERE rank <= 10
    """,
    tags=("similarity", "bench"),
    doc="Brute-force cosine top-10 for 5 query vectors (broadcast queries; "
    "exact baseline).",
)
def ann_cosine_topk(spark: SparkSession, sf: str):
    from .catalog import scorer_width

    return S.brute_force_topk(
        table(spark, sf, "embeddings"),
        query_max_id=5,
        k=10,
        scorer_parts=scorer_width(
            sf, "embeddings", spark.sparkContext.defaultParallelism
        ),
    )


@register(
    "pipeline_pq_encode",
    # Product-quantization codebooks trained per subspace (seed =
    # first 8 vectors' subvectors, one integer-mean Lloyd step with
    # truncating division, empty cells keep their seed) and the
    # corpus encoded to (subspace, code, residual). sub_dist pins the
    # exact integer L2 residuals, not just the argmins.
    oracle="""
    WITH base AS (SELECT vec_id, list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v FROM embeddings),
    prm AS (SELECT CAST(len(v) / 4 AS BIGINT) AS sd FROM base LIMIT 1),
    subs AS (
      SELECT b.vec_id, t.j,
             list_slice(b.v, t.j * p.sd + 1, (t.j + 1) * p.sd) AS s
      FROM base b CROSS JOIN prm p
      CROSS JOIN (SELECT unnest(range(0, 4)) AS j) t),
    seeds AS (SELECT j, vec_id AS cid, s AS cv FROM subs
              WHERE vec_id < 8),
    d0 AS (SELECT sub.vec_id, sub.j, sd.cid,
                  CAST(list_sum(list_transform(range(0, len(sub.s)), i -> (sub.s[i+1] - sd.cv[i+1]) * (sub.s[i+1] - sd.cv[i+1]))) AS BIGINT) AS d
           FROM subs sub JOIN seeds sd ON sd.j = sub.j),
    a0 AS (SELECT vec_id, j, cid AS cell
           FROM (SELECT vec_id, j, cid, d,
                        row_number() OVER (PARTITION BY vec_id, j
                                           ORDER BY d ASC, cid ASC) AS rn
                 FROM d0)
           WHERE rn = 1),
    ex AS (SELECT a0.j, a0.cell, r.pos, sub.s[r.pos + 1] AS val
           FROM a0 JOIN subs sub
             ON sub.vec_id = a0.vec_id AND sub.j = a0.j
           CROSS JOIN prm p
           CROSS JOIN LATERAL (SELECT unnest(range(0, p.sd)) AS pos) r),
    sv AS (SELECT j, cell, pos, CAST(SUM(val) AS BIGINT) AS sm,
                  COUNT(*) AS cnt
           FROM ex GROUP BY j, cell, pos),
    mean AS (SELECT j, cell, list(sm // cnt ORDER BY pos) AS mv
             FROM sv GROUP BY j, cell),
    cents AS (SELECT sd.j, sd.cid AS cell, coalesce(m.mv, sd.cv) AS cv
              FROM seeds sd LEFT JOIN mean m
                ON m.j = sd.j AND m.cell = sd.cid),
    d1 AS (SELECT sub.vec_id, sub.j, c.cell,
                  CAST(list_sum(list_transform(range(0, len(sub.s)), i -> (sub.s[i+1] - c.cv[i+1]) * (sub.s[i+1] - c.cv[i+1]))) AS BIGINT) AS d
           FROM subs sub JOIN cents c ON c.j = sub.j),
    enc AS (SELECT vec_id, j, cell AS code, d AS sub_dist
            FROM (SELECT vec_id, j, cell, d,
                         row_number() OVER (PARTITION BY vec_id, j
                                            ORDER BY d ASC, cell ASC) AS rn
                  FROM d1)
            WHERE rn = 1)
    SELECT vec_id, CAST(j AS INT) AS subspace, code, sub_dist
    FROM enc
    """,
    tags=("similarity", "pipeline"),
    doc="PQ-encode the embedding corpus: 4 subspaces x 8 "
    "centroids (3-bit codes, ~85x compression of a 64-dim float "
    "vector). Training is one bounded distributed pass "
    "(kmeans_refine mechanics per subspace); encoding is a pure "
    "column expression against centroid literals — scan-speed at "
    "100 TB, zero shuffles (operators/similarity.pq_encode).",
)
def pipeline_pq_encode(spark: SparkSession, sf: str):
    return S.pq_encode(table(spark, sf, "embeddings"))


@register(
    "ann_pq_adc",
    # Asymmetric-distance search: exact query subvectors against the
    # codebook entries the corpus codes name — the classic ADC lookup
    # table, summed per (query, vector), ranked with (dist, id) ties.
    oracle="""
    WITH base AS (SELECT vec_id, list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v FROM embeddings),
    prm AS (SELECT CAST(len(v) / 4 AS BIGINT) AS sd FROM base LIMIT 1),
    subs AS (
      SELECT b.vec_id, t.j,
             list_slice(b.v, t.j * p.sd + 1, (t.j + 1) * p.sd) AS s
      FROM base b CROSS JOIN prm p
      CROSS JOIN (SELECT unnest(range(0, 4)) AS j) t),
    seeds AS (SELECT j, vec_id AS cid, s AS cv FROM subs
              WHERE vec_id < 8),
    d0 AS (SELECT sub.vec_id, sub.j, sd.cid,
                  CAST(list_sum(list_transform(range(0, len(sub.s)), i -> (sub.s[i+1] - sd.cv[i+1]) * (sub.s[i+1] - sd.cv[i+1]))) AS BIGINT) AS d
           FROM subs sub JOIN seeds sd ON sd.j = sub.j),
    a0 AS (SELECT vec_id, j, cid AS cell
           FROM (SELECT vec_id, j, cid, d,
                        row_number() OVER (PARTITION BY vec_id, j
                                           ORDER BY d ASC, cid ASC) AS rn
                 FROM d0)
           WHERE rn = 1),
    ex AS (SELECT a0.j, a0.cell, r.pos, sub.s[r.pos + 1] AS val
           FROM a0 JOIN subs sub
             ON sub.vec_id = a0.vec_id AND sub.j = a0.j
           CROSS JOIN prm p
           CROSS JOIN LATERAL (SELECT unnest(range(0, p.sd)) AS pos) r),
    sv AS (SELECT j, cell, pos, CAST(SUM(val) AS BIGINT) AS sm,
                  COUNT(*) AS cnt
           FROM ex GROUP BY j, cell, pos),
    mean AS (SELECT j, cell, list(sm // cnt ORDER BY pos) AS mv
             FROM sv GROUP BY j, cell),
    cents AS (SELECT sd.j, sd.cid AS cell, coalesce(m.mv, sd.cv) AS cv
              FROM seeds sd LEFT JOIN mean m
                ON m.j = sd.j AND m.cell = sd.cid),
    d1 AS (SELECT sub.vec_id, sub.j, c.cell,
                  CAST(list_sum(list_transform(range(0, len(sub.s)), i -> (sub.s[i+1] - c.cv[i+1]) * (sub.s[i+1] - c.cv[i+1]))) AS BIGINT) AS d
           FROM subs sub JOIN cents c ON c.j = sub.j),
    enc AS (SELECT vec_id, j, cell AS code, d AS sub_dist
            FROM (SELECT vec_id, j, cell, d,
                         row_number() OVER (PARTITION BY vec_id, j
                                            ORDER BY d ASC, cell ASC) AS rn
                  FROM d1)
            WHERE rn = 1),
    qs AS (SELECT vec_id AS query_id, j, s AS qsv FROM subs
           WHERE vec_id < 3),
    lut AS (SELECT q.query_id, q.j, c.cell,
                   CAST(list_sum(list_transform(range(0, len(q.qsv)), i -> (q.qsv[i+1] - c.cv[i+1]) * (q.qsv[i+1] - c.cv[i+1]))) AS BIGINT) AS dl
            FROM qs q JOIN cents c ON c.j = q.j),
    adc AS (SELECT l.query_id, e.vec_id AS neighbor_id,
                   CAST(SUM(l.dl) AS BIGINT) AS adc_dist
            FROM enc e JOIN lut l ON l.j = e.j AND l.cell = e.code
            GROUP BY l.query_id, e.vec_id)
    SELECT query_id, neighbor_id, adc_dist, rank FROM (
      SELECT query_id, neighbor_id, adc_dist,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY adc_dist ASC, neighbor_id ASC)
                 AS rank
      FROM adc WHERE neighbor_id <> query_id
    ) WHERE rank <= 5
    """,
    tags=("similarity",),
    doc="PQ asymmetric-distance (ADC) top-5 for 3 queries: "
    "per-query m x ks distance LUTs broadcast to the corpus, "
    "approx_dist = sum over subspaces of LUT[code], "
    "WindowGroupLimit-bounded rank — the IVF-PQ search half "
    "(operators/similarity.pq_adc_topk).",
)
def ann_pq_adc(spark: SparkSession, sf: str):
    return S.pq_adc_topk(table(spark, sf, "embeddings"))


# The ann_ivf_pq oracle, shared with ann_ivf_pq_persisted
# (pipeline_ops5), whose persisted index answers the same query.
_SQL_IVF_PQ = """
    WITH base AS (SELECT vec_id, list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v FROM embeddings),
    prm AS (SELECT CAST(len(v) / 4 AS BIGINT) AS sd FROM base LIMIT 1),
    coarse AS (SELECT vec_id AS ccid, v AS ccv FROM base
               WHERE vec_id < 16),
    cscore AS (SELECT b.vec_id, c.ccid,
                      CAST(list_sum(list_transform(range(0, len(b.v)), i -> b.v[i+1] * c.ccv[i+1])) AS BIGINT) AS cdot
               FROM base b CROSS JOIN coarse c),
    cellof AS (SELECT vec_id, ccid AS cell
               FROM (SELECT vec_id, ccid, cdot,
                            row_number() OVER (PARTITION BY vec_id
                                               ORDER BY cdot DESC, ccid)
                                AS rn
                     FROM cscore)
               WHERE rn = 1),
    subs AS (
      SELECT b.vec_id, t.j,
             list_slice(b.v, t.j * p.sd + 1, (t.j + 1) * p.sd) AS s
      FROM base b CROSS JOIN prm p
      CROSS JOIN (SELECT unnest(range(0, 4)) AS j) t),
    seeds AS (SELECT j, vec_id AS cid, s AS cv FROM subs
              WHERE vec_id < 8),
    d0 AS (SELECT sub.vec_id, sub.j, sd.cid,
                  CAST(list_sum(list_transform(range(0, len(sub.s)), i -> (sub.s[i+1] - sd.cv[i+1]) * (sub.s[i+1] - sd.cv[i+1]))) AS BIGINT) AS d
           FROM subs sub JOIN seeds sd ON sd.j = sub.j),
    a0 AS (SELECT vec_id, j, cid AS cell
           FROM (SELECT vec_id, j, cid, d,
                        row_number() OVER (PARTITION BY vec_id, j
                                           ORDER BY d ASC, cid ASC) AS rn
                 FROM d0)
           WHERE rn = 1),
    ex AS (SELECT a0.j, a0.cell, r.pos, sub.s[r.pos + 1] AS val
           FROM a0 JOIN subs sub
             ON sub.vec_id = a0.vec_id AND sub.j = a0.j
           CROSS JOIN prm p
           CROSS JOIN LATERAL (SELECT unnest(range(0, p.sd)) AS pos) r),
    sv AS (SELECT j, cell, pos, CAST(SUM(val) AS BIGINT) AS sm,
                  COUNT(*) AS cnt
           FROM ex GROUP BY j, cell, pos),
    mean AS (SELECT j, cell, list(sm // cnt ORDER BY pos) AS mv
             FROM sv GROUP BY j, cell),
    cents AS (SELECT sd.j, sd.cid AS cell, coalesce(m.mv, sd.cv) AS cv
              FROM seeds sd LEFT JOIN mean m
                ON m.j = sd.j AND m.cell = sd.cid),
    d1 AS (SELECT sub.vec_id, sub.j, c.cell,
                  CAST(list_sum(list_transform(range(0, len(sub.s)), i -> (sub.s[i+1] - c.cv[i+1]) * (sub.s[i+1] - c.cv[i+1]))) AS BIGINT) AS d
           FROM subs sub JOIN cents c ON c.j = sub.j),
    enc AS (SELECT vec_id, j, cell AS code
            FROM (SELECT vec_id, j, cell, d,
                         row_number() OVER (PARTITION BY vec_id, j
                                            ORDER BY d ASC, cell ASC) AS rn
                  FROM d1)
            WHERE rn = 1),
    qprobe AS (SELECT vec_id AS query_id, ccid AS cell
               FROM (SELECT vec_id, ccid, cdot,
                            row_number() OVER (PARTITION BY vec_id
                                               ORDER BY cdot DESC, ccid)
                                AS rn
                     FROM cscore WHERE vec_id < 3)
               WHERE rn <= 2),
    qs AS (SELECT vec_id AS query_id, j, s AS qsv FROM subs
           WHERE vec_id < 3),
    lut AS (SELECT q.query_id, q.j, c.cell,
                   CAST(list_sum(list_transform(range(0, len(q.qsv)), i -> (q.qsv[i+1] - c.cv[i+1]) * (q.qsv[i+1] - c.cv[i+1]))) AS BIGINT) AS dl
            FROM qs q JOIN cents c ON c.j = q.j),
    cand AS (SELECT p.query_id, co.vec_id AS neighbor_id, co.cell
             FROM qprobe p JOIN cellof co ON co.cell = p.cell
             WHERE co.vec_id <> p.query_id),
    adc AS (SELECT ca.query_id, ca.neighbor_id, ca.cell,
                   CAST(SUM(l.dl) AS BIGINT) AS adc_dist
            FROM cand ca
            JOIN enc e ON e.vec_id = ca.neighbor_id
            JOIN lut l ON l.query_id = ca.query_id
                      AND l.j = e.j AND l.cell = e.code
            GROUP BY ca.query_id, ca.neighbor_id, ca.cell)
    SELECT query_id, neighbor_id, cell, adc_dist, rank FROM (
      SELECT query_id, neighbor_id, cell, adc_dist,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY adc_dist ASC, neighbor_id ASC)
                 AS rank
      FROM adc
    ) WHERE rank <= 5
    """


@register(
    "ann_ivf_pq",
    # The composed IVF-PQ plan: coarse max-dot cells (same contract as
    # ann_ivf_topk) gate candidates to each query's 2 probed
    # cells; PQ codes (same training as pipeline_pq_encode) rank them
    # by summed ADC lookup distances with (dist, id) ties.
    oracle=_SQL_IVF_PQ,
    tags=("similarity",),
    doc="IVF-PQ search: 16 coarse cells probed 2-deep per "
    "query, candidates ranked by PQ asymmetric distance (4x8 "
    "codebooks) — the production ANN stack's plan shape, with the "
    "corpus side a zero-shuffle expression frame and the query side a "
    "broadcast Q-row frame (operators/similarity.ivf_pq_topk).",
)
def ann_ivf_pq(spark: SparkSession, sf: str):
    return S.ivf_pq_topk(table(spark, sf, "embeddings"))


@register(
    "ann_ivf_pq_residual",
    # CLASSICAL IVF-PQ: codebooks trained on and codes quantizing the
    # RESIDUAL x - coarse_centroid(cell(x)); each query carries one
    # ADC LUT per probed cell (its residual differs per cell). The
    # oracle replays residual computation, training, encoding, and
    # the per-(query, probed-cell) LUT sums.
    oracle="""
    WITH base AS (SELECT vec_id, list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v FROM embeddings),
    prm AS (SELECT CAST(len(v) / 4 AS BIGINT) AS sd FROM base LIMIT 1),
    coarse AS (SELECT vec_id AS ccid, v AS ccv FROM base
               WHERE vec_id < 16),
    cscore AS (SELECT b.vec_id, c.ccid,
                      CAST(list_sum(list_transform(range(0, len(b.v)), i -> b.v[i+1] * c.ccv[i+1])) AS BIGINT) AS cdot
               FROM base b CROSS JOIN coarse c),
    cellof AS (SELECT vec_id, ccid AS cell
               FROM (SELECT vec_id, ccid, cdot,
                            row_number() OVER (PARTITION BY vec_id
                                               ORDER BY cdot DESC, ccid)
                                AS rn
                     FROM cscore)
               WHERE rn = 1),
    res AS (SELECT b.vec_id, cf.cell,
                   list_transform(range(0, len(b.v)),
                                  i -> b.v[i+1] - c.ccv[i+1]) AS rv
            FROM base b
            JOIN cellof cf ON cf.vec_id = b.vec_id
            JOIN coarse c ON c.ccid = cf.cell),
    subs AS (
      SELECT r.vec_id, r.cell, t.j,
             list_slice(r.rv, t.j * p.sd + 1, (t.j + 1) * p.sd) AS s
      FROM res r CROSS JOIN prm p
      CROSS JOIN (SELECT unnest(range(0, 4)) AS j) t),
    seeds AS (SELECT j, vec_id AS cid, s AS cv FROM subs
              WHERE vec_id < 8),
    d0 AS (SELECT sub.vec_id, sub.j, sd.cid,
                  CAST(list_sum(list_transform(range(0, len(sub.s)), i -> (sub.s[i+1] - sd.cv[i+1]) * (sub.s[i+1] - sd.cv[i+1]))) AS BIGINT) AS d
           FROM subs sub JOIN seeds sd ON sd.j = sub.j),
    a0 AS (SELECT vec_id, j, cid AS cell
           FROM (SELECT vec_id, j, cid, d,
                        row_number() OVER (PARTITION BY vec_id, j
                                           ORDER BY d ASC, cid ASC) AS rn
                 FROM d0)
           WHERE rn = 1),
    ex AS (SELECT a0.j, a0.cell, rr.pos, sub.s[rr.pos + 1] AS val
           FROM a0 JOIN subs sub
             ON sub.vec_id = a0.vec_id AND sub.j = a0.j
           CROSS JOIN prm p
           CROSS JOIN LATERAL (SELECT unnest(range(0, p.sd)) AS pos) rr),
    sv AS (SELECT j, cell, pos, CAST(SUM(val) AS BIGINT) AS sm,
                  COUNT(*) AS cnt
           FROM ex GROUP BY j, cell, pos),
    mean AS (SELECT j, cell, list(sm // cnt ORDER BY pos) AS mv
             FROM sv GROUP BY j, cell),
    cents AS (SELECT sd.j, sd.cid AS cell, coalesce(m.mv, sd.cv) AS cv
              FROM seeds sd LEFT JOIN mean m
                ON m.j = sd.j AND m.cell = sd.cid),
    d1 AS (SELECT sub.vec_id, sub.j, c.cell,
                  CAST(list_sum(list_transform(range(0, len(sub.s)), i -> (sub.s[i+1] - c.cv[i+1]) * (sub.s[i+1] - c.cv[i+1]))) AS BIGINT) AS d
           FROM subs sub JOIN cents c ON c.j = sub.j),
    enc AS (SELECT vec_id, j, cell AS code
            FROM (SELECT vec_id, j, cell, d,
                         row_number() OVER (PARTITION BY vec_id, j
                                            ORDER BY d ASC, cell ASC) AS rn
                  FROM d1)
            WHERE rn = 1),
    qprobe AS (SELECT vec_id AS query_id, ccid AS pcell
               FROM (SELECT vec_id, ccid, cdot,
                            row_number() OVER (PARTITION BY vec_id
                                               ORDER BY cdot DESC, ccid)
                                AS rn
                     FROM cscore WHERE vec_id < 3)
               WHERE rn <= 2),
    qres AS (SELECT p.query_id, p.pcell, t.j,
                    list_slice(
                      list_transform(range(0, len(b.v)),
                                     i -> b.v[i+1] - c.ccv[i+1]),
                      t.j * pr.sd + 1, (t.j + 1) * pr.sd) AS qsv
             FROM qprobe p
             JOIN base b ON b.vec_id = p.query_id
             JOIN coarse c ON c.ccid = p.pcell
             CROSS JOIN prm pr
             CROSS JOIN (SELECT unnest(range(0, 4)) AS j) t),
    lut AS (SELECT q.query_id, q.pcell, q.j, c.cell,
                   CAST(list_sum(list_transform(range(0, len(q.qsv)), i -> (q.qsv[i+1] - c.cv[i+1]) * (q.qsv[i+1] - c.cv[i+1]))) AS BIGINT) AS dl
            FROM qres q JOIN cents c ON c.j = q.j),
    cand AS (SELECT p.query_id, r.vec_id AS neighbor_id, r.cell
             FROM qprobe p JOIN res r ON r.cell = p.pcell
             WHERE r.vec_id <> p.query_id),
    adc AS (SELECT ca.query_id, ca.neighbor_id, ca.cell,
                   CAST(SUM(l.dl) AS BIGINT) AS adc_dist
            FROM cand ca
            JOIN enc e ON e.vec_id = ca.neighbor_id
            JOIN lut l ON l.query_id = ca.query_id
                      AND l.pcell = ca.cell
                      AND l.j = e.j AND l.cell = e.code
            GROUP BY ca.query_id, ca.neighbor_id, ca.cell)
    SELECT query_id, neighbor_id, cell, adc_dist, rank FROM (
      SELECT query_id, neighbor_id, cell, adc_dist,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY adc_dist ASC, neighbor_id ASC)
                 AS rank
      FROM adc
    ) WHERE rank <= 5
    """,
    tags=("similarity",),
    doc="Classical residual IVF-PQ search: 16 coarse cells "
    "probed 2-deep, residual-trained 4x8 codebooks, "
    "per-probed-cell ADC lookup tables — the textbook refinement of "
    "ann_ivf_pq with the same zero-corpus-shuffle plan shape "
    "(operators/similarity.ivf_pq_residual_topk).",
)
def ann_ivf_pq_residual(spark: SparkSession, sf: str):
    return S.ivf_pq_residual_topk(table(spark, sf, "embeddings"))


@register(
    "ann_range_search",
    oracle=f"""
    WITH base AS (SELECT vec_id, {_SQL_QUANT_EMB} AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM base WHERE vec_id < 5)
    SELECT q.query_id, a.vec_id AS neighbor_id,
           {_sql_cosine(_sql_dot('q.qv', 'a.v'), _sql_sqnorm('q.qv'), _sql_sqnorm('a.v'))}
               AS cos_sim
    FROM q JOIN base a ON a.vec_id <> q.query_id
    WHERE {_sql_cosine(_sql_dot('q.qv', 'a.v'), _sql_sqnorm('q.qv'), _sql_sqnorm('a.v'))}
          >= 0.3
    """,
    tags=("similarity",),
    doc="Range similarity search: every neighbor with cosine >= 0.3 for "
    "5 query vectors — the threshold complement of top-k (no rank "
    "window: broadcast queries, one narrow pass over the corpus).",
)
def ann_range_search(spark: SparkSession, sf: str):
    return S.range_search(
        table(spark, sf, "embeddings"), query_max_id=5, threshold=0.3
    )


def _sql_lsh_topk() -> str:
    planes = S.hyperplane_weights()
    bucket_terms = []
    for j, w in enumerate(planes):
        wl = "[" + ", ".join(str(x) for x in w) + "]"
        dot = f"list_sum(list_transform(range(0, 64), i -> v[i+1] * ({wl})[i+1]))"
        bucket_terms.append(f"(CASE WHEN {dot} > 0 THEN {1 << j} ELSE 0 END)")
    bucket = " + ".join(bucket_terms)
    return f"""
    WITH base AS (SELECT vec_id, {_SQL_QUANT_EMB} AS v FROM embeddings),
    bucketed AS (SELECT vec_id, v, CAST({bucket} AS INT) AS bucket FROM base),
    q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM bucketed WHERE vec_id < 5),
    sims AS (
      SELECT q.query_id, a.vec_id AS neighbor_id, a.bucket,
             {_sql_cosine(_sql_dot('q.qv', 'a.v'), _sql_sqnorm('q.qv'), _sql_sqnorm('a.v'))}
                 AS cos_sim
      FROM q JOIN bucketed a
        ON a.bucket = q.bucket AND a.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, bucket, cos_sim, rank FROM (
      SELECT query_id, neighbor_id, bucket, cos_sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, neighbor_id) AS rank
      FROM sims
    ) t WHERE rank <= 5
    """


@register(
    "ann_lsh_topk",
    oracle=_sql_lsh_topk(),
    tags=("similarity",),
    doc="LSH-bucketed approximate top-5 (4 random hyperplanes → 16 buckets; "
    "candidates restricted to the query's bucket — the scale path).",
)
def ann_lsh_topk(spark: SparkSession, sf: str):
    return S.lsh_bucketed_topk(table(spark, sf, "embeddings"), query_max_id=5, k=5)


# ---------------------------------------------------------------------------
# multimodal
# ---------------------------------------------------------------------------


@register(
    "multimodal_decode_stub",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS INT) AS n_bytes,
           CAST(octet_length(encode(text)) % 640 AS INT) AS fake_width,
           CAST((octet_length(encode(text)) * 7) % 480 AS INT) AS fake_height,
           'image-stub' AS modality
    FROM documents
    """,
    tags=("multimodal",),
    doc="Multimodal plumbing: binary payload + metadata struct through an "
    "Arrow-batched mapInPandas decode (decoder stubbed deterministically; "
    "real decode import-gated on Pillow).",
)
def multimodal_decode_stub(spark: SparkSession, sf: str):
    return M.decode_stub_pipeline(table(spark, sf, "documents"))


def _sql_ivf_topk(n_cells: int = 16, query_max: int = 5, k: int = 5) -> str:
    return f"""
    WITH base AS (SELECT vec_id, {_SQL_QUANT_EMB} AS v FROM embeddings),
    cents AS (SELECT vec_id AS cid, v AS cv FROM base WHERE vec_id < {n_cells}),
    scored AS (
      SELECT b.vec_id, b.v, c.cid,
             {_sql_dot('b.v', 'c.cv')} AS cdot
      FROM base b CROSS JOIN cents c
    ),
    assigned AS (
      SELECT vec_id, v, cid AS cell FROM (
        SELECT vec_id, v, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY cdot DESC, cid) AS rn
        FROM scored
      ) t WHERE rn = 1
    ),
    q AS (SELECT vec_id AS query_id, v AS qv, cell FROM assigned
          WHERE vec_id < {query_max}),
    sims AS (
      SELECT q.query_id, a.vec_id AS neighbor_id, a.cell,
             {_sql_cosine(_sql_dot('q.qv', 'a.v'), _sql_sqnorm('q.qv'), _sql_sqnorm('a.v'))}
                 AS cos_sim
      FROM q JOIN assigned a
        ON a.cell = q.cell AND a.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, cell, cos_sim, rank FROM (
      SELECT query_id, neighbor_id, cell, cos_sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, neighbor_id) AS rank
      FROM sims
    ) t WHERE rank <= {k}
    """


@register(
    "ann_ivf_topk",
    oracle=_sql_ivf_topk(),
    tags=("similarity",),
    doc="IVF approximate top-5: deterministic coarse centroids, exact-"
    "integer argmax cell assignment, search restricted to the query's "
    "cell (n_probe=1) — the data-adaptive counterpart to the "
    "hyperplane-LSH path.",
)
def ann_ivf_topk(spark: SparkSession, sf: str):
    return S.ivf_topk(table(spark, sf, "embeddings"), query_max_id=5, k=5)


def _sql_near_dup_lsh(threshold: float = 0.45) -> str:
    def bucket_expr(planes) -> str:
        terms = []
        for j, w in enumerate(planes):
            wl = "[" + ", ".join(str(x) for x in w) + "]"
            dot = f"list_sum(list_transform(range(0, 64), i -> v[i+1] * ({wl})[i+1]))"
            terms.append(f"(CASE WHEN {dot} > 0 THEN {1 << j} ELSE 0 END)")
        return " + ".join(terms)

    bucket_cols = ",\n             ".join(
        f"CAST({bucket_expr(S.table_planes(t))} AS INT) AS b{t}"
        for t in range(S.N_LSH_TABLES)
    )
    table_selects = "\n      UNION ALL ".join(
        f"SELECT vec_id, {t} AS t, b{t} AS b FROM bucketed"
        for t in range(S.N_LSH_TABLES)
    )
    return f"""
    WITH base AS (SELECT vec_id, {_SQL_QUANT_EMB} AS v FROM embeddings),
    bucketed AS (
      SELECT vec_id, v,
             {bucket_cols}
      FROM base
    ),
    tagged AS (
      {table_selects}
    ),
    cand AS (
      SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
      FROM tagged x JOIN tagged y
        ON x.t = y.t AND x.b = y.b AND x.vec_id < y.vec_id
    ),
    pairs AS (
      SELECT c.vec_a, c.vec_b,
             {_sql_dot('a.v', 'b.v')} AS dot,
             {_sql_sqnorm('a.v')} AS na,
             {_sql_sqnorm('b.v')} AS nb
      FROM cand c
      JOIN base a ON a.vec_id = c.vec_a
      JOIN base b ON b.vec_id = c.vec_b
    )
    SELECT vec_a, vec_b,
           {_sql_cosine('dot', 'na', 'nb')} AS cos_sim
    FROM pairs
    WHERE {_sql_cosine('dot', 'na', 'nb')} >= {threshold}
    """


@register(
    "dedup_embedding_lsh",
    oracle=_sql_near_dup_lsh(),
    tags=("dedup", "similarity"),
    doc="Multi-table LSH embedding near-dup pairs — the scale path for "
    "dedup_embedding_cosine: candidates collide in any of 4 hyperplane "
    "tables (OR-amplified recall), dedupe before the exact-integer "
    "cosine verify.",
)
def dedup_embedding_lsh(spark: SparkSession, sf: str):
    return S.embedding_near_dup_lsh(table(spark, sf, "embeddings"), threshold=0.45)


def _sql_lang_ngram() -> str:
    def score(markers: tuple[str, ...]) -> str:
        return f"CAST(len(list_filter(tris, x -> x IN {markers!r})) AS INT)"

    s = {lang: score(m) for lang, m in T.LANG_TRIGRAMS.items()}
    return f"""
    WITH c AS (SELECT doc_id, lang, {_SQL_CANON} AS canon FROM documents),
    t AS (
      SELECT doc_id, lang,
             CASE WHEN LENGTH(canon) >= 3
                  THEN list_transform(range(1, LENGTH(canon) - 1),
                                      i -> substr(canon, CAST(i AS INT), 3))
                  ELSE CAST([] AS VARCHAR[]) END AS tris
      FROM c
    ),
    scored AS (
      SELECT doc_id, lang,
             {s['en']} AS t_en, {s['de']} AS t_de,
             {s['fr']} AS t_fr, {s['es']} AS t_es
      FROM t
    )
    SELECT doc_id, t_en, t_de, t_fr, t_es,
           CASE WHEN t_en >= t_de AND t_en >= t_fr AND t_en >= t_es THEN 'en'
                WHEN t_de >= t_fr AND t_de >= t_es THEN 'de'
                WHEN t_fr >= t_es THEN 'fr'
                ELSE 'es' END AS lang_guess,
           lang,
           (CASE WHEN t_en >= t_de AND t_en >= t_fr AND t_en >= t_es THEN 'en'
                 WHEN t_de >= t_fr AND t_de >= t_es THEN 'de'
                 WHEN t_fr >= t_es THEN 'fr'
                 ELSE 'es' END) = lang AS label_match
    FROM scored
    """


@register(
    "text_lang_ngram",
    oracle=_sql_lang_ngram(),
    tags=("text",),
    doc="Character-trigram language-ID (occurrence counts over fixed "
    "marker trigram sets, priority tie-break) — the n-gram variant of "
    "text_lang_guess.",
)
def text_lang_ngram(spark: SparkSession, sf: str):
    return T.with_lang_ngram(table(spark, sf, "documents"))


@register(
    "pipeline_clean_corpus",
    oracle=f"""
    WITH q AS (
      SELECT doc_id, text, {_SQL_TOKS} AS toks, {_SQL_CANON} AS canon
      FROM documents
    ),
    kept AS (
      SELECT doc_id, text, canon, len(toks) AS token_cnt
      FROM q
      WHERE len(toks) >= 20 AND len(toks) <= 2000
        AND CAST(len(list_filter(toks, x -> x IN {T.STOPWORDS!r})) AS DOUBLE)
            / len(toks) >= 0.05
    ),
    deduped AS (
      SELECT sha256(canon) AS fp, MIN(doc_id) AS doc_id,
             COUNT(*) AS dup_cnt, MIN(token_cnt) AS token_cnt
      FROM kept GROUP BY sha256(canon)
    )
    SELECT COUNT(*) AS n_docs,
           CAST(SUM(token_cnt) AS BIGINT) AS total_tokens,
           CAST(SUM(dup_cnt - 1) AS BIGINT) AS dups_removed,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc
    FROM deduped
    """,
    tags=("pipeline", "dedup", "text", "bench"),
    doc="Composite training-data pipeline: quality gate (length + "
    "stopword-ratio) → exact dedup on the content fingerprint → corpus "
    "stats. One scan, one shuffle (the dedup hash-agg), one tiny final "
    "agg — the 100 TB cleaning-job shape.",
)
def pipeline_clean_corpus(spark: SparkSession, sf: str):
    from pyspark.sql import functions as F

    docs = table(spark, sf, "documents")
    toks = T.tokens_col()
    q = docs.select(
        "doc_id",
        T.canonical_text().alias("canon"),
        F.size(toks).alias("token_cnt"),
        (
            F.size(F.filter(toks, lambda t: t.isin(*T.STOPWORDS))).cast("double")
            / F.size(toks)
        ).alias("stop_ratio"),
    )
    kept = q.filter(
        (F.col("token_cnt") >= 20)
        & (F.col("token_cnt") <= 2000)
        & (F.col("stop_ratio") >= 0.05)
    )
    deduped = (
        kept.select("doc_id", "token_cnt", F.sha2("canon", 256).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count(F.lit(1)).alias("dup_cnt"),
            F.min("token_cnt").alias("token_cnt"),
        )
    )
    return deduped.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("token_cnt").cast("long").alias("total_tokens"),
        F.sum(F.col("dup_cnt") - 1).cast("long").alias("dups_removed"),
        F.min("doc_id").cast("long").alias("first_doc"),
    )


@register(
    "dedup_keep_newest",
    oracle="""
    SELECT user_id, event_id AS newest_event, event_type AS newest_type
    FROM (
        SELECT user_id, event_id, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    ) t WHERE rn = 1
    """,
    tags=("dedup", "window"),
    doc="Keep-newest-version dedup: latest record per key via a single "
    "row_number window (the canonical snapshot-compaction operator for "
    "versioned training data; one shuffle on the key).",
)
def dedup_keep_newest(spark: SparkSession, sf: str):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        table(spark, sf, "events")
        .select(
            "user_id",
            "event_id",
            "event_type",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("newest_event"),
            F.col("event_type").alias("newest_type"),
        )
    )
