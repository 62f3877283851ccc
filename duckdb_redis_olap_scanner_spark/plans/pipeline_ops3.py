"""Round-6 pipeline additions: keyword retrieval (BM25, vocabulary,
OOV audit), repetition and duplicate-n-gram filtering, PII scrubbing,
context-window chunking, sequence packing, int8 embedding
quantization, semantic prototypes + k-means refinement, rolling
anomaly detection, and the end-to-end curation DAG flagship.

Determinism contract (same as the rest of the catalog): integer
counts, rational idf instead of ``ln`` (libm ulp drift), fixed-order
column addition instead of row SUMs for float accumulation, explicit
left folds for array sums — every value bit-identical across engines.
"""

from __future__ import annotations

from pyspark.sql import SparkSession, Window
from pyspark.sql import functions as F

from ..operators import dedup as D
from ..operators import packing as PK
from ..operators import quantize as Q
from ..operators import retrieval as R
from ..operators import similarity as S
from ..operators import text as T
from .catalog import register, table
from .pipeline_ops import _SQL_CANON, _SQL_QUANT_EMB, _SQL_TOKS, _sql_dot

_TERMS = R.QUERY_TERMS
_K1, _B = R.BM25_K1, R.BM25_B


def _sql_bm25(terms: tuple[str, ...] = _TERMS, k: int = 10) -> str:
    tf_cols = ",\n           ".join(
        f"len(list_filter(toks, x -> x = '{t}')) AS tf_{t}" for t in terms
    )
    df_cols = ",\n           ".join(
        f"sum(CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END) AS df_{t}"
        for t in terms
    )
    # Mirrors operators/retrieval.term_score exactly: same association,
    # same literal arithmetic, fixed-order column addition.
    term_scores = " + ".join(
        f"(((CAST(n_docs - df_{t} AS DOUBLE) + 0.5)"
        f" / (CAST(df_{t} AS DOUBLE) + 0.5))"
        f" * (CAST(tf_{t} AS DOUBLE) * ({_K1} + 1.0)))"
        f" / (CAST(tf_{t} AS DOUBLE) + {_K1} * ((1.0 - {_B})"
        f" + ({_B} * CAST(dl AS DOUBLE))"
        f" / (CAST(total_dl AS DOUBLE) / n_docs)))"
        for t in terms
    )
    sel_tf = ", ".join(f"CAST(tf_{t} AS INT) AS tf_{t}" for t in terms)
    return f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
    c AS (SELECT doc_id, len(toks) AS dl,
           {tf_cols}
          FROM t),
    s AS (SELECT count(*) AS n_docs, sum(dl) AS total_dl,
           {df_cols}
          FROM c),
    scored AS (
      SELECT doc_id, CAST(dl AS INT) AS dl, {sel_tf},
             {term_scores} AS score
      FROM c, s)
    SELECT * FROM scored WHERE score > 0
    ORDER BY score DESC, doc_id ASC LIMIT {k}
    """


@register(
    "text_bm25_topk",
    oracle=_sql_bm25(),
    tags=("text", "topk"),
    doc="BM25-style ranked retrieval (rational-idf variant; see "
    "operators/retrieval.py) for a fixed multi-term query: narrow tf "
    "map + broadcast corpus-stats scalar + TakeOrderedAndProject "
    "top-10. The libm-free score is bit-exact across engines.",
)
def text_bm25_topk(spark: SparkSession, sf: str):
    return R.bm25_topk(table(spark, sf, "documents"))


@register(
    "text_vocabulary",
    oracle=f"""
    WITH p AS (
      SELECT DISTINCT doc_id, unnest(list_distinct({_SQL_TOKS})) AS tok
      FROM documents),
    n AS (SELECT count(*) AS n_docs FROM documents)
    SELECT tok, count(*) AS df_docs,
           CAST(count(*) AS DOUBLE) / any_value(n_docs) AS coverage
    FROM p, n
    GROUP BY tok
    ORDER BY df_docs DESC, tok ASC LIMIT 50
    """,
    tags=("text", "topk", "agg"),
    doc="Tokenizer-vocab induction seed: top-50 tokens by document "
    "frequency with coverage fraction; array_distinct inside the row "
    "bounds the shuffle by vocabulary, not token count "
    "(operators/retrieval.vocabulary_topk).",
)
def text_vocabulary(spark: SparkSession, sf: str):
    return R.vocabulary_topk(table(spark, sf, "documents"))


@register(
    "text_repetition_stats",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
    b AS (SELECT doc_id, len(toks) AS n_tok,
                 len(list_distinct(toks)) AS n_distinct, toks
          FROM t),
    bg AS (SELECT doc_id,
                  unnest(list_transform(range(1, len(toks)),
                         i -> toks[i] || ' ' || toks[i+1])) AS bg
           FROM t WHERE len(toks) >= 2),
    bgc AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY 1, 2),
    top AS (SELECT doc_id, max(c) AS top_bigram_cnt FROM bgc GROUP BY 1)
    SELECT b.doc_id,
           CAST(n_tok AS INT) AS n_tok,
           CAST(n_distinct AS INT) AS n_distinct,
           CAST(COALESCE(top_bigram_cnt, 0) AS BIGINT) AS top_bigram_cnt,
           CAST(n_tok - n_distinct AS DOUBLE) / n_tok AS dup_token_frac,
           CASE WHEN n_tok >= 2
                THEN CAST(COALESCE(top_bigram_cnt, 0) AS DOUBLE) / (n_tok - 1)
           END AS top_bigram_frac,
           (CAST(n_tok - n_distinct AS DOUBLE) / n_tok
                <= {T.MAX_DUP_TOKEN_FRAC})
           AND (n_tok < 2 OR
                CAST(COALESCE(top_bigram_cnt, 0) AS DOUBLE) / (n_tok - 1)
                    <= {T.MAX_TOP_BIGRAM_FRAC}) AS rep_ok
    FROM b LEFT JOIN top ON b.doc_id = top.doc_id
    """,
    tags=("text", "pipeline"),
    doc="Gopher-style repetition filter: token-duplication fraction + "
    "most-frequent-bigram fraction per doc with a combined keep flag; "
    "the bigram mode is the only shuffle, keyed (doc_id, bigram) with "
    "map-side combine (operators/text.with_repetition_stats).",
)
def text_repetition_stats(spark: SparkSession, sf: str):
    return T.with_repetition_stats(table(spark, sf, "documents"))


@register(
    "pipeline_chunk_documents",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
    c AS (SELECT doc_id, toks, len(toks) AS n,
                 unnest(range(0, len(toks), {T.CHUNK_STRIDE})) AS start_tok
          FROM t)
    SELECT doc_id,
           CAST(start_tok // {T.CHUNK_STRIDE} AS INT) AS chunk_idx,
           CAST(start_tok AS INT) AS start_tok,
           CAST(LEAST({T.CHUNK_TOKENS}, n - start_tok) AS INT) AS chunk_len,
           {T.sql_md5_hash64(
               "array_to_string(list_slice(toks, start_tok + 1, "
               f"start_tok + {T.CHUNK_TOKENS}), ' ')"
           )} AS chunk_hash
    FROM c
    """,
    tags=("text", "pipeline", "lateral"),
    doc="Context-window chunking (64-token windows, 16-token overlap) "
    "for sequence prep: generator explode fans each doc into its "
    "chunks in-stage (no shuffle, no driver), chunk text reduced to "
    "the codegen'd md5-64 hash (operators/text.chunk_documents).",
)
def pipeline_chunk_documents(spark: SparkSession, sf: str):
    return T.chunk_documents(table(spark, sf, "documents"))


@register(
    "pipeline_quantize_int8",
    oracle="""
    WITH e AS (SELECT vec_id,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    m AS (SELECT vec_id, v,
                 127.0 / nullif(list_max(list_transform(v, x -> abs(x))), 0.0)
                     AS scale
          FROM e),
    q AS (SELECT vec_id, v, scale,
                 list_transform(v, x -> CAST(floor(x * scale + 0.5) AS INT))
                     AS qv
          FROM m)
    SELECT vec_id, scale,
           CASE WHEN scale IS NOT NULL THEN
             array_to_string(list_transform(qv, x -> CAST(x AS VARCHAR)), ',')
           END AS qvec,
           list_reduce(
             list_prepend(0.0, list_transform(range(1, len(v) + 1),
               i -> (v[i] - CAST(qv[i] AS DOUBLE) / scale)
                  * (v[i] - CAST(qv[i] AS DOUBLE) / scale))),
             (acc, x) -> acc + x) AS sq_err
    FROM q
    """,
    tags=("similarity", "pipeline"),
    doc="Per-vector symmetric int8 embedding quantization (4x storage "
    "cut, int8-dot-ready codes) with exact left-fold reconstruction "
    "error; pure narrow map, scan-bandwidth at any scale "
    "(operators/quantize.quantize_int8).",
)
def pipeline_quantize_int8(spark: SparkSession, sf: str):
    return Q.quantize_int8(table(spark, sf, "embeddings"))


@register(
    "pipeline_pack_sequences",
    oracle=f"""
    WITH t AS (SELECT doc_id, len({_SQL_TOKS}) AS n_tok,
                      {T.sql_md5_hash64(_SQL_CANON)} AS h
               FROM documents),
    b AS (SELECT doc_id, n_tok, h, h % {PK.N_PACK_BUCKETS} AS bucket FROM t),
    c AS (SELECT doc_id, bucket, n_tok,
                 CAST(SUM(n_tok) OVER (PARTITION BY bucket
                                       ORDER BY h, doc_id) AS BIGINT)
                     AS cum
          FROM b)
    SELECT doc_id, bucket, CAST(n_tok AS INT) AS n_tok,
           cum - n_tok AS start_tok,
           (cum - n_tok) // {PK.PACK_SEQ_LEN} AS first_seq,
           ((cum - 1) // {PK.PACK_SEQ_LEN})
               - ((cum - n_tok) // {PK.PACK_SEQ_LEN}) + 1 AS n_seqs
    FROM c
    """,
    tags=("text", "pipeline", "window"),
    doc="Sequence packing for training batches: content-hash-bucketed "
    "concat-and-chunk layout; each doc reports its running token "
    "offset and the range of fixed-length sequences it occupies "
    "(operators/packing.pack_sequences). Buckets are the parallelism "
    "unit — raise n_buckets with corpus size.",
)
def pipeline_pack_sequences(spark: SparkSession, sf: str):
    return PK.pack_sequences(table(spark, sf, "documents"))


@register(
    "pipeline_semantic_prototypes",
    oracle=f"""
    WITH base AS (SELECT vec_id, {_SQL_QUANT_EMB} AS v FROM embeddings),
    cents AS (SELECT vec_id AS cid, v AS cv FROM base
              WHERE vec_id < {S.N_IVF_CELLS}),
    dots AS (SELECT b.vec_id, c.cid,
                    CAST({_sql_dot('b.v', 'c.cv')} AS BIGINT) AS d
             FROM base b CROSS JOIN cents c),
    best AS (SELECT vec_id, cid AS cell, d,
                    row_number() OVER (PARTITION BY vec_id
                                       ORDER BY d DESC, cid ASC) AS rn
             FROM dots),
    r AS (SELECT vec_id, cell, d FROM best WHERE rn = 1),
    p AS (SELECT cell, vec_id AS proto_vec_id, d AS proto_dot,
                 row_number() OVER (PARTITION BY cell
                                    ORDER BY d DESC, vec_id ASC) AS pr
          FROM r),
    m AS (SELECT cell, count(*) AS n_members FROM r GROUP BY cell)
    SELECT m.cell, n_members, proto_vec_id, proto_dot
    FROM m JOIN p ON m.cell = p.cell WHERE pr = 1
    """,
    tags=("similarity", "dedup", "pipeline"),
    doc="SemDeDup-style cluster prototypes: per IVF cell, the member "
    "count and the exemplar nearest its centroid by exact-integer dot "
    "(operators/similarity.ivf_prototypes); one Arrow assignment pass "
    "+ a map-side-combining arg-max agg, no window over skewed cells.",
)
def pipeline_semantic_prototypes(spark: SparkSession, sf: str):
    return S.ivf_prototypes(table(spark, sf, "embeddings"))


# Rolling z-score anomaly constants — fixed and shared with the oracle.
ANOMALY_WINDOW = 20  # trailing rows per user (inclusive of current)
ANOMALY_MIN_N = 5
ANOMALY_K = 2  # flag when |x - mean| > K * stddev


@register(
    "events_rolling_anomaly",
    oracle=f"""
    WITH b AS (SELECT event_id, user_id, ts,
                      CAST(FLOOR(value * 100.0) AS BIGINT) AS x
               FROM events),
    w AS (SELECT event_id, user_id, x,
                 COUNT(x) OVER win AS n,
                 CAST(SUM(x) OVER win AS BIGINT) AS s,
                 CAST(SUM(x * x) OVER win AS BIGINT) AS q
          FROM b
          WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN {ANOMALY_WINDOW - 1} PRECEDING
                         AND CURRENT ROW))
    SELECT event_id, user_id, x AS x_cents,
           CAST(n AS INT) AS win_n, s AS win_sum, q AS win_sumsq,
           (n >= {ANOMALY_MIN_N} AND
            (n * x - s) * (n * x - s)
                > {ANOMALY_K * ANOMALY_K} * (n * q - s * s)) AS is_anomaly
    FROM w
    """,
    tags=("temporal", "window", "pipeline"),
    doc="Rolling z-score outlier detection over each user's event "
    "stream, in pure int64 arithmetic: |x-mean| > K*stddev is tested "
    "as (n*x-s)^2 > K^2*(n*q-s^2) over cents, so no sqrt/libm and the "
    "oracle matches bit-for-bit; one window pass, partitioned by "
    "user — the natural key at scale.",
)
def events_rolling_anomaly(spark: SparkSession, sf: str):
    e = table(spark, sf, "events")
    x = F.floor(F.col("value") * F.lit(100.0)).cast("long")
    b = e.select("event_id", "user_id", "ts", x.alias("x"))
    win = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(ANOMALY_WINDOW - 1), 0)
    )
    n = F.count("x").over(win)
    s = F.sum("x").over(win)
    q = F.sum(F.col("x") * F.col("x")).over(win)
    w = b.select(
        "event_id",
        "user_id",
        F.col("x").alias("x_cents"),
        n.cast("int").alias("win_n"),
        s.alias("win_sum"),
        q.alias("win_sumsq"),
    )
    nx = F.col("win_n").cast("long") * F.col("x_cents")
    dev2 = (nx - F.col("win_sum")) * (nx - F.col("win_sum"))
    var_n2 = F.col("win_n").cast("long") * F.col("win_sumsq") - F.col(
        "win_sum"
    ) * F.col("win_sum")
    return w.select(
        "event_id",
        "user_id",
        "x_cents",
        "win_n",
        "win_sum",
        "win_sumsq",
        (
            (F.col("win_n") >= ANOMALY_MIN_N)
            & (dev2 > F.lit(ANOMALY_K * ANOMALY_K) * var_n2)
        ).alias("is_anomaly"),
    )


@register(
    "text_duplicate_ngrams",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_SQL_TOKS} AS t FROM documents),
    sh AS (
      SELECT doc_id, unnest(list_distinct(
        list_transform(range(0, greatest(len(t) - {D.DUP_NGRAM_N - 1}, 0)),
          i -> array_to_string(list_slice(t, i + 1, i + {D.DUP_NGRAM_N}),
                               ' ')))) AS shingle
      FROM toks),
    hh AS (SELECT doc_id, {T.sql_md5_hash64('shingle')} AS h FROM sh),
    dfc AS (SELECT h, count(*) AS df FROM hh GROUP BY h),
    per AS (SELECT doc_id, count(*) AS n_grams,
                   CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_dup
            FROM hh JOIN dfc USING (h) GROUP BY doc_id)
    SELECT d.doc_id,
           COALESCE(n_grams, 0) AS n_grams,
           COALESCE(n_dup, 0) AS n_dup_grams,
           CASE WHEN COALESCE(n_grams, 0) > 0
                THEN CAST(COALESCE(n_dup, 0) AS DOUBLE) / n_grams
           END AS dup_frac,
           (COALESCE(n_grams, 0) = 0 OR
            CAST(COALESCE(n_dup, 0) AS DOUBLE) / n_grams
                <= {D.MAX_CROSS_DOC_DUP_FRAC}) AS dup_ok
    FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
    """,
    tags=("text", "dedup", "pipeline"),
    doc="Cross-document repetition filter: fraction of each doc's "
    "distinct word-8-grams that also appear in another document "
    "(catches boilerplate no pairwise Jaccard threshold sees); both "
    "shuffles keyed on the uniform 64-bit gram hash "
    "(operators/dedup.duplicate_ngram_stats).",
)
def text_duplicate_ngrams(spark: SparkSession, sf: str):
    return D.duplicate_ngram_stats(table(spark, sf, "documents"))


def _inject_pii_col():
    # Deterministic synthetic PII so the redaction paths are actually
    # exercised on this corpus (the generated text contains none):
    # every 5th doc gets an email, every 7th a phone number.
    return F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@mail.example.com now"),
            ),
        )
        .when(F.col("doc_id") % 7 == 0, F.lit(" call 555-123-4567"))
        .otherwise(F.lit("")),
    )


_SQL_INJECT_PII = """
    text || CASE
      WHEN doc_id % 5 = 0
        THEN ' contact user' || CAST(doc_id AS VARCHAR)
             || '@mail.example.com now'
      WHEN doc_id % 7 = 0 THEN ' call 555-123-4567'
      ELSE '' END
"""


@register(
    "text_pii_scrub",
    oracle=f"""
    WITH d AS (SELECT doc_id, {_SQL_INJECT_PII} AS text FROM documents),
    s AS (SELECT doc_id, text,
                 regexp_replace(regexp_replace(text,
                     '{T.PII_EMAIL_RE}', '<EMAIL>', 'g'),
                     '{T.PII_PHONE_RE}', '<PHONE>', 'g') AS clean
          FROM d)
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{T.PII_EMAIL_RE}')) AS INT)
               AS n_emails,
           CAST(len(regexp_extract_all(text, '{T.PII_PHONE_RE}')) AS INT)
               AS n_phones,
           md5(clean) AS clean_md5,
           CAST(LENGTH(text) - LENGTH(clean) AS INT) AS len_delta
    FROM s
    """,
    tags=("text", "pipeline"),
    doc="PII redaction (emails + phone numbers) over a corpus with "
    "deterministically injected synthetic PII; counts, the scrubbed "
    "text's md5, and the net length delta are all engine-exact. Two "
    "codegen'd regexp passes, no shuffle "
    "(operators/text.scrub_pii).",
)
def text_pii_scrub(spark: SparkSession, sf: str):
    docs = table(spark, sf, "documents").withColumn(
        "text", _inject_pii_col()
    )
    return T.scrub_pii(docs)


@register(
    "pipeline_kmeans_refine",
    oracle=f"""
    WITH base AS (SELECT vec_id, {_SQL_QUANT_EMB} AS v FROM embeddings),
    cents AS (SELECT vec_id AS cid, v AS cv FROM base
              WHERE vec_id < {S.N_IVF_CELLS}),
    d0 AS (SELECT b.vec_id, c.cid,
                  CAST({_sql_dot('b.v', 'c.cv')} AS BIGINT) AS d
           FROM base b CROSS JOIN cents c),
    a0 AS (SELECT vec_id, cid AS cell0
           FROM (SELECT vec_id, cid, d,
                        row_number() OVER (PARTITION BY vec_id
                                           ORDER BY d DESC, cid ASC) AS rn
                 FROM d0)
           WHERE rn = 1),
    j AS (SELECT a0.vec_id, a0.cell0, b.v
          FROM a0 JOIN base b ON a0.vec_id = b.vec_id),
    ex AS (SELECT cell0 AS cell, r.pos, v[r.pos + 1] AS val
           FROM j CROSS JOIN
                -- dim derived from the data (the Spark side infers
                -- max(pos)+1 the same way): a regenerated corpus with
                -- a different embedding width stays correct instead
                -- of silently truncating at a hardcoded 64.
                (SELECT unnest(range(0, CAST(coalesce(
                     (SELECT max(len(v)) FROM base), 0) AS BIGINT)))
                 AS pos) r),
    sv AS (SELECT cell, pos, CAST(SUM(val) AS BIGINT) AS s
           FROM ex GROUP BY cell, pos),
    cnts AS (SELECT cell0 AS cell, COUNT(*) AS cnt FROM a0 GROUP BY cell0),
    m AS (SELECT sv.cell,
                 list(sv.s // cnts.cnt ORDER BY sv.pos) AS mv
          FROM sv JOIN cnts ON sv.cell = cnts.cell GROUP BY sv.cell),
    d1 AS (SELECT b.vec_id, m.cell AS cid,
                  CAST({_sql_dot('b.v', 'm.mv')} AS BIGINT) AS d
           FROM base b CROSS JOIN m),
    a1 AS (SELECT vec_id, cid AS cell1
           FROM (SELECT vec_id, cid, d,
                        row_number() OVER (PARTITION BY vec_id
                                           ORDER BY d DESC, cid ASC) AS rn
                 FROM d1)
           WHERE rn = 1)
    SELECT a0.vec_id, a0.cell0, a1.cell1, a0.cell0 <> a1.cell1 AS moved
    FROM a0 JOIN a1 ON a0.vec_id = a1.vec_id
    """,
    tags=("similarity", "iterative", "pipeline"),
    doc="One Lloyd's k-means iteration over the IVF cells: re-assign "
    "against per-cell integer-mean centroids (exact int64 sums, "
    "truncating division to match SQL //); assignment is the Arrow "
    "matmul map, the centroid update a map-side-combined posexplode "
    "reduced to cells x dims rows (operators/similarity.kmeans_refine).",
)
def pipeline_kmeans_refine(spark: SparkSession, sf: str):
    return S.kmeans_refine(table(spark, sf, "embeddings"))


@register(
    "pipeline_oov_stats",
    oracle=f"""
    WITH p AS (
      SELECT DISTINCT doc_id, unnest(list_distinct({_SQL_TOKS})) AS tok
      FROM documents),
    vocab AS (
      SELECT tok FROM p GROUP BY tok
      ORDER BY count(*) DESC, tok ASC LIMIT {R.OOV_VOCAB_SIZE}),
    alltoks AS (
      SELECT doc_id, unnest({_SQL_TOKS}) AS tok FROM documents),
    f AS (SELECT a.doc_id, a.tok,
                 CASE WHEN v.tok IS NULL THEN 0 ELSE 1 END AS in_vocab
          FROM alltoks a LEFT JOIN vocab v ON a.tok = v.tok)
    SELECT doc_id,
           count(*) AS n_tok,
           CAST(sum(in_vocab) AS BIGINT) AS n_invocab,
           CAST(count(*) - sum(in_vocab) AS DOUBLE) / count(*) AS oov_rate
    FROM f GROUP BY doc_id
    """,
    tags=("text", "pipeline", "agg"),
    doc="Vocabulary application / OOV audit: per-doc coverage against "
    "the corpus's top-30 document-frequency vocabulary; bounded vocab "
    "broadcast against the token stream, per-doc agg map-side "
    "combined (operators/retrieval.oov_stats).",
)
def pipeline_oov_stats(spark: SparkSession, sf: str):
    return R.oov_stats(table(spark, sf, "documents"))


def _sql_shingle3(src: str) -> str:
    # Distinct word-3-gram shingles of CTE `src` (same construction as
    # pipeline_ops._sql_shingles_cte, parameterized by source).
    return f"""
      SELECT doc_id, unnest(list_distinct(
        list_transform(range(0, greatest(len({_SQL_TOKS}) - 2, 0)),
          i -> {_SQL_TOKS}[i+1] || ' ' || {_SQL_TOKS}[i+2]
               || ' ' || {_SQL_TOKS}[i+3]))) AS shingle
      FROM {src}
    """


_SQL_BUCKET = (
    f"CAST(md5_number_lower({_SQL_CANON}) % 1000000007 AS BIGINT) % 100"
)


@register(
    "pipeline_full_curation",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
    b0 AS (SELECT doc_id, len(toks) AS n_tok,
                  len(list_distinct(toks)) AS n_distinct, toks
           FROM t),
    bg AS (SELECT doc_id,
                  unnest(list_transform(range(1, len(toks)),
                         i -> toks[i] || ' ' || toks[i+1])) AS bg
           FROM t WHERE len(toks) >= 2),
    bgc AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY 1, 2),
    topb AS (SELECT doc_id, max(c) AS top_cnt FROM bgc GROUP BY 1),
    repok AS (
      SELECT b0.doc_id FROM b0 LEFT JOIN topb ON b0.doc_id = topb.doc_id
      WHERE CAST(n_tok - n_distinct AS DOUBLE) / n_tok
                <= {T.MAX_DUP_TOKEN_FRAC}
        AND (n_tok < 2 OR
             CAST(COALESCE(top_cnt, 0) AS DOUBLE) / (n_tok - 1)
                 <= {T.MAX_TOP_BIGRAM_FRAC})),
    gated AS (SELECT d.* FROM documents d JOIN repok USING (doc_id)),
    fp AS (SELECT doc_id, sha256({_SQL_CANON}) AS f FROM gated),
    keep AS (SELECT MIN(doc_id) AS doc_id FROM fp GROUP BY f),
    surv AS (SELECT g.* FROM gated g JOIN keep USING (doc_id)),
    tr AS (SELECT * FROM surv WHERE {_SQL_BUCKET} < 80),
    valdocs AS (SELECT * FROM documents
                WHERE {_SQL_BUCKET} >= 80 AND {_SQL_BUCKET} < 90),
    vsh AS ({_sql_shingle3('valdocs')}),
    vh AS (SELECT DISTINCT {T.sql_md5_hash64('shingle')} AS h FROM vsh),
    tsh AS ({_sql_shingle3('tr')}),
    th AS (SELECT doc_id, {T.sql_md5_hash64('shingle')} AS h FROM tsh),
    cont AS (SELECT DISTINCT th.doc_id FROM th JOIN vh USING (h))
    SELECT tr.doc_id, tr.lang,
           CAST(len({_SQL_TOKS}) AS INT) AS n_tok
    FROM tr LEFT JOIN cont ON tr.doc_id = cont.doc_id
    WHERE cont.doc_id IS NULL
    """,
    tags=("pipeline", "dedup", "text"),
    doc="The flagship end-to-end curation DAG as ONE declarative plan: "
    "Gopher repetition gate -> exact dedup survivors -> content-hash "
    "train bucket -> hashed-shingle decontamination against the "
    "held-out split -> surviving train corpus (doc_id, lang, n_tok). "
    "Every stage is the already-verified operator; composing them in "
    "one DataFrame lets Catalyst pipeline the narrow stages and share "
    "the tokenization scan. Each shuffle is keyed on a uniform hash "
    "(bigram, fingerprint, shingle) — the whole DAG inherits the "
    "per-stage 100 TB arguments.",
)
def pipeline_full_curation(spark: SparkSession, sf: str):
    from pyspark.sql import functions as F

    from ..operators.dedup import shingles

    docs = table(spark, sf, "documents")
    # r22 restructure (guide §8: decide on small rows, move heavy rows
    # once). The previous composition re-derived canonicalization/
    # tokenization in every consuming subtree — Catalyst does no
    # DAG-level common-subexpression elimination, so the gate, the
    # dedup fingerprint, the bucket split, the two shingle passes and
    # the final n_tok each re-scanned and re-canonicalized the corpus
    # (~7 text passes at sf0.1, and the same multiple at 100 TB).
    # Now ONE narrow per-doc decision frame carries everything except
    # the shingle sets: rep stats (which already include n_tok), the
    # exact-dedup fingerprint (sha2(canonical, 256) — the identical
    # exact_dedup expression), and the split bucket, computed together
    # from the text. It feeds four consumers (dedup keep set, train
    # gating, val split, final projection), each of which re-derives
    # it: persisting it measured no faster at sf0.1 in interleaved
    # pairs, and a persist nobody releases pins the frame in the
    # session's cache. Beyond it, raw text is touched ONLY by the two
    # shingle passes, each over an id-pruned semi-join of the corpus.
    c = T.canonical_text()
    per_doc = (
        T.with_repetition_stats(docs)
        .join(
            docs.select(
                "doc_id",
                "lang",
                F.sha2(c, 256).alias("content_fp"),
                (T.md5_hash64(c) % 100).alias("bucket"),
            ),
            "doc_id",
        )
        .select("doc_id", "lang", "n_tok", "rep_ok", "content_fp",
                "bucket")
    )
    # 1) repetition quality gate + 2) exact-dedup survivors (keep_id =
    #    min doc per fingerprint among gated docs — exact_dedup's
    #    grouping, here over the narrow frame)
    gated = per_doc.filter(F.col("rep_ok"))
    keep = gated.groupBy("content_fp").agg(
        F.min("doc_id").alias("doc_id")
    ).select("doc_id")
    # 3) content-hash train bucket
    tr = gated.join(keep, "doc_id").filter(F.col("bucket") < 80)
    # 4) decontaminate against the held-out (val) split of the FULL
    #    corpus — contamination comes from what's held out, regardless
    #    of what the quality gate dropped from train.
    val_ids = per_doc.filter(
        (F.col("bucket") >= 80) & (F.col("bucket") < 90)
    ).select("doc_id")
    vh = (
        shingles(docs.join(val_ids, "doc_id"))
        .select(T.md5_hash64(F.col("shingle")).alias("h"))
        .distinct()
    )
    th = shingles(docs.join(tr.select("doc_id"), "doc_id")).select(
        "doc_id", T.md5_hash64(F.col("shingle")).alias("h")
    )
    contaminated = th.join(vh, "h").select("doc_id").distinct()
    clean = tr.join(contaminated, "doc_id", "left_anti")
    # n_tok rides the narrow frame (with_repetition_stats computes the
    # identical F.size(tokens) — no re-tokenization of survivors).
    return clean.select("doc_id", "lang", F.col("n_tok").cast("int"))


# Gap-fill spine guard: the per-user hourly spine is h1-h0+1 rows per
# user REGARDLESS of how many events the user has, so one corrupt
# timestamp (epoch-zero row, year-9999 sentinel) silently turns a
# 30-day spine into a multi-million-row one. Cap the allowable span at
# one (leap) year and fail loudly past it — the r6
# parameter-validation pattern, applied to a data property.
GAPFILL_MAX_SPAN_HOURS = 24 * 366


@register(
    "events_gapfill_locf",
    oracle="""
    WITH b AS (SELECT user_id, date_trunc('hour', ts) AS hour, ts,
                      event_id, CAST(FLOOR(value * 100.0) AS BIGINT) AS x
               FROM events),
    hourly AS (
      SELECT user_id, hour, x AS hx FROM (
        SELECT user_id, hour, x,
               row_number() OVER (PARTITION BY user_id, hour
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM b) WHERE rn = 1),
    span AS (SELECT user_id, min(hour) AS h0, max(hour) AS h1
             FROM b GROUP BY user_id),
    spine AS (SELECT user_id,
                     unnest(generate_series(h0, h1, INTERVAL 1 HOUR))
                         AS hour
              FROM span),
    j AS (SELECT s.user_id, s.hour, h.hx
          FROM spine s LEFT JOIN hourly h
            ON s.user_id = h.user_id AND s.hour = h.hour)
    SELECT user_id, strftime(hour, '%Y-%m-%d %H') AS hour,
           last_value(hx IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY hour
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS value_cents,
           hx IS NULL AS is_gap
    FROM j
    """,
    tags=("temporal", "window", "pipeline"),
    doc="Hourly gap-fill with last-observation-carried-forward (the "
    "hypertable time_bucket_gapfill shape): per-user hour spine from "
    "min to max, missing hours filled by an IGNORE NULLS running "
    "last_value; one window pass per stage, partitioned on the user "
    "key, spine generated in-stage (sequence + explode, no driver). "
    "Runs UNBOUNDED over all users; a span guard raises at plan time "
    "if any user's spine would exceed GAPFILL_MAX_SPAN_HOURS (one "
    "corrupt epoch row would otherwise explode the spine silently).",
)
def events_gapfill_locf(
    spark: SparkSession, sf: str, max_span_hours: int = GAPFILL_MAX_SPAN_HOURS
):
    if max_span_hours <= 0:
        raise ValueError(f"max_span_hours={max_span_hours}: must be positive")
    e = table(spark, sf, "events")
    x = F.floor(F.col("value") * F.lit(100.0)).cast("long")
    b = e.select(
        "user_id",
        F.date_trunc("hour", F.col("ts")).alias("hour"),
        "ts",
        "event_id",
        x.alias("x"),
    )
    # Span guard: one scalar partial-agg job at plan build (a single
    # row reaches the driver). A corrupt timestamp makes this raise
    # with the offending magnitude instead of silently generating a
    # multi-million-row spine per user.
    worst = b.groupBy("user_id").agg(
        (
            (
                F.unix_timestamp(F.max("hour"))
                - F.unix_timestamp(F.min("hour"))
            )
            / 3600
        ).alias("span_h")
    ).agg(F.max("span_h")).collect()[0][0]
    if worst is not None and worst > max_span_hours:
        raise ValueError(
            f"events_gapfill_locf: a user's hour span is {int(worst)} h, "
            f"over max_span_hours={max_span_hours} — the spine would "
            "materialize span+1 rows per user; check for corrupt "
            "timestamps or raise the limit explicitly"
        )
    w_last = Window.partitionBy("user_id", "hour").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    hourly = (
        b.withColumn("rn", F.row_number().over(w_last))
        .filter(F.col("rn") == 1)
        .select("user_id", "hour", F.col("x").alias("hx"))
    )
    span = b.groupBy("user_id").agg(
        F.min("hour").alias("h0"), F.max("hour").alias("h1")
    )
    spine = span.select(
        "user_id",
        F.explode(F.expr("sequence(h0, h1, interval 1 hour)")).alias(
            "hour"
        ),
    )
    j = spine.join(hourly, ["user_id", "hour"], "left")
    w_locf = (
        Window.partitionBy("user_id")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return j.select(
        "user_id",
        F.date_format("hour", "yyyy-MM-dd HH").alias("hour"),
        F.last("hx", ignorenulls=True).over(w_locf).alias("value_cents"),
        F.col("hx").isNull().alias("is_gap"),
    )


@register(
    "text_char_diversity",
    oracle=f"""
    WITH ch AS (
      -- Empty canonical text yields one empty-string "char" in BOTH
      -- engines (split('','') = [''], verified either side), so the
      -- degenerate doc gets simpson = 1.0 rather than vanishing.
      SELECT doc_id, unnest(string_split({_SQL_CANON}, '')) AS c
      FROM documents),
    pc AS (SELECT doc_id, c, count(*) AS n FROM ch GROUP BY doc_id, c),
    a AS (SELECT doc_id,
                 CAST(SUM(n) AS BIGINT) AS n_chars_canon,
                 CAST(count(*) AS INT) AS distinct_chars,
                 CAST(SUM(n * n) AS BIGINT) AS sum_sq
          FROM pc GROUP BY doc_id)
    SELECT doc_id, n_chars_canon, distinct_chars,
           CAST(FLOOR((CAST(sum_sq AS DOUBLE) * 1e9)
                / CAST(n_chars_canon * n_chars_canon AS DOUBLE)) AS BIGINT)
               AS simpson_x1e9,
           CAST(FLOOR((CAST(sum_sq AS DOUBLE) * 1e9)
                / CAST(n_chars_canon * n_chars_canon AS DOUBLE)) AS BIGINT)
               < 200000000 AS diverse_ok
    FROM a
    """,
    tags=("text", "pipeline"),
    doc="Character-diversity quality signal: Simpson concentration "
    "index over canonical-text character frequencies — the libm-free "
    "entropy proxy (flags degenerate repeated-character content); "
    "two map-side-combined aggs, integer-exact output "
    "(operators/text.with_char_diversity).",
)
def text_char_diversity(spark: SparkSession, sf: str):
    return T.with_char_diversity(table(spark, sf, "documents"))


@register(
    "pipeline_source_mix",
    oracle=f"""
    WITH per AS (
      SELECT source, count(*) AS n_docs,
             CAST(SUM(len({_SQL_TOKS})) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source),
    tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
                   count(*) AS n_sources
            FROM per)
    SELECT source, n_docs, n_tokens,
           CAST(FLOOR((CAST(n_tokens AS DOUBLE) * 1e9)
                / CAST(total_tokens AS DOUBLE)) AS BIGINT)
               AS token_share_x1e9,
           CAST(FLOOR(LEAST(1.0,
                CAST(total_tokens AS DOUBLE)
                    / CAST(n_sources * n_tokens AS DOUBLE)) * 1e6)
               AS BIGINT) AS keep_rate_x1e6
    FROM per, tot
    ORDER BY source
    """,
    tags=("text", "pipeline", "agg"),
    doc="Dataset mixture analysis / source reweighting (the Pile/Dolma "
    "balancing step): per-source doc and token counts, token share, "
    "and the deterministic keep-rate that downsamples over-represented "
    "sources toward a uniform token mixture. One partial-combined agg "
    "+ a broadcast totals scalar; the keep rate feeds the salted-hash "
    "sampler (pipeline_stratified_sample's mechanism) unchanged at "
    "any scale.",
)
def pipeline_source_mix(spark: SparkSession, sf: str):
    docs = table(spark, sf, "documents")
    per = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(T.tokens_col())).alias("n_tokens"),
    )
    tot = per.agg(
        F.sum("n_tokens").alias("total_tokens"),
        F.count("*").alias("n_sources"),
    )
    j = per.crossJoin(F.broadcast(tot))
    share = F.floor(
        (F.col("n_tokens").cast("double") * F.lit(1e9))
        / F.col("total_tokens").cast("double")
    ).cast("long")
    keep = F.floor(
        F.least(
            F.lit(1.0),
            F.col("total_tokens").cast("double")
            / (F.col("n_sources") * F.col("n_tokens")).cast("double"),
        )
        * F.lit(1e6)
    ).cast("long")
    return j.select(
        "source",
        "n_docs",
        "n_tokens",
        share.alias("token_share_x1e9"),
        keep.alias("keep_rate_x1e6"),
    ).orderBy("source")


@register(
    "events_type_transitions",
    oracle="""
    WITH s AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events)
    SELECT prev_type, event_type AS next_type,
           count(*) AS n,
           CAST(count(*) AS DOUBLE)
               / sum(count(*)) OVER (PARTITION BY prev_type) AS p_next
    FROM s WHERE prev_type IS NOT NULL
    GROUP BY prev_type, event_type
    ORDER BY prev_type, next_type
    """,
    tags=("temporal", "window", "agg", "pipeline"),
    doc="Event-type transition matrix (Markov bigrams over each "
    "user's stream): lag over (ts, event_id) order, pair counts, and "
    "per-prev-type transition probabilities — the sequence-statistics "
    "prep for next-event modeling. One window pass partitioned by "
    "user + one bounded (type x type) aggregate; p_next is an exact "
    "int/int division (the window SUM over counts is integer).",
)
def events_type_transitions(spark: SparkSession, sf: str):
    e = table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = e.select(
        "user_id",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    ).filter(F.col("prev_type").isNotNull())
    counts = s.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count("*").alias("n")
    )
    tot = Window.partitionBy("prev_type")
    return counts.select(
        "prev_type",
        "next_type",
        "n",
        (F.col("n").cast("double") / F.sum("n").over(tot)).alias("p_next"),
    ).orderBy("prev_type", "next_type")


@register(
    "pipeline_pack_manifest",
    oracle=f"""
    WITH t AS (SELECT doc_id, len({_SQL_TOKS}) AS n_tok,
                      {T.sql_md5_hash64(_SQL_CANON)} AS h
               FROM documents),
    b AS (SELECT doc_id, n_tok, h, h % {PK.N_PACK_BUCKETS} AS bucket FROM t),
    c AS (SELECT doc_id, bucket, n_tok,
                 CAST(SUM(n_tok) OVER (PARTITION BY bucket
                                       ORDER BY h, doc_id) AS BIGINT)
                     AS cum
          FROM b),
    packed AS (
      SELECT doc_id, bucket, n_tok,
             cum - n_tok AS start_tok,
             (cum - n_tok) // {PK.PACK_SEQ_LEN} AS first_seq,
             ((cum - 1) // {PK.PACK_SEQ_LEN})
                 - ((cum - n_tok) // {PK.PACK_SEQ_LEN}) + 1 AS n_seqs
      FROM c),
    e AS (SELECT bucket, n_tok, start_tok,
                 unnest(range(first_seq, first_seq + n_seqs)) AS seq
          FROM packed)
    SELECT bucket, seq, count(*) AS n_docs,
           CAST(SUM(LEAST(start_tok + n_tok, (seq + 1) * {PK.PACK_SEQ_LEN})
                    - GREATEST(start_tok, seq * {PK.PACK_SEQ_LEN}))
               AS BIGINT) AS n_tokens,
           CAST(SUM(LEAST(start_tok + n_tok, (seq + 1) * {PK.PACK_SEQ_LEN})
                    - GREATEST(start_tok, seq * {PK.PACK_SEQ_LEN}))
               AS DOUBLE) / {PK.PACK_SEQ_LEN}.0 AS fill_frac
    FROM e GROUP BY bucket, seq
    ORDER BY bucket, seq
    """,
    tags=("text", "pipeline", "window", "agg"),
    doc="Sequence-level packing manifest: per training sequence, the "
    "contributing-doc count, filled tokens, and fill fraction (the "
    "padding-waste metric packing maximizes). Doc intervals clipped "
    "to sequence windows in integer arithmetic; exact because seq_len "
    "is a power of two (operators/packing.pack_manifest).",
)
def pipeline_pack_manifest(spark: SparkSession, sf: str):
    return PK.pack_manifest(table(spark, sf, "documents"))
