"""Round-2 pipeline additions: the remaining multimodal shapes
(resize, frame-sample), the SQL-string entry point, and
driver-verifiable entries for the skew operators.

The media math is a deterministic stand-in (no image/audio libs in
this container — see ``operators/multimodal.py``); the Spark-side
plumbing (binary column, metadata struct, Arrow batch shape,
partition preservation, in-worker fan-out) is real and oracle-checked
end to end.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ..operators import multimodal as M
from .catalog import register, table


@register(
    "multimodal_resize_stub",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS INT) AS orig_bytes,
           CAST(64 AS INT) AS target_w,
           CAST(48 AS INT) AS target_h,
           CAST(LEAST(octet_length(encode(text)), 64 * 48) AS INT) AS resized_bytes,
           'image-stub' AS modality
    FROM documents
    """,
    tags=("multimodal",),
    doc="Resize over binary payloads through mapInPandas (Arrow "
    "batches, partition-preserving, payloads never on the driver); "
    "the pixel math is a deterministic crop stand-in — swap the "
    "closure for Pillow Image.resize when available "
    "(operators/multimodal.py:make_fake_resize).",
)
def multimodal_resize_stub(spark: SparkSession, sf: str):
    return M.resize_stub_pipeline(table(spark, sf, "documents"))


@register(
    "multimodal_frame_sample",
    oracle="""
    WITH base AS (
        SELECT doc_id, octet_length(encode(text)) AS n FROM documents
    ),
    fr AS (
        SELECT doc_id, n,
               unnest(range(0, CAST(ceil(n / 256.0) AS BIGINT), 4)) AS i
        FROM base
    )
    SELECT doc_id,
           CAST(i AS INT) AS frame_idx,
           CAST(i * 256 AS INT) AS frame_off,
           CAST(LEAST(256, n - i * 256) AS INT) AS frame_len
    FROM fr
    """,
    tags=("multimodal", "lateral"),
    doc="Frame sampling: the payload framed at 256 bytes/frame, every "
    "4th frame emitted — one input row fans out to its sampled frames "
    "INSIDE the Arrow batch (no explode shuffle, no driver hop); "
    "output volume is 1/4 of the frames regardless of corpus size.",
)
def multimodal_frame_sample(spark: SparkSession, sf: str):
    return M.frame_sample_pipeline(table(spark, sf, "documents"))


def _sql_ivf_multiprobe(
    n_cells: int = 16, query_max: int = 5, k: int = 5, n_probe: int = 2
) -> str:
    from . import pipeline_ops as P

    return f"""
    WITH base AS (SELECT vec_id, {P._SQL_QUANT_EMB} AS v FROM embeddings),
    cents AS (SELECT vec_id AS cid, v AS cv FROM base WHERE vec_id < {n_cells}),
    scored AS (
      SELECT b.vec_id, b.v, c.cid,
             {P._sql_dot('b.v', 'c.cv')} AS cdot
      FROM base b CROSS JOIN cents c
    ),
    ranked AS (
      SELECT vec_id, v, cid,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY cdot DESC, cid) AS rn
      FROM scored
    ),
    assigned AS (SELECT vec_id, v, cid AS cell FROM ranked WHERE rn = 1),
    q AS (SELECT vec_id AS query_id, v AS qv, cid AS cell FROM ranked
          WHERE vec_id < {query_max} AND rn <= {n_probe}),
    sims AS (
      SELECT q.query_id, a.vec_id AS neighbor_id, a.cell,
             {P._sql_cosine(P._sql_dot('q.qv', 'a.v'),
                            P._sql_sqnorm('q.qv'), P._sql_sqnorm('a.v'))}
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
    "ann_ivf_multiprobe",
    oracle=_sql_ivf_multiprobe(),
    tags=("similarity",),
    doc="IVF top-5 probing the query's 2 nearest cells (n_probe=2) — "
    "the recall dial over ann_ivf_topk: candidate count grows "
    "~linearly in n_probe, the corpus side stays single-cell-assigned "
    "(each pair meets at most once), and the shared Arrow scorer "
    "reduces every probed cell's candidates per batch.",
)
def ann_ivf_multiprobe(spark: SparkSession, sf: str):
    from ..operators import similarity as S

    return S.ivf_multiprobe_topk(
        table(spark, sf, "embeddings"), query_max_id=5, k=5, n_probe=2
    )


_SQL_STRING_QUERY = """
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS total_cents
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
"""


@register(
    "sql_string_surface",
    oracle=_SQL_STRING_QUERY,
    tags=("sql",),
    doc="The textual SQL entry point: engine.load_tables registers the "
    "parquet tables as views and spark.sql() runs the user's query "
    "STRING — the oracle here is the identical string, executed "
    "verbatim by both engines. This is the interface a user of the "
    "reference actually has (all its queries are SQL through host "
    "DuckDB, test/sql/scan.test), so string-level portability is "
    "part of the capability bar.",
)
def sql_string_surface(spark: SparkSession, sf: str):
    from ..engine import load_tables

    load_tables(spark, sf)
    return spark.sql(_SQL_STRING_QUERY)


@register(
    "skew_salted_agg",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(FLOOR(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               AS total_cents
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    tags=("agg", "skew"),
    doc="Two-phase salted aggregation (operators/skew.py): 3 hot "
    "l_returnflag keys spread over (key, salt-of-l_orderkey) reducers "
    "in phase 1, merged per key in phase 2 — result-identical to the "
    "plain GROUP BY oracle, by construction (exact integer partials "
    "re-sum in any split).",
)
def skew_salted_agg(spark: SparkSession, sf: str):
    from pyspark.sql import functions as F

    from ..operators.skew import salted_agg

    l = table(spark, sf, "lineitem").select(
        "l_returnflag",
        "l_orderkey",
        F.floor(F.col("l_extendedprice") * 100).cast("long").alias("price_cents"),
    )
    return salted_agg(
        l,
        key="l_returnflag",
        salt_from="l_orderkey",
        sum_col="price_cents",
        count_alias="n_rows",
        sum_alias="total_cents",
    ).orderBy("l_returnflag")


@register(
    "skew_salted_join",
    oracle="""
    SELECT o.o_orderpriority,
           COUNT(*) AS n_lines
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority
    """,
    tags=("join", "skew"),
    doc="Hot-key salted join (operators/skew.py): designated hot order "
    "keys on the fact side get a salt, the dim side replicates hot "
    "rows across all salts, the join runs on (key, salt) — "
    "result-identical to the plain equi-join oracle. The explicit "
    "form of what AQE's skew-join split does at runtime, for keys "
    "known to be pathological up front.",
)
def skew_salted_join(spark: SparkSession, sf: str):
    from pyspark.sql import functions as F

    from ..operators.skew import salted_join

    l = table(spark, sf, "lineitem").select("l_orderkey")
    o = (
        table(spark, sf, "orders")
        .select("o_orderkey", "o_orderpriority")
        .withColumnRenamed("o_orderkey", "l_orderkey")
    )
    joined = salted_join(
        l, o, key="l_orderkey", hot_keys=[1, 2, 3], salt_from="l_orderkey"
    )
    return (
        joined.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_lines"))
        .orderBy("o_orderpriority")
    )


def _sql_minhash_clusters(threshold: float = 0.2) -> str:
    from . import pipeline_ops as P

    pairs_sql = P._sql_minhash_lsh(threshold)
    return f"""
    WITH RECURSIVE pairs AS (
        SELECT doc_a, doc_b FROM ({pairs_sql}) t
    ),
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs
        UNION SELECT doc_a, doc_a FROM pairs
        UNION SELECT doc_b, doc_b FROM pairs
    ),
    reach(a, b) AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    )
    SELECT a AS doc_id, MIN(b) AS cluster_id
    FROM reach GROUP BY a ORDER BY doc_id
    """


@register(
    "dedup_minhash_clusters",
    oracle=_sql_minhash_clusters(),
    tags=("dedup", "iterative"),
    doc="Connected components over the MinHash-LSH near-dup pairs: "
    "(doc_id, cluster_id = min reachable doc id) — the step that turns "
    "pairs into dedup GROUPS (keep one doc per cluster). Iterative "
    "min-label propagation, one join+min-agg per round until a scalar "
    "fixpoint (operators/dedup.py:cluster_pairs); the oracle computes "
    "the same transitive closure with a recursive CTE — an exact "
    "cross-engine check of a genuinely iterative distributed "
    "algorithm.",
)
def dedup_minhash_clusters(spark: SparkSession, sf: str):
    from ..operators import dedup as D

    pairs = D.minhash_lsh_dedup(table(spark, sf, "documents"), threshold=0.2)
    return D.cluster_pairs(pairs)


def _sql_cluster_survivors(threshold: float = 0.2) -> str:
    from . import pipeline_ops as P

    pairs_sql = P._sql_minhash_lsh(threshold)
    return f"""
    WITH RECURSIVE pairs AS (
        SELECT doc_a, doc_b FROM ({pairs_sql}) t
    ),
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs
        UNION SELECT doc_a, doc_a FROM pairs
        UNION SELECT doc_b, doc_b FROM pairs
    ),
    reach(a, b) AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ),
    clusters AS (
        SELECT a AS doc_id, MIN(b) AS cluster_id FROM reach GROUP BY a
    )
    SELECT d.doc_id
    FROM documents d
    LEFT JOIN clusters c ON c.doc_id = d.doc_id
    WHERE c.doc_id IS NULL OR c.cluster_id = d.doc_id
    ORDER BY d.doc_id
    """


@register(
    "dedup_cluster_survivors",
    oracle=_sql_cluster_survivors(),
    tags=("dedup", "iterative"),
    doc="The deduplicated corpus: every document except non-minimum "
    "members of a near-dup cluster (cluster representative = smallest "
    "doc id; docs in no cluster survive untouched). pairs -> clusters "
    "-> anti-join - the complete keep-one-per-group near-dedup "
    "pipeline a training-data curation run executes.",
)
def dedup_cluster_survivors(spark: SparkSession, sf: str):
    from pyspark.sql import functions as F

    from ..operators import dedup as D

    docs = table(spark, sf, "documents")
    pairs = D.minhash_lsh_dedup(docs, threshold=0.2)
    clusters = D.cluster_pairs(pairs)
    losers = clusters.filter(F.col("cluster_id") != F.col("doc_id")).select(
        "doc_id"
    )
    # No broadcast hint: the loser set scales with the corpus's
    # duplicate fraction — tiny here, but potentially huge at 100 TB.
    # AQE broadcast-converts when the runtime size permits and keeps a
    # shuffled anti join when it doesn't.
    return (
        docs.join(losers, "doc_id", "left_anti")
        .select("doc_id")
        .orderBy("doc_id")
    )


@register(
    "agg_hll_sketch_union",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_orderkey) AS exact_distinct_orders,
           TRUE AS est_ok
    FROM lineitem GROUP BY l_returnflag
    UNION ALL
    SELECT 'ALL' AS l_returnflag,
           COUNT(DISTINCT l_orderkey) AS exact_distinct_orders,
           TRUE AS est_ok
    FROM lineitem
    ORDER BY l_returnflag
    """,
    tags=("agg", "approx", "sketch"),
    doc="DataSketches HLL with MERGE: per-returnflag distinct-orderkey "
    "sketches built in one pass, then unioned into a corpus-wide "
    "estimate — the distributed pre-aggregation pattern (persist "
    "per-partition/per-day sketches, merge at query time without "
    "touching raw data; a re-aggregatable cube cell). Driver-verifiable "
    "since r5: each row carries the EXACT distinct count plus a boolean "
    "pinning the sketch estimate within ±5% of it (lgK=12 → rsd≈1.6%, "
    "and the sketch is deterministic per dataset), so the cross-engine "
    "hash gate fails if either the exact path or the sketch drifts. "
    "Note the ALL row needs its own exact COUNT(DISTINCT): orderkeys "
    "span returnflags, so per-flag exacts don't sum — exactly why the "
    "sketch-union pattern exists.",
)
def agg_hll_sketch_union(spark: SparkSession, sf: str):
    from pyspark.sql import functions as F

    tol = 0.05
    # ONE distinct-pairs pass feeds everything (r21, 1.94→0.83 s
    # interleaved at sf0.1): HLL registers are max-of-hash, so a
    # sketch over DEDUPLICATED (flag, orderkey) pairs is identical to
    # one over the raw rows; per-flag COUNT(*) over the pairs IS the
    # exact per-flag distinct (no Expand-based count_distinct); and
    # the ALL row's exact count re-distincts the pairs' key column —
    # no second lineitem scan anywhere.
    pairs = (
        table(spark, sf, "lineitem")
        .select("l_returnflag", "l_orderkey")
        .distinct()
    )
    per_flag = pairs.groupBy("l_returnflag").agg(
        F.hll_sketch_agg("l_orderkey").alias("sk"),
        F.count(F.lit(1)).alias("exact_distinct_orders"),
    )
    per = per_flag.select(
        "l_returnflag",
        "exact_distinct_orders",
        (
            F.abs(
                F.hll_sketch_estimate("sk")
                - F.col("exact_distinct_orders")
            )
            <= F.lit(tol) * F.col("exact_distinct_orders")
        ).alias("est_ok"),
    )
    union_est = per_flag.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")
    )
    total_exact = pairs.agg(
        F.count_distinct("l_orderkey").alias("exact_distinct_orders")
    )
    total = union_est.crossJoin(total_exact).select(
        F.lit("ALL").alias("l_returnflag"),
        "exact_distinct_orders",
        (
            F.abs(F.col("est") - F.col("exact_distinct_orders"))
            <= F.lit(tol) * F.col("exact_distinct_orders")
        ).alias("est_ok"),
    )
    return per.unionByName(total).orderBy("l_returnflag")


def _sql_embedding_curation() -> str:
    from ..operators import similarity as S
    from ..operators import text as T
    from . import pipeline_ops as P

    def bucket_expr(planes) -> str:
        terms = []
        for j, w in enumerate(planes):
            wl = "[" + ", ".join(str(x) for x in w) + "]"
            dot = (
                f"list_sum(list_transform(range(0, 64), "
                f"i -> v[i+1] * ({wl})[i+1]))"
            )
            terms.append(f"(CASE WHEN {dot} > 0 THEN {1 << j} ELSE 0 END)")
        return " + ".join(terms)

    return f"""
    WITH q AS (
      SELECT doc_id, {P._SQL_TOKS} AS toks FROM documents
    ),
    kept AS (
      SELECT doc_id FROM q
      WHERE len(toks) >= 20 AND len(toks) <= 2000
        AND CAST(len(list_filter(toks, x -> x IN {T.STOPWORDS!r})) AS DOUBLE)
            / len(toks) >= 0.05
    ),
    emb AS (SELECT vec_id, {P._SQL_QUANT_EMB} AS v FROM embeddings),
    bucketed AS (
      SELECT k.doc_id,
             CAST({bucket_expr(S.hyperplane_weights())} AS INT) AS bucket
      FROM kept k JOIN emb e ON e.vec_id = k.doc_id
    )
    SELECT bucket, MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_candidates
    FROM bucketed GROUP BY bucket ORDER BY bucket
    """


@register(
    "pipeline_embedding_curation",
    oracle=_sql_embedding_curation(),
    tags=("pipeline", "dedup", "similarity"),
    doc="Cross-modal curation: text quality gate (token length + "
    "stopword ratio) → join each surviving doc to its embedding → "
    "hyperplane-LSH bucket per vector → one representative (min doc "
    "id) per bucket. The shape of an embedding-level near-dup prune "
    "over a quality-filtered corpus: the gate runs scan-side, the "
    "doc↔embedding join is keyed on the shared id, and the bucket "
    "rollup output is bounded by 2^n_planes, not corpus size.",
)
def pipeline_embedding_curation(spark: SparkSession, sf: str):
    from pyspark.sql import functions as F

    from ..operators import similarity as S
    from ..operators import text as T

    docs = table(spark, sf, "documents")
    toks = T.tokens_col()
    kept = (
        docs.select(
            "doc_id",
            F.size(toks).alias("token_cnt"),
            (
                F.size(F.filter(toks, lambda t: t.isin(*T.STOPWORDS))).cast(
                    "double"
                )
                / F.size(toks)
            ).alias("stop_ratio"),
        )
        .filter(
            (F.col("token_cnt") >= 20)
            & (F.col("token_cnt") <= 2000)
            & (F.col("stop_ratio") >= 0.05)
        )
        .select("doc_id")
    )
    emb = table(spark, sf, "embeddings")
    # Bucket ids via the vectorized Arrow bucketizer (the unrolled JVM
    # single-table projection already exceeds the JIT method limit —
    # see similarity.arrow_lsh_buckets), joined to the quality gate on
    # the shared id.
    buckets = S.arrow_lsh_buckets(
        emb.select(F.col("vec_id"), "embedding"),
        [S.hyperplane_weights()],
    ).withColumnRenamed("b0", "bucket")
    bucketed = kept.join(
        buckets, kept.doc_id == buckets.vec_id
    ).select("doc_id", "bucket")
    return (
        bucketed.groupBy("bucket")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_candidates"),
        )
        .orderBy("bucket")
    )


@register(
    "pipeline_train_val_split",
    oracle=f"""
    WITH tagged AS (
        SELECT doc_id,
               CASE
                 WHEN CAST(md5_number_lower(
                     lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
                     % 1000000007 AS BIGINT) % 100 < 80 THEN 'train'
                 WHEN CAST(md5_number_lower(
                     lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
                     % 1000000007 AS BIGINT) % 100 < 90 THEN 'val'
                 ELSE 'test'
               END AS split
        FROM documents
    )
    SELECT split, COUNT(*) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc
    FROM tagged GROUP BY split ORDER BY split
    """,
    tags=("pipeline", "text"),
    doc="Deterministic train/val/test split (80/10/10) keyed on the "
    "CONTENT hash, not the row id: the same document lands in the "
    "same split in every run, on every engine, and across re-ingests "
    "that renumber ids — the reproducibility property a training-data "
    "pipeline needs to prevent test-set leakage through re-shuffled "
    "corpora. Pure narrow map + tiny rollup, scan-speed at any scale; "
    "bit-identical to the DuckDB oracle via the shared md5 hash.",
)
def pipeline_train_val_split(spark: SparkSession, sf: str):
    from pyspark.sql import functions as F

    from ..operators import text as T

    docs = table(spark, sf, "documents")
    bucket = T.md5_hash64(T.canonical_text()) % 100
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return (
        docs.select("doc_id", split.alias("split"))
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
        )
        .orderBy("split")
    )


def _sql_decontaminate() -> str:
    from ..operators import text as T
    from .pipeline_ops import _SQL_CANON, _SQL_TOKS

    sh = (
        "unnest(list_distinct(list_transform("
        "range(0, greatest(len(t) - 2, 0)), "
        "i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])))"
    )
    return f"""
    WITH tagged AS (
      SELECT doc_id, text,
             CAST(md5_number_lower({_SQL_CANON}) % {T.HASH_P} AS BIGINT) % 100
                 AS bucket
      FROM documents
    ),
    tr AS (SELECT doc_id, text FROM tagged WHERE bucket < 80),
    va AS (SELECT doc_id, text FROM tagged WHERE bucket >= 80 AND bucket < 90),
    ttoks AS (SELECT doc_id, {_SQL_TOKS} AS t FROM tr),
    tsh AS (SELECT doc_id, {sh} AS shingle FROM ttoks),
    vtoks AS (SELECT doc_id, {_SQL_TOKS} AS t FROM va),
    vsh AS (SELECT doc_id, {sh} AS shingle FROM vtoks),
    vh AS (SELECT DISTINCT {T.sql_md5_hash64('shingle')} AS h FROM vsh),
    th AS (SELECT doc_id, {T.sql_md5_hash64('shingle')} AS h FROM tsh)
    SELECT t.doc_id, COUNT(DISTINCT t.h) AS shared_shingles
    FROM th t JOIN vh v ON v.h = t.h
    GROUP BY t.doc_id
    """


@register(
    "pipeline_decontaminate",
    oracle=_sql_decontaminate(),
    tags=("pipeline", "dedup", "text"),
    doc="Benchmark decontamination: train-split docs sharing any "
    "word-3-gram with the held-out (val) split, by hashed-shingle "
    "equi-join (held-out side deduplicated to distinct shingle hashes "
    "before the join — build side bounded by held-out vocabulary). "
    "Same content-hash splits as pipeline_train_val_split, so the "
    "flag set is reproducible across runs/engines/id-renumbering.",
)
def pipeline_decontaminate(spark: SparkSession, sf: str):
    from ..operators import dedup as D

    return D.decontaminate(table(spark, sf, "documents"))


def _sql_decontaminate_containment(threshold: float) -> str:
    from ..operators import text as T
    from .pipeline_ops import _SQL_CANON, _SQL_TOKS

    sh = (
        "unnest(list_distinct(list_transform("
        "range(0, greatest(len(t) - 2, 0)), "
        "i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])))"
    )
    hit = "SUM(CASE WHEN t.h IS NOT NULL THEN 1 ELSE 0 END)"
    return f"""
    WITH tagged AS (
      SELECT doc_id, text,
             CAST(md5_number_lower({_SQL_CANON}) % {T.HASH_P} AS BIGINT) % 100
                 AS bucket
      FROM documents
    ),
    tr AS (SELECT doc_id, text FROM tagged WHERE bucket < 80),
    va AS (SELECT doc_id, text FROM tagged WHERE bucket >= 80 AND bucket < 90),
    ttoks AS (SELECT doc_id, {_SQL_TOKS} AS t FROM tr),
    tsh AS (SELECT doc_id, {sh} AS shingle FROM ttoks),
    vtoks AS (SELECT doc_id, {_SQL_TOKS} AS t FROM va),
    vsh AS (SELECT doc_id, {sh} AS shingle FROM vtoks),
    tv AS (SELECT DISTINCT {T.sql_md5_hash64('shingle')} AS h FROM tsh),
    vh AS (SELECT doc_id, {T.sql_md5_hash64('shingle')} AS h FROM vsh)
    SELECT v.doc_id,
           COUNT(*) AS n_shingles,
           CAST({hit} AS BIGINT) AS hit_shingles,
           CAST({hit} AS DOUBLE) / COUNT(*) AS containment,
           (CAST({hit} AS DOUBLE) / COUNT(*)) >= {threshold} AS contaminated
    FROM vh v LEFT JOIN tv t ON t.h = v.h
    GROUP BY v.doc_id
    """


@register(
    "pipeline_decontaminate_containment",
    oracle=_sql_decontaminate_containment(0.7),
    tags=("pipeline", "dedup", "text"),
    doc="Containment-ratio decontamination (the published eval-leak "
    "criterion): per held-out doc, the fraction of its distinct "
    "3-gram shingles present anywhere in the train vocabulary, "
    "flagged at >= 0.7 — catches a short eval doc quoted inside a "
    "long train doc where pairwise Jaccard stays tiny "
    "(operators/dedup.decontaminate_containment).",
)
def pipeline_decontaminate_containment(spark: SparkSession, sf: str):
    from ..operators import dedup as D

    return D.decontaminate_containment(table(spark, sf, "documents"))


def _sql_stratified_sample() -> str:
    from ..operators import text as T
    from .pipeline_ops import _SQL_CANON

    rate_cases = " ".join(
        f"WHEN '{lang}' THEN {r}" for lang, r in sorted(T.SAMPLE_RATES.items())
    )
    bucket = (
        f"CAST(md5_number_lower('{T.SAMPLE_SALT}' || {_SQL_CANON}) "
        f"% {T.HASH_P} AS BIGINT) % 100"
    )
    return f"""
    SELECT doc_id, lang, {bucket} AS sample_bucket
    FROM documents
    WHERE {bucket} <
          (CASE lang {rate_cases} ELSE {T.SAMPLE_RATE_DEFAULT} END)
    """


@register(
    "pipeline_stratified_sample",
    oracle=_sql_stratified_sample(),
    tags=("pipeline", "text"),
    doc="Deterministic stratified sampling: per-language keep rates "
    "(en downsampled to 40%, tail languages 80%) keyed on a SALTED "
    "content hash — same doc kept in every run/engine/re-ingest, and "
    "the salt decorrelates sampling from the train/val/test split "
    "buckets. Narrow map + filter, no shuffle.",
)
def pipeline_stratified_sample(spark: SparkSession, sf: str):
    from ..operators import text as T

    return T.stratified_sample(table(spark, sf, "documents"))
