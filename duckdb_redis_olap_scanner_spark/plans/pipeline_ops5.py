"""Round-7 pipeline additions, part 2.

Curation: segment-level dedup with reassembly, model-based quality
classification, corpus bigram-LM familiarity, token-budget mixture
selection, scale-safe curriculum sharding, edit-distance near-dup
verification over the LSH candidates, and the ``pipeline_curation_v2``
flagship DAG composing three of these as one declarative plan.

Tokenizers: on-engine BPE merge training (chained-CTE oracle) and the
train→encode application loop.

Media: the compressed PNG and G.711 mu-law decoders, the AVI video
container, real nearest-neighbor resize, and gzip text ingestion.

OLAP: equi-width and equi-depth value histograms, per-source heavy
hitters, JL-style integer random projection, SCD2 validity intervals,
and the declarative data-quality gate.

Shared discipline (plans/catalog.py): every computed value is integer-
exact on both engines (truncating division of positive ints, md5-64
content hashes, cents arithmetic) so the driver's value-hash gate pins
each entry bit-for-bit.

Like ``pipeline_ops4``, this module registers last so the driver's
least-recently-verified-first gate rotation keeps its ordering
invariants (see ``catalog.registry``).

Reference parity note: the reference engine (C++ DuckDB↔Redis
connector, src/redis_scanner.cpp) has no text/curation path — this
module is part of the beyond-reference LLM-pipeline surface the build
brief asks for.
"""

from __future__ import annotations

from pyspark.sql import SparkSession, Window
from pyspark.sql import functions as F

from ..operators import dedup as D
from ..operators import similarity as S
from ..operators import text as T
from ..operators.text import sql_md5_hash64
from .catalog import register, table
from .pipeline_ops import _SQL_IVF_PQ, _SQL_QUANT_EMB, _SQL_TOKS

_SQL_STOPS = ", ".join(f"'{w}'" for w in T.STOPWORDS)


# ---------------------------------------------------------------------------
# Segment-level dedup (C4/RefinedWeb line-dedup shape, with reassembly)
# ---------------------------------------------------------------------------

_SEG = D.SEG_WORDS


@register(
    "pipeline_segment_dedup",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             coalesce({_SQL_TOKS}, CAST([] AS VARCHAR[])) AS toks
      FROM documents),
    s AS (
      SELECT doc_id,
             CAST((len(toks) + {_SEG - 1}) // {_SEG} AS INT) AS n_segs,
             list_transform(
               range(0, (len(toks) + {_SEG - 1}) // {_SEG}),
               i -> array_to_string(
                 list_slice(toks, CAST(i * {_SEG} + 1 AS INT),
                            CAST(i * {_SEG} + {_SEG} AS INT)), ' ')) AS segs
      FROM t),
    e AS (
      SELECT doc_id, u.i AS idx, u.s AS seg FROM (
        SELECT doc_id, unnest(list_transform(
            range(1, len(segs) + 1),
            i -> {{'i': i, 's': segs[CAST(i AS INT)]}})) AS u
        FROM s)),
    h AS (
      SELECT doc_id, idx, seg, md5(seg) AS hh FROM e),
    c AS (SELECT hh, count(*) AS cnt FROM h GROUP BY hh),
    k AS (
      SELECT h.doc_id, h.idx, h.seg
      FROM h JOIN c ON h.hh = c.hh WHERE c.cnt = 1),
    r AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
             array_to_string(list(seg ORDER BY idx), ' ') AS kept
      FROM k GROUP BY doc_id)
    SELECT s.doc_id, s.n_segs,
           CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept,
           md5(coalesce(r.kept, '')) AS kept_md5
    FROM s LEFT JOIN r ON s.doc_id = r.doc_id
    """,
    tags=("dedup", "pipeline"),
    doc="C4-style SEGMENT-level dedup with reassembly: 8-word "
    "non-overlapping segments, drop every segment occurring more than "
    "once corpus-wide (symmetric removal, no arbitrary winner), rejoin "
    "the survivors in original order — kept_md5 pins membership AND "
    "order. Linear cost: segments shuffle on their full-md5 content "
    "hash (collision-resistant — removal paths must not merge "
    "distinct segments), then one agg back on doc_id; no pairwise "
    "candidate set (operators/dedup.segment_dedup).",
)
def pipeline_segment_dedup(spark: SparkSession, sf: str):
    return D.segment_dedup(table(spark, sf, "documents"))


# ---------------------------------------------------------------------------
# Model-based quality classification (fixed-weight linear inference)
# ---------------------------------------------------------------------------

_SQL_CLS_FEATURES = f"""
    t AS (SELECT doc_id, {_SQL_TOKS} AS toks,
                 CAST(length(text) AS BIGINT) AS c
          FROM documents),
    f AS (SELECT doc_id,
                 CAST(len(toks) AS BIGINT) AS t,
                 CAST(len(list_filter(toks, x -> x IN ({_SQL_STOPS})))
                      AS BIGINT) AS s,
                 CAST(len(list_distinct(toks)) AS BIGINT) AS d, c
          FROM t),
    m AS (SELECT doc_id,
                 1000 * s // t AS stop_milli,
                 1000 * d // t AS uniq_milli,
                 1000 * c // t AS cpt_milli
          FROM f),
    g AS (SELECT doc_id, stop_milli, uniq_milli, cpt_milli,
                 CAST({T.CLS_STOP_W} * stop_milli
                      + {T.CLS_UNIQ_W} * uniq_milli
                      - abs(cpt_milli - {T.CLS_CPT_CENTER})
                        // {T.CLS_CPT_W_DIV}
                      + {T.CLS_BIAS} AS BIGINT) AS margin
          FROM m)
"""


@register(
    "pipeline_quality_classifier",
    oracle=f"""
    WITH {_SQL_CLS_FEATURES}
    SELECT doc_id, stop_milli, uniq_milli, cpt_milli, margin,
           margin > 0 AS keep
    FROM g
    """,
    tags=("text", "pipeline"),
    doc="Model-based quality filtering (fastText/DSIR-classifier "
    "shape) as pure codegen inference: fixed-weight linear scorer over "
    "exact integer features (stopword rate, distinct-token rate, "
    "chars-per-token distance from corpus-typical), emitting margin + "
    "keep (~43% keep rate). One narrow map, no shuffle, no Python "
    "(operators/text.quality_classifier).",
)
def pipeline_quality_classifier(spark: SparkSession, sf: str):
    return T.quality_classifier(table(spark, sf, "documents"))


# ---------------------------------------------------------------------------
# Corpus bigram-LM familiarity (KenLM perplexity-filter shape, exact)
# ---------------------------------------------------------------------------


@register(
    "pipeline_bigram_lm",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
    b AS (
      SELECT doc_id,
             CASE WHEN len(toks) >= 2
                  THEN list_transform(range(0, len(toks) - 1),
                         i -> toks[CAST(i + 1 AS INT)] || ' '
                              || toks[CAST(i + 2 AS INT)])
                  ELSE CAST([] AS VARCHAR[]) END AS bg
      FROM t),
    o AS (
      SELECT doc_id, md5(u) AS h
      FROM (SELECT doc_id, unnest(bg) AS u FROM b)),
    m AS (SELECT h, CAST(count(*) AS BIGINT) AS cnt FROM o GROUP BY h),
    p AS (
      SELECT o.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
             CAST(sum(m.cnt) AS BIGINT) AS familiarity
      FROM o JOIN m ON o.h = m.h GROUP BY o.doc_id)
    SELECT d.doc_id,
           CAST(coalesce(p.n_bigrams, 0) AS BIGINT) AS n_bigrams,
           CAST(coalesce(p.familiarity, 0) AS BIGINT) AS familiarity,
           CAST(CASE WHEN coalesce(p.n_bigrams, 0) > 0
                     THEN 1000 * p.familiarity // p.n_bigrams
                     ELSE 0 END AS BIGINT) AS avg_milli
    FROM documents d LEFT JOIN p ON d.doc_id = p.doc_id
    """,
    tags=("text", "pipeline"),
    doc="Corpus-level bigram language-model familiarity (the KenLM "
    "perplexity-filter shape, exact integer math): per-doc sum and "
    "per-1000 average of each bigram occurrence's corpus-wide count, "
    "WITH multiplicity. Two full-md5-keyed shuffles (model agg + "
    "score join — 128-bit keys so distinct bigrams never merge), "
    "linear at 100 TB (operators/text.bigram_familiarity).",
)
def pipeline_bigram_lm(spark: SparkSession, sf: str):
    return T.bigram_familiarity(table(spark, sf, "documents"))


# ---------------------------------------------------------------------------
# Token-budget mixture selection
# ---------------------------------------------------------------------------

TOKEN_BUDGET = 80  # per-source token budget; sized so BOTH keep branches
# are exercised at every test scale factor (sf0.001 sources hold ~130
# tokens, sf0.01 ~1400).


@register(
    "pipeline_token_budget",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source,
             CAST(coalesce(len({_SQL_TOKS}), 0) AS INT) AS n_toks,
             coalesce({sql_md5_hash64("'budget|' || text")},
                      CAST(-1 AS BIGINT)) AS ok
      FROM documents),
    w AS (
      SELECT source, doc_id, n_toks,
             CAST(SUM(n_toks) OVER (
               PARTITION BY source ORDER BY ok, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS cum_toks
      FROM t)
    SELECT source, doc_id, n_toks, cum_toks,
           cum_toks <= {TOKEN_BUDGET} AS kept
    FROM w
    """,
    tags=("pipeline",),
    doc="Token-budget mixture selection: fill each source's quota in "
    "salted-content-hash order (reproducible across runs/engines/id "
    "renumbering, decorrelated from the split/sample hashes) via a "
    "per-source running token sum; kept = cumulative total within "
    "budget. One window pass on the natural source key — the exact-"
    "budget sampler that pairs with pipeline_source_mix's keep RATES "
    "when a hard token ceiling per source is required.",
)
def pipeline_token_budget(spark: SparkSession, sf: str):
    docs = table(spark, sf, "documents")
    # NULL text → (0 tokens, sentinel order key): engines disagree on
    # NULL sort position (Spark NULLS FIRST vs DuckDB NULLS LAST), so
    # the key must never be NULL.
    n_toks = F.coalesce(F.size(T.tokens_col()), F.lit(0)).alias("n_toks")
    ok = F.coalesce(
        T.md5_hash64(F.concat(F.lit("budget|"), F.col("text"))),
        F.lit(-1).cast("long"),
    ).alias("ok")
    t = docs.select("doc_id", "source", n_toks, ok)
    w = (
        Window.partitionBy("source")
        .orderBy("ok", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_toks").over(w).alias("cum_toks")
    out = t.select("source", "doc_id", "n_toks", cum)
    return out.withColumn("kept", F.col("cum_toks") <= TOKEN_BUDGET)


# ---------------------------------------------------------------------------
# Curriculum sharding (scale-safe: window only over DISTINCT margins)
# ---------------------------------------------------------------------------

NUM_SHARDS = 8


@register(
    "pipeline_curriculum_shards",
    oracle=f"""
    WITH {_SQL_CLS_FEATURES},
    mc AS (SELECT margin, CAST(count(*) AS BIGINT) AS n
           FROM g GROUP BY margin),
    bounds AS (
      SELECT margin,
             CAST(coalesce(SUM(n) OVER (
               ORDER BY margin DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) AS cum_before,
             CAST(SUM(n) OVER (
               ORDER BY margin DESC
               ROWS BETWEEN UNBOUNDED PRECEDING
               AND UNBOUNDED FOLLOWING) AS BIGINT) AS total
      FROM mc),
    sh AS (
      SELECT margin,
             CAST(least({NUM_SHARDS} * cum_before // total,
                        {NUM_SHARDS - 1}) AS INT) AS shard
      FROM bounds),
    j AS (
      SELECT sh.shard, g.doc_id, g.margin, f2.t AS n_toks
      FROM g JOIN sh ON g.margin = sh.margin
      JOIN (SELECT doc_id, CAST(len({_SQL_TOKS}) AS BIGINT) AS t
            FROM documents) f2 ON g.doc_id = f2.doc_id)
    SELECT shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_toks) AS BIGINT) AS sum_tokens,
           CAST(min(margin) AS BIGINT) AS min_margin,
           CAST(max(margin) AS BIGINT) AS max_margin
    FROM j GROUP BY shard
    """,
    tags=("pipeline", "window"),
    doc="Curriculum sharding by classifier margin, scale-safe: instead "
    "of ntile over a GLOBAL row sort (one-partition window — the "
    "anti-pattern), the shard boundaries come from a running count "
    "over the DISTINCT margin values (bounded by the margin range, "
    "not the corpus), then broadcast-join back; docs sharing a margin "
    "land in the same shard, so the plan is engine-order-independent "
    "and exactly oracle-checkable. Emits per-shard doc/token counts "
    "and margin ranges — the easy/hard training-order split.",
)
def pipeline_curriculum_shards(spark: SparkSession, sf: str):
    g = T.margin_features(table(spark, sf, "documents")).select(
        "doc_id", "margin", "n_toks"
    )
    mc = g.groupBy("margin").agg(F.count("*").alias("n"))
    # cum_before and the grand total share one ordered window pass
    # (full frame for the total) — same stage-count saving as
    # events_equidepth_histogram.
    wb = (
        Window.orderBy(F.desc("margin"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wt = Window.orderBy(F.desc("margin")).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    sh = mc.select(
        "margin",
        F.coalesce(F.sum("n").over(wb), F.lit(0).cast("long")).alias(
            "cum_before"
        ),
        F.sum("n").over(wt).alias("total"),
    ).select(
        "margin",
        F.least(
            F.floor((F.lit(NUM_SHARDS) * F.col("cum_before")) / F.col("total"))
            .cast("int"),
            F.lit(NUM_SHARDS - 1),
        ).alias("shard"),
    )
    return (
        g.join(F.broadcast(sh), "margin")
        .groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_toks").alias("sum_tokens"),
            F.min("margin").alias("min_margin"),
            F.max("margin").alias("max_margin"),
        )
    )


# ---------------------------------------------------------------------------
# JL-style integer random projection (dimensionality reduction)
# ---------------------------------------------------------------------------


def _sql_proj(j: int) -> str:
    jc = j * 2654435761  # same closed form as similarity.hyperplane_weights
    return (
        f"CAST(list_sum(list_transform(range(0, {S.EMB_DIM}), "
        f"i -> v[CAST(i + 1 AS INT)] * ((({jc} + i * 40503) % 2001) - 1000)"
        f")) AS BIGINT) AS p{j}"
    )


@register(
    "embedding_random_projection",
    oracle=f"""
    WITH base AS (SELECT vec_id, {_SQL_QUANT_EMB} AS v FROM embeddings)
    SELECT vec_id,
           {", ".join(_sql_proj(j) for j in range(S.RP_OUT_DIM))}
    FROM base
    """,
    tags=("similarity", "pipeline"),
    doc="Johnson-Lindenstrauss-style dimensionality reduction with "
    "exact integer math: project each milli-quantized embedding onto "
    f"{S.RP_OUT_DIM} deterministic integer hyperplanes (the LSH plane "
    "family, full projection values kept — not just sign bits) — the "
    "prep step before cheap downstream ANN/clustering on the reduced "
    "space. One narrow codegen'd map: quantize once, unrolled dots, "
    "no HOF/Python/shuffle (operators/similarity.random_projection).",
)
def embedding_random_projection(spark: SparkSession, sf: str):
    from .catalog import scorer_width

    return S.random_projection(
        table(spark, sf, "embeddings"),
        scorer_parts=scorer_width(
            sf, "embeddings", spark.sparkContext.defaultParallelism
        ),
    )


# ---------------------------------------------------------------------------
# Value histogram (the OLAP equi-width histogram primitive)
# ---------------------------------------------------------------------------

HIST_WIDTH_CENTS = 2500
HIST_MAX_BUCKET = 19


@register(
    "events_value_histogram",
    oracle=f"""
    WITH b AS (
      SELECT event_type,
             CAST(FLOOR(value * 100.0) AS BIGINT) AS cents
      FROM events),
    h AS (
      SELECT event_type, cents,
             greatest(least(CAST(cents // {HIST_WIDTH_CENTS} AS INT),
                            {HIST_MAX_BUCKET}), 0) AS bucket
      FROM b)
    SELECT event_type, bucket,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(cents) AS BIGINT) AS sum_cents,
           CAST(min(cents) AS BIGINT) AS min_cents,
           CAST(max(cents) AS BIGINT) AS max_cents
    FROM h GROUP BY event_type, bucket
    """,
    tags=("agg",),
    doc="Equi-width value histogram per event type (25-unit buckets "
    "in cents, top bucket open-ended): the OLAP distribution primitive "
    "behind dashboards and skew diagnosis. One map-side-combined "
    "hash agg on (event_type, bucket) — output cardinality is bounded "
    "by types x buckets regardless of input volume.",
)
def events_value_histogram(spark: SparkSession, sf: str):
    e = table(spark, sf, "events")
    cents = F.floor(F.col("value") * F.lit(100.0)).cast("long")
    b = e.select("event_type", cents.alias("cents"))
    bucket = F.greatest(
        F.least(
            F.floor(F.col("cents") / F.lit(HIST_WIDTH_CENTS)).cast("int"),
            F.lit(HIST_MAX_BUCKET),
        ),
        F.lit(0),
    )
    return (
        b.withColumn("bucket", bucket)
        .groupBy("event_type", "bucket")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("cents").alias("sum_cents"),
            F.min("cents").alias("min_cents"),
            F.max("cents").alias("max_cents"),
        )
    )


# ---------------------------------------------------------------------------
# Equi-depth histogram (the optimizer-statistics histogram primitive)
# ---------------------------------------------------------------------------

EQD_BUCKETS = 8


@register(
    "events_equidepth_histogram",
    oracle=f"""
    WITH b AS (
      SELECT CAST(FLOOR(value * 100.0) AS BIGINT) AS cents FROM events),
    vc AS (SELECT cents, CAST(count(*) AS BIGINT) AS n
           FROM b GROUP BY cents),
    cum AS (
      SELECT cents, n,
             CAST(coalesce(SUM(n) OVER (
               ORDER BY cents ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) AS cum_before,
             CAST(SUM(n) OVER (
               ORDER BY cents ASC
               ROWS BETWEEN UNBOUNDED PRECEDING
               AND UNBOUNDED FOLLOWING) AS BIGINT) AS total
      FROM vc),
    sh AS (
      SELECT cents, n,
             CAST(least({EQD_BUCKETS} * cum_before // total,
                        {EQD_BUCKETS - 1}) AS INT) AS bucket
      FROM cum)
    SELECT bucket,
           CAST(sum(n) AS BIGINT) AS n_events,
           CAST(min(cents) AS BIGINT) AS lo_cents,
           CAST(max(cents) AS BIGINT) AS hi_cents,
           CAST(count(*) AS BIGINT) AS n_distinct
    FROM sh GROUP BY bucket
    """,
    tags=("agg", "window"),
    doc="EQUI-DEPTH value histogram (the optimizer-statistics "
    "primitive equi-width can't provide on skewed data): bucket "
    "boundaries from a running count over the DISTINCT cent values — "
    "bounded by the value domain, never a global row sort — then one "
    "re-aggregation; ties share a bucket, so the result is "
    "engine-order-independent and exactly oracle-checkable. Same "
    "scale-safe shape as pipeline_curriculum_shards.",
)
def events_equidepth_histogram(spark: SparkSession, sf: str):
    e = table(spark, sf, "events")
    cents = F.floor(F.col("value") * F.lit(100.0)).cast("long")
    vc = e.select(cents.alias("cents")).groupBy("cents").agg(
        F.count("*").alias("n")
    )
    # cum_before AND the grand total come from the SAME ordered window
    # pass (full frame for the total) — one stage, no separate
    # total-aggregate job + broadcast round trip (measured: the
    # agg+crossJoin form cost two extra stage dispatches per run).
    wb = Window.orderBy(F.asc("cents")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    wt = Window.orderBy(F.asc("cents")).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = vc.select(
        "cents",
        "n",
        F.coalesce(F.sum("n").over(wb), F.lit(0).cast("long")).alias(
            "cum_before"
        ),
        F.sum("n").over(wt).alias("total"),
    )
    sh = cum.select(
        "cents",
        "n",
        F.least(
            F.floor(
                (F.lit(EQD_BUCKETS) * F.col("cum_before")) / F.col("total")
            ).cast("int"),
            F.lit(EQD_BUCKETS - 1),
        ).alias("bucket"),
    )
    return sh.groupBy("bucket").agg(
        F.sum("n").alias("n_events"),
        F.min("cents").alias("lo_cents"),
        F.max("cents").alias("hi_cents"),
        F.count("*").alias("n_distinct"),
    )


# ---------------------------------------------------------------------------
# Per-source heavy hitters (group-wise top-k after aggregation)
# ---------------------------------------------------------------------------

TOP_TERMS_K = 3


@register(
    "text_top_terms_per_source",
    oracle=f"""
    WITH t AS (
      SELECT source,
             unnest(coalesce({_SQL_TOKS}, CAST([] AS VARCHAR[]))) AS tok
      FROM documents),
    c AS (
      SELECT source, tok, CAST(count(*) AS BIGINT) AS n
      FROM t WHERE tok <> '' GROUP BY source, tok),
    r AS (
      SELECT source, tok, n,
             CAST(row_number() OVER (
               PARTITION BY source ORDER BY n DESC, tok ASC) AS INT) AS rnk
      FROM c)
    SELECT source, tok, n, rnk FROM r WHERE rnk <= {TOP_TERMS_K}
    """,
    tags=("text", "window"),
    doc="Per-source heavy hitters: top-3 tokens per source by exact "
    "count with a total-order tie-break (count desc, token asc). "
    "Group-wise top-k AFTER aggregation — the shuffle carries one row "
    "per (source, token), the rank window partitions on the natural "
    "source key, and the output is k rows per group regardless of "
    "input volume (the per-dimension drill-down primitive).",
)
def text_top_terms_per_source(spark: SparkSession, sf: str):
    docs = table(spark, sf, "documents")
    toks = F.coalesce(T.tokens_col(), F.array().cast("array<string>"))
    t = docs.select("source", F.explode(toks).alias("tok")).where(
        F.col("tok") != ""
    )
    c = t.groupBy("source", "tok").agg(F.count("*").alias("n"))
    w = Window.partitionBy("source").orderBy(F.desc("n"), F.asc("tok"))
    return (
        c.withColumn("rnk", F.row_number().over(w).cast("int"))
        .where(F.col("rnk") <= TOP_TERMS_K)
        .select("source", "tok", "n", "rnk")
    )


# ---------------------------------------------------------------------------
# PNG: real COMPRESSED-format decode (stdlib zlib, no codec library)
# ---------------------------------------------------------------------------

from ..operators import multimodal as M  # noqa: E402


@register(
    "multimodal_decode_png",
    # Same closed-form pixel synthesis as the BMP/PPM oracles
    # (pipeline_ops4); n_raw = decompressed scanline bytes — the
    # compressed payload size has no closed form, so the oracle pins
    # the INFLATED stream length instead, which only a decoder that
    # actually ran zlib can report. Every third doc is
    # Adam7-interlaced, where n_raw = sum over the seven passes of
    # pass_h*(1+3*pass_w) for non-empty passes — pinning the
    # deinterlace geometry itself.
    oracle="""
    WITH dims AS (
      SELECT doc_id,
             CAST(4 + doc_id % 13 AS INT) AS width,
             CAST(2 + doc_id % 7 AS INT) AS height
      FROM documents),
    passes(x0, dx, y0, dy) AS (
      VALUES (0, 8, 0, 8), (4, 8, 0, 8), (0, 4, 4, 8), (2, 4, 0, 4),
             (0, 2, 2, 4), (1, 2, 0, 2), (0, 1, 1, 2)),
    adam AS (
      SELECT d.doc_id,
             SUM(CASE WHEN (d.width - p.x0 + p.dx - 1) // p.dx > 0
                       AND (d.height - p.y0 + p.dy - 1) // p.dy > 0
                      THEN ((d.height - p.y0 + p.dy - 1) // p.dy)
                           * (1 + 3 * ((d.width - p.x0 + p.dx - 1)
                                       // p.dx))
                      ELSE 0 END) AS n_raw7
      FROM dims d CROSS JOIN passes p GROUP BY d.doc_id),
    px AS (
      SELECT doc_id, width, height,
             unnest(range(0, CAST(width AS BIGINT) * height * 3)) AS k
      FROM dims),
    v AS (
      SELECT doc_id, width, height, k, (doc_id * 7 + k) % 256 AS val
      FROM px)
    SELECT v.doc_id, v.width, v.height,
           CAST(CASE WHEN v.doc_id % 3 = 0 THEN MIN(a.n_raw7)
                ELSE v.height * (1 + 3 * v.width) END AS INT) AS n_raw,
           CAST(SUM(CASE WHEN k % 3 = 0 THEN val ELSE 0 END) AS BIGINT)
               AS sum_r,
           CAST(SUM(CASE WHEN k % 3 = 1 THEN val ELSE 0 END) AS BIGINT)
               AS sum_g,
           CAST(SUM(CASE WHEN k % 3 = 2 THEN val ELSE 0 END) AS BIGINT)
               AS sum_b,
           CAST(SUM((k + 1) * val) AS BIGINT) AS checksum
    FROM v JOIN adam a ON a.doc_id = v.doc_id
    GROUP BY v.doc_id, v.width, v.height
    """,
    tags=("multimodal",),
    doc="REAL decode of a COMPRESSED image format, no codec library: "
    "synthesize a true PNG per doc (8-bit RGB, row filter y%5 so all "
    "five PNG filters appear, TWO IDAT chunks, real CRC-32s; every "
    "third doc Adam7-interlaced with per-pass filter state), then "
    "fully parse it back — signature, CRC-verified chunk walk, "
    "multi-IDAT zlib inflate, five-filter unfiltering, seven-pass "
    "Adam7 deinterlacing with empty-pass handling — in stdlib zlib + "
    "numpy inside the same narrow Arrow maps as the BMP/PPM twins. "
    "n_raw pins that decompression actually ran AND (interlaced "
    "docs) that the pass geometry was walked exactly "
    "(operators/multimodal.decode_png).",
)
def multimodal_decode_png(spark: SparkSession, sf: str):
    return M.decode_media_pipeline(table(spark, sf, "documents"), "png")


@register(
    "multimodal_decode_jpeg",
    # JPEGs are synthesized from CLOSED-FORM quantized coefficients
    # (operators/jpeg.py module docstring), so the oracle reproduces
    # the per-(block, component) sparse coefficient synthesis and the
    # two quantization tables directly in SQL. The decoder can only
    # reach these numbers through a real marker walk + file-defined
    # canonical Huffman decode + dequantization (IDCT pixels are
    # transcendental, hence not the oracled surface — they are pinned
    # by the DC-only closed form in tests/test_multimodal_codecs.py).
    oracle="""
    WITH dims AS (
      SELECT doc_id,
             CAST(8 * (1 + doc_id % 3) AS INT) AS width,
             CAST(8 * (1 + doc_id % 2) AS INT) AS height,
             (1 + doc_id % 3) * (1 + doc_id % 2) AS nb
      FROM documents),
    bc AS (
      SELECT doc_id, width, height, nb,
             unnest(range(0, nb * 3)) AS i
      FROM dims),
    t AS (
      SELECT doc_id, width, height, nb, i // 3 AS b, i % 3 AS c
      FROM bc),
    q AS (
      SELECT doc_id, width, height, nb, b, c,
             ((doc_id*5 + b*11 + c*23) % 61) - 30 AS dc,
             1 + ((doc_id + b + c) % 9) AS z1,
             ((doc_id + 7*b + 13*c) % 19) - 9 AS v1,
             20 + ((doc_id*3 + b*7 + c*5) % 40) AS z2,
             ((doc_id*7 + 3*b + 5*c) % 13) - 6 AS v2
      FROM t),
    d AS (
      SELECT doc_id, width, height, nb, b, c, z1, z2,
             dc * (CASE WHEN c = 0 THEN 1 ELSE 2 END) AS dq0,
             v1 * (CASE WHEN c = 0 THEN 1 + (5*z1) % 16
                        ELSE 2 + (3*z1) % 24 END) AS dq1,
             v2 * (CASE WHEN c = 0 THEN 1 + (5*z2) % 16
                        ELSE 2 + (3*z2) % 24 END) AS dq2
      FROM q)
    SELECT doc_id, width, height,
           CAST(nb * 3 AS INT) AS n_blocks,
           CAST(SUM(dq0) AS BIGINT) AS sum_dc,
           CAST(SUM(dq1 + dq2) AS BIGINT) AS sum_ac,
           CAST(SUM((b*192 + c*64 + 1) * dq0
                  + (b*192 + c*64 + z1 + 1) * dq1
                  + (b*192 + c*64 + z2 + 1) * dq2) AS BIGINT)
               AS coef_checksum
    FROM d
    GROUP BY doc_id, width, height, nb
    """,
    tags=("multimodal",),
    doc="REAL decode of a LOSSY image format, no codec library: "
    "synthesize a true baseline-sequential JFIF per doc (YCbCr 4:4:4, "
    "canonical Huffman tables built from the image's own symbol "
    "frequencies and carried in DHT, ZRL-exercising AC layout, "
    "restart intervals on every third doc), then fully parse it back "
    "— marker walk, DHT canonical-Huffman decode, byte unstuffing, "
    "DC prediction with RSTn resets, dequantize, de-zigzag, float64 "
    "IDCT — in stdlib struct + numpy inside the same narrow Arrow "
    "maps as the PNG twin. The oracle pins dequantized-coefficient "
    "sums/checksum (operators/jpeg.decode_jpeg).",
)
def multimodal_decode_jpeg(spark: SparkSession, sf: str):
    return M.decode_media_pipeline(table(spark, sf, "documents"), "jpeg")


@register(
    "multimodal_decode_jpeg420",
    # 4:2:0 contract (operators/jpeg.py module docstring): 16x16 MCUs
    # of Y0 Y1 Y2 Y3 Cb Cr; block index b = the GLOBAL scan-order
    # counter i, component c = i%6 mapped 0/0/0/0/1/2; checksum weight
    # i*64 + z + 1. Interleaved-MCU entropy decode with four luma
    # blocks sharing one DC predictor chain is exactly what a 4:4:4
    # decoder gets wrong, so this pins the real-world layout.
    oracle="""
    WITH dims AS (
      SELECT doc_id,
             CAST(16 * (1 + doc_id % 2) AS INT) AS width,
             CAST(16 * (1 + doc_id % 3) AS INT) AS height,
             (1 + doc_id % 2) * (1 + doc_id % 3) AS nm
      FROM documents),
    bc AS (
      SELECT doc_id, width, height, nm,
             unnest(range(0, nm * 6)) AS i
      FROM dims),
    t AS (
      SELECT doc_id, width, height, nm, i,
             CASE WHEN i % 6 < 4 THEN 0
                  WHEN i % 6 = 4 THEN 1 ELSE 2 END AS c
      FROM bc),
    q AS (
      SELECT doc_id, width, height, nm, i, c,
             ((doc_id*5 + i*11 + c*23) % 61) - 30 AS dc,
             1 + ((doc_id + i + c) % 9) AS z1,
             ((doc_id + 7*i + 13*c) % 19) - 9 AS v1,
             20 + ((doc_id*3 + i*7 + c*5) % 40) AS z2,
             ((doc_id*7 + 3*i + 5*c) % 13) - 6 AS v2
      FROM t),
    d AS (
      SELECT doc_id, width, height, nm, i, z1, z2,
             dc * (CASE WHEN c = 0 THEN 1 ELSE 2 END) AS dq0,
             v1 * (CASE WHEN c = 0 THEN 1 + (5*z1) % 16
                        ELSE 2 + (3*z1) % 24 END) AS dq1,
             v2 * (CASE WHEN c = 0 THEN 1 + (5*z2) % 16
                        ELSE 2 + (3*z2) % 24 END) AS dq2
      FROM q)
    SELECT doc_id, width, height,
           CAST(nm * 6 AS INT) AS n_blocks,
           CAST(SUM(dq0) AS BIGINT) AS sum_dc,
           CAST(SUM(dq1 + dq2) AS BIGINT) AS sum_ac,
           CAST(SUM((i*64 + 1) * dq0
                  + (i*64 + z1 + 1) * dq1
                  + (i*64 + z2 + 1) * dq2) AS BIGINT) AS coef_checksum
    FROM d
    GROUP BY doc_id, width, height, nm
    """,
    tags=("multimodal",),
    doc="4:2:0 chroma-subsampled JPEG decode — the dominant real-world "
    "layout: 16x16 interleaved MCUs (four luma blocks sharing one DC "
    "predictor chain + Cb + Cr), generic per-component sampling "
    "factors in the MCU walk, chroma planes decoded at half "
    "resolution and replicated back up for the pixel output. Same "
    "marker/Huffman/dequantize machinery as multimodal_decode_jpeg; "
    "DRI/RSTn on the two-MCU-wide docs (operators/jpeg.decode_jpeg).",
)
def multimodal_decode_jpeg420(spark: SparkSession, sf: str):
    return M.decode_media_pipeline(table(spark, sf, "documents"), "jpeg420")


# The IMA ADPCM oracle replays the codec's STATE MACHINE as a
# recursive CTE — per doc, sample s derives from sample s-1 through
# the step-table recurrence (operators/multimodal.py: adpcm_expand /
# the synthesis contract above ADPCM_SPB). Built once at import.
_ADPCM_STEP_SQL = "[" + ",".join(str(v) for v in M.IMA_STEP_TABLE) + "]"

_ADPCM_HEAD = "((doc_id * 11 + ((s + 1) // 17) * 29) % 65536) - 32768"
_ADPCM_HEAD2 = (
    "((doc_id * 11 + ((s + 1) // 17) * 29 + c * 17) % 65536) - 32768"
)


@register(
    "multimodal_decode_wav_adpcm",
    oracle=f"""
    WITH RECURSIVE prm AS (
      SELECT doc_id,
             CAST(8000 + (doc_id % 3) * 4000 AS INT) AS sample_rate,
             16 + doc_id % 33 AS n
      FROM documents),
    st AS (
      SELECT doc_id, sample_rate, n, 0 AS s,
             ((doc_id * 11) % 65536) - 32768 AS pred,
             doc_id % 89 AS idx,
             CAST(((doc_id * 11) % 65536) - 32768 AS BIGINT) AS ssum,
             CAST(((doc_id * 11) % 65536) - 32768 AS BIGINT) AS ck
      FROM prm
      UNION ALL
      SELECT doc_id, sample_rate, n, s + 1,
             CASE WHEN (s + 1) % 17 = 0 THEN {_ADPCM_HEAD}
                  ELSE new_pred END,
             CASE WHEN (s + 1) % 17 = 0
                  THEN (doc_id + ((s + 1) // 17) * 7) % 89
                  ELSE new_idx END,
             ssum + CASE WHEN (s + 1) % 17 = 0 THEN {_ADPCM_HEAD}
                  ELSE new_pred END,
             ck + (s + 2) * CASE WHEN (s + 1) % 17 = 0 THEN {_ADPCM_HEAD}
                  ELSE new_pred END
      FROM (
        SELECT doc_id, sample_rate, n, s, ssum, ck, idx, nib,
               GREATEST(-32768, LEAST(32767,
                 pred + CASE WHEN nib >= 8 THEN -dlt ELSE dlt END))
                   AS new_pred,
               GREATEST(0, LEAST(88,
                 idx + ([-1,-1,-1,-1,2,4,6,8])[(nib % 8) + 1]))
                   AS new_idx
        FROM (
          SELECT *,
                 step // 8 + ((nib // 4) % 2) * step
                 + ((nib // 2) % 2) * (step // 2)
                 + (nib % 2) * (step // 4) AS dlt
          FROM (
            SELECT *,
                   (doc_id * 7 + (s + 1) * 13) % 16 AS nib,
                   ({_ADPCM_STEP_SQL})[idx + 1] AS step
            FROM st WHERE s + 1 < n))))
    SELECT doc_id, CAST(1 AS INT) AS n_channels, sample_rate,
           CAST(4 AS INT) AS bits, CAST(n AS INT) AS n_frames,
           CAST(ssum AS BIGINT) AS sum_ch0, CAST(0 AS BIGINT) AS sum_ch1,
           CAST(ck AS BIGINT) AS checksum
    FROM st WHERE s = n - 1
    """,
    tags=("multimodal",),
    doc="REAL decode of a STATEFUL compressed-audio codec, no codec "
    "library: synthesize true RIFF/WAVE IMA ADPCM files (format 17, "
    "per-block predictor headers, packed 4-bit deltas, fact-chunk "
    "sample count bounding the padded last block), then decode the "
    "step-table state machine sample-by-sample (predictor and index "
    "clamped per the spec's reference decoder). The oracle replays "
    "the SAME recurrence as a DuckDB recursive CTE — each sample "
    "depends on the previous one, so no per-byte closed form exists, "
    "and this pins an entire decode TRAJECTORY, not just aggregate "
    "formulas (operators/multimodal.adpcm_expand).",
)
def multimodal_decode_wav_adpcm(spark: SparkSession, sf: str):
    return M.decode_media_pipeline(table(spark, sf, "documents"), "wav_adpcm")


@register(
    "multimodal_decode_wav_adpcm_stereo",
    # The STEREO twin: two independent state machines (per-channel
    # block headers offset by c*17 / c*3, nibbles by c*5), samples
    # interleaved L0 R0 L1 R1 so the checksum weight of channel c
    # sample s is 2s + c + 1 — pinning the interleave order itself.
    oracle=f"""
    WITH RECURSIVE prm AS (
      SELECT doc_id,
             CAST(8000 + (doc_id % 3) * 4000 AS INT) AS sample_rate,
             16 + doc_id % 33 AS n
      FROM documents),
    chans AS (
      SELECT p.doc_id, p.sample_rate, p.n, t.c
      FROM prm p CROSS JOIN (SELECT unnest(range(0, 2)) AS c) t),
    st AS (
      SELECT doc_id, sample_rate, n, c, 0 AS s,
             ((doc_id * 11 + c * 17) % 65536) - 32768 AS pred,
             (doc_id + c * 3) % 89 AS idx,
             CAST(((doc_id * 11 + c * 17) % 65536) - 32768 AS BIGINT)
                 AS ssum,
             CAST((c + 1) * (((doc_id * 11 + c * 17) % 65536) - 32768)
                  AS BIGINT) AS ck
      FROM chans
      UNION ALL
      SELECT doc_id, sample_rate, n, c, s + 1,
             CASE WHEN (s + 1) % 17 = 0 THEN {_ADPCM_HEAD2}
                  ELSE new_pred END,
             CASE WHEN (s + 1) % 17 = 0
                  THEN (doc_id + ((s + 1) // 17) * 7 + c * 3) % 89
                  ELSE new_idx END,
             ssum + CASE WHEN (s + 1) % 17 = 0 THEN {_ADPCM_HEAD2}
                  ELSE new_pred END,
             ck + (2 * (s + 1) + c + 1)
                  * CASE WHEN (s + 1) % 17 = 0 THEN {_ADPCM_HEAD2}
                         ELSE new_pred END
      FROM (
        SELECT doc_id, sample_rate, n, c, s, ssum, ck, idx, nib,
               GREATEST(-32768, LEAST(32767,
                 pred + CASE WHEN nib >= 8 THEN -dlt ELSE dlt END))
                   AS new_pred,
               GREATEST(0, LEAST(88,
                 idx + ([-1,-1,-1,-1,2,4,6,8])[(nib % 8) + 1]))
                   AS new_idx
        FROM (
          SELECT *,
                 step // 8 + ((nib // 4) % 2) * step
                 + ((nib // 2) % 2) * (step // 2)
                 + (nib % 2) * (step // 4) AS dlt
          FROM (
            SELECT *,
                   (doc_id * 7 + (s + 1) * 13 + c * 5) % 16 AS nib,
                   ({_ADPCM_STEP_SQL})[idx + 1] AS step
            FROM st WHERE s + 1 < n))))
    SELECT doc_id, CAST(2 AS INT) AS n_channels, sample_rate,
           CAST(4 AS INT) AS bits, CAST(n AS INT) AS n_frames,
           CAST(SUM(CASE WHEN c = 0 THEN ssum ELSE 0 END) AS BIGINT)
               AS sum_ch0,
           CAST(SUM(CASE WHEN c = 1 THEN ssum ELSE 0 END) AS BIGINT)
               AS sum_ch1,
           CAST(SUM(ck) AS BIGINT) AS checksum
    FROM st WHERE s = n - 1
    GROUP BY doc_id, sample_rate, n
    """,
    tags=("multimodal",),
    doc="REAL decode of STEREO IMA ADPCM (format 17, nChannels=2): "
    "per-block per-channel headers, data interleaved in 4-byte "
    "nibble groups per channel (the standard stereo IMA layout), "
    "fact-chunk-bounded padded last block; two independent "
    "state machines replayed by the oracle as one two-channel "
    "recursive CTE, with interleave-order-pinning checksum weights "
    "(operators/multimodal.adpcm_expand_stereo).",
)
def multimodal_decode_wav_adpcm_stereo(spark: SparkSession, sf: str):
    return M.decode_media_pipeline(
        table(spark, sf, "documents"), "wav_adpcm_stereo"
    )


@register(
    "multimodal_decode_wav_pcm24",
    # 24-bit PCM: the closed form IS the sample value; the oracle
    # checks the 3-byte two's-complement widening (a decoder that
    # reads the bytes big-endian, drops the sign, or misaligns the
    # triplets cannot hash-match).
    oracle="""
    WITH prm AS (
      SELECT doc_id,
             CAST(1 + doc_id % 2 AS INT) AS n_channels,
             CAST(8000 + (doc_id % 3) * 4000 AS INT) AS sample_rate,
             CAST(16 + doc_id % 17 AS INT) AS n_frames
      FROM documents),
    sm AS (
      SELECT doc_id, n_channels, sample_rate, n_frames,
             unnest(range(0, CAST(n_frames AS BIGINT) * n_channels)) AS i
      FROM prm),
    v AS (
      SELECT doc_id, n_channels, sample_rate, n_frames, i,
             ((doc_id * 29 + i * 5999471) % 16777216) - 8388608 AS s
      FROM sm)
    SELECT doc_id, n_channels, sample_rate,
           CAST(24 AS INT) AS bits, n_frames,
           CAST(SUM(CASE WHEN i % n_channels = 0 THEN s ELSE 0 END)
                AS BIGINT) AS sum_ch0,
           CAST(SUM(CASE WHEN i % n_channels = 1 THEN s ELSE 0 END)
                AS BIGINT) AS sum_ch1,
           CAST(SUM((i + 1) * s) AS BIGINT) AS checksum
    FROM v GROUP BY doc_id, n_channels, sample_rate, n_frames
    """,
    tags=("multimodal",),
    doc="REAL decode of 24-bit PCM WAV (format 1, bits=24): 3-byte "
    "little-endian two's-complement samples widened via zero-low-byte "
    "+ arithmetic int32 shift; the synthesis stride wraps the full "
    "24-bit range so both sign regions and all three bytes vary "
    "(operators/multimodal.decode_wav).",
)
def multimodal_decode_wav_pcm24(spark: SparkSession, sf: str):
    return M.decode_media_pipeline(table(spark, sf, "documents"), "wav24")


@register(
    "multimodal_decode_wav_alaw",
    # The G.711 companion: payload bytes b_i = (doc_id*19+i*23)%256;
    # a = b XOR 0x55; seg 0 -> t = m*16+8, else (m*16+264) << (seg-1);
    # the sign bit (untouched by the toggle) selects +-t.
    oracle="""
    WITH prm AS (
      SELECT doc_id,
             CAST(1 + doc_id % 2 AS INT) AS n_channels,
             CAST(8000 + (doc_id % 3) * 4000 AS INT) AS sample_rate,
             CAST(16 + doc_id % 17 AS INT) AS n_frames
      FROM documents),
    sm AS (
      SELECT doc_id, n_channels, sample_rate, n_frames,
             unnest(range(0, CAST(n_frames AS BIGINT) * n_channels)) AS i
      FROM prm),
    u AS (
      SELECT doc_id, n_channels, sample_rate, n_frames, i,
             xor((doc_id * 19 + i * 23) % 256, 85) AS a
      FROM sm),
    t AS (
      SELECT doc_id, n_channels, sample_rate, n_frames, i, a,
             CASE WHEN (a // 16) % 8 = 0 THEN (a % 16) * 16 + 8
                  ELSE ((a % 16) * 16 + 264) << (((a // 16) % 8) - 1)
             END AS mag
      FROM u),
    v AS (
      SELECT doc_id, n_channels, sample_rate, n_frames, i,
             CASE WHEN a >= 128 THEN mag ELSE -mag END AS s
      FROM t)
    SELECT doc_id, n_channels, sample_rate,
           CAST(8 AS INT) AS bits, n_frames,
           CAST(SUM(CASE WHEN i % n_channels = 0 THEN s ELSE 0 END)
                AS BIGINT) AS sum_ch0,
           CAST(SUM(CASE WHEN i % n_channels = 1 THEN s ELSE 0 END)
                AS BIGINT) AS sum_ch1,
           CAST(SUM((i + 1) * s) AS BIGINT) AS checksum
    FROM v GROUP BY doc_id, n_channels, sample_rate, n_frames
    """,
    tags=("multimodal",),
    doc="REAL decode of the G.711 A-LAW companion format "
    "(audio_format=6, 8 bits/sample): XOR-0x55 toggle, 4-bit "
    "mantissa, 3-bit segment, full-scale +-32256 — the oracle "
    "evaluates the identical integer expansion in SQL "
    "(operators/multimodal.alaw_expand).",
)
def multimodal_decode_wav_alaw(spark: SparkSession, sf: str):
    return M.decode_media_pipeline(
        table(spark, sf, "documents"), "wav_alaw"
    )


@register(
    "multimodal_decode_wav_mulaw",
    # The payload bytes ARE the closed form (b_i = (doc_id*13+i*31)%256);
    # the oracle expands them with the same standard G.711 integer
    # formula the decoder applies: u = ~b; t = ((u&15)*8+132) << exp;
    # sample = +-(t-132).
    oracle="""
    WITH prm AS (
      SELECT doc_id,
             CAST(1 + doc_id % 2 AS INT) AS n_channels,
             CAST(8000 + (doc_id % 3) * 4000 AS INT) AS sample_rate,
             CAST(16 + doc_id % 17 AS INT) AS n_frames
      FROM documents),
    sm AS (
      SELECT doc_id, n_channels, sample_rate, n_frames,
             unnest(range(0, CAST(n_frames AS BIGINT) * n_channels)) AS i
      FROM prm),
    u AS (
      SELECT doc_id, n_channels, sample_rate, n_frames, i,
             255 - ((doc_id * 13 + i * 31) % 256) AS uu
      FROM sm),
    v AS (
      SELECT doc_id, n_channels, sample_rate, n_frames, i,
             CASE WHEN uu >= 128
                  THEN 132 - ((uu % 16) * 8 + 132) * (1 << ((uu // 16) % 8))
                  ELSE ((uu % 16) * 8 + 132) * (1 << ((uu // 16) % 8)) - 132
             END AS s
      FROM u)
    SELECT doc_id, n_channels, sample_rate,
           CAST(8 AS INT) AS bits, n_frames,
           CAST(SUM(CASE WHEN i % n_channels = 0 THEN s ELSE 0 END)
                AS BIGINT) AS sum_ch0,
           CAST(SUM(CASE WHEN i % n_channels = 1 THEN s ELSE 0 END)
                AS BIGINT) AS sum_ch1,
           CAST(SUM((i + 1) * s) AS BIGINT) AS checksum
    FROM v GROUP BY doc_id, n_channels, sample_rate, n_frames
    """,
    tags=("multimodal",),
    doc="REAL decode of a COMPRESSED audio format, no codec library: "
    "synthesize a G.711 mu-law RIFF/WAVE file per doc (audio_format=7, "
    "8 bits/sample), walk the chunks and EXPAND each byte to its "
    "linear 16-bit sample with the standard integer formula "
    "(complement, 4-bit mantissa, 3-bit exponent, bias 0x84) — the "
    "oracle evaluates the identical expansion in SQL, so a decoder "
    "that skips the companding math cannot hash-match "
    "(operators/multimodal.mulaw_expand).",
)
def multimodal_decode_wav_mulaw(spark: SparkSession, sf: str):
    return M.decode_media_pipeline(table(spark, sf, "documents"), "wav_mulaw")


@register(
    "multimodal_decode_flac",
    # FLAC is lossless, so the oracle is the synthesis closed form
    # (operators/flac.py module docstring): interleaved sample i is
    # ((doc_id*11 + i*97) % 65536) - 32768 over n = 24 + doc_id % 41
    # frames. What the hash pins is that the decoder recovers EXACTLY
    # these samples back out of genuinely compressed bytes — Rice
    # coded fixed/LPC prediction residuals, mid/side decorrelation,
    # CRC-8/CRC-16-verified frames.
    oracle="""
    WITH prm AS (
      SELECT doc_id,
             CAST(1 + doc_id % 2 AS INT) AS n_channels,
             CAST(8000 + (doc_id % 3) * 4000 AS INT) AS sample_rate,
             CAST(24 + doc_id % 41 AS INT) AS n_frames
      FROM documents),
    sm AS (
      SELECT doc_id, n_channels, sample_rate, n_frames,
             unnest(range(0, CAST(n_frames AS BIGINT) * n_channels)) AS i
      FROM prm),
    v AS (
      SELECT doc_id, n_channels, sample_rate, n_frames, i,
             ((doc_id * 11 + i * 97) % 65536) - 32768 AS s
      FROM sm)
    SELECT doc_id, n_channels, sample_rate,
           CAST(16 AS INT) AS bits, n_frames,
           CAST(SUM(CASE WHEN i % n_channels = 0 THEN s ELSE 0 END)
                AS BIGINT) AS sum_ch0,
           CAST(SUM(CASE WHEN i % n_channels = 1 THEN s ELSE 0 END)
                AS BIGINT) AS sum_ch1,
           CAST(SUM((i + 1) * s) AS BIGINT) AS checksum
    FROM v GROUP BY doc_id, n_channels, sample_rate, n_frames
    """,
    tags=("multimodal",),
    doc="REAL decode of the dominant LOSSLESS audio codec, no codec "
    "library: synthesize genuine FLAC streams per doc (STREAMINFO, "
    "fixed-blocksize frames, UTF-8 frame numbers, CRC-8/CRC-16) whose "
    "frames cycle VERBATIM / FIXED order 0-4 / LPC subframes and all "
    "three stereo decorrelation modes (left-side, right-side, "
    "mid-side with the 17-bit side channel), residuals Rice-coded "
    "with per-partition parameter search and raw escapes; then "
    "decode the full RFC 9639 frame layer back to bit-exact samples "
    "(operators/flac.decode_flac).",
)
def multimodal_decode_flac(spark: SparkSession, sf: str):
    return M.decode_media_pipeline(table(spark, sf, "documents"), "flac")


@register(
    "multimodal_decode_tiff",
    # Same pixel closed form as BMP/PPM; n_strips = ceil(height /
    # (1 + doc_id % 3)), byte_order = II/MM by doc parity, and
    # compression (none / PackBits / LZW+Predictor2 /
    # deflate+Predictor2 by doc_id % 8) all come back from the
    # STREAM, pinning that the IFD's RowsPerStrip/StripOffsets/
    # ByteCounts were walked in the right endianness and the
    # compressed strips were really expanded (and un-differenced) to
    # the exact contract pixels.
    oracle="""
    WITH dims AS (
      SELECT doc_id,
             CAST(4 + doc_id % 13 AS INT) AS width,
             CAST(2 + doc_id % 7 AS INT) AS height,
             1 + doc_id % 3 AS rps
      FROM documents),
    px AS (
      SELECT doc_id, width, height, rps,
             unnest(range(0, CAST(width AS BIGINT) * height * 3)) AS k
      FROM dims),
    v AS (
      SELECT doc_id, width, height, rps, k,
             (doc_id * 7 + k) % 256 AS val
      FROM px)
    SELECT doc_id, width, height,
           CAST(CEIL(height / CAST(rps AS DOUBLE)) AS INT) AS n_strips,
           CASE WHEN doc_id % 2 = 0 THEN 'II' ELSE 'MM' END AS byte_order,
           CAST(CASE WHEN doc_id % 8 IN (2, 3) THEN 32773
                     WHEN doc_id % 8 IN (4, 5) THEN 5
                     WHEN doc_id % 8 IN (6, 7) THEN 8
                     ELSE 1 END AS INT) AS compression,
           CAST(SUM(CASE WHEN k % 3 = 0 THEN val ELSE 0 END) AS BIGINT)
               AS sum_r,
           CAST(SUM(CASE WHEN k % 3 = 1 THEN val ELSE 0 END) AS BIGINT)
               AS sum_g,
           CAST(SUM(CASE WHEN k % 3 = 2 THEN val ELSE 0 END) AS BIGINT)
               AS sum_b,
           CAST(SUM((k + 1) * val) AS BIGINT) AS checksum
    FROM v GROUP BY doc_id, width, height, rps
    """,
    tags=("multimodal",),
    doc="REAL decode of baseline TIFF in BOTH byte orders (II and MM "
    "rotate by doc parity) and all four scanner-common strip codecs "
    "(uncompressed, PackBits RLE, LZW, and Adobe deflate — the "
    "latter two with Predictor=2 horizontal differencing — rotating "
    "by doc_id % 8): header + IFD walk with spec-correct "
    "left-justified inline SHORTs, TIFF-LZW with MSB-first packing "
    "and the libtiff early-change convention, multi-strip assembly "
    "via StripOffsets/StripByteCounts (RowsPerStrip rotates 1..3 so "
    "strip boundaries move per doc); JPEG-in-TIFF/CCITT/planar "
    "variants gate loudly (operators/multimodal.decode_tiff).",
)
def multimodal_decode_tiff(spark: SparkSession, sf: str):
    return M.decode_media_pipeline(table(spark, sf, "documents"), "tiff")


@register(
    "multimodal_decode_gif",
    # Same pixel closed form as BMP/PPM (every contract pixel
    # distinct, so the palette holds w*h colors and the table size is
    # the next power of two — ceil(log2(w*h)), exact in SQL since
    # w*h <= 128); the interlace flag (every second doc) comes back
    # from the STREAM.
    oracle="""
    WITH dims AS (
      SELECT doc_id,
             CAST(4 + doc_id % 13 AS INT) AS width,
             CAST(2 + doc_id % 7 AS INT) AS height
      FROM documents),
    px AS (
      SELECT doc_id, width, height,
             unnest(range(0, CAST(width AS BIGINT) * height * 3)) AS k
      FROM dims),
    v AS (
      SELECT doc_id, width, height, k, (doc_id * 7 + k) % 256 AS val
      FROM px)
    SELECT doc_id, width, height,
           CAST(POWER(2, GREATEST(1,
                CAST(CEIL(LOG2(width * height)) AS INT))) AS INT)
               AS table_n,
           doc_id % 2 = 0 AS interlaced,
           CAST(SUM(CASE WHEN k % 3 = 0 THEN val ELSE 0 END) AS BIGINT)
               AS sum_r,
           CAST(SUM(CASE WHEN k % 3 = 1 THEN val ELSE 0 END) AS BIGINT)
               AS sum_g,
           CAST(SUM(CASE WHEN k % 3 = 2 THEN val ELSE 0 END) AS BIGINT)
               AS sum_b,
           CAST(SUM((k + 1) * val) AS BIGINT) AS checksum
    FROM v GROUP BY doc_id, width, height
    """,
    tags=("multimodal",),
    doc="REAL decode of GIF (LZW), no codec library: synthesize "
    "genuine GIF87a streams per doc — global color table in "
    "first-appearance order, variable-width LZW codes (3..12 bits, "
    "LSB-first, clear/EOI, KwKwK, the standard width-bump "
    "alignment), 255-byte sub-blocks, 4-pass interlacing on every "
    "second doc — then decode them back to bit-exact RGB "
    "(operators/gif.decode_gif). 89a extension blocks are "
    "sub-block-skipped.",
)
def multimodal_decode_gif(spark: SparkSession, sf: str):
    return M.decode_media_pipeline(table(spark, sf, "documents"), "gif")


@register(
    "multimodal_decode_webp",
    # TILED pixel closed form (val = (doc_id*7 + (k mod w*3*tile)) %
    # 256, tile = 1 + doc_id % 11) so the VP8L streams carry genuine
    # LZ77 backward references (rows >= tile copy row - tile at scan
    # distance tile*width); cache_bits comes back from the STREAM
    # (1 + doc_id % 6 by synthesis), pinning that the color-cache
    # config was parsed. Payload size is compression-dependent, so
    # unlike BMP/PPM there is no n_bytes column.
    oracle="""
    WITH dims AS (
      SELECT doc_id,
             CAST(4 + doc_id % 13 AS INT) AS width,
             CAST(2 + doc_id % 19 AS INT) AS height,
             1 + doc_id % 11 AS tile
      FROM documents),
    px AS (
      SELECT doc_id, width, height, tile,
             unnest(range(0, CAST(width AS BIGINT) * height * 3)) AS k
      FROM dims),
    v AS (
      SELECT doc_id, width, height, k,
             (doc_id * 7 + (k % (width * 3 * tile))) % 256 AS val
      FROM px)
    SELECT doc_id, width, height,
           CAST(1 + doc_id % 6 AS INT) AS cache_bits,
           CAST(SUM(CASE WHEN k % 3 = 0 THEN val ELSE 0 END) AS BIGINT)
               AS sum_r,
           CAST(SUM(CASE WHEN k % 3 = 1 THEN val ELSE 0 END) AS BIGINT)
               AS sum_g,
           CAST(SUM(CASE WHEN k % 3 = 2 THEN val ELSE 0 END) AS BIGINT)
               AS sum_b,
           CAST(SUM((k + 1) * val) AS BIGINT) AS checksum
    FROM v GROUP BY doc_id, width, height
    """,
    tags=("multimodal",),
    doc="REAL decode of WebP lossless (VP8L), no codec library: "
    "synthesize genuine RIFF/WEBP/VP8L streams per doc — LSB-first "
    "bit packing, canonical per-channel prefix codes transmitted "
    "through the DEFLATE-style code-length code (16/17/18 repeats, "
    "the 19-entry reorder table), a doc-varied color cache "
    "(multiplicative-hash indexed), LZ77 backward references over "
    "vertically tiled pixel rows (length/distance prefix codes with "
    "extra bits, the 120-entry 2D distance-offset map for tile <= 7, "
    "direct scan-order distances for tile >= 8), and the "
    "subtract-green transform — then decode them back to bit-exact "
    "RGB. Decoder additionally covers simple 1/2-symbol codes, any "
    "cache size, and overlapping copies; predictor/color/palette "
    "transforms and Huffman images remain loudly gated "
    "(operators/vp8l.decode_webp).",
)
def multimodal_decode_webp(spark: SparkSession, sf: str):
    return M.decode_media_pipeline(table(spark, sf, "documents"), "webp")


@register(
    "multimodal_decode_jpeg_lossless",
    # SOF3 is LOSSLESS, so unlike the DCT entries the oracle is the
    # exact closed-form pixel statistics (same val formula as
    # BMP/PPM); the predictor column is read back from the SOS
    # header (1 + doc_id % 7 by synthesis), pinning that all seven
    # T.81 predictors decode across the corpus.
    oracle="""
    WITH dims AS (
      SELECT doc_id,
             CAST(4 + doc_id % 13 AS INT) AS width,
             CAST(2 + doc_id % 7 AS INT) AS height
      FROM documents),
    px AS (
      SELECT doc_id, width, height,
             unnest(range(0, CAST(width AS BIGINT) * height * 3)) AS k
      FROM dims),
    v AS (
      SELECT doc_id, width, height, k, (doc_id * 7 + k) % 256 AS val
      FROM px)
    SELECT doc_id, width, height,
           CAST(1 + doc_id % 7 AS INT) AS predictor,
           CAST(SUM(CASE WHEN k % 3 = 0 THEN val ELSE 0 END) AS BIGINT)
               AS sum_r,
           CAST(SUM(CASE WHEN k % 3 = 1 THEN val ELSE 0 END) AS BIGINT)
               AS sum_g,
           CAST(SUM(CASE WHEN k % 3 = 2 THEN val ELSE 0 END) AS BIGINT)
               AS sum_b,
           CAST(SUM((k + 1) * val) AS BIGINT) AS checksum
    FROM v GROUP BY doc_id, width, height
    """,
    tags=("multimodal",),
    doc="REAL decode of LOSSLESS JPEG (SOF3), no codec library: "
    "synthesize genuine SOF3 streams per doc — three interleaved RGB "
    "components, predictive DPCM with the scan-selected predictor "
    "rotating through all seven T.81 predictors, Huffman-coded "
    "difference categories with EXTEND bits, byte stuffing, standard "
    "edge-prediction rules — then decode them back to bit-exact "
    "pixels (operators/jpeg.decode_jpeg, mode='lossless'). The "
    "remaining JPEG gates narrow to arithmetic/extended/hierarchical.",
)
def multimodal_decode_jpeg_lossless(spark: SparkSession, sf: str):
    return M.decode_media_pipeline(
        table(spark, sf, "documents"), "jpeg_lossless"
    )


@register(
    "multimodal_decode_jpeg_prog",
    # Identical coefficient contract (and therefore oracle) to
    # multimodal_decode_jpeg — what changes is the WIRE FORMAT: ten
    # progressive scans whose partial approximations must reassemble
    # to the exact same dequantized coefficients the one baseline
    # scan carries. A decoder that mishandles any of spectral bands,
    # successive-approximation shifts, EOB runs, or refinement
    # correction bits cannot hash-match.
    oracle="""
    WITH dims AS (
      SELECT doc_id,
             CAST(8 * (1 + doc_id % 3) AS INT) AS width,
             CAST(8 * (1 + doc_id % 2) AS INT) AS height,
             (1 + doc_id % 3) * (1 + doc_id % 2) AS nb
      FROM documents),
    bc AS (
      SELECT doc_id, width, height, nb,
             unnest(range(0, nb * 3)) AS i
      FROM dims),
    t AS (
      SELECT doc_id, width, height, nb, i // 3 AS b, i % 3 AS c
      FROM bc),
    q AS (
      SELECT doc_id, width, height, nb, b, c,
             ((doc_id*5 + b*11 + c*23) % 61) - 30 AS dc,
             1 + ((doc_id + b + c) % 9) AS z1,
             ((doc_id + 7*b + 13*c) % 19) - 9 AS v1,
             20 + ((doc_id*3 + b*7 + c*5) % 40) AS z2,
             ((doc_id*7 + 3*b + 5*c) % 13) - 6 AS v2
      FROM t),
    d AS (
      SELECT doc_id, width, height, nb, b, c, z1, z2,
             dc * (CASE WHEN c = 0 THEN 1 ELSE 2 END) AS dq0,
             v1 * (CASE WHEN c = 0 THEN 1 + (5*z1) % 16
                        ELSE 2 + (3*z1) % 24 END) AS dq1,
             v2 * (CASE WHEN c = 0 THEN 1 + (5*z2) % 16
                        ELSE 2 + (3*z2) % 24 END) AS dq2
      FROM q)
    SELECT doc_id, width, height,
           CAST(nb * 3 AS INT) AS n_blocks,
           CAST(SUM(dq0) AS BIGINT) AS sum_dc,
           CAST(SUM(dq1 + dq2) AS BIGINT) AS sum_ac,
           CAST(SUM((b*192 + c*64 + 1) * dq0
                  + (b*192 + c*64 + z1 + 1) * dq1
                  + (b*192 + c*64 + z2 + 1) * dq2) AS BIGINT)
               AS coef_checksum
    FROM d
    GROUP BY doc_id, width, height, nb
    """,
    tags=("multimodal",),
    doc="REAL decode of PROGRESSIVE JPEG (SOF2), no codec library — "
    "the mode the round-7/9 baseline decoder gated: ten scans per "
    "file covering interleaved DC first (successive approximation "
    "Al=1) and DC refinement (raw bits), per-component AC first "
    "scans over split spectral bands with EOB runs accumulated "
    "across blocks, and AC refinement scans with positionally-"
    "consumed correction bits; Huffman tables rebuilt and redefined "
    "between scans. Decoded through the same persistent-coefficient "
    "multi-scan engine that handles baseline (operators/jpeg.py: "
    "_decode_block_scan), with the baseline 4:4:4 oracle verbatim.",
)
def multimodal_decode_jpeg_prog(spark: SparkSession, sf: str):
    return M.decode_media_pipeline(table(spark, sf, "documents"), "jpeg_prog")


@register(
    "multimodal_resize_nearest",
    # Resized pixel at (x, y, c) samples source (x*w//3, y*h//2):
    # val = (doc_id*7 + 3*((y*h//2)*w + (x*w//3)) + c) % 256.
    oracle=f"""
    WITH dims AS (
      SELECT doc_id,
             CAST(4 + doc_id % 13 AS INT) AS width,
             CAST(2 + doc_id % 7 AS INT) AS height
      FROM documents),
    cell AS (
      SELECT doc_id, width, height,
             unnest(range(0, {M.RESIZE_TW * M.RESIZE_TH * 3})) AS q
      FROM dims),
    v AS (
      SELECT doc_id, width, height, q,
             (doc_id * 7
              + 3 * ((((q // 3) // {M.RESIZE_TW}) * height
                      // {M.RESIZE_TH}) * width
                     + (((q // 3) % {M.RESIZE_TW}) * width
                        // {M.RESIZE_TW}))
              + q % 3) % 256 AS val
      FROM cell)
    SELECT doc_id, width AS src_w, height AS src_h,
           CAST({M.RESIZE_TW} AS INT) AS dst_w,
           CAST({M.RESIZE_TH} AS INT) AS dst_h,
           CAST(SUM(val) AS BIGINT) AS resized_sum,
           CAST(SUM((q + 1) * val) AS BIGINT) AS resized_checksum
    FROM v GROUP BY doc_id, width, height
    """,
    tags=("multimodal",),
    doc="REAL resize on decoded pixels (upgrading the resize "
    "stand-in): nearest-neighbor downscale to 3x2 with pure integer "
    "index math (src = dst*src_size // dst_size), statistics "
    "position-weighted so the sampling geometry is pinned. Decode + "
    "resize run in ONE narrow Arrow map "
    "(operators/multimodal.image_resize_nearest).",
)
def multimodal_resize_nearest(spark: SparkSession, sf: str):
    return M.image_resize_nearest(
        M.synthesize_media(table(spark, sf, "documents"), "bmp")
    )


@register(
    "multimodal_decode_avi",
    # Frame f pixel k (top-down RGB flat order): (doc_id*7+f*131+k)%256;
    # global flat index g = f*w*h*3 + k pins frame ORDER in the
    # checksum; sampled_sum covers every 2nd frame (the frame-sampling
    # primitive, now on real decoded frames).
    oracle=f"""
    WITH dims AS (
      SELECT doc_id,
             CAST(4 + doc_id % 13 AS INT) AS width,
             CAST(2 + doc_id % 7 AS INT) AS height,
             CAST(2 + doc_id % 4 AS INT) AS nf
      FROM documents),
    px AS (
      SELECT doc_id, width, height, nf,
             unnest(range(0, CAST(nf AS BIGINT) * width * height * 3))
                 AS g
      FROM dims),
    v AS (
      SELECT doc_id, width, height, nf, g,
             g // (width * height * 3) AS f,
             (doc_id * 7 + (g // (width * height * 3)) * 131
              + g % (width * height * 3)) % 256 AS val
      FROM px)
    SELECT doc_id, width, height, nf AS n_frames,
           CAST((nf + {M.AVI_SAMPLE_EVERY - 1}) // {M.AVI_SAMPLE_EVERY}
                AS INT) AS n_sampled,
           CAST(SUM(val) AS BIGINT) AS sum_all,
           CAST(SUM(CASE WHEN f % {M.AVI_SAMPLE_EVERY} = 0
                         THEN val ELSE 0 END) AS BIGINT) AS sampled_sum,
           CAST(SUM((g + 1) * val) AS BIGINT) AS checksum
    FROM v GROUP BY doc_id, width, height, nf
    """,
    tags=("multimodal",),
    doc="REAL video decode, no codec library: synthesize an "
    "uncompressed AVI per doc (RIFF with hdrl/avih + strl headers and "
    "a movi LIST of raw DIB '00db' frames — bottom-up padded BGR, the "
    "BMP body convention), then fully parse it back: recursive LIST "
    "walk, avih geometry, per-frame DIB unflip/unswap. Emits total "
    "and every-2nd-frame sampled sums plus a (frame, pixel)-flat "
    "checksum pinning frame order — frame sampling on REAL frames "
    "(operators/multimodal.decode_avi).",
)
def multimodal_decode_avi(spark: SparkSession, sf: str):
    return M.decode_media_pipeline(table(spark, sf, "documents"), "avi")


@register(
    "multimodal_decode_avi_mjpeg",
    # MJPEG-in-AVI (r18, the one media family previously limited to
    # uncompressed frames): frame f of doc d is the closed-form JFIF
    # for jid = d + 6*f (operators/jpeg.py module docstring — the +6
    # stride keeps jid%3/jid%2, hence the avih geometry, constant
    # across a doc's frames). The oracle reproduces the per-(frame,
    # block, component) sparse coefficient synthesis and both
    # quantization tables in SQL, summed over frames with weight
    # (f+1) on the checksum so frame ORDER is pinned. i enumerates
    # (f, b, c) flat: f = i // (nb*3), b = (i % (nb*3)) // 3,
    # c = i % 3.
    oracle="""
    WITH dims AS (
      SELECT doc_id,
             CAST(8 * (1 + doc_id % 3) AS INT) AS width,
             CAST(8 * (1 + doc_id % 2) AS INT) AS height,
             (1 + doc_id % 3) * (1 + doc_id % 2) AS nb,
             2 + doc_id % 4 AS nf
      FROM documents),
    fbc AS (
      SELECT doc_id, width, height, nb, nf,
             unnest(range(0, nf * nb * 3)) AS i
      FROM dims),
    t AS (
      SELECT doc_id, width, height, nb, nf,
             i // (nb * 3) AS f,
             (i % (nb * 3)) // 3 AS b,
             i % 3 AS c,
             doc_id + 6 * (i // (nb * 3)) AS jid
      FROM fbc),
    q AS (
      SELECT doc_id, width, height, nb, nf, f, b, c,
             ((jid*5 + b*11 + c*23) % 61) - 30 AS dc,
             1 + ((jid + b + c) % 9) AS z1,
             ((jid + 7*b + 13*c) % 19) - 9 AS v1,
             20 + ((jid*3 + b*7 + c*5) % 40) AS z2,
             ((jid*7 + 3*b + 5*c) % 13) - 6 AS v2
      FROM t),
    d AS (
      SELECT doc_id, width, height, nb, nf, f, b, c, z1, z2,
             dc * (CASE WHEN c = 0 THEN 1 ELSE 2 END) AS dq0,
             v1 * (CASE WHEN c = 0 THEN 1 + (5*z1) % 16
                        ELSE 2 + (3*z1) % 24 END) AS dq1,
             v2 * (CASE WHEN c = 0 THEN 1 + (5*z2) % 16
                        ELSE 2 + (3*z2) % 24 END) AS dq2
      FROM q)
    SELECT doc_id, width, height,
           CAST(nf AS INT) AS n_frames,
           CAST(nf * nb * 3 AS INT) AS n_blocks,
           CAST(SUM(dq0) AS BIGINT) AS sum_dc,
           CAST(SUM(dq1 + dq2) AS BIGINT) AS sum_ac,
           CAST(SUM((f + 1) * ((b*192 + c*64 + 1) * dq0
                             + (b*192 + c*64 + z1 + 1) * dq1
                             + (b*192 + c*64 + z2 + 1) * dq2))
                AS BIGINT) AS frame_checksum
    FROM d
    GROUP BY doc_id, width, height, nb, nf
    """,
    tags=("multimodal",),
    doc="REAL decode of a COMPRESSED video format, no codec library: "
    "synthesize a true Motion-JPEG AVI per doc (RIFF hdrl/strl with "
    "MJPG handler + biCompression, movi of '00dc' chunks each "
    "carrying a complete baseline JFIF — the de-facto MJPEG-in-AVI "
    "convention), then fully parse it back: recursive LIST walk, "
    "strict MJPG/geometry/frame-count validation, and a complete "
    "marker-walk + canonical-Huffman + dequantize JPEG decode PER "
    "FRAME, composing the T.81 decoder with the RIFF walk "
    "(operators/multimodal.decode_avi_mjpeg). frame_checksum weights "
    "each frame's coefficient checksum by (f+1), so frame order is "
    "pinned.",
)
def multimodal_decode_avi_mjpeg(spark: SparkSession, sf: str):
    return M.decode_avi_mjpeg_features(
        M.synthesize_avi_mjpeg(table(spark, sf, "documents"))
    )


@register(
    "multimodal_decode_avi_interleaved",
    # Two-stream AVI: stream 0 is the MJPEG video of
    # multimodal_decode_avi_mjpeg (frame f = the closed-form JFIF for
    # jid = d + 6*f), stream 1 is G.711 mu-law audio, one 267-sample
    # '01wb' chunk interleaved after each '00dc' frame. The oracle reproduces BOTH streams in SQL: the
    # per-(frame, block, component) sparse coefficient synthesis +
    # dequantization of the video (verbatim from the MJPEG entry) and
    # the standard integer mu-law expansion of the audio stream
    # (verbatim from the wav_mulaw entry) over the interleaved global
    # sample index s = f*267 + j, b_s = (d*13 + s*31) % 256. Both
    # checksums are position-weighted ((f+1) / (s+1)), so frame order
    # AND audio chunk order are pinned.
    oracle="""
    WITH dims AS (
      SELECT doc_id,
             CAST(8 * (1 + doc_id % 3) AS INT) AS width,
             CAST(8 * (1 + doc_id % 2) AS INT) AS height,
             (1 + doc_id % 3) * (1 + doc_id % 2) AS nb,
             2 + doc_id % 4 AS nf
      FROM documents),
    fbc AS (
      SELECT doc_id, width, height, nb, nf,
             unnest(range(0, nf * nb * 3)) AS i
      FROM dims),
    t AS (
      SELECT doc_id, width, height, nb, nf,
             i // (nb * 3) AS f,
             (i % (nb * 3)) // 3 AS b,
             i % 3 AS c,
             doc_id + 6 * (i // (nb * 3)) AS jid
      FROM fbc),
    q AS (
      SELECT doc_id, width, height, nb, nf, f, b, c,
             ((jid*5 + b*11 + c*23) % 61) - 30 AS dc,
             1 + ((jid + b + c) % 9) AS z1,
             ((jid + 7*b + 13*c) % 19) - 9 AS v1,
             20 + ((jid*3 + b*7 + c*5) % 40) AS z2,
             ((jid*7 + 3*b + 5*c) % 13) - 6 AS v2
      FROM t),
    d AS (
      SELECT doc_id, width, height, nb, nf, f, b, c, z1, z2,
             dc * (CASE WHEN c = 0 THEN 1 ELSE 2 END) AS dq0,
             v1 * (CASE WHEN c = 0 THEN 1 + (5*z1) % 16
                        ELSE 2 + (3*z1) % 24 END) AS dq1,
             v2 * (CASE WHEN c = 0 THEN 1 + (5*z2) % 16
                        ELSE 2 + (3*z2) % 24 END) AS dq2
      FROM q),
    vstats AS (
      SELECT doc_id, width, height,
             CAST(nf AS INT) AS n_frames,
             CAST(nf * nb * 3 AS INT) AS n_blocks,
             CAST(SUM(dq0) AS BIGINT) AS sum_dc,
             CAST(SUM(dq1 + dq2) AS BIGINT) AS sum_ac,
             CAST(SUM((f + 1) * ((b*192 + c*64 + 1) * dq0
                               + (b*192 + c*64 + z1 + 1) * dq1
                               + (b*192 + c*64 + z2 + 1) * dq2))
                  AS BIGINT) AS frame_checksum
      FROM d
      GROUP BY doc_id, width, height, nb, nf),
    aud AS (
      SELECT doc_id, nf, unnest(range(0, nf * 267)) AS s
      FROM dims),
    au AS (
      SELECT doc_id, nf, s,
             255 - ((doc_id * 13 + s * 31) % 256) AS uu
      FROM aud),
    av AS (
      SELECT doc_id, nf, s,
             CASE WHEN uu >= 128
                  THEN 132 - ((uu % 16) * 8 + 132)
                             * (1 << ((uu // 16) % 8))
                  ELSE ((uu % 16) * 8 + 132)
                       * (1 << ((uu // 16) % 8)) - 132
             END AS val
      FROM au),
    astats AS (
      SELECT doc_id,
             CAST(8000 AS INT) AS sample_rate,
             CAST(nf * 267 AS INT) AS n_audio_samples,
             CAST(SUM(val) AS BIGINT) AS audio_sum,
             CAST(SUM((s + 1) * val) AS BIGINT) AS audio_checksum
      FROM av GROUP BY doc_id, nf)
    SELECT v.doc_id, v.width, v.height, v.n_frames, v.n_blocks,
           v.sum_dc, v.sum_ac, v.frame_checksum,
           a.sample_rate, a.n_audio_samples, a.audio_sum,
           a.audio_checksum
    FROM vstats v JOIN astats a ON v.doc_id = a.doc_id
    """,
    tags=("multimodal",),
    doc="REAL two-stream container decode, no codec library: "
    "synthesize a true interleaved A/V AVI per doc (hdrl with TWO "
    "strls — 'vids'/MJPG and 'auds'/WAVEFORMAT tag 7; movi "
    "alternating one complete baseline JFIF '00dc' chunk and one "
    "267-sample G.711 mu-law '01wb' chunk per frame), then fully "
    "demux and decode BOTH streams: recursive LIST walk with "
    "positional strh→strf binding, first-'vids' codec decision, "
    "strict MJPG/mu-law/geometry/frame-count/interleave validation, "
    "complete T.81 entropy decode per video frame and the standard "
    "integer G.711 expansion over the concatenated audio — composing "
    "three decoders this package already carries "
    "(operators/multimodal.decode_avi_mjpeg_mulaw). frame_checksum "
    "and audio_checksum are position-weighted, pinning frame AND "
    "audio chunk order.",
)
def multimodal_decode_avi_interleaved(spark: SparkSession, sf: str):
    return M.decode_avi_interleaved_features(
        M.synthesize_avi_interleaved(table(spark, sf, "documents"))
    )


# ---------------------------------------------------------------------------
# BPE tokenizer training (merge induction) — chained-CTE oracle
# ---------------------------------------------------------------------------

from ..operators import retrieval as R  # noqa: E402


def _bpe_ctes(n_merges: int) -> list[str]:
    """The shared CTE chain mirroring operators/retrieval
    .bpe_train_merges: per iteration a pair-count agg, the tie-broken
    argmax, and one boundary-preserving replace — reused by both the
    training oracle (selects the m{i} rows) and the encode oracle
    (applies the m{i} patterns to the documents)."""
    ctes = [
        f"""w0 AS (
      SELECT '||' || array_to_string(
               list_filter(string_split(tok, ''), c -> c <> ''), '||')
             || '||' AS s,
             CAST(count(*) AS BIGINT) AS freq
      FROM (SELECT unnest({_SQL_TOKS}) AS tok FROM documents)
      WHERE regexp_full_match(tok, '[a-z0-9]+')
      GROUP BY tok)"""
    ]
    for i in range(1, n_merges + 1):
        ctes.append(f"""p{i} AS (
      SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt FROM (
        SELECT freq,
               unnest(list_transform(range(1, len(arr)),
                 j -> arr[CAST(j AS INT)] || ' '
                      || arr[CAST(j + 1 AS INT)])) AS pair
        FROM (SELECT freq,
                     list_filter(string_split_regex(s, '\\|\\|'),
                                 x -> x <> '') AS arr
              FROM w{i - 1}))
      GROUP BY pair)""")
        ctes.append(f"""m{i} AS (
      SELECT pair, cnt,
             string_split(pair, ' ')[1] AS a,
             string_split(pair, ' ')[2] AS b
      FROM p{i} ORDER BY cnt DESC, pair ASC LIMIT 1)""")
        ctes.append(f"""w{i} AS (
      SELECT replace(w.s, '|' || m.a || '||' || m.b || '|',
                     '|' || m.a || m.b || '|') AS s, w.freq
      FROM w{i - 1} w CROSS JOIN m{i} m)""")
    return ctes


def _bpe_oracle(n_merges: int) -> str:
    finals = "\n    UNION ALL\n    ".join(
        f"SELECT CAST({i} AS INT) AS merge_rank, a AS lhs, b AS rhs, "
        f"a || b AS merged, cnt AS pair_freq FROM m{i}"
        for i in range(1, n_merges + 1)
    )
    return "WITH " + ",\n    ".join(_bpe_ctes(n_merges)) + "\n    " + finals


@register(
    "pipeline_bpe_train",
    oracle=_bpe_oracle(R.BPE_N_MERGES),
    tags=("text", "pipeline", "tokenizer"),
    doc="BPE tokenizer TRAINING on-engine: induce the first "
    f"{R.BPE_N_MERGES} merges from the corpus word-frequency table "
    "(chars as initial symbols). Merge application is ONE literal "
    "replace over a boundary-preserving '||' symbol encoding, so "
    "greedy left-to-right semantics (incl. back-to-back repeats) are "
    "bit-identical across engines; per round, one pair-count agg + a "
    "tie-broken argmax (the bounded driver fixpoint, as in connected "
    "components). The word table is vocabulary-bounded, never "
    "corpus-sized (operators/retrieval.bpe_train_merges).",
)
def pipeline_bpe_train(spark: SparkSession, sf: str):
    return R.bpe_train_merges(table(spark, sf, "documents"))


def _bpe_encode_oracle(n_merges: int) -> str:
    """Encode oracle: the training CTE chain, each m{i} padded with an
    impossible '~' pattern when empty (so a dry pair stream makes the
    replace a no-op instead of killing the cross join — mirroring the
    Spark side's 'apply only the collected merges'), then the same
    nested replaces over every document word and a per-doc
    re-aggregation of the position-ordered token stream."""
    ctes = _bpe_ctes(n_merges)
    for i in range(1, n_merges + 1):
        ctes.append(
            f"""mp{i} AS (
      SELECT a, b FROM m{i}
      UNION ALL SELECT '~', '~'
      WHERE NOT EXISTS (SELECT 1 FROM m{i}))"""
        )
    expr = (
        "'||' || array_to_string(list_filter(string_split(tok, ''), "
        "c -> c <> ''), '||') || '||'"
    )
    for i in range(1, n_merges + 1):
        expr = (
            f"replace({expr}, '|' || mp{i}.a || '||' || mp{i}.b || '|', "
            f"'|' || mp{i}.a || mp{i}.b || '|')"
        )
    crosses = " ".join(f"CROSS JOIN mp{i}" for i in range(1, n_merges + 1))
    ctes.append(f"""dwords AS (
      SELECT doc_id, u.wp, u.w AS tok FROM (
        SELECT doc_id, unnest(list_transform(
            range(1, len(toks) + 1),
            i -> {{'wp': i, 'w': toks[CAST(i AS INT)]}})) AS u
        FROM (SELECT doc_id,
                     coalesce({_SQL_TOKS}, CAST([] AS VARCHAR[])) AS toks
              FROM documents))
      WHERE regexp_full_match(u.w, '[a-z0-9]+'))""")
    ctes.append(f"""enc AS (
      SELECT doc_id, wp, {expr} AS s
      FROM dwords {crosses})""")
    ctes.append("""pw AS (
      SELECT doc_id, wp,
             len(list_filter(string_split_regex(s, '\\|\\|'),
                             x -> x <> '')) AS n_sym,
             array_to_string(list_filter(string_split_regex(s, '\\|\\|'),
                             x -> x <> ''), ' ') AS stream
      FROM enc)""")
    ctes.append("""pd AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
             CAST(sum(n_sym) AS BIGINT) AS n_bpe_tokens,
             md5(string_agg(stream, ' ' ORDER BY wp)) AS tokens_md5
      FROM pw GROUP BY doc_id)""")
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + """
    SELECT d.doc_id,
           CAST(coalesce(pd.n_words, 0) AS BIGINT) AS n_words,
           CAST(coalesce(pd.n_bpe_tokens, 0) AS BIGINT) AS n_bpe_tokens,
           coalesce(pd.tokens_md5, md5('')) AS tokens_md5
    FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id"""
    )


@register(
    "pipeline_bpe_encode",
    oracle=_bpe_encode_oracle(R.BPE_N_MERGES),
    tags=("text", "pipeline", "tokenizer"),
    doc="The train->encode loop of a real tokenizer: apply the "
    "corpus-trained BPE merges (pipeline_bpe_train) back to every "
    "document's words in training order — per-doc encodeable-word "
    "count, total BPE token count, and the md5 of the "
    "position-ordered token stream pinning every segmentation "
    "decision. The merge table is the bounded fixpoint output "
    "parameterizing narrow literal replaces; one doc_id re-agg "
    "beyond training (operators/retrieval.bpe_encode_stats).",
)
def pipeline_bpe_encode(spark: SparkSession, sf: str):
    return R.bpe_encode_stats(table(spark, sf, "documents"))


@register(
    "pipeline_webdataset_ingest",
    # The oracle replays the ustar block arithmetic exactly: tar size
    # = 512 * (2 trailer blocks + per member (1 header block +
    # ceil(size/512) data blocks)); the json member is the same
    # string concatenation the worker builds, so its length AND md5
    # are closed-form.
    oracle="""
    WITH m AS (
      SELECT doc_id,
             coalesce(octet_length(encode(text)), 0) AS txt_len,
             octet_length(encode(
               '{"lang": "' || coalesce(lang, '') || '", "source": "'
               || coalesce(source, '') || '"}')) AS json_len,
             md5(coalesce(text, '')) AS txt_md5,
             md5('{"lang": "' || coalesce(lang, '') || '", "source": "'
                 || coalesce(source, '') || '"}') AS json_md5
      FROM documents)
    SELECT doc_id, CAST(2 AS INT) AS n_members,
           -- ustar block arithmetic + the 20-block (10240-byte)
           -- RECORD padding tarfile applies to the archive tail
           CAST(10240 * CEIL(
                512 * (2 + 1 + CAST(CEIL(txt_len / 512.0) AS BIGINT)
                         + 1 + CAST(CEIL(json_len / 512.0) AS BIGINT))
                / 10240.0) AS INT) AS tar_bytes,
           txt_md5, json_md5,
           CAST(txt_len + json_len AS INT) AS n_payload_bytes
    FROM m
    """,
    tags=("pipeline", "multimodal"),
    doc="WebDataset-style shard ingestion: pack each doc as a REAL "
    "ustar archive ({id}.txt + {id}.json per the sample-naming "
    "convention, deterministic headers), read it back with tarfile, "
    "and verify — member count, EXACT tar size (512-byte member blocks + the 10240-byte record padding), and md5s "
    "of the recovered members, all replayed by the oracle in closed "
    "form. The training-shard ingest hop: tar blobs through Arrow, "
    "nothing on the driver (operators/multimodal.webdataset_ingest).",
)
def pipeline_webdataset_ingest(spark: SparkSession, sf: str):
    return M.webdataset_ingest(table(spark, sf, "documents"))


# coalesce BEFORE canonicalizing: NULL text shards like empty text
# (total shard assignment), matching the Spark side's coalesce.
_SQL_WDS_SHARD = sql_md5_hash64(
    r"lower(trim(regexp_replace(coalesce(text, ''), '\s+', ' ', 'g')))"
)


@register(
    "pipeline_webdataset_shards",
    # The export half: shard = content-hash % 16, ONE multi-sample
    # ustar per shard. The oracle replays the block arithmetic summed
    # over the shard's members and pins member ORDER via the md5 of
    # the texts concatenated in doc_id order.
    oracle=f"""
    WITH m AS (
      SELECT doc_id, coalesce(text, '') AS txt,
             CAST({_SQL_WDS_SHARD} % 16 AS BIGINT)
               AS shard_id,
             coalesce(octet_length(encode(text)), 0) AS txt_len,
             octet_length(encode(
               '{{"lang": "' || coalesce(lang, '') || '", "source": "'
               || coalesce(source, '') || '"}}')) AS json_len
      FROM documents)
    SELECT shard_id,
           COUNT(*) AS n_samples,
           2 * COUNT(*) AS n_members,
           CAST(10240 * CEIL(
                512 * (2 + SUM(1 + CAST(CEIL(txt_len / 512.0) AS BIGINT)
                             + 1 + CAST(CEIL(json_len / 512.0) AS BIGINT)))
                / 10240.0) AS BIGINT) AS tar_bytes,
           md5(string_agg(txt, '' ORDER BY doc_id)) AS payload_md5,
           TRUE AS verify_ok
    FROM m GROUP BY shard_id
    """,
    tags=("pipeline", "multimodal"),
    doc="WebDataset shard EXPORT (the ingest entry's write half): "
    "content-hash shard assignment, one deterministic multi-sample "
    "ustar per shard built by one task (applyInPandas over the shard "
    "group), read back and order-verified; shard stats — exact tar "
    "size by closed-form block arithmetic, md5 of the texts in "
    "member order — replayed by the oracle "
    "(operators/multimodal.webdataset_shards).",
)
def pipeline_webdataset_shards(spark: SparkSession, sf: str):
    return M.webdataset_shards(table(spark, sf, "documents"))


@register(
    "multimodal_webdataset_reader",
    # Every column is a closed form over doc_id: the image replays the
    # shared synthesis contract of the PPM entry, the audio the PCM16
    # WAV entry, the text member its own printable-ASCII ramp, and the
    # label/shard are modular arithmetic — so a demux misrouting (a
    # member fed to the wrong decoder, a sample split across keys, a
    # reordered shard) cannot hash-match.
    oracle="""
    WITH img AS (
      SELECT doc_id,
             CAST(4 + doc_id % 13 AS INT) AS width,
             CAST(2 + doc_id % 7 AS INT) AS height
      FROM documents),
    ik AS (
      SELECT doc_id, width, height,
             unnest(range(0, CAST(width AS BIGINT) * height * 3)) AS k
      FROM img),
    istat AS (
      SELECT doc_id, width, height,
             CAST(SUM((k + 1) * ((doc_id * 7 + k) % 256)) AS BIGINT)
               AS img_checksum
      FROM ik GROUP BY doc_id, width, height),
    aud AS (
      SELECT doc_id,
             CAST(1 + doc_id % 2 AS INT) AS n_channels,
             CAST(8000 + (doc_id % 3) * 4000 AS INT) AS sample_rate,
             CAST(16 + doc_id % 17 AS INT) AS n_frames
      FROM documents),
    ak AS (
      SELECT doc_id, n_channels, sample_rate, n_frames,
             unnest(range(0, CAST(n_frames AS BIGINT) * n_channels)) AS i
      FROM aud),
    astat AS (
      SELECT doc_id, n_channels, sample_rate, n_frames,
             CAST(SUM((i + 1) * (((doc_id * 11 + i * 97) % 65536)
                                 - 32768)) AS BIGINT) AS audio_checksum
      FROM ak GROUP BY doc_id, n_channels, sample_rate, n_frames),
    txt AS (
      SELECT doc_id, CAST(32 + doc_id % 41 AS INT) AS txt_len
      FROM documents),
    tk AS (
      SELECT doc_id, txt_len,
             unnest(range(0, CAST(txt_len AS BIGINT))) AS j
      FROM txt),
    tstat AS (
      SELECT doc_id, txt_len,
             CAST(SUM((j + 1) * (32 + ((doc_id * 3 + j * 7) % 95)))
                  AS BIGINT) AS txt_checksum
      FROM tk GROUP BY doc_id, txt_len)
    SELECT d.doc_id,
           CAST(d.doc_id // 8 AS BIGINT) AS shard_id,
           CAST(d.doc_id % 10 AS INT) AS label,
           i.width, i.height, i.img_checksum,
           a.n_channels, a.sample_rate, a.n_frames, a.audio_checksum,
           t.txt_len, t.txt_checksum,
           CAST(4 AS INT) AS n_members
    FROM documents d
    JOIN istat i ON d.doc_id = i.doc_id
    JOIN astat a ON d.doc_id = a.doc_id
    JOIN tstat t ON d.doc_id = t.doc_id
    """,
    tags=("pipeline", "multimodal"),
    doc="MULTIMODAL WebDataset shard round trip (r20; the text-only "
    "ingest/export twins' capability stretch): pack 8 samples per "
    "ustar shard, each sample four adjacent members under one key — "
    ".cls label, .ppm image, .txt text, .wav PCM16 audio — then demux "
    "every shard and route each member through the package's OWN "
    "codec parsers (decode_ppm, decode_wav) in one narrow Arrow map. "
    "Per-sample output: label, image dims + position-weighted pixel "
    "checksum, audio layout + position-weighted sample checksum, "
    "text length + byte checksum, member count. Strict demux: "
    "unknown extensions, split samples, duplicate or missing members "
    "all raise. One shuffle total (the export's shard grouping); the "
    "read half is shuffle-free — at 100 TB it is the map over "
    "object-storage shard blobs "
    "(operators/multimodal.decode_webdataset_mm_shard).",
)
def multimodal_webdataset_reader(spark: SparkSession, sf: str):
    return M.read_webdataset_mm_features(
        M.synthesize_webdataset_mm_shards(table(spark, sf, "documents"))
    )


@register(
    "pipeline_xz_bz2_ingest",
    oracle="""
    SELECT doc_id,
           CAST(coalesce(octet_length(encode(text)), 0) AS INT) AS n_raw,
           TRUE AS xz_ok, TRUE AS bz2_ok,
           md5(coalesce(text, '')) AS raw_md5
    FROM documents
    """,
    tags=("pipeline", "multimodal"),
    doc="The gzip_ingest twins for the other stdlib corpus codecs: "
    "each doc's text through a REAL .xz member (lzma container, "
    "CRC64) AND a real bzip2 member, decompressed back and verified "
    "— magic bytes + recovered-md5 pinned against the source column "
    "(operators/multimodal.xz_bz2_ingest).",
)
def pipeline_xz_bz2_ingest(spark: SparkSession, sf: str):
    return M.xz_bz2_ingest(table(spark, sf, "documents"))


@register(
    "pipeline_gzip_ingest",
    oracle="""
    SELECT doc_id,
           CAST(coalesce(octet_length(encode(text)), 0) AS INT) AS n_raw,
           TRUE AS is_gzip,
           md5(coalesce(text, '')) AS raw_md5
    FROM documents
    """,
    tags=("pipeline", "multimodal"),
    doc="Compressed-text ingestion: gzip each doc in the worker "
    "(stdlib zlib, real 10-byte header + CRC32 trailer), decompress "
    "it back, and verify — n_raw and the md5 of the RECOVERED bytes "
    "must equal what the oracle computes from the source column, so "
    "a corrupting codec hop cannot hash-match. One narrow Arrow "
    "stage, payloads never on the driver "
    "(operators/multimodal.gzip_ingest).",
)
def pipeline_gzip_ingest(spark: SparkSession, sf: str):
    return M.gzip_ingest(table(spark, sf, "documents"))


# ---------------------------------------------------------------------------
# SCD2 validity intervals (temporal-table snapshotting)
# ---------------------------------------------------------------------------


@register(
    "events_scd2_intervals",
    oracle="""
    WITH b AS (
      SELECT user_id, event_id, ts, event_type,
             lead(ts) OVER w AS next_ts,
             lead(event_id) OVER w AS next_event
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    iv AS (
      SELECT user_id, event_id, event_type,
             CAST(epoch_us(ts) AS BIGINT) AS valid_from_us,
             CAST(epoch_us(next_ts) AS BIGINT) AS valid_to_us,
             next_ts IS NULL AS is_current,
             CASE WHEN next_ts IS NOT NULL
                  THEN CAST(epoch_us(next_ts) - epoch_us(ts) AS BIGINT)
             END AS duration_us
      FROM b)
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_versions,
           CAST(sum(CASE WHEN is_current THEN 1 ELSE 0 END) AS BIGINT)
               AS n_current,
           CAST(sum(coalesce(duration_us, 0)) AS BIGINT)
               AS closed_span_us,
           CAST(min(valid_from_us) AS BIGINT) AS first_from_us,
           CAST(max(valid_from_us) AS BIGINT) AS last_from_us
    FROM iv GROUP BY user_id
    """,
    tags=("temporal", "window"),
    doc="SCD2 (slowly-changing-dimension type 2) validity intervals: "
    "each event version gets [valid_from, valid_to) from lead() over "
    "the user's (ts, event_id)-ordered stream, the open interval "
    "marked current — the temporal-table snapshotting primitive. "
    "Per-user audit output in exact epoch-microseconds (one window "
    "pass + one agg on the natural user key; interval construction "
    "itself is shuffle-free past the window).",
)
def events_scd2_intervals(spark: SparkSession, sf: str):
    e = table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    b = e.select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("from_us"),
        F.unix_micros(F.lead("ts").over(w)).alias("to_us"),
    )
    iv = b.select(
        "user_id",
        F.col("to_us").isNull().alias("is_current"),
        "from_us",
        F.when(
            F.col("to_us").isNotNull(), F.col("to_us") - F.col("from_us")
        ).alias("duration_us"),
    )
    return iv.groupBy("user_id").agg(
        F.count("*").alias("n_versions"),
        F.sum(F.col("is_current").cast("long")).alias("n_current"),
        F.sum(F.coalesce("duration_us", F.lit(0).cast("long"))).alias(
            "closed_span_us"
        ),
        F.min("from_us").alias("first_from_us"),
        F.max("from_us").alias("last_from_us"),
    )


# ---------------------------------------------------------------------------
# Flagship v2: classifier -> segment-dedup -> token-budget, one plan
# ---------------------------------------------------------------------------

V2_BUDGET = 40  # per-source token budget for the post-filter selection


@register(
    "pipeline_curation_v2",
    oracle=f"""
    WITH {_SQL_CLS_FEATURES},
    kd AS (
      SELECT d.doc_id, d.text, d.source, g.margin
      FROM documents d JOIN g ON d.doc_id = g.doc_id
      WHERE g.margin > 0),
    t2 AS (
      SELECT doc_id,
             coalesce({_SQL_TOKS}, CAST([] AS VARCHAR[])) AS toks
      FROM kd),
    s2 AS (
      SELECT doc_id,
             CAST((len(toks) + {_SEG - 1}) // {_SEG} AS INT) AS n_segs,
             list_transform(
               range(0, (len(toks) + {_SEG - 1}) // {_SEG}),
               i -> array_to_string(
                 list_slice(toks, CAST(i * {_SEG} + 1 AS INT),
                            CAST(i * {_SEG} + {_SEG} AS INT)), ' ')) AS segs
      FROM t2),
    e2 AS (
      SELECT doc_id, u.s AS seg FROM (
        SELECT doc_id, unnest(list_transform(
            range(1, len(segs) + 1),
            i -> {{'i': i, 's': segs[CAST(i AS INT)]}})) AS u
        FROM s2)),
    h2 AS (SELECT doc_id, md5(seg) AS hh FROM e2),
    c2 AS (SELECT hh, count(*) AS cnt FROM h2 GROUP BY hh),
    r2 AS (
      SELECT h2.doc_id, CAST(count(*) AS BIGINT) AS n_kept
      FROM h2 JOIN c2 ON h2.hh = c2.hh WHERE c2.cnt = 1
      GROUP BY h2.doc_id),
    sv AS (
      SELECT s2.doc_id, s2.n_segs,
             CAST(coalesce(r2.n_kept, 0) AS BIGINT) AS n_kept
      FROM s2 LEFT JOIN r2 ON s2.doc_id = r2.doc_id
      WHERE 2 * coalesce(r2.n_kept, 0) >= s2.n_segs),
    bt AS (
      SELECT kd.doc_id, kd.source, kd.margin, sv.n_segs, sv.n_kept,
             CAST(coalesce(len({_SQL_TOKS}), 0) AS INT) AS n_toks,
             coalesce({sql_md5_hash64("'budget|' || text")},
                      CAST(-1 AS BIGINT)) AS ok
      FROM kd JOIN sv ON kd.doc_id = sv.doc_id),
    wn AS (
      SELECT doc_id, source, margin, n_segs, n_kept, n_toks,
             CAST(SUM(n_toks) OVER (
               PARTITION BY source ORDER BY ok, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS cum_toks
      FROM bt)
    SELECT doc_id, source, margin, n_segs, n_kept, n_toks, cum_toks,
           cum_toks <= {V2_BUDGET} AS selected
    FROM wn
    """,
    tags=("pipeline", "dedup", "text"),
    doc="Round-7 flagship DAG: quality-classifier gate (margin > 0) "
    "-> segment-level dedup over the SURVIVING corpus (docs keeping a "
    "majority of their segments advance) -> per-source token-budget "
    "selection in salted-hash order — three round-7 operators "
    "composed as ONE declarative plan, no driver materialization; "
    "the oracle mirrors the same CTE chain. Each stage's shuffles "
    "keep their individual keys (uniform segment hash; natural "
    "source key), so the composition adds no new scale hazard.",
)
def pipeline_curation_v2(spark: SparkSession, sf: str):
    docs = table(spark, sf, "documents")
    g = T.margin_features(docs).where(F.col("margin") > 0).select(
        "doc_id", "margin"
    )
    # The gated corpus feeds THREE consumers (segment explode, the
    # doc-level reassembly join, and the budget projection), each of
    # which re-derives it: persisting it measured no faster at sf0.1
    # in interleaved pairs, and a persist nobody releases pins the
    # frame in the session's cache.
    kd = docs.join(g, "doc_id")
    seg = D.segment_dedup(kd)
    sv = seg.where(2 * F.col("n_kept") >= F.col("n_segs")).select(
        "doc_id", "n_segs", "n_kept"
    )
    n_toks = F.coalesce(F.size(T.tokens_col()), F.lit(0)).alias("n_toks")
    ok = F.coalesce(
        T.md5_hash64(F.concat(F.lit("budget|"), F.col("text"))),
        F.lit(-1).cast("long"),
    ).alias("ok")
    bt = kd.select("doc_id", "source", "margin", "text").join(
        sv, "doc_id"
    ).select("doc_id", "source", "margin", "n_segs", "n_kept", n_toks, ok)
    w = (
        Window.partitionBy("source")
        .orderBy("ok", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = bt.select(
        "doc_id", "source", "margin", "n_segs", "n_kept", "n_toks",
        F.sum("n_toks").over(w).alias("cum_toks"),
    )
    return wn.withColumn("selected", F.col("cum_toks") <= V2_BUDGET)


# ---------------------------------------------------------------------------
# Declarative data-quality checks (the dbt-test / expectations shape)
# ---------------------------------------------------------------------------


@register(
    "pipeline_quality_checks",
    oracle="""
    WITH a AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS v_null,
             CAST(sum(CASE WHEN l_quantity < 1 OR l_quantity > 50
                           THEN 1 ELSE 0 END) AS BIGINT) AS v_qty,
             CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 0.1
                           THEN 1 ELSE 0 END) AS BIGINT) AS v_disc
      FROM lineitem),
    d AS (
      SELECT CAST(coalesce(sum(c - 1), 0) AS BIGINT) AS v_dup,
             CAST(count(*) AS BIGINT) AS n_groups
      FROM (SELECT count(*) AS c FROM lineitem
            GROUP BY l_orderkey, l_linenumber)),
    fk AS (
      SELECT CAST(count(*) AS BIGINT) AS v_orphan
      FROM lineitem l
      WHERE NOT EXISTS (SELECT 1 FROM orders o
                        WHERE o.o_orderkey = l.l_orderkey)),
    sh AS (
      SELECT CAST(sum(CASE WHEN l.l_shipdate < o.o_orderdate
                           THEN 1 ELSE 0 END) AS BIGINT) AS v_early,
             CAST(count(*) AS BIGINT) AS n_joined
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
    SELECT 'pk_not_null' AS check_name, a.n AS n_checked,
           a.v_null AS n_violations, a.v_null = 0 AS passed FROM a
    UNION ALL
    SELECT 'quantity_in_1_50', a.n, a.v_qty, a.v_qty = 0 FROM a
    UNION ALL
    SELECT 'discount_in_0_01', a.n, a.v_disc, a.v_disc = 0 FROM a
    UNION ALL
    SELECT 'unique_order_line', d.n_groups, d.v_dup, d.v_dup = 0 FROM d
    UNION ALL
    SELECT 'fk_lineitem_orders', a.n, fk.v_orphan, fk.v_orphan = 0
    FROM a CROSS JOIN fk
    UNION ALL
    SELECT 'ship_after_order', sh.n_joined, sh.v_early, sh.v_early = 0
    FROM sh
    """,
    tags=("pipeline", "agg"),
    doc="Declarative data-quality gate (the dbt-test / expectations "
    "shape): six checks over the fact tables — PK non-null, value "
    "ranges, composite-key uniqueness, FK integrity (anti-join "
    "orphans), and a cross-table temporal invariant (ship date not "
    "before order date) — emitted as one (check, checked, violations, "
    "passed) report. Range/null checks FUSE into a single fact scan "
    "of conditional aggregates; uniqueness is one map-side-combined "
    "groupBy; the FK checks ride the co-partitioned orderkey join — "
    "the nightly warehouse-gate plan.",
)
def pipeline_quality_checks(spark: SparkSession, sf: str):
    li = table(spark, sf, "lineitem")
    orders = table(spark, sf, "orders")
    a = li.agg(
        F.count("*").alias("n"),
        F.sum(F.col("l_orderkey").isNull().cast("long")).alias("v_null"),
        F.sum(
            ((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50)).cast(
                "long"
            )
        ).alias("v_qty"),
        F.sum(
            ((F.col("l_discount") < 0) | (F.col("l_discount") > 0.1)).cast(
                "long"
            )
        ).alias("v_disc"),
    )
    d = (
        li.groupBy("l_orderkey", "l_linenumber")
        .agg(F.count("*").alias("c"))
        .agg(
            F.coalesce(F.sum(F.col("c") - 1), F.lit(0).cast("long")).alias(
                "v_dup"
            ),
            F.count("*").alias("n_groups"),
        )
    )
    fk = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"], "left_anti")
        .agg(F.count("*").alias("v_orphan"))
    )
    sh = li.join(orders, li["l_orderkey"] == orders["o_orderkey"]).agg(
        F.sum(
            (F.col("l_shipdate") < F.col("o_orderdate")).cast("long")
        ).alias("v_early"),
        F.count("*").alias("n_joined"),
    )

    def row(name, n_col, v_col, src):
        return src.select(
            F.lit(name).alias("check_name"),
            F.col(n_col).cast("long").alias("n_checked"),
            F.col(v_col).cast("long").alias("n_violations"),
            (F.col(v_col) == 0).alias("passed"),
        )

    af = a.crossJoin(F.broadcast(fk))
    return (
        row("pk_not_null", "n", "v_null", a)
        .unionAll(row("quantity_in_1_50", "n", "v_qty", a))
        .unionAll(row("discount_in_0_01", "n", "v_disc", a))
        .unionAll(row("unique_order_line", "n_groups", "v_dup", d))
        .unionAll(row("fk_lineitem_orders", "n", "v_orphan", af))
        .unionAll(row("ship_after_order", "n_joined", "v_early", sh))
    )


# ---------------------------------------------------------------------------
# Edit-distance near-dup verify (Levenshtein over LSH candidates)
# ---------------------------------------------------------------------------

from ..operators.text import HASH_P as _P  # noqa: E402
from .pipeline_ops import _SQL_CANON, _sql_shingles_cte  # noqa: E402


def _sql_edit_distance_oracle(max_dist: int) -> str:
    mins = ",\n             ".join(
        f"MIN(({a} * h + {b}) % {_P}) AS m{k}"
        for k, (a, b) in enumerate(zip(D.MINHASH_A, D.MINHASH_B))
    )
    band_selects = "\n      UNION ALL ".join(
        f"SELECT doc_id, {j} AS band, "
        f"m{2 * j} * {_P} + m{2 * j + 1} AS band_val FROM sig"
        for j in range(D.N_MINHASH // D.BAND_ROWS)
    )
    return f"""
    WITH {_sql_shingles_cte()},
    hashed AS (SELECT doc_id, {sql_md5_hash64('shingle')} AS h FROM sh),
    sig AS (
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
        ON x.band = y.band AND x.band_val = y.band_val
        AND x.doc_id < y.doc_id
    ),
    canon AS (SELECT doc_id, {_SQL_CANON} AS ct FROM documents)
    SELECT c.doc_a, c.doc_b,
           CAST(levenshtein(a.ct, b.ct) AS INT) AS edit_dist,
           levenshtein(a.ct, b.ct) <= {max_dist} AS is_near
    FROM cand c
    JOIN canon a ON a.doc_id = c.doc_a
    JOIN canon b ON b.doc_id = c.doc_b
    """


@register(
    "dedup_edit_distance",
    oracle=_sql_edit_distance_oracle(D.EDIT_NEAR_DIST),
    tags=("dedup",),
    doc="Edit-distance near-dup verify over the SAME banded-LSH "
    "candidate set the Jaccard verifier uses: exact Levenshtein "
    "between canonical texts (both engines implement the identical "
    "DP, so the distance is integer-exact), near flag at 20 edits — "
    "the character-level complement catching small in-place edits "
    "Jaccard over-penalizes. The quadratic verifier only ever runs "
    "on LSH-bounded pairs (operators/dedup.edit_distance_dedup).",
)
def dedup_edit_distance(spark: SparkSession, sf: str):
    return D.edit_distance_dedup(table(spark, sf, "documents"))


# ---------------------------------------------------------------------------
# Running COUNT(DISTINCT) window (first-occurrence-flag rewrite)
# ---------------------------------------------------------------------------


@register(
    "events_running_distinct",
    oracle="""
    WITH f AS (
      SELECT event_id, user_id, ts, event_type,
             CASE WHEN row_number() OVER (
               PARTITION BY user_id, event_type
               ORDER BY ts, event_id) = 1 THEN 1 ELSE 0 END AS first_seen
      FROM events)
    SELECT event_id, user_id,
           CAST(first_seen = 1 AS BOOLEAN) AS is_first_of_type,
           CAST(SUM(first_seen) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS distinct_types_so_far
    FROM f
    """,
    tags=("window",),
    doc="Running COUNT(DISTINCT event_type) per user — a window no "
    "engine supports natively — via the standard rewrite: flag each "
    "(user, type)'s FIRST occurrence with one row_number window, then "
    "a running sum of flags over the user timeline. Two window passes "
    "on keys that share the user prefix, so the second reuses the "
    "first's partitioning (one Exchange); exact at any scale because "
    "state per user is the flag sum, not a distinct-set.",
)
def events_running_distinct(spark: SparkSession, sf: str):
    e = table(spark, sf, "events")
    w1 = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    f = e.select(
        "event_id",
        "user_id",
        "ts",
        (F.row_number().over(w1) == 1).cast("int").alias("first_seen"),
    )
    w2 = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return f.select(
        "event_id",
        "user_id",
        (F.col("first_seen") == 1).alias("is_first_of_type"),
        F.sum("first_seen").over(w2).alias("distinct_types_so_far"),
    )


# ---------------------------------------------------------------------------
# Audio decimation on decoded PCM + the one-pass dataset card
# ---------------------------------------------------------------------------

RESAMPLE_FACTOR = 2


@register(
    "multimodal_audio_resample",
    # Channel-0 sample j sits at interleaved index j*ch; decimation
    # keeps j = 0, R, 2R, ... — same closed form as the decode oracle.
    oracle=f"""
    WITH prm AS (
      SELECT doc_id,
             CAST(1 + doc_id % 2 AS INT) AS n_channels,
             CAST(8000 + (doc_id % 3) * 4000 AS INT) AS sample_rate,
             CAST(16 + doc_id % 17 AS INT) AS f
      FROM documents),
    d AS (
      SELECT doc_id, n_channels, sample_rate, f,
             CAST((f + {RESAMPLE_FACTOR - 1}) // {RESAMPLE_FACTOR} AS INT)
                 AS n_out
      FROM prm),
    sm AS (
      SELECT doc_id, n_channels, sample_rate, n_out,
             unnest(range(0, CAST(n_out AS BIGINT))) AS j
      FROM d),
    v AS (
      SELECT doc_id, n_channels, sample_rate, n_out, j,
             ((doc_id * 11 + (j * {RESAMPLE_FACTOR} * n_channels) * 97)
              % 65536) - 32768 AS s
      FROM sm)
    SELECT doc_id,
           CAST(sample_rate // {RESAMPLE_FACTOR} AS INT) AS out_rate,
           n_out,
           CAST(SUM(s) AS BIGINT) AS out_sum,
           CAST(SUM((j + 1) * s) AS BIGINT) AS out_checksum
    FROM v GROUP BY doc_id, sample_rate, n_out
    """,
    tags=("multimodal",),
    doc="Real sample-rate reduction ON the decoded PCM: decimate "
    "channel 0 by 2 (keep every other sample), halving the nominal "
    "rate — the naive-resample primitive under any anti-aliased "
    "resampler — with a position-weighted checksum pinning which "
    "samples were kept. One more numpy step in the same narrow Arrow "
    "map as the decode.",
)
def multimodal_audio_resample(spark: SparkSession, sf: str):
    from collections.abc import Iterator as _It

    import pandas as pd  # noqa: F401
    import numpy as np  # noqa: F401

    media = M.synthesize_media(table(spark, sf, "documents"), "wav")
    from ..engine import ship_package

    def _run(batch_iter):
        import numpy as np
        import pandas as pd

        for pdf in batch_iter:
            rows = []
            for did, payload in zip(pdf["doc_id"], pdf["payload"]):
                ch, sr, _bits, samples = M.decode_wav(bytes(payload))
                ch0 = samples[0::ch].astype(np.int64)
                out = ch0[::RESAMPLE_FACTOR]
                rows.append(
                    (
                        int(did), sr // RESAMPLE_FACTOR, len(out),
                        int(out.sum()),
                        int(((np.arange(len(out), dtype=np.int64) + 1)
                             * out).sum()),
                    )
                )
            o = pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "out_rate", "n_out", "out_sum",
                    "out_checksum",
                ],
            )
            for c, t in (("doc_id", "int64"), ("out_rate", "int32"),
                         ("n_out", "int32"), ("out_sum", "int64"),
                         ("out_checksum", "int64")):
                o[c] = o[c].astype(t)
            yield o

    ship_package(spark)
    return media.mapInPandas(
        _run,
        schema="doc_id long, out_rate int, n_out int, out_sum long, "
        "out_checksum long",
    )


@register(
    "pipeline_dataset_card",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source, lang,
             CAST(coalesce(len({_SQL_TOKS}), 0) AS BIGINT) AS n_toks,
             CAST(coalesce(length(text), 0) AS BIGINT) AS n_ch
      FROM documents)
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(sum(n_toks) AS BIGINT) AS total_tokens,
           CAST(sum(n_ch) AS BIGINT) AS total_chars,
           CAST(CASE WHEN count(*) > 0
                     THEN sum(n_toks) * 1000 // count(*)
                     ELSE 0 END AS BIGINT) AS mean_tokens_milli,
           CAST(min(n_toks) AS BIGINT) AS min_tokens,
           CAST(max(n_toks) AS BIGINT) AS max_tokens
    FROM t
    """,
    tags=("pipeline", "agg"),
    doc="The dataset card in one scan: corpus-level documentation "
    "metadata (doc/source/language counts, token and char totals, "
    "exact per-mille mean, token-length extremes) as a single "
    "map-side-combined aggregate — what every released training set "
    "publishes, computed on-engine.",
)
def pipeline_dataset_card(spark: SparkSession, sf: str):
    docs = table(spark, sf, "documents")
    n_toks = F.coalesce(F.size(T.tokens_col()), F.lit(0)).cast("long")
    n_ch = F.coalesce(F.length("text"), F.lit(0)).cast("long")
    t = docs.select(
        "source", "lang", n_toks.alias("n_toks"), n_ch.alias("n_ch")
    )
    cnt = F.count("*")
    return t.agg(
        cnt.alias("n_docs"),
        F.countDistinct("source").alias("n_sources"),
        F.countDistinct("lang").alias("n_langs"),
        F.sum("n_toks").alias("total_tokens"),
        F.sum("n_ch").alias("total_chars"),
        F.when(cnt > 0, F.floor((F.sum("n_toks") * 1000) / cnt))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("mean_tokens_milli"),
        F.min("n_toks").alias("min_tokens"),
        F.max("n_toks").alias("max_tokens"),
    )


# ---------------------------------------------------------------------------
# Cross-source overlap matrix (pairwise contamination audit)
# ---------------------------------------------------------------------------


@register(
    "pipeline_source_overlap",
    oracle=f"""
    WITH {_sql_shingles_cte()},
    hs AS (
      SELECT DISTINCT {sql_md5_hash64('sh.shingle')} AS h, d.source
      FROM sh JOIN documents d ON sh.doc_id = d.doc_id)
    SELECT a.source AS src_a, b.source AS src_b,
           CAST(count(*) AS BIGINT) AS n_shared
    FROM hs a JOIN hs b ON a.h = b.h AND a.source < b.source
    GROUP BY a.source, b.source
    """,
    tags=("dedup", "pipeline"),
    doc="Cross-source overlap matrix (the pairwise contamination "
    "audit behind dataset mixing decisions): for every source pair, "
    "the number of distinct word-3-gram shingle hashes they share. "
    "The join is on the uniform shingle hash after per-source "
    "DISTINCT, and fan-out per hash is bounded by the source count "
    "squared — never by corpus volume; output is sources x sources.",
)
def pipeline_source_overlap(spark: SparkSession, sf: str):
    docs = table(spark, sf, "documents")
    sh = D.shingles(docs)
    hs = (
        sh.join(docs.select("doc_id", "source"), "doc_id")
        .select(T.md5_hash64(F.col("shingle")).alias("h"), "source")
        .distinct()
    )
    a = hs.select(F.col("h"), F.col("source").alias("src_a"))
    b = hs.select(F.col("h"), F.col("source").alias("src_b"))
    return (
        a.join(b, "h")
        .where(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count("*").alias("n_shared"))
    )


# ---------------------------------------------------------------------------
# Hourly unique users + RFM customer segmentation
# ---------------------------------------------------------------------------


@register(
    "events_hourly_uniques",
    oracle="""
    SELECT strftime(ts, '%Y-%m-%d') AS day,
           CAST(extract(hour FROM ts) AS INT) AS hour,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(count(*) AS BIGINT) AS n_events
    FROM events
    GROUP BY 1, 2
    """,
    tags=("agg", "temporal"),
    doc="Exact distinct users per hour — the dashboard uniques "
    "primitive the approx-HLL entries sketch, computed exactly: one "
    "two-phase distinct aggregation keyed on (day, hour), output "
    "bounded by the time span. At volumes where exactness stops "
    "paying, agg_hll_sketch_union is the drop-in sketch twin.",
)
def events_hourly_uniques(spark: SparkSession, sf: str):
    e = table(spark, sf, "events")
    return (
        e.select(
            F.date_format("ts", "yyyy-MM-dd").alias("day"),
            F.hour("ts").alias("hour"),
            "user_id",
        )
        .groupBy("day", "hour")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count("*").alias("n_events"),
        )
    )


@register(
    "orders_rfm",
    oracle="""
    WITH mx AS (SELECT max(o_orderdate) AS d FROM orders),
    r AS (
      SELECT o.o_custkey AS custkey,
             CAST(datediff('day', max(o.o_orderdate), mx.d) AS BIGINT)
                 AS recency_days,
             CAST(count(*) AS BIGINT) AS frequency,
             CAST(sum(CAST(floor(o.o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS monetary_cents
      FROM orders o CROSS JOIN mx
      GROUP BY o.o_custkey, mx.d)
    SELECT custkey, recency_days, frequency, monetary_cents,
           recency_days <= 30 AND frequency >= 3 AS is_active_repeat
    FROM r
    """,
    tags=("agg", "temporal"),
    doc="RFM customer segmentation (recency / frequency / monetary): "
    "per-customer days since last order (against the corpus max date "
    "— one broadcast scalar), order count, and exact cents total, "
    "with an active-repeat flag. One agg on the natural customer key "
    "after the 1-row broadcast; the behavioral-segmentation "
    "primitive under every CRM cohort.",
)
def orders_rfm(spark: SparkSession, sf: str):
    o = table(spark, sf, "orders")
    mx = o.agg(F.max("o_orderdate").alias("d"))
    r = (
        o.crossJoin(F.broadcast(mx))
        .groupBy("o_custkey", "d")
        .agg(
            F.datediff(F.first("d"), F.max("o_orderdate"))
            .cast("long")
            .alias("recency_days"),
            F.count("*").alias("frequency"),
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias(
                "monetary_cents"
            ),
        )
    )
    return r.select(
        F.col("o_custkey").alias("custkey"),
        "recency_days",
        "frequency",
        "monetary_cents",
        ((F.col("recency_days") <= 30) & (F.col("frequency") >= 3)).alias(
            "is_active_repeat"
        ),
    )


# ---------------------------------------------------------------------------
# DAU / WAU stickiness (sliding-window distinct rewrite)
# ---------------------------------------------------------------------------


@register(
    "events_dau_wau",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
    bounds AS (SELECT max(day) AS max_day FROM ud),
    contrib AS (
      SELECT DISTINCT u.user_id,
             u.day + CAST(o.o AS INT) AS window_day
      FROM ud u
      CROSS JOIN (SELECT unnest(range(0, 7)) AS o) o
      CROSS JOIN bounds b
      WHERE u.day + CAST(o.o AS INT) <= b.max_day),
    wau AS (
      SELECT window_day AS day, CAST(count(*) AS BIGINT) AS wau
      FROM contrib GROUP BY window_day),
    dau AS (
      SELECT day, CAST(count(*) AS BIGINT) AS dau FROM ud GROUP BY day)
    SELECT strftime(w.day, '%Y-%m-%d') AS day,
           coalesce(d.dau, 0) AS dau, w.wau,
           CAST(1000 * coalesce(d.dau, 0) // w.wau AS BIGINT)
               AS stickiness_milli
    FROM wau w LEFT JOIN dau d ON w.day = d.day
    """,
    tags=("agg", "temporal"),
    doc="DAU/WAU stickiness per day, exact, via per-user interval "
    "deltas: the distinct (user, active-day) pairs are segmented "
    "per user wherever the gap to the previous active day exceeds "
    "the 7-day window (a lag + running-sum window on the user key), "
    "each segment contributes ONE coverage interval "
    "[first_day, last_day+6] as a +1/-1 delta pair, and WAU(day) is "
    "the prefix sum of deltas over the calendar spine. The (user, "
    "day) domain crosses the network ONCE (the user-window shuffle) "
    "— the naive sliding-window-distinct rewrite (the SQL oracle) "
    "explodes every pair x7 and re-distincts, 7x the exchange "
    "volume. At 1M events both shapes are dispatch-floor-bound "
    "(~1.4 s, identical hashes); the 7x exchange reduction is the "
    "cluster-scale claim. The final prefix sum runs on one "
    "partition of <= calendar-days rows — bounded by the DATE "
    "RANGE, not data volume (same argument as recursive_date_spine). "
    "Exact per-mille stickiness; the product-analytics engagement "
    "primitive.",
)
def events_dau_wau(spark: SparkSession, sf: str):
    e = table(spark, sf, "events")
    ud = e.select("user_id", F.col("ts").cast("date").alias("day")).distinct()
    bounds = ud.agg(
        F.max("day").alias("max_day"), F.min("day").alias("min_day")
    )
    w = Window.partitionBy("user_id").orderBy("day")
    seg = ud.select(
        "user_id",
        "day",
        F.coalesce(
            (F.datediff(F.col("day"), F.lag("day").over(w)) > 6).cast("int"),
            F.lit(1),
        ).alias("new_seg"),
    ).select(
        "user_id",
        "day",
        F.sum("new_seg").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("seg_id"),
    )
    intervals = seg.groupBy("user_id", "seg_id").agg(
        F.min("day").alias("start"),
        F.date_add(F.max("day"), 6).alias("end"),
    )
    deltas = intervals.select(
        F.col("start").alias("day"), F.lit(1).alias("delta")
    ).unionAll(
        intervals.select(
            F.date_add(F.col("end"), 1).alias("day"),
            F.lit(-1).alias("delta"),
        )
    ).groupBy("day").agg(F.sum("delta").alias("delta"))
    spine = bounds.select(
        F.explode(
            F.sequence(F.col("min_day"), F.col("max_day"))
        ).alias("window_day")
    )
    cover = (
        spine.join(deltas, spine["window_day"] == deltas["day"], "left")
        .select("window_day", F.coalesce("delta", F.lit(0)).alias("delta"))
        .withColumn(
            "wau",
            F.sum("delta").over(
                Window.orderBy("window_day").rowsBetween(
                    Window.unboundedPreceding, 0
                )
            ),
        )
    )
    wau = cover.where(F.col("wau") > 0).select("window_day", "wau")
    dau = ud.groupBy("day").agg(F.count("*").alias("dau"))
    j = wau.join(dau, wau["window_day"] == dau["day"], "left")
    return j.select(
        F.date_format("window_day", "yyyy-MM-dd").alias("day"),
        F.coalesce("dau", F.lit(0).cast("long")).alias("dau"),
        "wau",
        F.floor(
            (F.lit(1000) * F.coalesce("dau", F.lit(0).cast("long")))
            / F.col("wau")
        )
        .cast("long")
        .alias("stickiness_milli"),
    )


@register(
    "multimodal_flip_augment",
    # Flipped pixel at flat index k = 3*(y*w + x) + c reads the source
    # at x' = w-1-x: val = (doc_id*7 + 3*(y*w + (w-1-x)) + c) % 256.
    oracle="""
    WITH dims AS (
      SELECT doc_id,
             CAST(4 + doc_id % 13 AS INT) AS width,
             CAST(2 + doc_id % 7 AS INT) AS height
      FROM documents),
    px AS (
      SELECT doc_id, width, height,
             unnest(range(0, CAST(width AS BIGINT) * height * 3)) AS k
      FROM dims),
    v AS (
      SELECT doc_id, width, height, k,
             (doc_id * 7
              + 3 * (((k // 3) // width) * width
                     + (width - 1 - (k // 3) % width))
              + k % 3) % 256 AS val
      FROM px)
    SELECT doc_id, width, height,
           CAST(SUM((k + 1) * val) AS BIGINT) AS flip_checksum,
           TRUE AS sum_preserved
    FROM v GROUP BY doc_id, width, height
    """,
    tags=("multimodal",),
    doc="Real augmentation ON the decoded pixels: horizontal flip "
    "with a position-weighted checksum over the MIRRORED array (the "
    "oracle evaluates the mirrored index arithmetic, so a flip that "
    "mirrors the wrong axis or forgets the channel triple cannot "
    "hash-match) plus the flip-preserves-sum invariant. Decode + "
    "augment in ONE narrow Arrow map "
    "(operators/multimodal.image_flip_augment).",
)
def multimodal_flip_augment(spark: SparkSession, sf: str):
    return M.image_flip_augment(
        M.synthesize_media(table(spark, sf, "documents"), "bmp")
    )


@register(
    "orders_basket_size_distribution",
    oracle="""
    WITH b AS (
      SELECT l_orderkey, CAST(count(*) AS BIGINT) AS basket
      FROM lineitem GROUP BY l_orderkey)
    SELECT basket,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(basket) AS BIGINT) AS n_lines
    FROM b GROUP BY basket
    """,
    tags=("agg",),
    doc="Basket-size distribution: lines per order, then orders per "
    "basket size — the two-level re-aggregation (group, then group "
    "the group sizes) behind every 'distribution of group sizes' "
    "question. First agg shuffles on the co-partitioned orderkey "
    "(no planner exchange on the keyed layout), second is "
    "tiny-domain; output bounded by the max basket size.",
)
def orders_basket_size_distribution(spark: SparkSession, sf: str):
    li = table(spark, sf, "lineitem")
    b = li.groupBy("l_orderkey").agg(F.count("*").alias("basket"))
    return b.groupBy("basket").agg(
        F.count("*").alias("n_orders"),
        F.sum("basket").alias("n_lines"),
    )


@register(
    "parts_pareto",
    oracle="""
    WITH r AS (
      SELECT l_partkey,
             CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS rev_cents
      FROM lineitem GROUP BY l_partkey),
    w AS (
      SELECT l_partkey, rev_cents,
             CAST(row_number() OVER
               (ORDER BY rev_cents DESC, l_partkey ASC) AS INT) AS rnk,
             CAST(SUM(rev_cents) OVER (
               ORDER BY rev_cents DESC, l_partkey ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS cum_cents,
             CAST(SUM(rev_cents) OVER (
               ORDER BY rev_cents DESC, l_partkey ASC
               ROWS BETWEEN UNBOUNDED PRECEDING
               AND UNBOUNDED FOLLOWING) AS BIGINT) AS total_cents
      FROM r)
    SELECT l_partkey, rev_cents, rnk, cum_cents,
           cum_cents * 100 <= total_cents * 80 AS in_top80
    FROM w
    """,
    tags=("agg", "window"),
    doc="Pareto revenue analysis: exact cents revenue per part, then "
    "rank, running total, and the 80%-of-revenue flag. The running "
    "sum is over the PER-PART aggregate, whose cardinality scales "
    "with SF (~200k×SF rows) — so instead of a single-partition "
    "global window, this is the scale-safe two-pass range-partitioned "
    "prefix sum: repartitionByRange on the sort key gives each of the "
    "P shuffle partitions a contiguous, ordered slice; pass 1 computes "
    "partition-LOCAL row numbers and cumsums in parallel; pass 2 "
    "aggregates one (count, sum) row per partition — P rows, bounded "
    "by the partition count, never by data — turns them into "
    "exclusive prefix offsets on the driver-sized frame, and "
    "broadcast-joins them back. Identical output to the global "
    "window at any scale; integer cross-multiplication keeps the "
    "80% cut exact.",
)
def parts_pareto(spark: SparkSession, sf: str):
    li = table(spark, sf, "lineitem")
    r = li.groupBy("l_partkey").agg(
        F.sum(F.floor(F.col("l_extendedprice") * 100).cast("long")).alias(
            "rev_cents"
        )
    )
    # Pass 0: range-partition on the global sort key (explicit
    # numPartitions pins the exchange against AQE coalescing) so
    # partition i holds keys strictly ordered before partition i+1,
    # then stamp each row with its slice id. The stamped table is
    # eagerly localCheckpoint-ed: repartitionByRange SAMPLES its
    # boundaries, so pid assignment is nondeterministic across
    # recomputations — both downstream branches (the P-row offsets
    # frame and the probe side it broadcast-joins back to) must read
    # the SAME materialized assignment rather than rely on exchange
    # reuse firing. It also caches the one table two branches scan.
    nparts = spark.sparkContext.defaultParallelism
    ranged = (
        r.repartitionByRange(nparts, F.desc("rev_cents"), F.asc("l_partkey"))
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    # Pass 1: per-slice local rank + local running sum — the window is
    # partitioned on pid, so every slice sorts independently in
    # parallel (no single-partition global sort anywhere).
    wloc = Window.partitionBy("pid").orderBy(
        F.desc("rev_cents"), F.asc("l_partkey")
    )
    wcum = wloc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    local = ranged.select(
        "l_partkey",
        "rev_cents",
        "pid",
        F.row_number().over(wloc).alias("loc_rn"),
        F.sum("rev_cents").over(wcum).alias("loc_cum"),
    )
    # Pass 2: one (count, sum) row per slice → exclusive prefix
    # offsets + grand total. P rows (the partition count), so the
    # ordered window and the broadcast are constant-size.
    per = local.groupBy("pid").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("rev_cents").alias("s")
    )
    wpid = Window.orderBy("pid")
    wall = wpid.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    offs = per.select(
        "pid",
        F.coalesce(
            F.sum("cnt").over(
                wpid.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("prior_cnt"),
        F.coalesce(
            F.sum("s").over(
                wpid.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("prior_sum"),
        F.sum("s").over(wall).alias("total_cents"),
    )
    merged = local.join(F.broadcast(offs), "pid")
    return merged.select(
        "l_partkey",
        "rev_cents",
        (F.col("prior_cnt") + F.col("loc_rn")).cast("int").alias("rnk"),
        (F.col("prior_sum") + F.col("loc_cum")).alias("cum_cents"),
        (
            (F.col("prior_sum") + F.col("loc_cum")) * 100
            <= F.col("total_cents") * 80
        ).alias("in_top80"),
    )


@register(
    "customer_order_gaps",
    oracle="""
    WITH g AS (
      SELECT o_custkey,
             CAST(datediff('day',
               lag(o_orderdate) OVER (PARTITION BY o_custkey
                                      ORDER BY o_orderdate, o_orderkey),
               o_orderdate) AS BIGINT) AS gap_days
      FROM orders)
    SELECT o_custkey AS custkey,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(count(gap_days) AS BIGINT) AS n_gaps,
           CAST(sum(coalesce(gap_days, 0)) AS BIGINT) AS total_gap_days,
           CAST(max(gap_days) AS BIGINT) AS max_gap_days,
           CAST(CASE WHEN count(gap_days) > 0
                     THEN 1000 * sum(coalesce(gap_days, 0))
                          // count(gap_days)
                     ELSE 0 END AS BIGINT) AS mean_gap_milli
    FROM g GROUP BY o_custkey
    """,
    tags=("temporal", "window"),
    doc="Inter-order gaps per customer: lag() over each customer's "
    "(orderdate, orderkey)-ordered history, then exact per-mille mean "
    "and max gap in days — the repurchase-cadence primitive behind "
    "churn models. One window pass + one agg on the natural customer "
    "key; single-order customers report zero gaps, not NULL "
    "arithmetic.",
)
def customer_order_gaps(spark: SparkSession, sf: str):
    o = table(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    g = o.select(
        "o_custkey",
        F.datediff(
            F.col("o_orderdate"), F.lag("o_orderdate").over(w)
        ).cast("long").alias("gap_days"),
    )
    n_gaps = F.count("gap_days")
    total = F.sum(F.coalesce("gap_days", F.lit(0).cast("long")))
    return g.groupBy("o_custkey").agg(
        F.count("*").alias("n_orders"),
        n_gaps.alias("n_gaps"),
        total.alias("total_gap_days"),
        F.max("gap_days").alias("max_gap_days"),
        F.when(n_gaps > 0, F.floor((F.lit(1000) * total) / n_gaps))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("mean_gap_milli"),
    ).withColumnRenamed("o_custkey", "custkey")


# ---------------------------------------------------------------------------
# Round 12: bucketed incremental-dedup indexes (operators/dedup_index.py)
# ---------------------------------------------------------------------------

from ..operators import dedup_index as DI  # noqa: E402
from .pipeline_ops import _sql_minhash_incremental  # noqa: E402


def _index_tag(sf: str) -> str:
    """A filesystem/catalog-safe tag for the sf dir so each scale's
    index tables are distinct (the gate runs sf0.01 while the local
    sweep runs sf0.1 in the same warehouse namespace)."""
    import os
    import re as _re

    return _re.sub(
        r"[^0-9A-Za-z]+", "_", os.path.basename(os.path.normpath(sf))
    )


def _index_ns(spark: SparkSession, base: str) -> tuple[str, str]:
    """Application-scoped (table name, filesystem path) for a scratch
    index: the name embeds the sanitized applicationId and the path
    lives under THIS session's Spark warehouse dir, so two concurrent
    runs at the same sf can never share a location (ADVICE r13 — the
    previous fixed ``/tmp/spark_graft_idx/<name>`` raced: one run's
    ``_save_bucketed`` rmtree'd the index another run was reading,
    and a predictable world-shared /tmp prefix was being deleted on
    shared hosts). ``_save_bucketed`` still clears the location for
    same-session idempotence, but it is now uniquely this app's."""
    import os
    import re as _re

    app = _re.sub(
        r"[^0-9A-Za-z]+", "_", spark.sparkContext.applicationId
    )
    name = f"{base}_{app}"
    wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    if not DI._is_local_uri(wh):
        # Remote warehouse (hdfs://, s3a://, ...): build the location
        # with the URI intact — the index writes/clears go through the
        # session's Hadoop FileSystem (dedup_index._clear_location) —
        # and skip the mtime GC below, which only knows the local
        # filesystem (ADVICE r14: the old 'file:'-strip produced a
        # bogus local path here, so the GC no-op'd silently and the
        # rmtree could never clear the real location). Lifecycle of a
        # remote scratch prefix belongs to the index-maintenance job /
        # the store's own expiry rules, not to arbitrary sessions.
        return name, wh.rstrip("/") + "/spark_graft_idx/" + name
    wh = DI._strip_file_scheme(wh)
    # App-scoped names never self-overwrite across runs, so stale
    # siblings from finished apps would accumulate unboundedly.
    # GC rules: (a) NEVER touch this app's own dirs — matched by app
    # id, not by exact name, because write_band_index materializes
    # sibling dirs '{name}_bands'/'{name}_sets' under path_prefix;
    # (b) other apps' dirs only when untouched for a full day — mtime
    # is the liveness signal: builds and appends refresh it by writing
    # files, and PROBES refresh it explicitly (dedup_index.
    # _touch_liveness, ADVICE r14 — without that a concurrent app in a
    # read-only phase looked dead), so age really means a dead app.
    # Dead apps leave no catalog entries to drop: the in-memory
    # session catalog dies with them.
    parent = os.path.join(wh, "spark_graft_idx")
    try:
        import shutil
        import time

        cutoff = time.time() - 24 * 3600
        for d in os.listdir(parent):
            full = os.path.join(parent, d)
            if app not in d and os.path.isdir(full) \
                    and os.path.getmtime(full) < cutoff:
                shutil.rmtree(full, ignore_errors=True)
    except OSError:
        pass
    return name, os.path.join(parent, name)


# Shared by pipeline_incremental_dedup_indexed and
# pipeline_index_attach_recovery: the recovered index holds identical
# distinct fingerprints, so one oracle serves both (a fingerprint/
# canonicalization fix must change exactly one string).
_SQL_INCR_DEDUP_ORACLE = f"""
    WITH fp AS (
      SELECT doc_id, sha256({_SQL_CANON}) AS content_fp FROM documents),
    hist AS (SELECT DISTINCT content_fp FROM fp WHERE doc_id % 2 = 0),
    batch AS (
      SELECT content_fp, MIN(doc_id) AS keep_id,
             COUNT(*) AS batch_dup_cnt
      FROM fp WHERE doc_id % 2 = 1 GROUP BY content_fp)
    SELECT b.content_fp, b.keep_id, b.batch_dup_cnt
    FROM batch b
    WHERE NOT EXISTS (
      SELECT 1 FROM hist h WHERE h.content_fp = b.content_fp)
    """


@register(
    "pipeline_incremental_dedup_indexed",
    # Same semantics — and oracle shape — as pipeline_incremental_dedup:
    # the index holds DISTINCT history fingerprints, which leaves the
    # anti join's answer unchanged.
    oracle=_SQL_INCR_DEDUP_ORACLE,
    tags=("dedup",),
    doc="Incremental exact dedup against a PERSISTED fingerprint "
    "index bucketed+sorted on content_fp — the deployment shape "
    "SCALE.md assumes: the anti join reads history straight from its "
    "buckets (zero history-side Exchange, plan-asserted in "
    "tests/test_dedup_index.py); only the batch shuffles. The entry "
    "builds the index then probes, end to end "
    "(operators/dedup_index.py).",
)
def pipeline_incremental_dedup_indexed(spark: SparkSession, sf: str):
    docs = table(spark, sf, "documents")
    name, path = _index_ns(spark, f"incr_fp_idx_{_index_tag(sf)}")
    DI.write_fingerprint_index(
        docs.filter(F.col("doc_id") % 2 == 0),
        name,
        path=path,
    )
    return DI.incremental_dedup_indexed(
        spark, docs.filter(F.col("doc_id") % 2 == 1), name
    )


@register(
    "pipeline_incremental_minhash_indexed",
    oracle=_sql_minhash_incremental(0.2),
    tags=("dedup",),
    doc="Incremental NEAR-dedup against a PERSISTED two-table band "
    "index: {prefix}_bands (doc_id, band, band_val) bucketed on the "
    "probe key and {prefix}_sets (doc_id, sh_arr, n_sh) bucketed on "
    "doc_id — so the LSH probe reads history bands exchange-free AND "
    "the shingle-hash sets are fetched only for candidates that "
    "actually collide (the set payload never rides the band shuffle; "
    "both properties plan-asserted in tests/test_dedup_index.py). "
    "Same constants and verify math as pipeline_incremental_minhash, "
    "hence the same oracle (operators/dedup_index.py).",
)
def pipeline_incremental_minhash_indexed(spark: SparkSession, sf: str):
    docs = table(spark, sf, "documents")
    prefix, path_prefix = _index_ns(
        spark, f"incr_band_idx_{_index_tag(sf)}"
    )
    DI.write_band_index(
        docs.filter(F.col("doc_id") % 2 == 0),
        prefix,
        path_prefix=path_prefix,
    )
    return DI.incremental_minhash_indexed(
        spark, docs.filter(F.col("doc_id") % 2 == 1), prefix, threshold=0.2
    )


from .pipeline_ops2 import _sql_ivf_multiprobe  # noqa: E402


@register(
    "pipeline_incremental_ann_indexed",
    # Identical result contract to ann_ivf_multiprobe: the persisted
    # index holds every vector's rank-1 cell against the SAME frozen
    # centroids (built from the even half, odd half appended — evens
    # ∪ odds = the full corpus), so the probe answers exactly what
    # the one-shot multiprobe computes. Same oracle, by construction.
    oracle=_sql_ivf_multiprobe(),
    tags=("similarity",),
    doc="ANN top-5 (n_probe=2) against a PERSISTED IVF index: the "
    "coded corpus lives in a parquet table bucketed on cell, built "
    "from half the vectors and INCREMENTALLY appended with the rest "
    "(frozen centroids — the dedup_index maintenance loop applied to "
    "vectors); the probe turns each query's 2 nearest cells into "
    "bucket-pruning IN literals, so the scan reads only the probed "
    "buckets (SelectedBucketsCount, plan-asserted in "
    "tests/test_ann_index.py) and the index side never shuffles "
    "(operators/ann_index.py).",
)
def pipeline_incremental_ann_indexed(spark: SparkSession, sf: str):
    from ..operators import ann_index as AI

    emb = table(spark, sf, "embeddings")
    cent_ids, cent_vecs = AI.ivf_centroids(emb, 16)
    name, path = _index_ns(spark, f"incr_ivf_idx_{_index_tag(sf)}")
    AI.write_ivf_index(
        emb.filter(F.col("vec_id") % 2 == 0), cent_ids, cent_vecs,
        name, path=path,
    )
    AI.append_to_ivf_index(
        emb.filter(F.col("vec_id") % 2 == 1), cent_ids, cent_vecs, name
    )
    return AI.ann_indexed_topk(
        spark, name, cent_ids, cent_vecs,
        emb.filter(F.col("vec_id") < 5), k=5, n_probe=2,
    )


@register(
    "ann_ivf_pq_persisted",
    # The persisted index holds every vector's (cell, codes) against
    # the SAME frozen generations — built from the even half, the odd
    # half appended, evens ∪ odds = the full corpus — so the ADC probe
    # answers exactly what the one-shot ivf_pq_topk computes: the
    # ann_ivf_pq oracle, by construction.
    oracle=_SQL_IVF_PQ,
    tags=("similarity",),
    doc="IVF-PQ search against a PERSISTED code table: "
    "(vec_id, cell, codes) bucketed on cell — ~85x smaller than the "
    "raw-vector IVF index, the 100 TB deployment shape where probes "
    "scan codes and never raw vectors. Built from the even half of "
    "the corpus and INCREMENTALLY appended with the odd half against "
    "the same frozen coarse+codebook generations (sidecar-recorded, "
    "generation-checked, retry-idempotent — the dedup_index "
    "maintenance loop applied to PQ codes); each query's probed "
    "cells become bucket-pruning IN literals and its m x ks ADC "
    "lookup table rides a broadcast Q-row frame, scored as a pure "
    "zip_with/element_at expression under WindowGroupLimit. Result "
    "contract identical to ann_ivf_pq by construction "
    "(operators/ann_index.ivf_pq_indexed_topk).",
)
def ann_ivf_pq_persisted(spark: SparkSession, sf: str):
    from ..operators import ann_index as AI

    emb = table(spark, sf, "embeddings")
    coarse, cent, sd = AI.ivf_pq_codebooks(emb, 16)
    name, path = _index_ns(spark, f"ivf_pq_idx_{_index_tag(sf)}")
    AI.write_ivf_pq_index(
        emb.filter(F.col("vec_id") % 2 == 0), coarse, cent, sd,
        name, path=path,
    )
    AI.append_to_ivf_pq_index(
        emb.filter(F.col("vec_id") % 2 == 1), coarse, cent, sd, name
    )
    return AI.ivf_pq_indexed_topk(
        spark, name, coarse, cent, sd,
        emb.filter(F.col("vec_id") < 3), k=5, n_probe=2,
    )


@register(
    "pipeline_index_attach_recovery",
    # Build the fingerprint index, lose the catalog entry (the restart
    # shape: files survive, the session's in-memory catalog doesn't),
    # re-register from the sidecar, probe. The recovered index holds
    # the same DISTINCT history fingerprints, so the oracle is the
    # incremental-dedup one unchanged.
    oracle=_SQL_INCR_DEDUP_ORACLE,
    tags=("dedup",),
    doc="Restart recovery of a persisted index, end to end under the "
    "gate: write_fingerprint_index -> DROP TABLE (the catalog dies "
    "with a session; the files and their _spark_graft_index.json "
    "sidecar survive) -> attach_bucketed re-registers from the "
    "sidecar's recorded bucket spec -> the probe answers exactly what "
    "the never-dropped index answers, still exchange-free on the "
    "history side (operators/dedup_index.py:attach_bucketed).",
)
def pipeline_index_attach_recovery(spark: SparkSession, sf: str):
    docs = table(spark, sf, "documents")
    name, path = _index_ns(spark, f"attach_fp_idx_{_index_tag(sf)}")
    DI.write_fingerprint_index(
        docs.filter(F.col("doc_id") % 2 == 0), name, path=path
    )
    spark.sql(f"DROP TABLE {name}")  # simulate the session restart
    DI.attach_bucketed(spark, name, path)
    return DI.incremental_dedup_indexed(
        spark, docs.filter(F.col("doc_id") % 2 == 1), name
    )
