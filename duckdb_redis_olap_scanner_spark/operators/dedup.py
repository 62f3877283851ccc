"""Deduplication operators for training-data pipelines.

Four families, all DataFrame→DataFrame and shuffle-based (no driver
materialization, no O(n²) full cross products — the candidate set is
always bounded by hashing/banding before any pairwise verification):

* exact dedup           — group by content fingerprint.
* MinHash + LSH         — shingle → K minhashes → banded buckets →
                          candidate pairs → exact Jaccard verify.
* SimHash               — 16-bit sign-of-weighted-bit-sums signature.
* n-gram Jaccard        — exact pairwise Jaccard on a bounded id range
                          (the LSH variant is the scale path; this is
                          the ground-truth oracle).

All hashing uses the deterministic polynomial char fold from
``operators.text`` so every stage is DuckDB-oracle-checkable.
At 100 TB scale: shingle explode shuffles on (shingle-hash), band
buckets shuffle on (band, value) — both well-distributed keys; skew
from ultra-common shingles is bounded by ``array_distinct`` per doc.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .text import HASH_P, canonical_text, md5_hash64, tokens_col
from .util import fan_out

# MinHash permutation constants (fixed, shared with the SQL oracle).
MINHASH_A = (730287973, 454362982, 271796861, 926029826, 585897002,
             132489022, 986712341, 557812901)
MINHASH_B = (867431905, 259453810, 715348902, 104329871, 672189345,
             392817465, 45891023, 783412956)
N_MINHASH = 8
BAND_ROWS = 2  # 4 bands of 2 rows
SIMHASH_BITS = 16


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Group by SHA-256 of the canonical text; keep the smallest doc_id.

    Returns (content_fp, keep_id, dup_cnt). At scale this is one hash
    aggregation — the canonical exact-dedup plan. The fingerprint IS
    a security boundary here: exact dedup runs over untrusted
    web-scale text, where an adversary who can construct two distinct
    documents with the same fingerprint gets one of them silently
    dropped (keep_id = min doc_id) — dedup poisoning. MD5 collisions
    are practically constructible, so despite its ~16% lower per-row
    hash cost the fingerprint is SHA-256 (collision-resistant); the
    non-adversarial 64-bit md5-fold stays confined to the MinHash /
    split-bucket paths where a collision only perturbs a sketch.
    """
    return (
        fan_out(docs, key="doc_id")
        .select("doc_id", F.sha2(canonical_text(), 256).alias("content_fp"))
        .groupBy("content_fp")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("dup_cnt"),
        )
    )


def incremental_dedup(history: DataFrame, incoming: DataFrame) -> DataFrame:
    """Dedup an incoming batch against an already-ingested corpus —
    the production shape of every continuously-fed training pipeline
    (yesterday's crawl is history; today's must not re-admit it).

    Two stages, both single-shuffle on the fingerprint: (1) collapse
    the batch to one row per content fingerprint (keep_id = min
    doc_id, batch_dup_cnt), (2) LEFT ANTI join against the history
    fingerprints on the same key — Catalyst reuses the group-by's
    hash partitioning for the join's left side, so the incremental
    pass costs one shuffle of the (small) batch plus one of the
    history projection. At 100 TB the history side is a pre-bucketed
    fingerprint index written by prior runs, making the anti join
    co-partitioned with zero history re-shuffle; same fingerprint
    choice (SHA-256) and adversarial rationale as
    :func:`exact_dedup`.

    Returns (content_fp, keep_id, batch_dup_cnt): the batch survivors
    that are genuinely new to the corpus.
    """
    fp = F.sha2(canonical_text(), 256).alias("content_fp")
    hist = history.select(fp)
    batch = (
        incoming.select("doc_id", fp)
        .groupBy("content_fp")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("batch_dup_cnt"),
        )
    )
    return batch.join(hist, "content_fp", "left_anti")


def _shingle_expr(n: int):
    """(token-array column ``t``) → distinct word n-gram shingle array.

    Shape matters: this is a ``zip_with`` fold over n shifted
    ``slice``s of the token array, NOT ``transform(sequence(...),
    i -> element_at(t, i+k))``. Indexing an OUTER array with a lambda
    variable inside a higher-order function drops the whole stage out
    of the fast path — measured 144 s vs 5 s for the 3-gram shingle
    explode on the 10x sf0.1 corpus (27x), identical output. Slices
    and zip_with stay on sequential array traversals."""
    t = F.col("t")
    m = F.greatest(F.size(t) - (n - 1), F.lit(0))
    g = F.slice(t, 1, m)
    for k in range(1, n):
        g = F.zip_with(
            g, F.slice(t, k + 1, m),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    return F.when(
        F.size(t) >= n,
        F.array_distinct(g),
    ).otherwise(F.array().cast("array<string>"))


def shingles(docs: DataFrame, n: int = 3) -> DataFrame:
    """Exploded distinct word n-gram shingles: (doc_id, shingle).

    The token array is projected in its own select first: inlining the
    regex-split expression into the transform lambda would re-run the
    split once per `element_at` access (~3n× per row) because Catalyst
    does no subexpression elimination inside HOF lambdas.

    The shingle array feeds ``explode`` INLINE (not via a named column
    in a separate projection): naming it lets InferFiltersFromGenerate
    push a ``size(arr) > 0`` filter below the projection, re-inlining
    the whole shingle expression — with the token split re-run inside
    every ``element_at`` — into the filter (measured ~40× slower).
    """
    tk = docs.select("doc_id", tokens_col().alias("t"))
    return tk.select("doc_id", F.explode(_shingle_expr(n)).alias("shingle"))


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, m0..m7, sh_arr): K min-hashes plus the doc's set of
    64-bit shingle hashes, from ONE aggregation over the exploded
    shingles — the signature build of every MinHash operator here and
    in ``dedup_index`` (same constants, so the DuckDB oracles transfer).

    The shingle hash is projected ONCE per row before aggregation —
    inlining it in each of the 8 min() expressions would evaluate it 8×
    per row (Spark does not CSE across aggregates) — and is the
    codegen'd ``md5_hash64`` (DuckDB twin: ``md5_number_lower % p``),
    not the interpreted per-character fold. It runs on EXPLODED rows,
    not inside an array-HOF lambda: HOF lambdas are interpreted
    expression trees (and CollapseProject re-inlines them into every
    consumer), while the exploded form is whole-stage-codegen'd — ~4×
    faster end-to-end measured at sf0.1. Callers that never read
    ``sh_arr`` pay nothing for it: Catalyst prunes the unused
    ``collect_set`` from the aggregate.
    """
    ex = shingles(fan_out(docs, key="doc_id"))
    hashed = ex.select("doc_id", md5_hash64(F.col("shingle")).alias("h"))
    mins = [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(HASH_P)).alias(f"m{k}")
        for k, (a, b) in enumerate(zip(MINHASH_A, MINHASH_B))
    ]
    return hashed.groupBy("doc_id").agg(
        *mins, F.collect_set("h").alias("sh_arr")
    )


def lsh_bands(sig: DataFrame, *carry) -> DataFrame:
    """(doc_id, *carry, band, band_val): the signature cut into
    N_MINHASH // BAND_ROWS bands of BAND_ROWS min-hashes, one row per
    band. ``carry`` names (or aliased columns) of ``sig`` ride along
    on every band row.

    Bands come from ONE explode over the signature row (a union of
    per-band projections would re-run the whole shingle→minhash
    aggregation once per band)."""
    band_structs = F.array(
        *[
            F.struct(
                F.lit(j).alias("band"),
                (
                    F.col(f"m{BAND_ROWS * j}") * F.lit(HASH_P)
                    + F.col(f"m{BAND_ROWS * j + 1}")
                ).alias("band_val"),
            )
            for j in range(N_MINHASH // BAND_ROWS)
        ]
    )
    exploded = sig.select("doc_id", *carry, F.explode(band_structs).alias("bv"))
    return exploded.select(
        *[c for c in exploded.columns if c != "bv"],
        F.col("bv.band").alias("band"),
        F.col("bv.band_val").alias("band_val"),
    )


def lsh_candidate_pairs(sig: DataFrame) -> DataFrame:
    """Candidate pairs (doc_a < doc_b) sharing any band bucket. The
    self-join is on (band, value) — only docs in the same bucket ever
    meet, which is the 100 TB guarantee."""
    bands = lsh_bands(sig)
    x = bands.alias("x")
    y = bands.alias("y")
    return (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.band_val") == F.col("y.band_val"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
        )
        .distinct()
    )


def _jaccard_tail(
    cand: DataFrame, a: str, b: str, threshold: float, nb=None
) -> DataFrame:
    """(a, b, common, jaccard) for candidate rows carrying both docs'
    hash sets ``sa`` and ``sb``, kept where jaccard ≥ threshold.
    ``common`` is one ``array_intersect`` per pair; jaccard is an
    int/int division, engine-stable. ``nb`` overrides the size of b's
    set (the indexed probe reads it, checked, from the sets table)."""
    stats = cand.select(
        a,
        b,
        F.size(F.array_intersect("sa", "sb")).cast("long").alias("common"),
        F.size("sa").alias("na"),
        (F.size("sb") if nb is None else nb).alias("nb"),
    )
    return stats.select(
        a,
        b,
        "common",
        (
            F.col("common").cast("double")
            / (F.col("na") + F.col("nb") - F.col("common"))
        ).alias("jaccard"),
    ).filter(F.col("jaccard") >= threshold)


def verify_jaccard(pairs: DataFrame, sh: DataFrame) -> DataFrame:
    """Exact Jaccard over the shingle sets of candidate pairs.

    (doc_a, doc_b, common, jaccard) — jaccard is an int/int division,
    engine-stable.
    """
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    sa = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    sb = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    common = (
        pairs.join(sa, "doc_a")
        .join(sb, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    return (
        common.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "common",
            (
                F.col("common").cast("double")
                / (F.col("na") + F.col("nb") - F.col("common"))
            ).alias("jaccard"),
        )
    )


def minhash_lsh_dedup(docs: DataFrame, threshold: float = 0.2) -> DataFrame:
    """Full near-dup pipeline: shingle → minhash → LSH bands →
    candidates → exact-Jaccard verify → pairs above threshold.

    Jaccard is computed over the per-doc set of 64-bit shingle hashes
    (md5-based, bit-identical in DuckDB — see ``text.md5_hash64``), so
    the verify step is one ``array_intersect`` per candidate pair. One
    aggregation produces the K min-hashes AND the hash set together
    (map-side partial agg, :func:`minhash_signatures`), the hash set
    rides through the band self-join, and the pipeline totals 3
    shuffles versus ~8 for the naive formulation. At 100 TB the
    dominant cost is the band shuffle, whose keys (band, band_val) are
    uniformly distributed by construction."""
    bands = lsh_bands(minhash_signatures(docs), "sh_arr")
    x = bands.alias("x")
    y = bands.alias("y")
    cand = (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.band_val") == F.col("y.band_val"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.col("x.sh_arr").alias("sa"),
            F.col("y.sh_arr").alias("sb"),
        )
        # A pair colliding in several bands appears once per collision;
        # dedupe on the ids (cheaper than array-equality distinct).
        .groupBy("doc_a", "doc_b")
        .agg(F.first("sa").alias("sa"), F.first("sb").alias("sb"))
    )
    return _jaccard_tail(cand, "doc_a", "doc_b", threshold)


def incremental_minhash_dedup(
    history: DataFrame, incoming: DataFrame, threshold: float = 0.2
) -> DataFrame:
    """Near-dup flags for an incoming batch against an ingested corpus
    — the LSH sibling of :func:`incremental_dedup` (exact), and the
    production shape of continuous-crawl curation: history's band
    table is a PRECOMPUTED index written by prior runs; only the
    (small) batch is shingled/minhashed fresh, and the probe is an
    equi-join on (band, band_val), never a self-join over the corpus.

    Returns (doc_id, match_id, common, jaccard): every incoming doc ×
    history doc pair that collides in any LSH band AND verifies at
    exact Jaccard ≥ threshold (over the md5-64 shingle-hash sets, same
    constants as :func:`minhash_lsh_dedup`, so DuckDB-oracle-checkable
    bit for bit). Downstream either anti-joins the flagged doc_ids out
    or keeps argmax-jaccard provenance.

    At 100 TB: batch bands shuffle on the uniformly-distributed
    (band, band_val) key. As coded over two plain DataFrames, BOTH
    sides' per-doc hash sets ride their band rows through the probe
    shuffle (×n_bands duplication) — the same accepted shape as
    :func:`minhash_lsh_dedup`. The production variant where the
    history side is a PERSISTED bucketed band index (no corpus
    re-shuffle, band rows carrying no set payload, history sets
    fetched only for candidates that actually collide) is
    :func:`dedup_index.incremental_minhash_indexed` — plan-asserted
    exchange-free on the history side in tests/test_dedup_index.py.
    """
    hb = lsh_bands(minhash_signatures(history), "sh_arr").alias("h")
    ib = lsh_bands(minhash_signatures(incoming), "sh_arr").alias("i")
    cand = (
        ib.join(
            hb,
            (F.col("i.band") == F.col("h.band"))
            & (F.col("i.band_val") == F.col("h.band_val")),
        )
        .select(
            F.col("i.doc_id").alias("doc_id"),
            F.col("h.doc_id").alias("match_id"),
            F.col("i.sh_arr").alias("sa"),
            F.col("h.sh_arr").alias("sb"),
        )
        # multi-band collisions appear once per band; collapse on ids.
        .groupBy("doc_id", "match_id")
        .agg(F.first("sa").alias("sa"), F.first("sb").alias("sb"))
    )
    return _jaccard_tail(cand, "doc_id", "match_id", threshold)


def simhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash): 16-bit SimHash over distinct-token hashes.
    Bit b is set iff sum over tokens of ±1 (sign of bit b of the token
    hash) is positive."""
    tok = fan_out(docs, key="doc_id").select(
        "doc_id", F.explode(F.array_distinct(tokens_col())).alias("token")
    )
    h = md5_hash64(F.col("token"))
    bit_sums = [
        F.sum(
            F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"s{b}")
        for b in range(SIMHASH_BITS)
    ]
    sums = tok.groupBy("doc_id").agg(*bit_sums)
    sim = None
    for b in range(SIMHASH_BITS):
        term = F.when(F.col(f"s{b}") > 0, F.lit(1 << b)).otherwise(0)
        sim = term if sim is None else sim + term
    return sums.select("doc_id", sim.cast("long").alias("simhash"))


def ngram_jaccard_pairs(
    docs: DataFrame, max_doc_id: int = 60, threshold: float = 0.05
) -> DataFrame:
    """Ground-truth exact Jaccard for a bounded doc_id range (the brute
    baseline the LSH path is validated against — NOT the scale path)."""
    sub = docs.filter(F.col("doc_id") < max_doc_id)
    sh = shingles(sub)
    ids = sub.select("doc_id")
    a = ids.select(F.col("doc_id").alias("doc_a"))
    b = ids.select(F.col("doc_id").alias("doc_b"))
    pairs = a.join(b, F.col("doc_a") < F.col("doc_b"))
    return verify_jaccard(pairs, sh).filter(F.col("jaccard") >= threshold)


# Truncate the fixpoint's lineage every this many rounds — see the
# loop in cluster_pairs.
_CHECKPOINT_EVERY_ROUNDS = 8


def cluster_pairs(
    pairs: DataFrame,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components over near-dup pairs → (doc_id, cluster_id),
    cluster_id = the minimum doc id reachable through the pair graph.

    This is the step that turns PAIRS into DEDUP GROUPS (keep one doc
    per cluster), and it is genuinely iterative: min-label propagation
    runs one join+groupBy per round until labels stop changing, i.e.
    O(component diameter) rounds — near-dup components are shallow
    (pairs share content), so a handful of rounds in practice, with a
    ``max_iter`` backstop. Per round the only wide ops are one
    equi-join label lookup and one min-aggregation, both on uniformly
    hashed ids; intermediates are cached and the previous round
    unpersisted, so lineage stays O(1) instead of growing per round.

    Convergence is detected with one scalar action per round (sum of
    labels strictly decreases until fixpoint — min-label propagation
    is monotone). A driver-side LOOP over scalar actions is the
    sanctioned shape for iterative algorithms; no row data ever
    reaches the driver.
    """
    a, b = F.col(id_a).alias("src"), F.col(id_b).alias("dst")
    # Cache the INPUT for the duration of the edges build: the four
    # union arms are projections of the same pairs subtree, and while
    # their exchanges are deduplicated (ReusedExchange) the post-
    # shuffle work (e.g. the LSH verify join feeding
    # dedup_cluster_survivors) re-executes per arm — measured 1.58 →
    # 1.09 s setup at sf0.1 (r22). Within-one-execution reuse only:
    # unpersisted as soon as edges is materialized below.
    pairs_c = pairs.cache()
    edges = (
        pairs_c.select(a, b)
        .union(pairs_c.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .union(pairs_c.select(a, F.col(id_a).alias("dst")))
        .union(pairs_c.select(F.col(id_b).alias("src"), b))
        .distinct()
        .cache()
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .cache()
    )
    prev_sum = labels.agg(F.sum("label")).collect()[0][0]
    pairs_c.unpersist()  # edges is materialized; the input can go
    for i in range(max_iter):
        new_labels = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("label"))
            .select(F.col("src").alias("node"), "label")
        )
        # Lineage hygiene (r22, VERDICT item 8): each round's logical
        # plan stacks one join+agg layer on the previous round's — the
        # cache truncates RECOMPUTATION but Catalyst still re-analyzes
        # the growing tree every round. Deep components (diameter > k)
        # get their lineage cut with a localCheckpoint every k rounds;
        # shallow near-dup graphs (2-3 rounds in practice) never pay
        # it. Same recovery trade as every localCheckpoint: fine for
        # an intra-job fixpoint.
        if (i + 1) % _CHECKPOINT_EVERY_ROUNDS == 0:
            new_labels = new_labels.localCheckpoint(eager=True)
        else:
            new_labels = new_labels.cache()
        new_sum = new_labels.agg(F.sum("label")).collect()[0][0]
        labels.unpersist()
        labels = new_labels
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    edges.unpersist()
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    ).orderBy("doc_id")


def decontaminate(docs: DataFrame) -> DataFrame:
    """Benchmark-decontamination check: train-split documents sharing
    any word-3-gram shingle with the held-out (val) split.

    Splits are the same content-hash buckets as the train/val/test
    operator (md5(canonical) % 100: <80 train, 80-89 val), so the
    check is reproducible across runs/engines/id-renumbering. Returns
    (doc_id, shared_shingles): one row per CONTAMINATED train doc with
    the count of distinct held-out shingles it contains — the rows a
    curation pipeline drops (or audits) before training.

    Scale shape: shingles join on their 64-bit content hash, not the
    raw string — the shuffle carries one long per shingle (the
    standard hashed-n-gram decontamination layout). The held-out side
    is deduplicated to distinct shingle hashes BEFORE the join, so the
    matcher's build side is bounded by held-out vocabulary, not
    held-out volume; no driver materialization anywhere. Hash
    collisions (mod-1e9+7 space) can only over-flag — conservative in
    the direction decontamination wants — and the count uses
    COUNT(DISTINCT h) so duplicate shingle positions never inflate it.
    """
    from .text import canonical_text, md5_hash64

    bucket = md5_hash64(canonical_text()) % 100
    tagged = docs.withColumn("bucket", bucket)
    train = tagged.filter(F.col("bucket") < 80)
    val = tagged.filter((F.col("bucket") >= 80) & (F.col("bucket") < 90))
    tr_h = shingles(train).select(
        "doc_id", md5_hash64(F.col("shingle")).alias("h")
    )
    val_h = (
        shingles(val)
        .select(md5_hash64(F.col("shingle")).alias("h"))
        .distinct()
    )
    return (
        tr_h.join(val_h, "h")
        .groupBy("doc_id")
        .agg(F.count_distinct(F.col("h")).alias("shared_shingles"))
    )


def decontaminate_containment(
    docs: DataFrame, threshold: float = 0.7
) -> DataFrame:
    """Per-eval-doc containment — the published eval-leak criterion
    (GPT-3 / PaLM style): a held-out doc is contaminated when at
    least ``threshold`` of its distinct word-3-gram shingles appear
    ANYWHERE in the train split's shingle vocabulary. Complements
    :func:`decontaminate`, which reports train-side absolute counts:
    containment is the metric that catches a short eval doc quoted
    inside a long train doc, where pairwise Jaccard stays tiny.

    Same content-hash buckets as the split operator (<80 train,
    80–89 val), same 64-bit shingle hashing (collisions only
    over-flag — conservative the way decontamination wants). Returns
    one row per held-out doc that has ≥1 shingle:
    (doc_id, n_shingles, hit_shingles, containment, contaminated).

    Scale shape: the irreducible cost is one pass + one distinct
    shuffle over the TRAIN shingle hashes (membership must be
    tested against all of them); the held-out side is small by
    construction (10% split, and in practice a fixed benchmark
    suite), so at cluster volume the val hash set is broadcast-able
    and the train vocabulary never leaves its partitions twice.
    """
    from .text import canonical_text, md5_hash64

    bucket = md5_hash64(canonical_text()) % 100
    tagged = docs.withColumn("bucket", bucket)
    train = tagged.filter(F.col("bucket") < 80)
    val = tagged.filter((F.col("bucket") >= 80) & (F.col("bucket") < 90))
    vocab = (
        shingles(train)
        .select(md5_hash64(F.col("shingle")).alias("h"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    val_h = shingles(val).select(
        "doc_id", md5_hash64(F.col("shingle")).alias("h")
    )
    ratio = F.col("hit_shingles").cast("double") / F.col("n_shingles")
    return (
        val_h.join(vocab, "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0)))
            .cast("long")
            .alias("hit_shingles"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "hit_shingles",
            ratio.alias("containment"),
            (ratio >= F.lit(threshold)).alias("contaminated"),
        )
    )


# Cross-document repetition (C4/Gopher-style): a document whose
# n-grams largely also appear in OTHER documents is boilerplate or
# near-duplicate content even when no single pair crosses a Jaccard
# threshold. Fixed and shared with the SQL oracle.
DUP_NGRAM_N = 8
MAX_CROSS_DOC_DUP_FRAC = 0.3


def duplicate_ngram_stats(
    docs: DataFrame, n: int = DUP_NGRAM_N
) -> DataFrame:
    """Per-document cross-corpus duplicate n-gram fraction: (doc_id,
    n_grams, n_dup_grams, dup_frac, dup_ok) where a gram is "dup" if
    it appears in at least one OTHER document.

    Shape at scale: shingles are distinct per document before the
    explode, so the gram-frequency aggregation and the join back are
    both keyed on the 64-bit gram hash — uniform crypto-hash keys, no
    planned skew, and the heavy agg map-side combines. Documents
    shorter than ``n`` tokens have no grams and pass the filter
    (n_grams = 0)."""
    docs = fan_out(docs, key="doc_id")
    sh = shingles(docs, n)
    hashed = sh.select(
        "doc_id", md5_hash64(F.col("shingle")).alias("h")
    )
    gram_df = hashed.groupBy("h").agg(F.count("*").alias("df"))
    per_doc = (
        hashed.join(gram_df, "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum((F.col("df") >= 2).cast("long")).alias("n_dup_grams"),
        )
    )
    out = docs.select("doc_id").join(per_doc, "doc_id", "left")
    n_grams = F.coalesce("n_grams", F.lit(0))
    n_dup = F.coalesce("n_dup_grams", F.lit(0))
    frac = F.when(
        n_grams > 0, n_dup.cast("double") / n_grams
    )
    return out.select(
        "doc_id",
        n_grams.alias("n_grams"),
        n_dup.alias("n_dup_grams"),
        frac.alias("dup_frac"),
        ((n_grams == 0) | (frac <= F.lit(MAX_CROSS_DOC_DUP_FRAC))).alias(
            "dup_ok"
        ),
    )


SEG_WORDS = 8  # words per non-overlapping dedup segment


def segment_dedup(docs: DataFrame, seg_words: int = SEG_WORDS) -> DataFrame:
    """C4/RefinedWeb-style SEGMENT-level dedup: split each document into
    non-overlapping ``seg_words``-word segments, drop every segment whose
    content occurs more than once ANYWHERE in the corpus (including its
    other copies — removal is symmetric and deterministic, no arbitrary
    keep-one winner), and reassemble the survivors in original order.

    Returns one row per input document:
    ``doc_id, n_segs, n_kept, kept_md5`` where ``kept_md5`` is the md5 of
    the space-rejoined surviving segments ('' when nothing survives) —
    pinning both membership AND order of the reassembled text.

    100 TB shape: segments shuffle on their FULL 128-bit md5 content
    hash — this is a removal path, so like :func:`exact_dedup` it needs
    a collision-resistant key (the ~2^30 ``md5_hash64`` space would
    silently drop distinct colliding segments at ~40k distinct values);
    the key is ``unhex(md5)``, 16 raw bytes, half the shuffle width of
    the 32-char hex string for the same collision resistance
    (one count agg + one equi-join), then one agg back on doc_id; no
    pairwise candidate set exists at any point, so cost is linear in
    corpus token count. Boilerplate lines shared by millions of pages are
    single hot KEYS in the count agg (map-side combined) but never hot
    JOIN rows beyond their true occurrence count.

    Beyond-reference (the C++ connector has no text path); the segment
    granularity complements :func:`duplicate_ngram_stats`, which only
    SCORES overlap — this operator performs the actual removal.
    """
    docs = fan_out(docs, key="doc_id")
    # NULL text → empty token list (not NULL): a NULL-text row must
    # still produce its (doc_id, 0 segments, md5('')) output row, and
    # sequence(0, NULL) / sequence(0, -1) are traps (the latter yields
    # [0, -1], not []).
    toks = F.coalesce(tokens_col(), F.array().cast("array<string>"))
    n_segs = F.floor(
        (F.size(toks) + (seg_words - 1)) / F.lit(seg_words)
    ).cast("int")
    segs = F.when(
        n_segs >= 1,
        F.transform(
            F.sequence(F.lit(0), n_segs - 1),
            lambda i: F.array_join(
                F.slice(toks, i * seg_words + 1, seg_words), " "
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    base = docs.select("doc_id", n_segs.alias("n_segs"), segs.alias("segs"))
    # Hash-only dedup plane: segment TEXT never enters a shuffle. The
    # count agg and the count join carry (doc_id, idx, h) — 16-byte
    # binary md5 keys — and the surviving-index sets come back as int
    # arrays. The text stays in `base`, which fan_out already hash-
    # partitioned on doc_id, so the reassembly join is exchange-free
    # on the base side (kept_idx's groupBy emits the same doc_id hash
    # partitioning). Previously the h-join and the doc_id re-agg both
    # shuffled full segment text; at 10x sf0.1 the hash-only plane
    # cut the entry 10.9 s -> (see SCALE.md r9 check).
    exploded = base.select(
        "doc_id",
        F.posexplode(
            F.transform("segs", lambda s: F.unhex(F.md5(s)))
        ).alias("idx", "h"),
    )
    counts = exploded.groupBy("h").agg(F.count("*").alias("cnt"))
    kept_idx = (
        exploded.join(counts, "h")
        .where(F.col("cnt") == 1)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_kept"),
            F.array_sort(F.collect_list("idx")).alias("ki"),
        )
    )
    out = base.join(kept_idx, "doc_id", "left")
    # ki indexes back into the co-located segs array. segs crosses the
    # join as a materialized attribute (CollapseProject cannot inline
    # an expression across a Join), so the lambda-indexed element_at
    # is the measured-fast shape — the slow inlined-recompute variant
    # of _shingle_expr's docstring cannot occur here.
    kept_text = F.when(
        F.col("ki").isNotNull(),
        F.array_join(
            F.transform("ki", lambda i: F.element_at("segs", i + 1)), " "
        ),
    ).otherwise(F.lit(""))
    return out.select(
        "doc_id",
        "n_segs",
        F.coalesce("n_kept", F.lit(0).cast("long")).alias("n_kept"),
        F.md5(kept_text).alias("kept_md5"),
    )


EDIT_NEAR_DIST = 20


def edit_distance_dedup(
    docs: DataFrame, max_dist: int = EDIT_NEAR_DIST
) -> DataFrame:
    """Edit-distance near-dup verification over the SAME banded-LSH
    candidate set the Jaccard verifier uses: exact Levenshtein between
    the canonical texts of each candidate pair, with a near flag at
    ``max_dist`` — the character-level complement to set-based Jaccard
    (catches small in-place edits Jaccard over-penalizes, e.g. one
    typo inside many shingles).

    Both engines implement the identical Levenshtein DP, so the
    distance is integer-exact cross-engine. Cost is O(len²) per
    CANDIDATE pair only — the LSH banding bounds the pair set, which
    is what makes the quadratic verifier affordable; a 100 TB run
    would additionally use Spark's thresholded ``levenshtein(l, r,
    bound)`` form to early-exit rows already past ``max_dist``.
    """
    docs = fan_out(docs, key="doc_id")
    cand = lsh_candidate_pairs(minhash_signatures(docs))
    canon = docs.select("doc_id", canonical_text().alias("ct"))
    j = (
        cand.join(
            canon.select(
                F.col("doc_id").alias("doc_a"), F.col("ct").alias("ct_a")
            ),
            "doc_a",
        )
        .join(
            canon.select(
                F.col("doc_id").alias("doc_b"), F.col("ct").alias("ct_b")
            ),
            "doc_b",
        )
    )
    dist = F.levenshtein(F.col("ct_a"), F.col("ct_b"))
    return j.select(
        "doc_a",
        "doc_b",
        dist.cast("int").alias("edit_dist"),
        (dist <= max_dist).alias("is_near"),
    )
