"""Persisted, incrementally-maintained IVF index for ANN search.

The similarity operators (operators/similarity.py) recompute centroid
assignment per query — fine for one-shot analytics, wasteful for the
deployment shape where a 100 TB vector corpus is searched by many
small query batches. This module extends the bucketed-index pattern of
operators/dedup_index.py to the ANN side:

* the corpus is assigned ONCE to a frozen centroid table and persisted
  as a parquet table bucketed on ``cell`` (``write_ivf_index``);
* new vectors are assigned against the SAME frozen centroids and
  appended into the existing bucket layout without rewriting history
  (``append_to_ivf_index``) — the incremental loop of
  ``dedup_index.append_fingerprints``, applied to vectors;
* a query batch probes only its ``n_probe`` nearest cells
  (``ann_indexed_topk``): the probed cell ids become an ``IN`` filter
  on the bucket column, so the scan reads ONLY the buckets holding
  those cells (bucket pruning — ``SelectedBucketsCount m out of n`` in
  the plan, asserted in tests/test_ann_index.py) and the index side
  never shuffles.

Scale contract (the reason this exists): at 100 TB the corpus side is
the cost. Build/append are one narrow Arrow assignment pass plus one
batch-sized shuffle onto the bucket hash; the probe reads
``n_probe / n_cells`` of the corpus bytes via pruned buckets, streams
candidates through the shared Arrow scorer's per-batch partial top-k,
and shuffles only ≤ batches·k winner rows per query. Nothing history-
sized moves. Centroids are a bounded driver table (same
MAX_DRIVER_QUERY_ROWS guard as every ANN query set); at real scale
they come out of an offline k-means job — here they are the frozen
first-``n_cells`` vectors, matching ivf_ranked and the DuckDB oracle.

Reference parity note: the reference engine (duckdb-redis-olap-scanner)
has no vector search; this is north-star LLM-pipeline surface, grown
from the same banded/bucketed-index design verified for dedup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import dedup_index as DI
from ..operators import similarity as S
from ..operators.util import fan_out

DEFAULT_IVF_BUCKETS = 8


def ivf_centroids(
    embeddings: DataFrame, n_cells: int = S.N_IVF_CELLS
) -> tuple[list[int], list[list[float]]]:
    """The frozen centroid table as driver lists — the first
    ``n_cells`` vectors, exactly :func:`similarity.ivf_ranked`'s
    derivation (and the oracle's ``WHERE vec_id < n_cells``), bounded
    by the same guard. Taken from the FULL corpus once, before any
    history/batch split, so builder, appender, and prober all rank
    against identical centroids."""
    if n_cells > S.MAX_DRIVER_QUERY_ROWS:
        raise ValueError(
            f"n_cells={n_cells} exceeds MAX_DRIVER_QUERY_ROWS="
            f"{S.MAX_DRIVER_QUERY_ROWS}: the centroid table is "
            "materialized on the driver"
        )
    crows = sorted(
        embeddings.filter(F.col("vec_id") < n_cells)
        .select("vec_id", "embedding")
        .collect(),
        key=lambda r: r.vec_id,
    )
    return (
        [int(r.vec_id) for r in crows],
        [[float(x) for x in r.embedding] for r in crows],
    )


def _assigned(
    embeddings: DataFrame,
    cent_ids: list[int],
    cent_vecs: list[list[float]],
) -> DataFrame:
    """(vec_id, embedding, cell): rank-1 assignment against the frozen
    centroids — one narrow Arrow pass, no shuffle."""
    return S.ranked_with_centroids(
        fan_out(embeddings, key="vec_id"), cent_ids, cent_vecs, 1
    ).select("vec_id", "embedding", "cell")


def write_ivf_index(
    embeddings: DataFrame,
    cent_ids: list[int],
    cent_vecs: list[list[float]],
    name: str,
    buckets: int = DEFAULT_IVF_BUCKETS,
    path: str | None = None,
) -> None:
    """(Re)build the coded-corpus table: every vector assigned to its
    nearest frozen centroid, persisted bucketed+sorted on ``cell`` so
    probes prune to their cells' buckets and never shuffle the
    corpus.

    The centroid table rides the index's sidecar: unlike the
    deterministic first-N stand-in used at test scale, REAL centroids
    come out of an offline k-means job and are not recomputable from
    the corpus, so a restarted prober must read them back from the
    index itself (:func:`load_ivf_centroids`) — appending or probing
    against the wrong centroid generation silently corrupts cell
    membership."""
    DI._save_bucketed(
        _assigned(embeddings, cent_ids, cent_vecs),
        name,
        ["cell"],
        buckets,
        path,
        extra_meta={
            "ivf_centroids": {
                "ids": [int(i) for i in cent_ids],
                "vecs": [[float(x) for x in v] for v in cent_vecs],
            }
        },
    )


def append_to_ivf_index(
    new_vectors: DataFrame,
    cent_ids: list[int],
    cent_vecs: list[list[float]],
    name: str,
) -> None:
    """Index maintenance: assign a batch of NEW vectors against the
    same frozen centroids and append into the existing bucket layout —
    one batch-sized shuffle onto the bucket hash, history untouched
    (the ANN twin of ``dedup_index.append_fingerprints``). Centroid
    drift is an offline retrain + full rebuild decision, deliberately
    not part of the append path: mixing assignments from different
    centroid generations in one index would corrupt cell membership
    silently.

    Delivery contract (r15 write-path hunt, upgraded r16): appends
    are RETRY-IDEMPOTENT, not merely at-most-once. A FAILED append
    commits nothing (Spark's job-level file commit), so retrying a
    failure is safe; and a retry of a SUCCEEDED append (a lost ack)
    is absorbed by an anti-join against the index restricted to the
    batch's own cells — the same construction that makes
    ``dedup_index.append_fingerprints`` retry-safe. The cell
    restriction is what keeps the guard cheap at volume: assignment
    is deterministic given a centroid generation and the generation
    is enforced above, so any pre-existing copy of a batch vec_id
    MUST sit in one of the batch's assigned cells — the existing-ids
    scan is bucket-pruned to those cells and reads only ``vec_id``.
    Costs: one extra batch-sized Arrow pass (the distinct-cells job
    recomputes the narrow assignment) plus one anti-join shuffled on
    ``vec_id`` sized O(batch + index rows in the touched cells).
    Concurrent appends are still the maintenance loop's problem
    (two racing copies of the SAME batch can both pass the guard);
    :func:`verify_ivf_index` remains the offline audit. A vec_id
    re-appended with the SAME embedding is dropped, not updated —
    vec_id is the identity, matching the fingerprint index; the same
    identity rule holds WITHIN a batch (a source that emits a vec_id
    twice gets one deterministic row, like the fingerprint twin's
    per-key groupBy) — without the per-vec_id min-reduce below both
    copies would pass the index anti-join and corrupt the index, and
    a NONdeterministic survivor (dropDuplicates) would break retry
    absorption: each retry recomputes the batch, so the survivor must
    be a pure function of the batch's contents or the retry's
    anti-join may look in the wrong cells (review r16).

    THE ONE UNDETECTED CASE — mutating a vec_id's embedding across
    calls: the cell restriction is sound only because a same-id copy
    under the same centroid generation must sit in the same cell,
    which assumes the embedding is unchanged. Re-appending a vec_id
    with a DIFFERENT embedding than the indexed copy assigns to a
    different cell the guard never scans, and the duplicate lands
    silently (caught later by :func:`verify_ivf_index`, not here).
    This is the append-only contract: an embedding CHANGE is a
    mutation, which this index cannot express — rebuild, or dedup
    offline. Guarding it inline would cost an index-wide semi-join
    per append, exactly the history-sized work the design exists to
    avoid."""
    spark = new_vectors.sparkSession
    _check_centroid_generation(spark, name, cent_ids, cent_vecs)
    raw = _assigned(new_vectors, cent_ids, cent_vecs)
    assigned = (
        raw.groupBy("vec_id")
        .agg(F.min(F.struct("embedding", "cell")).alias("s"))
        .select("vec_id", F.col("s.embedding").alias("embedding"),
                F.col("s.cell").alias("cell"))
    )
    # Cells from the PRE-dedup frame: a superset of the survivors'
    # cells is still correct for the anti-join (extra cells only add
    # existing vec_ids to reject against), it makes retry absorption
    # independent of WHICH copy survived the earlier attempt, and the
    # distinct prunes to one narrow (cell) column — through the
    # min-struct reduce the same job would shuffle the full embedding
    # arrays just to list cells (review r16, explain-verified).
    batch_cells = [
        int(r.cell)
        for r in raw.select("cell").distinct().collect()
    ]
    existing = (
        spark.table(name)
        .filter(F.col("cell").isin(batch_cells))
        .select("vec_id")
    )
    DI._append_bucketed(
        assigned.join(existing, "vec_id", "left_anti"), name, ["cell"]
    )


def _check_centroid_generation(
    spark: SparkSession,
    index_table: str,
    cent_ids: list[int],
    cent_vecs: list[list[float]],
) -> None:
    """Compare caller-supplied centroids against the generation the
    index's sidecar records, when recorded — mixing generations
    silently corrupts cell membership, and the truth is stored, so
    enforce it where the corruption happens (probe and append; r15
    review). Only the DESIGNED absent states skip the check
    (location not resolvable; sidecar file missing → ``_read_sidecar``
    returns None; pre-IVF sidecar without the centroid key). A
    sidecar that exists but cannot be READ OR PARSED propagates its
    error instead of being swallowed (ADVICE r16): a corrupt sidecar
    disabling the very generation guard it carries would let probes
    and appends proceed against possibly wrong centroids. That
    deliberately includes TRANSIENT remote-filesystem errors — a
    probe that can't verify the generation right now must fail (the
    caller's retry loop is the availability mechanism), not proceed
    unverified."""
    loc = DI._table_location(spark, index_table)
    if loc is None:
        return
    meta = DI._read_sidecar(spark, loc)
    if not meta or "ivf_centroids" not in meta:
        return
    stored = meta["ivf_centroids"]
    if [int(i) for i in stored["ids"]] != [int(i) for i in cent_ids] or \
            [[float(x) for x in v] for v in stored["vecs"]] != \
            [[float(x) for x in v] for v in cent_vecs]:
        raise ValueError(
            f"centroid generation mismatch for {index_table!r}: the "
            "supplied centroids differ from the generation recorded "
            "in the index sidecar — probing or appending across "
            "generations mis-assigns cells silently; use "
            "load_ivf_centroids, or rebuild with write_ivf_index "
            "after a retrain"
        )


def load_ivf_centroids(
    spark: SparkSession, path: str
) -> tuple[list[int], list[list[float]]]:
    """Read the frozen centroid table back from the index's sidecar —
    the restart path: build once, then any fresh session does
    ``attach_bucketed`` + ``load_ivf_centroids`` and probes/appends
    with the exact centroid generation the corpus was coded against.
    JSON round-trips the float32-exact doubles losslessly, so the
    recovered assignment math is bit-identical."""
    meta = DI._read_sidecar(spark, path)
    if meta is None or "ivf_centroids" not in meta:
        raise ValueError(
            f"no ivf_centroids in the index sidecar under {path!r}: "
            "not an IVF index built by write_ivf_index — rebuild it "
            "(probing with guessed centroids silently mis-assigns "
            "every query)"
        )
    c = meta["ivf_centroids"]
    return (
        [int(i) for i in c["ids"]],
        [[float(x) for x in v] for v in c["vecs"]],
    )


def verify_ivf_index(spark: SparkSession, index_table: str) -> None:
    """Offline audit of the index's integrity invariants; raises on
    violation. Meant for the maintenance loop (after appends, or
    periodically), NOT the probe path — the vec_id-uniqueness check
    re-keys the corpus, which is exactly the shuffle the probe design
    avoids.

    Checks: (a) no duplicate vec_id — :func:`append_to_ivf_index`
    absorbs retries and in-batch duplicates itself (r16), so a
    duplicate here means a raw/legacy writer appended around the
    guard, or two copies of the same batch raced the anti-join — and
    probes are returning duplicate neighbors; (b) no NULL cell —
    every vector must be reachable through some probe."""
    idx = spark.table(index_table)
    dup = (
        idx.groupBy("vec_id").count().filter(F.col("count") > 1)
        .orderBy("vec_id").limit(5).collect()
    )
    if dup:
        ids = [int(r.vec_id) for r in dup]
        raise RuntimeError(
            f"ivf index {index_table!r} holds duplicate vec_ids "
            f"(first {len(ids)}: {ids}): a writer bypassed "
            "append_to_ivf_index's dedup guard (raw/legacy append, "
            "two copies of one batch racing the anti-join, or a "
            "vec_id re-appended with a CHANGED embedding — a "
            "mutation the append-only cell-pruned guard cannot "
            "see) — rebuild the index (write_ivf_index) or "
            "deduplicate offline before serving probes"
        )
    n_null = idx.filter(F.col("cell").isNull()).count()
    if n_null:
        raise RuntimeError(
            f"ivf index {index_table!r} holds {n_null} rows with NULL "
            "cell — unreachable by any probe; rebuild the index"
        )


def ann_indexed_topk(
    spark: SparkSession,
    index_table: str,
    cent_ids: list[int],
    cent_vecs: list[list[float]],
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    page_queries: bool = False,
) -> DataFrame:
    """Top-k cosine search over the persisted index, probing each
    query's ``n_probe`` nearest cells.

    The query batch (bounded like every ANN query set) is COLLECTED
    and ranked against the frozen centroids ON THE DRIVER — both
    already live there, and the collect is what turns the probed
    cells into plan-time literals: the ``IN (cells...)`` filter on
    the bucket column is the only way the scan can prune to
    ``SelectedBucketsCount < n`` buckets, and a join against a
    DataFrame of cells would read every bucket. (A distributed Arrow
    assignment pass for a driver-bounded set would spend one whole
    Python-stage dispatch floor per probe call — measured ~0.15 s at
    10x — ranking a handful of rows.) The assigned rows are emitted
    as a broadcast (query_id, qe, cell) frame; candidates meet it
    with a broadcast hash join (index side: zero Exchange), stream
    through the shared Arrow scorer's per-batch partial top-k, and
    the final rank window sees ≤ batches·k rows per query.

    Result contract: identical to
    :func:`similarity.ivf_multiprobe_topk` over the same corpus —
    (query_id, neighbor_id, cell, cos_sim, rank). Query ids share the
    corpus id space: a query whose id equals a corpus vec_id never
    returns that vector (the self-exclusion the dedup use case
    needs), so EXTERNAL query batches must carry ids outside the
    corpus range to receive unfiltered neighbors.

    ``page_queries=True`` lifts the MAX_DRIVER_QUERY_ROWS hard error:
    the batch streams to the driver via ``toLocalIterator`` (one
    partition resident at a time), runs as a loop of bounded probes,
    and the per-page RESULTS (≤ k tiny rows per query — the page's
    embeddings are dropped before the next page collects) come back
    as one DataFrame, rank-identical to manual paging. The paged path
    executes eagerly per page; for genuinely unbounded query sets use
    the distributed scorer (:func:`similarity.ivf_multiprobe_topk`)
    instead of driver paging."""
    if n_probe < 1:
        raise ValueError(f"n_probe must be >= 1, got {n_probe}")
    # Probe-side liveness: like the dedup probes (ADVICE r14), a
    # probe-only phase must refresh the index dir's mtime or the
    # scratch-index GC treats the app as dead and reaps the live
    # index (r15 review — the new ANN twin initially omitted this).
    DI._touch_liveness(spark, index_table)
    _check_centroid_generation(spark, index_table, cent_ids, cent_vecs)
    if page_queries:
        return _paged_topk(
            spark, index_table, cent_ids, cent_vecs, queries, k, n_probe
        )
    # LIMIT to the bound + 1 BEFORE collecting: a guard that fires
    # after .collect() cannot prevent the driver OOM it exists for
    # (r15 review) — the limit caps what can ever reach the driver,
    # and one extra row distinguishes "at the bound" from "over it".
    raw_q = (
        queries.select("vec_id", "embedding")
        .limit(S.MAX_DRIVER_QUERY_ROWS + 1)
        .collect()
    )
    if len(raw_q) > S.MAX_DRIVER_QUERY_ROWS:
        raise ValueError(
            f"query batch exceeds MAX_DRIVER_QUERY_ROWS="
            f"{S.MAX_DRIVER_QUERY_ROWS} rows: the query batch is "
            "materialized on the driver to make the probed cells "
            "plan-time bucket-pruning literals — pass "
            "page_queries=True to run it as a loop of bounded probes"
        )
    return _bounded_topk(
        spark, index_table, cent_ids, cent_vecs, raw_q, k, n_probe
    )


def _bounded_topk(
    spark: SparkSession,
    index_table: str,
    cent_ids: list[int],
    cent_vecs: list[list[float]],
    raw_q: list,
    k: int,
    n_probe: int,
) -> DataFrame:
    """One driver-bounded probe over an already-collected (vec_id,
    embedding) row list of ≤ MAX_DRIVER_QUERY_ROWS — the plan-building
    core of :func:`ann_indexed_topk`. Callers have done the liveness
    touch and the centroid-generation check."""
    # Assign the queries to cells ON THE DRIVER: the query set and the
    # centroid table both already live here, so a distributed Arrow
    # assignment pass would spend one whole Python-stage dispatch
    # floor (~0.15 s measured at 10x) ranking a handful of rows. The
    # math is THE SAME CODE as the corpus coding, not a copy:
    # similarity.make_cell_ranker is the one kernel both sides call.
    import numpy as np

    cids = np.array(cent_ids, dtype=np.int64)
    q_rows = []
    if raw_q:
        ranker = S.make_cell_ranker(cent_ids, cent_vecs)
        order = ranker(
            np.array([[float(x) for x in r.embedding] for r in raw_q],
                     dtype=np.float64),
            n_probe,
        )
        for i, r in enumerate(raw_q):
            qe = [float(x) for x in r.embedding]
            for c in order[i]:
                q_rows.append((int(r.vec_id), qe, int(cids[c])))
    probed_cells = sorted({c for _, _, c in q_rows})
    q = spark.createDataFrame(
        q_rows, schema="query_id bigint, qe array<float>, cell bigint"
    )
    a = (
        spark.table(index_table)
        .filter(F.col("cell").isin(probed_cells))
        .select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("ae"),
            "cell",
        )
    )
    pairs = (
        F.broadcast(q)
        .join(a, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", "cell", "qe", "ae")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        S.arrow_cosine_topk(pairs, k, passthrough=("cell",))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cell", "cos_sim", "rank")
    )


_TOPK_SCHEMA = (
    "query_id bigint, neighbor_id bigint, cell bigint, "
    "cos_sim double, rank int"
)


def _paged_topk(
    spark: SparkSession,
    index_table: str,
    cent_ids: list[int],
    cent_vecs: list[list[float]],
    queries: DataFrame,
    k: int,
    n_probe: int,
) -> DataFrame:
    """A loop of bounded probes for query batches past the driver
    bound. ``toLocalIterator`` keeps at most one query partition on
    the driver; each MAX_DRIVER_QUERY_ROWS page is probed and its
    result plan ``localCheckpoint(eager=True)``-ed — the page
    executes immediately and its rows (≤ k per query) land as
    executor blocks WITHOUT ever visiting the driver (r17 review
    pass 2: the first fix collected each page and re-parallelized it,
    paying two jobs plus a JVM↔Python round trip of rows the driver
    never needed). Peak driver residency is ONE page of query
    embeddings, regardless of total batch size. The returned
    DataFrame unions the checkpointed pages; block lifetime is the
    executors', like any localCheckpoint. Per-query top-k is
    page-local by construction (a query row lives in exactly one
    page), so the concatenation is rank-identical to manual
    paging.

    Block lifecycle (r18, VERDICT/ADVICE r17): the page blocks stay
    pinned for the session unless released — a long-lived driver
    looping paged probes accumulates executor storage. Call
    :func:`release_paged_result` on the returned DataFrame once its
    rows are consumed (or persisted elsewhere) to unpersist every
    page block. And because ``localCheckpoint`` TRUNCATES lineage,
    the result is *unrecoverable* after any block loss: a released
    result — or one whose hosting executor died (dynamic allocation,
    decommission) — fails at its next action rather than recomputing.
    For results that must outlive executors, write them out
    (``df.write``) or use a reliable checkpoint
    (``spark.sparkContext.setCheckpointDir(...)`` + per-page
    ``.checkpoint()``) instead of holding the returned handle."""
    pages_out: list[DataFrame] = []
    page: list = []

    def _flush() -> None:
        if not page:
            return
        pages_out.append(
            _bounded_topk(
                spark, index_table, cent_ids, cent_vecs, page, k, n_probe
            ).localCheckpoint(eager=True)
        )
        page.clear()

    for row in queries.select("vec_id", "embedding").toLocalIterator():
        page.append(row)
        if len(page) >= S.MAX_DRIVER_QUERY_ROWS:
            _flush()
    _flush()
    if not pages_out:
        return spark.createDataFrame([], schema=_TOPK_SCHEMA)
    out = pages_out[0]
    for p in pages_out[1:]:
        out = out.unionByName(p)
    _register_paged_result(out, pages_out)
    return out


# Paged-probe results → their page DataFrames, keyed by result id()
# with a weakref.finalize that drops the entry when the result handle
# is collected, so an abandoned result stops pinning the Python-side
# page objects (the EXECUTOR blocks still need an explicit release or
# session end — exactly the leak release_paged_result closes). A page
# that IS the result (the single-page shape) is stored as None and
# resolved to the result at release time: storing it would pin the
# result strongly, and the finalize could never fire.
_PAGED_RESULT_PAGES: dict[int, list[DataFrame | None]] = {}


def _register_paged_result(out: DataFrame, pages: list[DataFrame]) -> None:
    """Remember which checkpointed page plans back a paged-probe
    result, keyed weakly by the result DataFrame identity."""
    import weakref

    key = id(out)
    _PAGED_RESULT_PAGES[key] = [None if p is out else p for p in pages]
    # Drop the entry when the result handle is collected WITHOUT
    # keeping the result alive ourselves (a strong key would pin it,
    # and with it every page plan, forever).
    weakref.finalize(out, _PAGED_RESULT_PAGES.pop, key, None)


def release_paged_result(result: DataFrame, blocking: bool = False) -> list[int]:
    """Unpersist every page block behind a paged-probe result.

    ``ann_indexed_topk(..., page_queries=True)`` pins one
    ``localCheckpoint`` block set per page for the life of the
    session; a driver looping paged probes would accumulate executor
    storage without bound. Calling this after consuming the result
    releases those blocks. Returns the released RDD ids (empty for a
    DataFrame that is not a live paged result — calling twice is a
    safe no-op). AFTER release the result DataFrame is DEAD: its
    lineage was truncated by the checkpoint, so any further action on
    it fails rather than recomputing (asserted in
    tests/test_ann_index.py).

    The unpersist reaches the checkpointed RDD through the analyzed
    ``LogicalRDD`` plan (``jdf.queryExecution().analyzed().rdd()``) —
    the same RDD ``Dataset.localCheckpoint`` persisted; removing it
    from the context's persistent-RDD registry frees the blocks on
    every executor."""
    pages = _PAGED_RESULT_PAGES.pop(id(result), None)
    released: list[int] = []
    for p in pages or ():
        p = result if p is None else p
        try:
            jrdd = p._jdf.queryExecution().analyzed().rdd()
            jrdd.unpersist(blocking)
            released.append(jrdd.id())  # only ids that DID unpersist
        except Exception:  # pragma: no cover - plan shape drift guard
            # A page whose plan is not a LogicalRDD (Spark internals
            # moved) is left to the session-end cleanup rather than
            # failing the caller's teardown path.
            continue
    return released


def probe(
    spark: SparkSession,
    name: str,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    path: str | None = None,
    page_queries: bool = False,
) -> DataFrame:
    """The shape a real user wants: search a persisted IVF index by
    NAME, without hand-carrying the centroid table through their code.
    Attaches the index if this session has never seen it (``path``
    names the on-disk location in that case — the restart scenario),
    reads the frozen centroid generation back from the sidecar
    (:func:`load_ivf_centroids`), and runs :func:`ann_indexed_topk` —
    so every call exercises, and therefore continuously verifies, the
    recovery path: the centroids used are by construction the ones
    the corpus was coded against, never a caller's stale copy.

    Same result contract and driver-bounded query batch as
    :func:`ann_indexed_topk`.

    When ``path`` is given it is ALWAYS handed to ``attach_bucketed``,
    even if ``name`` is already registered: attach is idempotent on a
    matching location and raises on a mismatch — silently preferring
    the registered table would serve a DIFFERENT index generation
    than the one the caller named (the exact generation swap
    attach_bucketed exists to refuse)."""
    if path is not None:
        DI.attach_bucketed(spark, name, path)
    elif not spark.catalog.tableExists(name):
        raise ValueError(
            f"ivf index {name!r} is not registered in this "
            "session and no path was given — pass the index "
            "location so it can be attached (attach_bucketed), "
            "or build it first with write_ivf_index"
        )
    loc = DI._table_location(spark, name)
    if loc is None:
        raise ValueError(
            f"cannot resolve the storage location of {name!r}: the "
            "centroid generation lives in the index sidecar and "
            "probing with guessed centroids silently mis-assigns "
            "every query"
        )
    cent_ids, cent_vecs = load_ivf_centroids(spark, loc)
    return ann_indexed_topk(
        spark, name, cent_ids, cent_vecs, queries,
        k=k, n_probe=n_probe, page_queries=page_queries,
    )


# ---------------------------------------------------------------------------
# Persisted IVF-PQ index (r20): codes on disk, ADC probes from the index
# ---------------------------------------------------------------------------


def ivf_pq_codebooks(
    embeddings: DataFrame,
    n_cells: int = S.N_IVF_CELLS,
    m: int = S.PQ_M,
    ks: int = S.PQ_KS,
) -> tuple:
    """The frozen IVF-PQ training artifacts as driver lists: coarse
    centroid vectors (the first ``n_cells`` quantized vectors, exactly
    :func:`similarity.ivf_pq_topk`'s derivation) and the per-subspace
    PQ codebooks (:func:`similarity._pq_centroids` — one integer-mean
    Lloyd's step over deterministic seeds). Trained on the FULL corpus
    once, before any history/batch split, so builder, appender, and
    prober all encode against identical generations — the same
    freeze rule as :func:`ivf_centroids`."""
    if n_cells > S.MAX_DRIVER_QUERY_ROWS:
        raise ValueError(
            f"n_cells={n_cells} exceeds MAX_DRIVER_QUERY_ROWS="
            f"{S.MAX_DRIVER_QUERY_ROWS}"
        )
    # One collect covers coarse centroids AND PQ seeds (r22: was two
    # driver jobs per codebook build).
    prefix = S._prefix_rows(embeddings, max(n_cells, ks))
    coarse = [[int(x) for x in r.v] for r in prefix if r.vec_id < n_cells]
    cent, sd = S._pq_centroids(embeddings, m, ks, seed_rows=prefix)
    return coarse, cent, sd


def _pq_coded(
    embeddings: DataFrame,
    coarse: list,
    cent: list,
    sd: int,
) -> DataFrame:
    """(vec_id, cell, codes): coarse max-dot cell + per-subspace
    nearest-codebook codes, all as one pure column-expression frame
    against the frozen literals — zero shuffles, the plan that encodes
    100 TB of vectors at scan speed (the corpus half of
    :func:`similarity.ivf_pq_topk`, shared by build and append so the
    persisted codes cannot drift from the one-shot plan)."""
    from pyspark.sql import Column

    m = len(cent)

    def _dot_lit(col: Column, c: list) -> Column:
        return F.aggregate(
            F.zip_with(
                col,
                S._lit_arr(c),
                lambda x, y: x * y,
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    def _l2(sub: Column, c: list) -> Column:
        return F.aggregate(
            F.zip_with(
                sub,
                S._lit_arr(c),
                lambda x, y: (x - y) * (x - y),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    base = embeddings.select("vec_id", S.quantized().alias("v")).select(
        "vec_id",
        F.col("v"),
        *[F.slice("v", j * sd + 1, sd).alias(f"s{j}") for j in range(m)],
    )
    dots = F.array(*[_dot_lit(F.col("v"), c) for c in coarse])
    cell_col = (F.array_position(dots, F.array_max(dots)) - 1).alias("cell")
    code_cols = []
    for j in range(m):
        dj = F.array(*[_l2(F.col(f"s{j}"), c) for c in cent[j]])
        code_cols.append(
            (F.array_position(dj, F.array_min(dj)) - 1).alias(f"code{j}")
        )
    return base.select("vec_id", cell_col, *code_cols).select(
        "vec_id",
        "cell",
        F.array(*[f"code{j}" for j in range(m)]).alias("codes"),
    )


def write_ivf_pq_index(
    embeddings: DataFrame,
    coarse: list,
    cent: list,
    sd: int,
    name: str,
    buckets: int = DEFAULT_IVF_BUCKETS,
    path: str | None = None,
) -> None:
    """(Re)build the PQ-coded corpus table: (vec_id, cell, codes)
    bucketed+sorted on ``cell`` — ~85x smaller on disk than the raw
    IVF index (m codes instead of the embedding array), which is what
    makes the persisted form the 100 TB deployment shape: probes scan
    codes, never raw vectors. Codebooks AND coarse centroids ride the
    sidecar (:func:`load_ivf_pq_codebooks`): real generations come out
    of offline training and are not recomputable from the codes, so a
    restarted prober must read them back from the index itself —
    encoding or probing against the wrong generation silently corrupts
    both cells and codes."""
    DI._save_bucketed(
        _pq_coded(embeddings, coarse, cent, sd),
        name,
        ["cell"],
        buckets,
        path,
        extra_meta={
            "ivf_pq_codebooks": {
                "coarse": [[int(x) for x in c] for c in coarse],
                "cent": [
                    [[int(x) for x in c] for c in cj] for cj in cent
                ],
                "sd": int(sd),
            }
        },
    )


def _check_pq_generation(
    spark: SparkSession, index_table: str, coarse: list, cent: list, sd: int
) -> None:
    """The IVF-PQ twin of :func:`_check_centroid_generation`: same
    designed-absent states skip, same read/parse errors propagate
    (a corrupt sidecar must not silently disable the guard)."""
    loc = DI._table_location(spark, index_table)
    if loc is None:
        return
    meta = DI._read_sidecar(spark, loc)
    if not meta or "ivf_pq_codebooks" not in meta:
        return
    stored = meta["ivf_pq_codebooks"]
    if (
        [[int(x) for x in c] for c in stored["coarse"]]
        != [[int(x) for x in c] for c in coarse]
        or [[[int(x) for x in c] for c in cj] for cj in stored["cent"]]
        != [[[int(x) for x in c] for c in cj] for cj in cent]
        or int(stored["sd"]) != int(sd)
    ):
        raise ValueError(
            f"IVF-PQ generation mismatch for {index_table!r}: the "
            "supplied coarse centroids / codebooks differ from the "
            "generation recorded in the index sidecar — encoding or "
            "probing across generations corrupts cells and codes "
            "silently; use load_ivf_pq_codebooks, or rebuild with "
            "write_ivf_pq_index after a retrain"
        )


def load_ivf_pq_codebooks(spark: SparkSession, path: str) -> tuple:
    """Restart path: recover (coarse, cent, sd) from the index
    sidecar, so a fresh session can append and probe without the
    original training artifacts in memory."""
    meta = DI._read_sidecar(spark, path)
    if not meta or "ivf_pq_codebooks" not in meta:
        raise ValueError(
            f"no IVF-PQ codebooks recorded in the sidecar at {path!r}"
        )
    stored = meta["ivf_pq_codebooks"]
    return (
        [[int(x) for x in c] for c in stored["coarse"]],
        [[[int(x) for x in c] for c in cj] for cj in stored["cent"]],
        int(stored["sd"]),
    )


def append_to_ivf_pq_index(
    new_vectors: DataFrame,
    coarse: list,
    cent: list,
    sd: int,
    name: str,
) -> None:
    """Index maintenance for the PQ form: encode a batch against the
    SAME frozen generations and append into the existing bucket
    layout. The delivery contract is :func:`append_to_ivf_index`'s,
    unchanged — retry-idempotent via the cell-restricted anti-join
    (assignment is deterministic per generation, so a pre-existing
    copy of a batch vec_id must sit in one of the batch's cells),
    per-vec_id min-struct dedup WITHIN the batch so the survivor is a
    pure function of the batch contents, and the same one undetected
    case: re-appending a vec_id with a DIFFERENT embedding is a
    mutation this append-only index cannot express (caught by
    :func:`verify_ivf_pq_index`'s duplicate audit, not here)."""
    spark = new_vectors.sparkSession
    _check_pq_generation(spark, name, coarse, cent, sd)
    raw = _pq_coded(new_vectors, coarse, cent, sd)
    deduped = (
        raw.groupBy("vec_id")
        .agg(F.min(F.struct("cell", "codes")).alias("s"))
        .select("vec_id", F.col("s.cell").alias("cell"),
                F.col("s.codes").alias("codes"))
    )
    batch_cells = [
        int(r.cell) for r in raw.select("cell").distinct().collect()
    ]
    existing = (
        spark.table(name)
        .filter(F.col("cell").isin(batch_cells))
        .select("vec_id")
    )
    DI._append_bucketed(
        deduped.join(existing, "vec_id", "left_anti"), name, ["cell"]
    )


def verify_ivf_pq_index(spark: SparkSession, index_table: str) -> None:
    """Offline audit of a persisted IVF-PQ index — the invariants the
    write paths promise but concurrent maintenance can break:
    duplicate vec_ids, codes of the wrong arity or out of the
    codebook's range, cells outside the coarse table. Raises on the
    first violation; cheap enough to run after every maintenance
    window (one pruned-projection pass, no shuffle beyond the
    aggregate)."""
    loc = DI._table_location(spark, index_table)
    meta = DI._read_sidecar(spark, loc) if loc else None
    if not meta or "ivf_pq_codebooks" not in meta:
        raise ValueError(
            f"{index_table!r} has no IVF-PQ sidecar: not a PQ index"
        )
    stored = meta["ivf_pq_codebooks"]
    m = len(stored["cent"])
    ks = len(stored["cent"][0])
    n_cells = len(stored["coarse"])
    idx = spark.table(index_table)
    bad = idx.select(
        F.sum(
            (F.size("codes") != m).cast("long")
        ).alias("bad_arity"),
        F.sum(
            (
                F.aggregate(
                    "codes",
                    F.lit(0).cast("long"),
                    lambda acc, c: acc
                    + ((c < 0) | (c >= ks)).cast("long"),
                )
                > 0
            ).cast("long")
        ).alias("bad_code"),
        F.sum(
            ((F.col("cell") < 0) | (F.col("cell") >= n_cells)).cast("long")
        ).alias("bad_cell"),
        (F.count("*") - F.countDistinct("vec_id")).alias("dup_ids"),
    ).collect()[0]
    problems = {
        k: int(bad[k])
        for k in ("bad_arity", "bad_code", "bad_cell", "dup_ids")
        if int(bad[k])
    }
    if problems:
        raise ValueError(
            f"IVF-PQ index {index_table!r} failed verification: "
            f"{problems}"
        )


def ivf_pq_indexed_topk(
    spark: SparkSession,
    index_table: str,
    coarse: list,
    cent: list,
    sd: int,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 2,
) -> DataFrame:
    """ADC top-k over the PERSISTED PQ codes, probing each query's
    ``n_probe`` nearest coarse cells. The query batch is collected
    (bounded, LIMIT-before-collect like :func:`ann_indexed_topk`) so
    the probed cells become plan-time ``IN`` literals — the only form
    the bucketed scan can prune on — and each query ships its m x ks
    ADC lookup table in a broadcast Q-row frame; candidates score as
    a pure zip_with/element_at expression over the stored codes and
    rank under WindowGroupLimit. The index side reads codes only —
    never raw vectors — and never shuffles.

    Result contract: identical to :func:`similarity.ivf_pq_topk` over
    the same corpus — (query_id, neighbor_id, cell, adc_dist, rank),
    self-matches excluded."""
    if n_probe < 1:
        raise ValueError(f"n_probe must be >= 1, got {n_probe}")
    DI._touch_liveness(spark, index_table)
    _check_pq_generation(spark, index_table, coarse, cent, sd)
    m = len(cent)
    raw_q = (
        queries.select("vec_id", S.quantized().alias("v"))
        .limit(S.MAX_DRIVER_QUERY_ROWS + 1)
        .collect()
    )
    if len(raw_q) > S.MAX_DRIVER_QUERY_ROWS:
        raise ValueError(
            f"query batch exceeds MAX_DRIVER_QUERY_ROWS="
            f"{S.MAX_DRIVER_QUERY_ROWS} rows: the query batch is "
            "materialized on the driver to make the probed cells "
            "plan-time bucket-pruning literals"
        )
    qdata = []
    for r in sorted(raw_q, key=lambda r: r.vec_id):
        v = [int(x) for x in r.v]
        cdots = [
            (sum(a * b for a, b in zip(v, c)), cid)
            for cid, c in enumerate(coarse)
        ]
        probed = [
            cid for _d, cid in sorted(cdots, key=lambda t: (-t[0], t[1]))
        ][:n_probe]
        lut = [
            [
                sum((v[j * sd + i] - c[i]) ** 2 for i in range(sd))
                for c in cent[j]
            ]
            for j in range(m)
        ]
        qdata.append((int(r.vec_id), probed, lut))
    all_cells = sorted({c for _q, probed, _l in qdata for c in probed})
    qf = spark.createDataFrame(
        qdata,
        "query_id bigint, probed array<bigint>, lut array<array<bigint>>",
    )
    scored = (
        spark.table(index_table)
        .filter(F.col("cell").isin(all_cells))  # bucket-pruning literals
        .crossJoin(F.broadcast(qf))
        .filter(F.array_contains("probed", F.col("cell")))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "cell",
            F.aggregate(
                F.zip_with(
                    "codes",
                    "lut",
                    lambda c, l: F.element_at(l, (c + 1).cast("int")),
                ),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("adc_dist"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_dist"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cell", "adc_dist", "rank")
    )
