"""Similarity search over embedding columns (``array<float>``).

Two paths:

* ``brute_force_topk`` — exact cosine top-k: broadcast the (small) query
  set against all embeddings. Exact, O(Q·N) — the correctness baseline.
* ``lsh_bucketed_topk`` — random-hyperplane LSH: sign-bit bucket per
  vector, candidates limited to the query's bucket. The 100 TB path:
  the expensive pairwise work only happens within buckets (shuffle on
  bucket id), and bucket count scales with #planes.

Determinism: embeddings are quantized to integer milli-units
(``FLOOR(x*1000)``) before any arithmetic — integer dot products and
norms are exact in any accumulation order, and the final
``dot / (sqrt(na)*sqrt(nb))`` is a single identical double expression
on both engines, so results hash-match the DuckDB oracle exactly.
Hyperplanes are integer vectors from a fixed LCG-style formula shared
with the oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .util import fan_out

QUANT = 1000
N_PLANES = 4


def hyperplane_weights(n_planes: int = N_PLANES, dim: int = 64) -> list[list[int]]:
    """Deterministic integer hyperplanes: w[j][i] in [-1000, 1000]."""
    return [
        [((j * 2654435761 + i * 40503) % 2001) - 1000 for i in range(dim)]
        for j in range(n_planes)
    ]


def quantized(col: Column | str = "embedding") -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: F.floor(x * QUANT).cast("long"))


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _sqnorm(a: Column) -> Column:
    return F.aggregate(
        F.transform(a, lambda x: x * x),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


# --- unrolled fixed-dimension vector math (the JVM hot path) ---------------
#
# HOF lambdas (transform/zip_with/aggregate) are interpreted expression
# trees — they never enter whole-stage codegen, so a 64-dim dot product
# costs ~192 interpreted evals per row.  When the dimension is known
# (embeddings are fixed-width by schema contract, EMB_DIM here), the same
# math unrolled into per-element `get` expressions is fully codegen'd.
#
# The split that matters at Q·N pair volume: QUANTIZATION (floor/cast
# per element) happens ONCE PER ROW via :func:`qarray`, producing an
# ``array<long>``; all PER-PAIR work (:func:`pdot` /
# :func:`pcosine_with_norms`) then runs over the pre-quantized longs —
# 64 `get`+multiply terms per pair, no re-flooring.  (Round 3 inlined
# the flooring into the per-pair dot, re-quantizing both vectors for
# every one of the Q·N pairs and carrying a full interpreted-HOF
# fallback tree at every call site; that doubled `ann_cosine_topk` —
# VERDICT.md r3.  This layout restores once-per-row quantization while
# keeping the codegen'd per-pair loop.)
#
# Per-element math is IDENTICAL to the lambda form (floor(x * 1000)
# cast long, int64 sums — exact in any association), so results are
# bit-equal to the HOF path and every oracle hash-match is preserved.
# Unexpected dimensions fall back, cheaply: qarray's `size()` guard is
# per-row, and the per-pair fallbacks are the compact HOF forms over
# the already-quantized arrays (no flooring trees to duplicate).

EMB_DIM = 64  # embeddings table dimension (TESTDATA.md; asserted in tests)

# MODULE INVARIANT — pre-quantized inputs only.  :func:`pdot`,
# :func:`psqnorm` and :func:`pcosine_with_norms`
# consume the ``array<long>`` output of :func:`qarray` and perform NO
# quantization of their own.  Feeding them a raw ``array<float>`` of the
# right dimension silently computes float math and produces scores that
# cannot hash-match the oracle.  Column expressions can't see their
# input's resolved type, so call :func:`assert_quantized` on the
# DataFrame wherever a quantized column crosses a function boundary.


def assert_quantized(df: DataFrame, colname: str) -> None:
    """Raise ``TypeError`` unless ``df[colname]`` is ``array<long>`` —
    the :func:`qarray` output type the per-pair operators require."""
    from pyspark.sql.types import ArrayType, LongType

    dt = df.schema[colname].dataType
    if not (
        isinstance(dt, ArrayType) and isinstance(dt.elementType, LongType)
    ):
        raise TypeError(
            f"column {colname!r} must be pre-quantized array<long> "
            f"(qarray output), got {dt.simpleString()}; per-pair vector "
            "ops do not quantize"
        )


def _qterm(c: Column, i: int) -> Column:
    """Element i of the milli-unit quantization of a raw float vector —
    the unrolled twin of the ``quantized()`` lambda body."""
    return F.floor(F.get(c, F.lit(i)) * QUANT).cast("long")


def qarray(c: Column, dim: int = EMB_DIM) -> Column:
    """Pre-quantize a RAW ``array<float>`` into milli-unit ``array<long>``
    with unrolled per-element expressions. Evaluate ONCE per input row —
    every per-pair operator below consumes its output.

    STRICT fixed-dimension form, no runtime fallback: a ``CASE WHEN
    size(c)=dim … ELSE <HOF>`` branch would put a higher-order function
    (which Catalyst cannot codegen) inside the expression, and ONE
    non-codegen-able node makes the ENTIRE expression — unrolled branch
    included — evaluate interpreted AND breaks whole-stage codegen for
    its operator (measured: the LSH dedup verify dropped 18 → 2 s at
    sf0.1 when the fallbacks were removed). The dimension is a schema
    contract (EMB_DIM, asserted in tests + :func:`assert_quantized`);
    off-contract rows yield NULL (out-of-bounds ``get``), not silently
    different math. Use :func:`quantized` for genuinely variable dims."""
    return F.array(*[_qterm(c, i) for i in range(dim)])


def pdot(a: Column, b: Column, dim: int = EMB_DIM) -> Column:
    """Codegen'd integer dot product of two PRE-QUANTIZED ``array<long>``
    columns (:func:`qarray` outputs): ``sum_i a_i * b_i`` unrolled.
    Strict fixed-dimension form — see :func:`qarray` for why there is
    deliberately NO HOF fallback branch (it would force the whole
    expression interpreted); :func:`_dot` is the generic-dim HOF twin."""
    out = None
    for i in range(dim):
        t = F.get(a, F.lit(i)) * F.get(b, F.lit(i))
        out = t if out is None else out + t
    return out


def psqnorm(a: Column, dim: int = EMB_DIM) -> Column:
    """Codegen'd integer square-norm of a PRE-QUANTIZED ``array<long>``
    column — strict fixed-dimension form, no HOF fallback (see
    :func:`qarray`); :func:`_sqnorm` is the generic-dim twin."""
    out = None
    for i in range(dim):
        t = F.get(a, F.lit(i))
        sq = t * t
        out = sq if out is None else out + sq
    return out


def pcosine_with_norms(
    a: Column, b: Column, na: Column, nb: Column, dim: int = EMB_DIM
) -> Column:
    """Cosine from pre-quantized arrays with precomputed square-norms
    (same final double expression as :func:`cosine_with_norms`)."""
    return pdot(a, b, dim).cast("double") / (
        F.sqrt(na.cast("double")) * F.sqrt(nb.cast("double"))
    )


def cosine_with_norms(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """Cosine when the square-norms were precomputed per side.

    In a pairwise join each row's norm would otherwise be re-folded once
    per PAIR (Q× or bucket-size× amplification) — computing it once per
    input row before the join leaves only the dot product as per-pair
    work."""
    return _dot(a, b).cast("double") / (
        F.sqrt(na.cast("double")) * F.sqrt(nb.cast("double"))
    )


def arrow_cosine_topk(
    pairs: DataFrame, k: int, passthrough: tuple[str, ...] = ()
) -> DataFrame:
    """Vectorized scorer + per-batch partial top-k over candidate pairs.

    Input: (query_id, neighbor_id, *passthrough, qe, ae) where qe/ae are
    the RAW ``array<float>`` embeddings. Output: (query_id, neighbor_id,
    *passthrough, cos_sim), at most k rows per query per Arrow batch.

    Why Arrow here: the per-pair dot product is the hot loop — as a
    Catalyst ``aggregate(zip_with(...))`` it evaluates interpreted
    lambdas per ELEMENT (dim × pairs evals; HOFs never enter codegen).
    One numpy pass per Arrow batch does the same math as int64 matrix
    ops, ~10-100× less per-pair overhead, exactly the "vectorized
    Pandas UDF" path reserved for vector math.

    Bit-determinism vs the DuckDB oracle is preserved: quantization is
    ``floor(float64(x)*1000)`` per element (identical IEEE op), dot and
    square-norms are int64 (exact in any order), and the final
    ``dot / (sqrt(qn)*sqrt(an))`` is the same double expression the
    JVM/SQL sides evaluate.

    The per-batch top-k (same total order as the final rank window:
    cos_sim desc, neighbor_id asc — strict, since neighbor_id is
    unique per query) is a sound superset reduction: a global top-k row
    is in the top-k of every subset containing it, including its own
    batch. Spark's WindowGroupLimit then runs its own partial/final
    limit on what's left, so the all-to-one shuffle carries ≤ batches·k
    rows per query instead of Q·N. The closure touches only
    numpy/pyarrow — serialized by value, no package import on workers.
    """
    k_ = int(k)
    pass_cols = tuple(passthrough)
    out_fields = (
        [("query_id", "bigint"), ("neighbor_id", "bigint")]
        + [(c, dict(pairs.dtypes)[c]) for c in pass_cols]
        + [("cos_sim", "double")]
    )
    out_schema = ", ".join(f"{n} {t}" for n, t in out_fields)
    _PA_TYPES = {"bigint": "int64", "int": "int32", "double": "float64"}
    arrow_fields = [(n, _PA_TYPES[t]) for n, t in out_fields]

    def _score_topk(batches):
        import numpy as np
        import pyarrow as pa

        def _mat(col, n):
            # list<float> → (n, dim) float64: zero-copy reshape of the
            # flat values buffer when lists are dense and uniform (the
            # layout Spark emits for fixed-dim embeddings).
            if col.null_count == 0 and n:
                widths = np.diff(np.asarray(col.offsets))
                if (widths == widths[0]).all():
                    return (
                        np.asarray(col.flatten())
                        .astype(np.float64)
                        .reshape(n, int(widths[0]))
                    )
            return np.stack(col.to_pylist()).astype(np.float64)

        target = pa.schema([(n, getattr(pa, t)()) for n, t in arrow_fields])
        for batch in batches:
            n = batch.num_rows
            if not n:
                continue
            qm = np.floor(_mat(batch.column("qe"), n) * 1000.0).astype(
                np.int64
            )
            am = np.floor(_mat(batch.column("ae"), n) * 1000.0).astype(
                np.int64
            )
            dot = np.einsum("ij,ij->i", qm, am)
            qn = np.einsum("ij,ij->i", qm, qm)
            an = np.einsum("ij,ij->i", am, am)
            cos = dot.astype(np.float64) / (
                np.sqrt(qn.astype(np.float64)) * np.sqrt(an.astype(np.float64))
            )
            qid = np.asarray(batch.column("query_id")).astype(np.int64)
            nid = np.asarray(batch.column("neighbor_id")).astype(np.int64)
            # Per-query top-k without pandas: one lexsort in the final
            # rank window's total order (query asc, cos desc, nid asc —
            # last key primary), then rank-within-group by cumulative
            # group starts.
            order = np.lexsort((nid, -cos, qid))
            qs_ = qid[order]
            idx = np.arange(n)
            starts = np.maximum.accumulate(
                np.where(np.r_[True, qs_[1:] != qs_[:-1]], idx, 0)
            )
            keep = order[(idx - starts) < k_]
            cols = {
                "query_id": pa.array(qid[keep], pa.int64()),
                "neighbor_id": pa.array(nid[keep], pa.int64()),
                **{
                    c: pa.array(
                        np.asarray(batch.column(c))[keep],
                        target.field(c).type,
                    )
                    for c in pass_cols
                },
                "cos_sim": pa.array(cos[keep], pa.float64()),
            }
            yield pa.RecordBatch.from_pydict(cols, schema=target)

    return pairs.mapInArrow(_score_topk, out_schema)


# Hard bound on the query rows the Arrow scorer may materialize on the
# driver.  The query set is collected and closed over (exactly like the
# key argument of MLlib's approxNearestNeighbors), so its size is a
# DRIVER-memory contract, not an executor one: 10k × 64 float64 ≈ 5 MiB,
# comfortably bounded, while an unbounded query_max_id at 100 TB scale
# would OOM the driver silently.  Exceeding it raises instead.
MAX_DRIVER_QUERY_ROWS = 10_000


def brute_force_topk(
    embeddings: DataFrame,
    query_max_id: int = 5,
    k: int = 10,
    use_arrow: bool | None = None,
    scorer_parts: int | None = None,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query (vec_id < query_max_id),
    excluding self.

    Two physical strategies, chosen by corpus size (cost-based, the
    same kind of threshold decision codegen engines make; both produce
    BIT-IDENTICAL results and both are oracle-tested):

    * ``use_arrow=False`` — pure-JVM: broadcast the query rows, score
      pairs with codegen'd integer expressions, rank window (bounded
      by Spark's partial WindowGroupLimit). No Python worker at all —
      fastest while Q·N pair-scoring stays cheap.
    * ``use_arrow=True`` — ONE vectorized pass over the corpus. The
      query set — bounded (≤ Q rows) by contract, exactly like the key
      argument of MLlib's ``approxNearestNeighbors`` — is materialized
      on the driver and closed over; each corpus Arrow batch is scored
      against all queries with a single int64 matmul and reduced to
      its per-query top-k before anything leaves the worker. The
      corpus is never duplicated per query, never shuffled, and the
      only wide movement is ≤ batches·Q·k scored rows into the final
      rank window. This is the plan that survives a 1B-vector corpus:
      scan → narrow map → k·Q rows out.

    Default (``use_arrow=None``): Arrow, at every corpus size. Measured
    best-of-4 on warm caches, Arrow vs JVM, fresh plan per call
    (local[4], sf0.1 embeddings): 100 rows 0.96 vs 1.07 s, 1k rows
    0.77 vs 1.23 s, 2k rows 0.75 vs 0.95 s. The JVM path compiles its
    64-term unrolled expression tree for every fresh plan, which costs
    more than the Arrow worker's fixed cost: a 1-task ``mapInArrow``
    collect takes 0.14 s with workers started with the ``worker_site``
    hook (0.32 s when they import pyspark from Spark's zip;
    ``scripts/worker_floor.py``). At large N the single int64 matmul
    per batch wins on throughput anyway. The JVM path stays available
    (and oracle-tested) as the zero-Python-worker fallback.

    Bit-determinism vs the DuckDB oracle: quantization is
    ``floor(float64(x)*1000)`` per element, dot/norms are exact int64,
    and the final ``dot / (sqrt(qn)*sqrt(an))`` is the same double
    expression the SQL side evaluates.

    No repartition before the Arrow scorer: the map is scan-parallel
    (file splits give the width at scale via maxPartitionBytes), so a
    fan-out exchange would buy nothing but a shuffle of the whole
    corpus.
    """
    if query_max_id > MAX_DRIVER_QUERY_ROWS:
        raise ValueError(
            f"query_max_id={query_max_id} exceeds MAX_DRIVER_QUERY_ROWS="
            f"{MAX_DRIVER_QUERY_ROWS}: the query set is materialized on "
            "the driver (vec_id is unique, so the filter yields at most "
            "query_max_id rows); for larger query sets use the "
            "all-pairs/LSH operators, which never collect"
        )
    if use_arrow is None:
        use_arrow = True
    if not use_arrow:
        emb = fan_out(embeddings, key="vec_id")
        # Generic-dimension HOF forms here, NOT the strict unrolled
        # EMB_DIM expressions: this fallback strategy accepts any
        # vector width (the adversarial equivalence tests feed dim-8),
        # and per-row quantize + per-pair dot via interpreted lambdas
        # is acceptable on the non-default path. Same math, bit-equal.
        base = emb.select(
            "vec_id", quantized(F.col("embedding")).alias("v")
        ).select("vec_id", "v", _sqnorm(F.col("v")).alias("n2"))
        assert_quantized(base, "v")
        q = base.filter(F.col("vec_id") < query_max_id).select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            F.col("n2").alias("qn"),
        )
        a = base.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("v").alias("av"),
            F.col("n2").alias("an"),
        )
        sim = (
            F.broadcast(q)
            .join(a, F.col("query_id") != F.col("neighbor_id"))
            .select(
                "query_id",
                "neighbor_id",
                cosine_with_norms(
                    F.col("qv"), F.col("av"), F.col("qn"), F.col("an")
                ).alias("cos_sim"),
            )
        )
        w = Window.partitionBy("query_id").orderBy(
            F.desc("cos_sim"), F.asc("neighbor_id")
        )
        return (
            sim.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "cos_sim", "rank")
        )

    emb = embeddings
    # Volume-sized task count (see catalog.scorer_width): each Arrow
    # task pays a fixed cost, so a small corpus spread over the table's
    # full layout pays it per partition for no throughput (sf0.1, 4
    # cores: 1 task 0.16 s vs 4 tasks 0.26 s). coalesce is narrow (no
    # shuffle) and a no-op once the requested width reaches the scan's
    # own width at real scale.
    if scorer_parts is not None and scorer_parts < emb.rdd.getNumPartitions():
        emb = emb.coalesce(scorer_parts)
    qrows = sorted(
        embeddings.filter(F.col("vec_id") < query_max_id)
        .select("vec_id", "embedding")
        .collect(),
        key=lambda r: r.vec_id,
    )
    qids = [int(r.vec_id) for r in qrows]
    qvecs = [list(r.embedding) for r in qrows]
    k_ = int(k)

    def _score(batches):
        import numpy as np
        import pyarrow as pa

        Qm = np.floor(np.asarray(qvecs, dtype=np.float64) * 1000.0).astype(
            np.int64
        )
        qn = np.einsum("ij,ij->i", Qm, Qm).astype(np.float64)
        qid_arr = np.asarray(qids, dtype=np.int64)
        nq = len(qid_arr)

        def _embedding_matrix(col, n):
            """list<float> column → (n, dim) float64, zero-copy when the
            lists are dense and uniform (the Arrow layout Spark emits
            for a non-null fixed-dim embedding column); per-row fallback
            otherwise. np.stack over 10k object rows costs ~10× the
            flat-buffer reshape."""
            if col.null_count == 0 and n:
                widths = np.diff(np.asarray(col.offsets))
                if (widths == widths[0]).all():
                    # flatten() honors any slice offset, so the values
                    # buffer is exactly n·dim elements in row order.
                    return (
                        np.asarray(col.flatten())
                        .astype(np.float64)
                        .reshape(n, int(widths[0]))
                    )
            return np.stack(col.to_pylist()).astype(np.float64)

        # Per-batch candidate top-k, merged ONCE at generator end: the
        # task emits ≤ Q·k rows total instead of Q·k per batch, and the
        # downstream rank window merges tasks, not batches.
        cand_q, cand_n, cand_c = [], [], []
        for batch in batches:
            n = batch.num_rows
            if not n:
                continue
            nid = np.asarray(batch.column(0)).astype(np.int64)
            A = np.floor(
                _embedding_matrix(batch.column(1), n) * 1000.0
            ).astype(np.int64)
            an = np.einsum("ij,ij->i", A, A).astype(np.float64)
            cos = (A @ Qm.T).astype(np.float64) / (
                np.sqrt(qn)[None, :] * np.sqrt(an)[:, None]
            )
            for j in range(nq):
                col = cos[:, j]
                valid = nid != qid_arr[j]
                vn, vc = nid[valid], col[valid]
                # Total order identical to the final rank window:
                # cos desc, neighbor_id asc (lexsort: last key primary).
                order = np.lexsort((vn, -vc))[:k_]
                cand_q.append(np.full(len(order), qid_arr[j], np.int64))
                cand_n.append(vn[order])
                cand_c.append(vc[order])
        if not cand_q:
            return
        q_all = np.concatenate(cand_q)
        n_all = np.concatenate(cand_n)
        c_all = np.concatenate(cand_c)
        out_q, out_n, out_c = [], [], []
        for j in range(nq):
            m = q_all == qid_arr[j]
            order = np.lexsort((n_all[m], -c_all[m]))[:k_]
            out_q.append(q_all[m][order])
            out_n.append(n_all[m][order])
            out_c.append(c_all[m][order])
        yield pa.RecordBatch.from_pydict(
            {
                "query_id": pa.array(np.concatenate(out_q), pa.int64()),
                "neighbor_id": pa.array(np.concatenate(out_n), pa.int64()),
                "cos_sim": pa.array(np.concatenate(out_c), pa.float64()),
            }
        )

    scored = emb.select("vec_id", "embedding").mapInArrow(
        _score, "query_id bigint, neighbor_id bigint, cos_sim double"
    )
    if emb.rdd.getNumPartitions() == 1:
        # The scorer ran as ONE task, so its ≤ Q·k candidate rows
        # already sit in one partition — declaring that (coalesce(1)
        # reports SinglePartition, which satisfies the rank window's
        # ClusteredDistribution) lets Catalyst elide the final
        # exchange entirely. Physically a no-op on the 1-partition
        # chain; at scale the scorer is scan-wide, this branch is
        # skipped, and the (tasks·Q·k)-row shuffle merges in
        # parallel as before.
        scored = scored.coalesce(1)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def arrow_pair_cosine(
    pairs: DataFrame, threshold: float | None = None
) -> DataFrame:
    """(vec_a, vec_b, cos_sim) from candidate pairs carrying RAW
    ``array<float>`` embeddings in columns ``ea``/``eb`` — the
    vectorized exact-verify stage for the dedup paths.

    Why Arrow: a codegen'd per-pair dot over two joined 64-long arrays
    bottoms out at ~2-3 µs/row — not the arithmetic but the per-row
    materialization of two ~0.5 KB arrays through the join (measured:
    420 k cached pairs, 64-term projection, 1.2 s). One numpy pass per
    Arrow batch does the identical math as int64 row-wise einsum at
    memory bandwidth, and carrying raw float32 halves the join width
    vs pre-quantized longs. Bit-determinism as everywhere in this
    module: ``floor(float64(x)*1000)`` per element, int64 dot/norms,
    the same final double division. ``threshold`` filters in-worker so
    a selective verify never ships non-matches."""
    thr = None if threshold is None else float(threshold)

    def _score(batches):
        import numpy as np
        import pyarrow as pa

        target = pa.schema(
            [
                ("vec_a", pa.int64()),
                ("vec_b", pa.int64()),
                ("cos_sim", pa.float64()),
            ]
        )
        def _mat(col, n):
            # Zero-copy flat-buffer reshape for dense uniform lists
            # (see arrow_cosine_topk._mat).
            if col.null_count == 0 and n:
                widths = np.diff(np.asarray(col.offsets))
                if (widths == widths[0]).all():
                    return (
                        np.asarray(col.flatten())
                        .astype(np.float64)
                        .reshape(n, int(widths[0]))
                    )
            return np.stack(col.to_pylist()).astype(np.float64)

        for batch in batches:
            n = batch.num_rows
            if not n:
                continue
            am = np.floor(_mat(batch.column("ea"), n) * 1000.0).astype(
                np.int64
            )
            bm = np.floor(_mat(batch.column("eb"), n) * 1000.0).astype(
                np.int64
            )
            dot = np.einsum("ij,ij->i", am, bm)
            na = np.einsum("ij,ij->i", am, am)
            nb = np.einsum("ij,ij->i", bm, bm)
            cos = dot.astype(np.float64) / (
                np.sqrt(na.astype(np.float64)) * np.sqrt(nb.astype(np.float64))
            )
            keep = slice(None) if thr is None else cos >= thr
            out = pa.table(
                {
                    "vec_a": np.asarray(batch.column("vec_a")).astype(
                        np.int64
                    )[keep],
                    "vec_b": np.asarray(batch.column("vec_b")).astype(
                        np.int64
                    )[keep],
                    "cos_sim": cos[keep],
                }
            )
            yield from out.cast(target).to_batches()

    return pairs.select("vec_a", "vec_b", "ea", "eb").mapInArrow(
        _score, "vec_a bigint, vec_b bigint, cos_sim double"
    )


def arrow_lsh_buckets(
    embeddings: DataFrame,
    tables: list[list[list[int]]],
    keep_embedding: bool = False,
) -> DataFrame:
    """(vec_id, b0..b{T-1}): hyperplane LSH bucket ids for every table,
    one vectorized pass over the corpus.

    Why Arrow and not the unrolled JVM expressions: a T-table bucket
    projection is T × n_planes × dim multiply-adds per row as ONE
    generated method — past ~8 KB of bytecode HotSpot refuses to JIT
    the method, so the "codegen'd" expression executes as interpreted
    bytecode (measured: ~2.3 s per evaluation over 2 k rows at sf0.1,
    evaluated once per self-join side). The same math as int64 numpy
    matmuls is microseconds per batch, compiles nothing, and stays a
    narrow map at any scale. Bit-determinism: quantization is
    ``floor(float64(x)*1000)`` (same IEEE op as :func:`qarray`), dots
    are exact int64, bucket bit j = sign(dot(v, plane_j)) — identical
    to the SQL oracle's bucket expression.
    """
    n_tables = len(tables)
    # Bucket ids are int32 and weights are 1 << plane_index: 31+ planes
    # would wrap the id silently (wrong-but-plausible buckets). Fail at
    # plan time, driver-side, not per-batch in the worker.
    for t, tbl in enumerate(tables):
        if len(tbl) > 30:
            raise ValueError(
                f"table {t} has {len(tbl)} hyperplanes; int32 bucket ids "
                "support at most 30 (raise the output type to widen)"
            )
    keep = bool(keep_embedding)
    out_schema = "vec_id bigint, " + ", ".join(
        f"b{t} int" for t in range(n_tables)
    )
    if keep:
        out_schema += ", embedding array<float>"
    planes = [[list(map(int, w)) for w in tbl] for tbl in tables]

    def _buckets(batches):
        import numpy as np
        import pyarrow as pa

        mats = [np.array(tbl, dtype=np.int64) for tbl in planes]
        fields = [("vec_id", pa.int64())] + [
            (f"b{t}", pa.int32()) for t in range(len(mats))
        ]
        if keep:
            fields.append(("embedding", pa.list_(pa.float32())))
        target = pa.schema(fields)

        def _mat(col, n):
            # Zero-copy flat-buffer reshape for dense uniform lists
            # (see arrow_cosine_topk._mat).
            if col.null_count == 0 and n:
                widths = np.diff(np.asarray(col.offsets))
                if (widths == widths[0]).all():
                    return (
                        np.asarray(col.flatten())
                        .astype(np.float64)
                        .reshape(n, int(widths[0]))
                    )
            return np.stack(col.to_pylist()).astype(np.float64)

        for batch in batches:
            n = batch.num_rows
            if not n:
                continue
            emb = batch.column("embedding")
            qm = np.floor(_mat(emb, n) * 1000.0).astype(np.int64)
            cols = {"vec_id": np.asarray(batch.column("vec_id"))}
            for t, mat in enumerate(mats):
                dots = qm @ mat.T  # (rows, n_planes) exact int64
                bits = (dots > 0).astype(np.int64)
                # Accumulate in int64; the ≤30-plane guard above makes the
                # final int32 cast provably lossless.
                weights = 1 << np.arange(mat.shape[0], dtype=np.int64)
                cols[f"b{t}"] = (bits @ weights).astype(np.int32)
            out = pa.table(cols)
            if keep:
                # Pass the original Arrow column through unchanged — no
                # python-object round trip.
                out = out.append_column("embedding", emb)
            yield from out.cast(target).to_batches()

    return embeddings.select("vec_id", "embedding").mapInArrow(
        _buckets, out_schema
    )


def range_search(
    embeddings: DataFrame,
    query_max_id: int = 5,
    threshold: float = 0.3,
) -> DataFrame:
    """All neighbors with cosine >= ``threshold`` per query (vec_id <
    ``query_max_id``), excluding self — the range complement of top-k
    (retrieval pipelines use it for "everything at least this
    similar", e.g. near-dup blocklists and recall-bounded candidate
    generation).

    Shape at scale: the bounded query set broadcasts, the corpus is
    scanned ONCE with a narrow codegen'd projection (quantize + norm
    once per row, strict fixed-dim expressions), and the only wide
    output is the matches themselves — unlike top-k there is no rank
    window, so the plan is join → filter, one stage over the scan.
    Output volume is data-dependent (threshold chooses it); for
    corpus-scale query sets use the LSH bucket join
    (:func:`embedding_near_dup_lsh`) which never broadcasts.
    """
    if query_max_id > MAX_DRIVER_QUERY_ROWS:
        raise ValueError(
            f"query_max_id={query_max_id} exceeds MAX_DRIVER_QUERY_ROWS="
            f"{MAX_DRIVER_QUERY_ROWS}: use the LSH/all-pairs operators "
            "for corpus-scale query sets"
        )
    emb = fan_out(embeddings, key="vec_id")
    base = emb.select(
        "vec_id", qarray(F.col("embedding")).alias("v")
    ).select("vec_id", "v", psqnorm(F.col("v")).alias("n2"))
    assert_quantized(base, "v")
    q = base.filter(F.col("vec_id") < query_max_id).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("n2").alias("qn"),
    )
    a = base.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("v").alias("av"),
        F.col("n2").alias("an"),
    )
    return (
        F.broadcast(q)
        .join(a, F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            pcosine_with_norms(
                F.col("qv"), F.col("av"), F.col("qn"), F.col("an")
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def lsh_bucketed_topk(
    embeddings: DataFrame,
    query_max_id: int = 5,
    k: int = 5,
    n_planes: int = N_PLANES,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH bucket.
    The bucket equi-join replaces the cross product — this is what keeps
    the plan shuffle-bounded at scale (trade recall for candidate count
    via n_planes)."""
    embeddings = fan_out(embeddings, key="vec_id")
    planes = hyperplane_weights(n_planes)
    # Vectorized Arrow bucket assignment (see arrow_lsh_buckets: the
    # unrolled JVM bucket projection exceeds the JIT method limit and
    # runs as interpreted bytecode); embedding passes through the same
    # Arrow batch for the downstream pair scorer.
    bucketed = arrow_lsh_buckets(
        embeddings, [planes], keep_embedding=True
    ).withColumnRenamed("b0", "bucket")
    q = bucketed.filter(F.col("vec_id") < query_max_id).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        "bucket",
    )
    a = bucketed.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("ae"),
        "bucket",
    )
    pairs = (
        F.broadcast(q)
        .join(a, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", "bucket", "qe", "ae")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        arrow_cosine_topk(pairs, k, passthrough=("bucket",))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "bucket", "cos_sim", "rank")
    )


def embedding_near_dup_pairs(
    embeddings: DataFrame, threshold: float = 0.5, max_id: int | None = None
) -> DataFrame:
    """Near-duplicate pairs by cosine >= threshold.

    Test-scale form is all-pairs over a bounded id range; the scale path
    is the same verify step fed by LSH buckets (see lsh_bucketed_topk).
    Pair scoring runs in the vectorized Arrow verify
    (:func:`arrow_pair_cosine`) — the range self-join only carries the
    raw float32 embeddings.
    """
    embeddings = fan_out(embeddings, key="vec_id")
    base = embeddings.select("vec_id", "embedding")
    if max_id is not None:
        base = base.filter(F.col("vec_id") < max_id)
    a = base.select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea")
    )
    b = base.select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb")
    )
    pairs = a.join(b, F.col("vec_a") < F.col("vec_b"))
    return arrow_pair_cosine(pairs, threshold=threshold)


N_IVF_CELLS = 16


def ivf_ranked(
    embeddings: DataFrame, n_cells: int = N_IVF_CELLS, max_rank: int = 1
) -> DataFrame:
    """(vec_id, embedding, cell, cell_rank): each vector's centroids
    ranked by exact-integer dot product (ties → smallest centroid id),
    kept up to ``max_rank``. Centroids are the first ``n_cells`` vectors
    (deterministic stand-in for k-means — the assignment/search
    machinery is identical).

    Assignment runs in one vectorized Arrow pass: the bounded centroid
    table (``n_cells`` rows, guarded like the ANN query set) is closed
    over, and each corpus batch ranks its rows' cells with a single
    int64 matmul + argsort — a narrow map with NO 16× row fan-out and
    no rank window, where the join+window form materialized
    ``n_cells`` copies of every corpus row before discarding all but
    ``max_rank``. Bit-determinism: floor(float64*1000) quantization,
    int64 dots, ties to the smallest centroid id — identical to the
    SQL oracle's ranked join."""
    if n_cells > MAX_DRIVER_QUERY_ROWS:
        raise ValueError(
            f"n_cells={n_cells} exceeds MAX_DRIVER_QUERY_ROWS="
            f"{MAX_DRIVER_QUERY_ROWS}: the centroid table is "
            "materialized on the driver (vec_id is unique, so the "
            "filter yields at most n_cells rows)"
        )
    embeddings = fan_out(embeddings, key="vec_id")
    crows = sorted(
        embeddings.filter(F.col("vec_id") < n_cells)
        .select("vec_id", "embedding")
        .collect(),
        key=lambda r: r.vec_id,
    )
    cent_ids = [int(r.vec_id) for r in crows]
    cent_vecs = [[float(x) for x in r.embedding] for r in crows]
    return ranked_with_centroids(embeddings, cent_ids, cent_vecs, max_rank)


def make_cell_ranker(cent_ids: list[int], cent_vecs: list[list[float]]):
    """ONE copy of the cell-assignment math, shared by the Arrow
    kernel below and ann_index's driver-side probe assignment (r15
    review: the driver path originally duplicated this verbatim, so a
    future change to the quantization or tie-break would silently
    assign queries to different cells than the persisted corpus
    coding). Returns ``rank(mat_f64, max_rank) -> order`` where
    ``order[i]`` indexes the centroid arrays by (dot desc, centroid id
    asc). The closure captures the quantized centroid matrix directly
    and is serialized BY VALUE into worker closures — executors never
    import this module for it (the similarity kernels' deliberate
    no-package-import property)."""
    import numpy as np

    cm = np.floor(
        np.array(cent_vecs, dtype=np.float64) * 1000.0
    ).astype(np.int64)
    cids = np.array(cent_ids, dtype=np.int64)

    def rank(mat_f64, max_rank):
        import numpy as np

        qm = np.floor(mat_f64 * 1000.0).astype(np.int64)
        dots = qm @ cm.T  # (rows, n_cells) exact int64
        # Rank cells: dot desc, centroid id asc — lexsort keys are
        # applied last-key-primary, mirroring the window's ORDER BY.
        order = np.lexsort(
            (cids[None, :].repeat(len(qm), 0), -dots), axis=1
        )
        return order[:, : int(max_rank)]

    return rank


def ranked_with_centroids(
    embeddings: DataFrame,
    cent_ids: list[int],
    cent_vecs: list[list[float]],
    max_rank: int = 1,
) -> DataFrame:
    """:func:`ivf_ranked`'s assignment kernel against a FROZEN,
    caller-supplied centroid table — the shape the persisted IVF index
    needs (operators/ann_index.py): the builder, the incremental
    appender, and the query-side prober must all rank against the SAME
    centroids regardless of which corpus slice they see, so centroid
    derivation is split from assignment. Math and output contract are
    identical to :func:`ivf_ranked` (which now delegates here)."""
    mr = int(max_rank)
    ranker = make_cell_ranker(cent_ids, cent_vecs)

    def _assign(batches):
        import numpy as np
        import pyarrow as pa

        cids = np.array(cent_ids, dtype=np.int64)
        target = pa.schema(
            [
                ("vec_id", pa.int64()),
                ("embedding", pa.list_(pa.float32())),
                ("cell", pa.int64()),
                ("cell_rank", pa.int32()),
            ]
        )
        def _mat(col, n):
            # Zero-copy flat-buffer reshape for dense uniform lists
            # (see arrow_cosine_topk._mat).
            if col.null_count == 0 and n:
                widths = np.diff(np.asarray(col.offsets))
                if (widths == widths[0]).all():
                    return (
                        np.asarray(col.flatten())
                        .astype(np.float64)
                        .reshape(n, int(widths[0]))
                    )
            return np.stack(col.to_pylist()).astype(np.float64)

        for batch in batches:
            n = batch.num_rows
            if not n:
                continue
            emb = batch.column("embedding")
            top = ranker(_mat(emb, n), mr)
            rows = np.repeat(np.arange(n), top.shape[1])
            out = pa.table(
                {
                    "vec_id": np.asarray(batch.column("vec_id"))[rows],
                    "cell": cids[top.ravel()],
                    "cell_rank": np.tile(
                        np.arange(1, top.shape[1] + 1, dtype=np.int32),
                        n,
                    ),
                }
            ).append_column(
                # Arrow-native row fan-out of the original column (at
                # max_rank=1 `rows` is the identity and take() is a
                # no-op view).
                "embedding",
                emb.take(pa.array(rows, pa.int64())),
            )
            yield from out.select(
                ["vec_id", "embedding", "cell", "cell_rank"]
            ).cast(target).to_batches()

    return embeddings.select("vec_id", "embedding").mapInArrow(
        _assign,
        "vec_id bigint, embedding array<float>, cell bigint, cell_rank int",
    )


def ivf_assign(embeddings: DataFrame, n_cells: int = N_IVF_CELLS) -> DataFrame:
    """(vec_id, embedding, cell): nearest-centroid assignment
    (``ivf_ranked`` at rank 1)."""
    return ivf_ranked(embeddings, n_cells, 1).select(
        "vec_id", "embedding", "cell"
    )


def ivf_topk(
    embeddings: DataFrame,
    query_max_id: int = 5,
    k: int = 5,
    n_cells: int = N_IVF_CELLS,
) -> DataFrame:
    """Approximate top-k via IVF: candidates restricted to the query's
    cell (n_probe=1). The cell equi-join replaces the cross product —
    same scale shape as the hyperplane-LSH path, but with data-adaptive
    partitioning of the vector space.

    Carry-width trade (measured, n_cells=64 @ sf0.1, best-of-6): the
    pairs carry RAW float32 embeddings and the Arrow scorer re-floors
    per pair (1.148 s); carrying pre-quantized int64 arrays instead —
    2× the join width, no per-pair re-floor — measured 1.099 s with
    bit-identical results. A wash against this host's ±25% noise, so
    the NARROWER float32 carry stays: the re-floor is one vectorized
    pass per Arrow batch (cheap, constant per row), while carry width
    is paid per pair through the bucket join — the side that grows
    with candidate volume at scale."""
    assigned = ivf_assign(embeddings, n_cells)
    q = assigned.filter(F.col("vec_id") < query_max_id).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        "cell",
    )
    a = assigned.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("ae"),
        "cell",
    )
    pairs = (
        F.broadcast(q)
        .join(a, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", "cell", "qe", "ae")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        arrow_cosine_topk(pairs, k, passthrough=("cell",))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cell", "cos_sim", "rank")
    )


N_LSH_TABLES = 4


def table_planes(t: int, n_planes: int = N_PLANES, dim: int = 64) -> list[list[int]]:
    """Hyperplanes for hash table ``t``: the same LCG family, offset by
    table index so each table is an independent projection set."""
    all_planes = hyperplane_weights((t + 1) * n_planes, dim)
    return all_planes[t * n_planes :]


def embedding_near_dup_lsh(
    embeddings: DataFrame,
    threshold: float = 0.45,
    n_planes: int = N_PLANES,
    n_tables: int = N_LSH_TABLES,
) -> DataFrame:
    """Near-duplicate pairs via multi-table LSH — the scale path for
    ``embedding_near_dup_pairs``. OR-amplification: a pair is a
    candidate if it collides in ANY of ``n_tables`` independent
    hyperplane tables (recall 1-(1-p)^T vs p for one table); candidates
    are deduplicated BEFORE the exact-integer cosine verify, so the
    expensive step runs once per distinct pair. Precision is 1 by
    construction (same verify filter as brute force)."""
    embeddings = fan_out(embeddings, key="vec_id")
    # (vec_id, table, bucket): ONE vectorized Arrow pass computes all
    # tables' buckets (see arrow_lsh_buckets for why not unrolled JVM
    # expressions — a 4-table projection blows the JIT method limit and
    # runs as interpreted bytecode).
    bucketed = arrow_lsh_buckets(
        embeddings, [table_planes(t, n_planes) for t in range(n_tables)]
    )
    tagged = bucketed.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(t).alias("t"), F.col(f"b{t}").alias("b"))
                    for t in range(n_tables)
                ]
            )
        ).alias("tb"),
    ).select("vec_id", F.col("tb.t").alias("t"), F.col("tb.b").alias("b"))
    x = tagged.alias("x")
    y = tagged.alias("y")
    cand = (
        x.join(
            y,
            (F.col("x.t") == F.col("y.t"))
            & (F.col("x.b") == F.col("y.b"))
            & (F.col("x.vec_id") < F.col("y.vec_id")),
        )
        .select(
            F.col("x.vec_id").alias("vec_a"), F.col("y.vec_id").alias("vec_b")
        )
        .distinct()
    )
    # Exact verify in the vectorized Arrow scorer: the candidate joins
    # attach only the raw float32 embeddings (half the width of
    # pre-quantized longs), and scoring+threshold run in-worker
    # (see arrow_pair_cosine for the measured JVM per-pair floor).
    a = embeddings.select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea")
    )
    b = embeddings.select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb")
    )
    pairs = cand.join(a, "vec_a").join(b, "vec_b")
    return arrow_pair_cosine(pairs, threshold=threshold)


def ivf_multiprobe_topk(
    embeddings: DataFrame,
    query_max_id: int = 5,
    k: int = 5,
    n_cells: int = N_IVF_CELLS,
    n_probe: int = 2,
) -> DataFrame:
    """IVF search probing the query's ``n_probe`` nearest cells — the
    standard recall dial: candidates grow ~linearly in n_probe while
    the corpus side stays single-cell-assigned, so each (query,
    neighbor) pair still meets at most once (the neighbor's one cell
    either is among the query's probes or isn't). n_probe = n_cells
    degenerates to exact brute force; n_probe=1 is :func:`ivf_topk`."""
    ranked = ivf_ranked(embeddings, n_cells, max_rank=n_probe)
    q = ranked.filter(F.col("vec_id") < query_max_id).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        "cell",
    )
    a = ranked.filter(F.col("cell_rank") == 1).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("ae"),
        "cell",
    )
    pairs = (
        F.broadcast(q)
        .join(a, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", "cell", "qe", "ae")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        arrow_cosine_topk(pairs, k, passthrough=("cell",))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cell", "cos_sim", "rank")
    )


def ivf_prototypes(
    embeddings: DataFrame, n_cells: int = N_IVF_CELLS
) -> DataFrame:
    """SemDeDup-style cluster prototypes: (cell, n_members,
    proto_vec_id, proto_dot) — per IVF cell, its member count and the
    member with the highest exact-integer dot product to the cell's
    centroid (ties -> smallest vec_id).

    This is the representative-selection half of semantic dedup
    (Abbas et al. 2023 keep one exemplar per semantic cluster and drop
    or downweight the rest); downstream, joining the corpus against
    the prototype set on ``cell`` implements the drop.

    Scale shape: one vectorized Arrow pass assigns each vector's best
    cell AND emits the winning dot (a (rows, n_cells) int64 matmul +
    argmax per batch — no row fan-out, no embedding carry on the
    output), then a partial-aggregated groupBy(cell) reduces to
    ``n_cells`` rows. The arg-max is a ``max(struct(dot, -vec_id))``
    so it map-side combines instead of windowing over skewed
    cell-count partitions. Centroids are the first ``n_cells``
    vectors, guarded like every bounded driver collect."""
    if n_cells > MAX_DRIVER_QUERY_ROWS:
        raise ValueError(
            f"n_cells={n_cells} exceeds MAX_DRIVER_QUERY_ROWS="
            f"{MAX_DRIVER_QUERY_ROWS}: the centroid table is "
            "materialized on the driver"
        )
    embeddings = fan_out(embeddings, key="vec_id")
    crows = sorted(
        embeddings.filter(F.col("vec_id") < n_cells)
        .select("vec_id", "embedding")
        .collect(),
        key=lambda r: r.vec_id,
    )
    cent_ids = [int(r.vec_id) for r in crows]
    cent_vecs = [[float(x) for x in r.embedding] for r in crows]

    def _assign(batches):
        import numpy as np
        import pyarrow as pa

        cm = np.floor(
            np.array(cent_vecs, dtype=np.float64) * 1000.0
        ).astype(np.int64)
        cids = np.array(cent_ids, dtype=np.int64)
        target = pa.schema(
            [
                ("vec_id", pa.int64()),
                ("cell", pa.int64()),
                ("dot", pa.int64()),
            ]
        )

        def _mat(col, n):
            # Zero-copy flat-buffer reshape (see arrow_cosine_topk._mat).
            if col.null_count == 0 and n:
                widths = np.diff(np.asarray(col.offsets))
                if (widths == widths[0]).all():
                    return (
                        np.asarray(col.flatten())
                        .astype(np.float64)
                        .reshape(n, int(widths[0]))
                    )
            return np.stack(col.to_pylist()).astype(np.float64)

        for batch in batches:
            n = batch.num_rows
            if not n:
                continue
            qm = np.floor(
                _mat(batch.column("embedding"), n) * 1000.0
            ).astype(np.int64)
            dots = qm @ cm.T  # (rows, n_cells) exact int64
            # Best cell: dot desc, centroid id asc — argmax over
            # lexsort keys, mirroring ivf_ranked's tie-break.
            order = np.lexsort(
                (cids[None, :].repeat(len(qm), 0), -dots), axis=1
            )
            best = order[:, 0]
            rows = np.arange(len(qm))
            yield from pa.table(
                {
                    "vec_id": np.asarray(batch.column("vec_id")),
                    "cell": cids[best],
                    "dot": dots[rows, best],
                }
            ).cast(target).to_batches()

    assigned = embeddings.select("vec_id", "embedding").mapInArrow(
        _assign, "vec_id bigint, cell bigint, dot bigint"
    )
    agg = assigned.groupBy("cell").agg(
        F.count("*").alias("n_members"),
        F.max(
            F.struct(
                F.col("dot").alias("d"), (-F.col("vec_id")).alias("nv")
            )
        ).alias("best"),
    )
    return agg.select(
        "cell",
        "n_members",
        (-F.col("best.nv")).alias("proto_vec_id"),
        F.col("best.d").alias("proto_dot"),
    )


def kmeans_refine(
    embeddings: DataFrame, n_cells: int = N_IVF_CELLS
) -> DataFrame:
    """One Lloyd's iteration refining the IVF centroids: (vec_id,
    cell0, cell1, moved) — each vector's assignment under the seed
    centroids (first ``n_cells`` vectors) and under the recomputed
    per-cell mean centroids, with the movement flag.

    This upgrades the "first-N stand-in" centroid story to real
    k-means training while keeping every value engine-exact: the new
    centroid is the per-cell per-dimension INTEGER mean of the
    quantized vectors — sums are exact int64 (order-free), and the
    mean uses TRUNCATING division to match SQL ``//`` semantics. More
    iterations = more calls (each a full pass, like any Lloyd's step).

    Scale shape: assignment passes are the one-Arrow-matmul maps of
    :func:`ivf_ranked`; the centroid update is a posexplode over
    dimensions whose shuffle is map-side combined down to
    ``n_cells * dim`` rows per partition, then a bounded driver
    collect (guarded) — the same partial-aggregation shape a
    cluster-scale k-means uses, with the driver as the (tiny)
    reducer of cells x dims."""
    if n_cells * 64 > MAX_DRIVER_QUERY_ROWS:
        raise ValueError(
            f"n_cells={n_cells}: centroid-sum collect would exceed "
            f"MAX_DRIVER_QUERY_ROWS={MAX_DRIVER_QUERY_ROWS}"
        )
    assigned = ivf_ranked(embeddings, n_cells, 1).select(
        "vec_id", "embedding", F.col("cell").alias("cell0")
    )
    q = F.transform(
        "embedding",
        lambda x: F.floor(x.cast("double") * F.lit(1000.0)).cast("long"),
    )
    dims = assigned.select(
        "cell0", F.posexplode(q).alias("pos", "val")
    )
    sums = (
        dims.groupBy("cell0", "pos")
        .agg(F.sum("val").alias("s"), F.count("*").alias("cnt"))
        .collect()
    )
    import numpy as np

    if not sums:
        # Empty/centroid-less embeddings table: no cells to refine —
        # an empty result with the output schema, not a max() crash.
        return embeddings.sparkSession.createDataFrame(
            [], "vec_id bigint, cell0 bigint, cell1 bigint, moved boolean"
        )
    cells = sorted({int(r.cell0) for r in sums})
    dim = max(int(r.pos) for r in sums) + 1
    cidx = {c: i for i, c in enumerate(cells)}
    S = np.zeros((len(cells), dim), dtype=np.int64)
    C = np.zeros(len(cells), dtype=np.int64)
    for r in sums:
        S[cidx[int(r.cell0)], int(r.pos)] = int(r.s)
        C[cidx[int(r.cell0)]] = int(r.cnt)
    # Truncating integer division (matches SQL // — numpy // floors).
    M = (np.sign(S) * (np.abs(S) // C[:, None])).astype(np.int64)
    new_ids = np.array(cells, dtype=np.int64)
    mvecs = M.tolist()
    mids = new_ids.tolist()

    def _reassign(batches):
        import numpy as np
        import pyarrow as pa

        mm = np.array(mvecs, dtype=np.int64)
        ids = np.array(mids, dtype=np.int64)
        target = pa.schema(
            [
                ("vec_id", pa.int64()),
                ("cell0", pa.int64()),
                ("cell1", pa.int64()),
            ]
        )

        def _mat(col, n):
            if col.null_count == 0 and n:
                widths = np.diff(np.asarray(col.offsets))
                if (widths == widths[0]).all():
                    return (
                        np.asarray(col.flatten())
                        .astype(np.float64)
                        .reshape(n, int(widths[0]))
                    )
            return np.stack(col.to_pylist()).astype(np.float64)

        for batch in batches:
            n = batch.num_rows
            if not n:
                continue
            qm = np.floor(
                _mat(batch.column("embedding"), n) * 1000.0
            ).astype(np.int64)
            dots = qm @ mm.T
            order = np.lexsort(
                (ids[None, :].repeat(len(qm), 0), -dots), axis=1
            )
            yield from pa.table(
                {
                    "vec_id": np.asarray(batch.column("vec_id")),
                    "cell0": np.asarray(batch.column("cell0")),
                    "cell1": ids[order[:, 0]],
                }
            ).cast(target).to_batches()

    out = assigned.mapInArrow(
        _reassign, "vec_id bigint, cell0 bigint, cell1 bigint"
    )
    return out.select(
        "vec_id",
        "cell0",
        "cell1",
        (F.col("cell0") != F.col("cell1")).alias("moved"),
    )


RP_OUT_DIM = 8  # random-projection output dimension


def random_projection(
    emb: DataFrame,
    out_dim: int = RP_OUT_DIM,
    scorer_parts: int | None = None,
) -> DataFrame:
    """Johnson–Lindenstrauss-style dimensionality reduction with exact
    integer math: project each quantized embedding onto ``out_dim``
    deterministic integer hyperplanes (:func:`hyperplane_weights`, the
    same plane family the LSH ops use) and emit the REDUCED VECTOR as
    ``p0..p{out_dim-1}`` columns.

    Unlike :func:`arrow_lsh_buckets` (which keeps only the sign bit per
    plane), this keeps the full projection value — the standard prep
    step before cheap downstream ANN / clustering on the reduced space,
    cutting per-vector bytes by dim/out_dim while approximately
    preserving pairwise dots.

    Why Arrow and not unrolled JVM expressions: out_dim × dim
    multiply-adds per row as one generated method is 512 terms here —
    past janino's 64 KB method limit, so the "codegen'd" plan silently
    falls back to interpreted evaluation (observed when this operator
    was first written unrolled). The same math as one int64 numpy
    matmul per Arrow batch compiles nothing and stays a narrow map at
    any scale — the :func:`arrow_lsh_buckets` argument verbatim.
    Bit-determinism: quantization is ``floor(float64(x)*1000)`` (same
    IEEE op as :func:`qarray`), projections are exact int64 dots of the
    closed-form plane weights both engines can evaluate.
    """
    planes = [list(map(int, w)) for w in hyperplane_weights(out_dim, EMB_DIM)]
    out_schema = "vec_id bigint, " + ", ".join(
        f"p{j} bigint" for j in range(out_dim)
    )

    def _project(batches):
        import numpy as np
        import pyarrow as pa

        mat = np.array(planes, dtype=np.int64)  # (out_dim, dim)
        target = pa.schema(
            [("vec_id", pa.int64())]
            + [(f"p{j}", pa.int64()) for j in range(mat.shape[0])]
        )

        def _mat(col, n):
            if col.null_count == 0 and n:
                widths = np.diff(np.asarray(col.offsets))
                if (widths == widths[0]).all():
                    return (
                        np.asarray(col.flatten())
                        .astype(np.float64)
                        .reshape(n, int(widths[0]))
                    )
            return np.stack(col.to_pylist()).astype(np.float64)

        for batch in batches:
            n = batch.num_rows
            if not n:
                continue
            qm = np.floor(_mat(batch.column("embedding"), n) * 1000.0).astype(
                np.int64
            )
            dots = qm @ mat.T  # (rows, out_dim) exact int64
            cols = {"vec_id": np.asarray(batch.column("vec_id"))}
            for j in range(mat.shape[0]):
                cols[f"p{j}"] = dots[:, j]
            yield from pa.table(cols).cast(target).to_batches()

    # Volume-sized task count, same policy as the ANN scorers
    # (catalog.scorer_width): each Arrow task pays a fixed cost, so a
    # small corpus must NOT be fanned out to the table's full layout
    # (sf0.1, 4 cores: 1 task 0.12 s vs 4 tasks 0.16 s). coalesce is
    # narrow and becomes a no-op once the scan's own width reaches the
    # requested parts at real scale.
    base = emb.select("vec_id", "embedding")
    if scorer_parts is not None and scorer_parts < base.rdd.getNumPartitions():
        base = base.coalesce(scorer_parts)
    return base.mapInArrow(_project, out_schema)


# ---------------------------------------------------------------------------
# Product quantization (PQ): subspace codebooks + asymmetric-distance
# search — the 100 TB ANN compression path (IVF-PQ's PQ half)
# ---------------------------------------------------------------------------

PQ_M = 4  # subspaces
PQ_KS = 8  # centroids per subspace (3-bit codes)


def _lit_arr(vals) -> Column:
    """One-node ``array<bigint>`` literal. ``F.lit`` on a 1-D int64
    ndarray is a SINGLE py4j call producing a SINGLE Catalyst Literal
    node, where the per-element ``F.array(*[F.lit(x).cast("long")...])``
    chain costs two py4j round-trips and one tree node per element —
    measured 14× faster to build for a 16-element centroid, and the
    analyzer sees one literal instead of a CreateArray of 16 (r22, the
    PQ family's 5.8–8.5 s plan builds were dominated by exactly this).
    Value semantics are identical (verified: same results, same
    ``array<bigint>`` type)."""
    import numpy as np

    return F.lit(np.asarray([int(x) for x in vals], dtype=np.int64))


def _prefix_rows(embeddings: DataFrame, max_id: int) -> list:
    """One bounded collect of the deterministic id-prefix rows
    (``vec_id < max_id``) as sorted (vec_id, quantized v) Rows — the
    shared source for PQ seeds, IVF coarse centroids, and query
    batches. Callers that need several prefixes (ivf_pq_topk: coarse
    16 + seeds 8 + queries 3) collect the LARGEST once and slice by
    vec_id, instead of paying one driver job per prefix (r22, VERDICT
    item 2: fewer training round-trips)."""
    return sorted(
        embeddings.filter(F.col("vec_id") < max_id)
        .select("vec_id", quantized().alias("v"))
        .collect(),
        key=lambda r: r.vec_id,
    )


def _pq_partial_sums(
    embeddings: DataFrame,
    seed_cent: list,
    m: int,
    sd: int,
    coarse: list | None = None,
) -> list:
    """The Lloyd-update sufficient statistics in ONE distributed pass:
    assign every (residual) subvector to its nearest seed centroid and
    return the collected per-(j, cell, pos) integer sums + counts.

    r22 rewrite (guide §4.2 / VERDICT item 2): the previous form
    unrolled m×ks literal-L2 aggregates plus an explode→posexplode
    (64 rows per input row) into a groupBy — ~3.5 s of py4j expression
    construction and Catalyst analysis per training replay, before any
    data moved. This form hands whole Arrow batches to numpy: exact
    int64 math (same quantization kernel as :func:`kmeans_refine`'s
    `_reassign`, same first-min/first-max tie rules as
    ``array_position``-of-min/max), one partial histogram per task
    (≤ m·ks·sd rows), one tiny groupBy, one collect. Bit-identical
    output (oracle parity + tests/test_pq_training.py pin it); the
    distributed shape is unchanged — map-side partials bounded by the
    codebook size, never by data volume.

    ``coarse`` (residual IVF-PQ): when given, each vector is first
    assigned to its max-dot coarse cell (ties to lowest cid) and the
    cell centroid subtracted before the subspace split — the
    :func:`ivf_pq_residual_topk` training input."""
    seed_payload = [
        [[int(x) for x in c] for c in seed_cent[j]] for j in range(m)
    ]
    coarse_payload = (
        None if coarse is None else [[int(x) for x in c] for c in coarse]
    )
    m_, sd_ = int(m), int(sd)

    def _partials(batches):
        import numpy as np
        import pyarrow as pa

        cents = np.array(seed_payload, dtype=np.int64)  # (m, ks, sd)
        n_seeds = cents.shape[1]
        cmat = (
            None
            if coarse_payload is None
            else np.array(coarse_payload, dtype=np.int64)
        )
        S_ = np.zeros((m_, n_seeds, sd_), dtype=np.int64)
        C_ = np.zeros((m_, n_seeds), dtype=np.int64)

        def _mat(col, n):
            if col.null_count == 0 and n:
                widths = np.diff(np.asarray(col.offsets))
                if (widths == widths[0]).all():
                    return (
                        np.asarray(col.flatten())
                        .astype(np.float64)
                        .reshape(n, int(widths[0]))
                    )
            return np.stack(col.to_pylist()).astype(np.float64)

        for batch in batches:
            n = batch.num_rows
            if not n:
                continue
            q = np.floor(
                _mat(batch.column("embedding"), n) * 1000.0
            ).astype(np.int64)
            if cmat is not None:
                # argmax = first max == dot DESC, cid ASC (the
                # array_position-of-array_max contract)
                cell = np.argmax(q @ cmat.T, axis=1)
                q = q - cmat[cell]
            for j in range(m_):
                sub = q[:, j * sd_ : (j + 1) * sd_]
                diff = sub[:, None, :] - cents[j][None, :, :]
                # argmin = first min == dist ASC, cid ASC
                a = np.argmin(np.einsum("nks,nks->nk", diff, diff), axis=1)
                np.add.at(S_[j], a, sub)
                np.add.at(C_[j], a, 1)
        jj, cc = np.nonzero(C_)
        if len(jj) == 0:
            return
        k = len(jj)
        yield pa.record_batch(
            {
                "j": pa.array(np.repeat(jj, sd_).astype("int32")),
                "cell": pa.array(np.repeat(cc, sd_).astype("int32")),
                "pos": pa.array(
                    np.tile(np.arange(sd_), k).astype("int32")
                ),
                "s": pa.array(S_[jj, cc].ravel()),
                "cnt": pa.array(np.repeat(C_[jj, cc], sd_)),
            }
        )

    part = embeddings.select("embedding").mapInArrow(
        _partials, "j int, cell int, pos int, s long, cnt long"
    )
    return (
        part.groupBy("j", "cell", "pos")
        .agg(F.sum("s").alias("s"), F.sum("cnt").alias("cnt"))
        .collect()
    )


def _pq_merge_sums(seed_cent: list, sums: list, m: int, sd: int) -> list:
    """Driver-side Lloyd update from the collected sufficient
    statistics: per-(j, cell) integer mean with truncating division
    (matches DuckDB ``//``; the kmeans_refine pairing hash-validated
    it), empty cells keep their seed (the oracle's LEFT JOIN)."""
    cent = [[list(c) for c in seed_cent[j]] for j in range(m)]
    acc: dict[tuple[int, int], tuple[list[int], int]] = {}
    for r in sums:
        key = (int(r.j), int(r.cell))
        if key not in acc:
            acc[key] = ([0] * sd, 0)
        vec, _ = acc[key]
        vec[int(r.pos)] = int(r.s)
        acc[key] = (vec, int(r.cnt))
    for (j, cell), (vec, cnt) in acc.items():
        cent[j][cell] = [
            (abs(s) // cnt) * (1 if s >= 0 else -1) for s in vec
        ]
    return cent


def _pq_centroids(
    embeddings: DataFrame, m: int, ks: int, seed_rows: list | None = None
) -> tuple[list[list[list[int]]], int]:
    """Train per-subspace codebooks: seed centroids are the first
    ``ks`` vectors' subvectors (vec_id < ks, deterministic), refined
    by ONE integer-mean Lloyd's step (exact int64 sums, truncating
    division — the :func:`kmeans_refine` mechanics per subspace).
    Returns (centroids[j][cell] -> int list, subspace_dim).

    Scale shape: one distributed pass (:func:`_pq_partial_sums` —
    per-task Arrow partial histograms bounded by m·ks·sd, one tiny
    groupBy, one bounded driver collect); empty cells keep their seed
    (mirrored by the oracle's LEFT JOIN). ``seed_rows`` lets callers
    that already collected a covering id-prefix (:func:`_prefix_rows`)
    skip the seed job."""
    if ks > MAX_DRIVER_QUERY_ROWS:
        raise ValueError(
            f"ks={ks} exceeds MAX_DRIVER_QUERY_ROWS={MAX_DRIVER_QUERY_ROWS}"
        )
    seeds = (
        [r for r in seed_rows if r.vec_id < ks]
        if seed_rows is not None
        else _prefix_rows(embeddings, ks)
    )
    if not seeds:
        raise ValueError("PQ training needs at least one seed vector")
    d = len(seeds[0].v)
    if d % m:
        raise ValueError(f"embedding dim {d} not divisible by m={m}")
    sd = d // m
    seed_cent = [
        [list(r.v[j * sd : (j + 1) * sd]) for r in seeds] for j in range(m)
    ]
    sums = _pq_partial_sums(embeddings, seed_cent, m, sd)
    return _pq_merge_sums(seed_cent, sums, m, sd), sd


def pq_encode(
    embeddings: DataFrame, m: int = PQ_M, ks: int = PQ_KS
) -> DataFrame:
    """PQ-encode the corpus: (vec_id, subspace, code, sub_dist) — each
    vector's per-subspace nearest-codebook-centroid index (ties break
    to the lowest cell, the array_position-first-min == ORDER BY dist,
    cid contract) plus the exact integer L2 residual to it.

    After the bounded training pass, encoding is a PURE column
    expression against centroid literals — no shuffle, no Python: the
    plan that runs at scan speed over 100 TB of vectors. m*ks codes of
    log2(ks) bits compress a 64-dim float vector ~85x; sub_dist pins
    the DISTANCES (not just the argmins) against the oracle."""
    cent, sd = _pq_centroids(embeddings, m, ks)

    def _l2(sub: Column, c: list[int]) -> Column:
        return F.aggregate(
            F.zip_with(
                sub,
                _lit_arr(c),
                lambda x, y: (x - y) * (x - y),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    base = embeddings.select("vec_id", quantized().alias("v")).select(
        "vec_id",
        *[F.slice("v", j * sd + 1, sd).alias(f"s{j}") for j in range(m)],
    )
    per_j = []
    for j in range(m):
        dists = F.array(*[_l2(F.col(f"s{j}"), c) for c in cent[j]])
        per_j.append(
            F.struct(
                F.lit(j).cast("int").alias("subspace"),
                (F.array_position(dists, F.array_min(dists)) - 1).alias(
                    "code"
                ),
                F.array_min(dists).alias("sub_dist"),
            )
        )
    return base.select(
        "vec_id", F.explode(F.array(*per_j)).alias("e")
    ).select("vec_id", "e.subspace", "e.code", "e.sub_dist")


def pq_adc_topk(
    embeddings: DataFrame,
    m: int = PQ_M,
    ks: int = PQ_KS,
    query_max_id: int = 3,
    k: int = 5,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: for each query
    (vec_id < query_max_id), approx_dist(q, x) = sum_j
    L2(q_sub_j, codebook_j[code_j(x)]) — the query stays exact, the
    corpus is represented by its codes. Returns (query_id,
    neighbor_id, adc_dist, rank), self excluded, ties on (dist,
    neighbor_id).

    Scale shape: codes are computed inline (scan-speed expressions);
    each corpus row cross-joins only the BROADCAST Q-row query frame
    carrying per-query distance lookup tables (m x ks ints — the
    classic ADC LUT), and the final per-query top-k is a
    WindowGroupLimit-bounded rank window over N x Q scored rows —
    never a re-scan, never a corpus shuffle."""
    if query_max_id > MAX_DRIVER_QUERY_ROWS:
        raise ValueError(
            f"query_max_id={query_max_id} exceeds MAX_DRIVER_QUERY_ROWS="
            f"{MAX_DRIVER_QUERY_ROWS}"
        )
    # One collect covers seeds AND queries (r22: was two driver jobs).
    prefix = _prefix_rows(embeddings, max(ks, query_max_id))
    cent, sd = _pq_centroids(embeddings, m, ks, seed_rows=prefix)
    qrows = [r for r in prefix if r.vec_id < query_max_id]
    luts = []
    for r in qrows:
        lut = [
            [
                sum(
                    (int(r.v[j * sd + i]) - c[i]) ** 2 for i in range(sd)
                )
                for c in cent[j]
            ]
            for j in range(m)
        ]
        luts.append((int(r.vec_id), lut))
    spark = embeddings.sparkSession
    qlut = spark.createDataFrame(
        luts, "query_id bigint, lut array<array<bigint>>"
    )

    def _l2(sub: Column, c: list[int]) -> Column:
        return F.aggregate(
            F.zip_with(
                sub,
                _lit_arr(c),
                lambda x, y: (x - y) * (x - y),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    base = embeddings.select("vec_id", quantized().alias("v")).select(
        "vec_id",
        *[F.slice("v", j * sd + 1, sd).alias(f"s{j}") for j in range(m)],
    )
    code_cols = []
    for j in range(m):
        dists = F.array(*[_l2(F.col(f"s{j}"), c) for c in cent[j]])
        code_cols.append(
            (F.array_position(dists, F.array_min(dists)) - 1).alias(
                f"code{j}"
            )
        )
    coded = base.select("vec_id", F.array(*code_cols).alias("codes"))
    scored = coded.crossJoin(F.broadcast(qlut)).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.aggregate(
            F.zip_with(
                "codes",
                "lut",
                lambda c, l: F.element_at(l, (c + 1).cast("int")),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("adc_dist"),
    ).filter(F.col("neighbor_id") != F.col("query_id"))
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_dist"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "adc_dist", "rank")
    )


def ivf_pq_topk(
    embeddings: DataFrame,
    n_cells: int = N_IVF_CELLS,
    m: int = PQ_M,
    ks: int = PQ_KS,
    query_max_id: int = 3,
    k: int = 5,
    n_probe: int = 2,
) -> DataFrame:
    """The composed production ANN stack: IVF coarse cells gate the
    candidate set (each query probes its ``n_probe`` nearest cells),
    PQ codes + per-query ADC lookup tables rank inside it — IVF-PQ's
    plan shape. (Codes quantize the FULL vectors; classical residual
    encoding is a refinement of the same shape.)

    Everything after the two bounded training passes is a pure
    column-expression frame (vec_id, cell, codes) — zero corpus
    shuffles — cross-joined against the broadcast Q-row query frame
    carrying (probed cells, LUT) and ranked under WindowGroupLimit.
    Returns (query_id, neighbor_id, cell, adc_dist, rank)."""
    if query_max_id > MAX_DRIVER_QUERY_ROWS:
        raise ValueError(
            f"query_max_id={query_max_id} exceeds MAX_DRIVER_QUERY_ROWS="
            f"{MAX_DRIVER_QUERY_ROWS}"
        )
    if n_cells > MAX_DRIVER_QUERY_ROWS:
        raise ValueError(
            f"n_cells={n_cells} exceeds MAX_DRIVER_QUERY_ROWS="
            f"{MAX_DRIVER_QUERY_ROWS}"
        )
    # One collect covers coarse centroids, PQ seeds AND queries
    # (r22: was three driver jobs per training replay).
    prefix = _prefix_rows(embeddings, max(n_cells, ks, query_max_id))
    cent, sd = _pq_centroids(embeddings, m, ks, seed_rows=prefix)
    coarse_rows = [r for r in prefix if r.vec_id < n_cells]
    coarse = [list(r.v) for r in coarse_rows]

    def _dot_lit(col: Column, c: list[int]) -> Column:
        return F.aggregate(
            F.zip_with(
                col,
                _lit_arr(c),
                lambda x, y: x * y,
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    def _l2(sub: Column, c: list[int]) -> Column:
        return F.aggregate(
            F.zip_with(
                sub,
                _lit_arr(c),
                lambda x, y: (x - y) * (x - y),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    base = embeddings.select("vec_id", quantized().alias("v")).select(
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
    coded = base.select("vec_id", cell_col, *code_cols).select(
        "vec_id", "cell", F.array(*[f"code{j}" for j in range(m)]).alias(
            "codes"
        )
    )

    qrows = [r for r in prefix if r.vec_id < query_max_id]
    qdata = []
    for r in qrows:
        v = [int(x) for x in r.v]
        cdots = [
            (sum(a * b for a, b in zip(v, c)), cid)
            for cid, c in enumerate(coarse)
        ]
        # top n_probe cells: dot DESC, cid ASC — the assignment order
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
    spark = embeddings.sparkSession
    qf = spark.createDataFrame(
        qdata,
        "query_id bigint, probed array<bigint>, lut array<array<bigint>>",
    )
    scored = (
        coded.crossJoin(F.broadcast(qf))
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


def ivf_pq_residual_topk(
    embeddings: DataFrame,
    n_cells: int = N_IVF_CELLS,
    m: int = PQ_M,
    ks: int = PQ_KS,
    query_max_id: int = 3,
    k: int = 5,
    n_probe: int = 2,
) -> DataFrame:
    """CLASSICAL IVF-PQ: codes quantize the RESIDUAL ``x − coarse
    centroid(cell(x))`` rather than the raw vector, and each query
    carries one ADC lookup table PER PROBED CELL (the query residual
    differs per cell) — the textbook refinement over
    :func:`ivf_pq_topk`, with the same plan shape: corpus side one
    zero-shuffle expression frame (cell, residual codes), query side
    a broadcast Q-row frame of (probed cells, per-cell LUTs), ranked
    under WindowGroupLimit. Returns (query_id, neighbor_id, cell,
    adc_dist, rank)."""
    if query_max_id > MAX_DRIVER_QUERY_ROWS:
        raise ValueError(
            f"query_max_id={query_max_id} exceeds MAX_DRIVER_QUERY_ROWS="
            f"{MAX_DRIVER_QUERY_ROWS}"
        )
    if n_cells > MAX_DRIVER_QUERY_ROWS or ks > MAX_DRIVER_QUERY_ROWS:
        raise ValueError("n_cells/ks exceed MAX_DRIVER_QUERY_ROWS")
    # One collect covers coarse centroids, PQ seeds AND queries
    # (r22: was three driver jobs per training replay).
    prefix = _prefix_rows(embeddings, max(n_cells, ks, query_max_id))
    coarse_rows = [r for r in prefix if r.vec_id < n_cells]
    if not coarse_rows:
        raise ValueError("IVF-PQ needs at least one coarse seed vector")
    coarse = [[int(x) for x in r.v] for r in coarse_rows]
    d = len(coarse[0])
    if d % m:
        raise ValueError(f"embedding dim {d} not divisible by m={m}")
    sd = d // m

    def _cell_of(v: list[int]) -> int:
        dots = [
            (sum(a * b for a, b in zip(v, c)), cid)
            for cid, c in enumerate(coarse)
        ]
        return min(dots, key=lambda t: (-t[0], t[1]))[1]

    # --- PQ codebooks over RESIDUAL subvectors -------------------------
    seed_rows = [r for r in prefix if r.vec_id < ks]
    seed_res = []
    for r in seed_rows:
        v = [int(x) for x in r.v]
        c = coarse[_cell_of(v)]
        seed_res.append([a - b for a, b in zip(v, c)])
    seed_cent = [
        [sr[j * sd : (j + 1) * sd] for sr in seed_res] for j in range(m)
    ]

    coarse_lit = F.array(*[_lit_arr(c) for c in coarse])

    def _dot_lit(col: Column, c: list[int]) -> Column:
        return F.aggregate(
            F.zip_with(
                col,
                _lit_arr(c),
                lambda x, y: x * y,
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    def _l2_col(a: Column, c: list[int]) -> Column:
        return F.aggregate(
            F.zip_with(
                a,
                _lit_arr(c),
                lambda x, y: (x - y) * (x - y),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    base0 = embeddings.select("vec_id", quantized().alias("v"))
    dots = F.array(*[_dot_lit(F.col("v"), c) for c in coarse])
    with_cell = base0.select(
        "vec_id", "v",
        (F.array_position(dots, F.array_max(dots)) - 1).alias("cell"),
    )
    # residual bound once behind a projection barrier (cell is a
    # materialized attribute here, so element_at evaluates once)
    with_res = with_cell.select(
        "vec_id", "cell",
        F.zip_with(
            "v",
            F.element_at(coarse_lit, (F.col("cell") + 1).cast("int")),
            lambda x, y: x - y,
        ).alias("r"),
    ).select(
        "vec_id", "cell",
        *[F.slice("r", j * sd + 1, sd).alias(f"s{j}") for j in range(m)],
    )

    # training pass: residual assignment + per-(j, cell) integer means
    # in one Arrow partial-histogram job (same rewrite as
    # _pq_centroids, with the coarse subtraction inside the kernel)
    sums = _pq_partial_sums(embeddings, seed_cent, m, sd, coarse=coarse)
    cent = _pq_merge_sums(seed_cent, sums, m, sd)

    # encode: residual codes by pure expressions
    code_cols = []
    for j in range(m):
        dj = F.array(*[_l2_col(F.col(f"s{j}"), c) for c in cent[j]])
        code_cols.append(
            (F.array_position(dj, F.array_min(dj)) - 1).alias(f"code{j}")
        )
    coded = with_res.select("vec_id", "cell", *code_cols).select(
        "vec_id", "cell",
        F.array(*[f"code{j}" for j in range(m)]).alias("codes"),
    )

    # queries: probed cells + one LUT per probed cell (query residual
    # differs per cell)
    qrows = [r for r in prefix if r.vec_id < query_max_id]
    qdata = []
    for r in qrows:
        v = [int(x) for x in r.v]
        cdots = [
            (sum(a * b for a, b in zip(v, c)), cid)
            for cid, c in enumerate(coarse)
        ]
        probed = [
            cid for _dd, cid in sorted(cdots, key=lambda t: (-t[0], t[1]))
        ][:n_probe]
        luts = []
        for cell in probed:
            qr = [a - b for a, b in zip(v, coarse[cell])]
            luts.append(
                [
                    [
                        sum(
                            (qr[j * sd + i] - c[i]) ** 2
                            for i in range(sd)
                        )
                        for c in cent[j]
                    ]
                    for j in range(m)
                ]
            )
        qdata.append((int(r.vec_id), probed, luts))
    spark = embeddings.sparkSession
    qf2 = spark.createDataFrame(
        qdata,
        "query_id bigint, probed array<bigint>, "
        "luts array<array<array<bigint>>>",
    )
    scored = (
        coded.crossJoin(F.broadcast(qf2))
        .filter(F.array_contains("probed", F.col("cell")))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "cell",
            F.aggregate(
                F.zip_with(
                    "codes",
                    F.element_at(
                        "luts",
                        F.array_position("probed", F.col("cell")).cast(
                            "int"
                        ),
                    ),
                    lambda c, l: F.element_at(l, (c + 1).cast("int")),
                ),
                F.lit(0).cast("long"),
                lambda acc_, x: acc_ + x,
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
