"""Persisted incremental IVF-ANN index (operators/ann_index.py).

VERDICT r14 ("Next round" #5) asked for the similarity-side twin of
the dedup_index deployment shape: a persisted, bucketed coded-corpus
table with an incremental append path and an exchange-free probe.
These tests pin (a) result equality of the incremental build+append
loop against both the one-shot full build and the un-indexed
ivf_multiprobe_topk, (b) bucket PRUNING on the probe scan
(SelectedBucketsCount below the table's bucket count — the property
that makes the probe read n_probe/n_cells of the corpus bytes), and
(c) zero Exchange between the index scan and its join.
"""

from __future__ import annotations

import contextlib
import gc
import io
import re
import weakref

import pytest
from pyspark.sql import functions as F

from duckdb_redis_olap_scanner_spark.operators import ann_index as AI
from duckdb_redis_olap_scanner_spark.operators import similarity as S
from duckdb_redis_olap_scanner_spark.plans.catalog import table

from .conftest import SF_DIR

N_CELLS = 16


@pytest.fixture(scope="module")
def emb(spark):
    return table(spark, SF_DIR, "embeddings")


@pytest.fixture(scope="module")
def centroids(emb):
    return AI.ivf_centroids(emb, N_CELLS)


@pytest.fixture(scope="module")
def ivf_index(spark, emb, centroids, tmp_path_factory):
    """Index built incrementally: even vec_ids at build, odd appended."""
    cent_ids, cent_vecs = centroids
    path = str(tmp_path_factory.mktemp("idx") / "ivf")
    AI.write_ivf_index(
        emb.filter(F.col("vec_id") % 2 == 0),
        cent_ids, cent_vecs, "test_ivf_idx", path=path,
    )
    AI.append_to_ivf_index(
        emb.filter(F.col("vec_id") % 2 == 1),
        cent_ids, cent_vecs, "test_ivf_idx",
    )
    yield "test_ivf_idx"
    spark.sql("DROP TABLE IF EXISTS test_ivf_idx")


def _plan_full(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _plan_tree(df) -> str:
    return _plan_full(df).split("\n\n")[0]


def _path_to_join(tree: str, scan_substr: str) -> list[str]:
    """Node names from the scan line upward to the first *Join node
    (same walk as tests/test_dedup_index.py)."""
    lines = tree.splitlines()
    idx = next(i for i, ln in enumerate(lines) if scan_substr in ln)

    def indent(ln: str) -> int:
        return len(ln) - len(ln.lstrip(" :+-"))

    names: list[str] = []
    cur = indent(lines[idx])
    for ln in reversed(lines[:idx]):
        if indent(ln) < cur:
            cur = indent(ln)
            name = re.sub(r"[^A-Za-z].*", "", ln.lstrip(" :+-* "))
            assert name, f"unparsed plan line {ln!r}"
            names.append(name)
            if "Join" in name:
                return names
    raise AssertionError(f"no join above {scan_substr!r} in:\n{tree}")


def test_incremental_equals_full_build(spark, emb, centroids, tmp_path):
    """build(evens) + append(odds) answers exactly like build(all):
    frozen centroids make assignment independent of batch boundaries."""
    cent_ids, cent_vecs = centroids
    AI.write_ivf_index(
        emb, cent_ids, cent_vecs, "test_ivf_full",
        path=str(tmp_path / "full"),
    )
    try:
        AI.write_ivf_index(
            emb.filter(F.col("vec_id") % 2 == 0),
            cent_ids, cent_vecs, "test_ivf_incr",
            path=str(tmp_path / "incr"),
        )
        AI.append_to_ivf_index(
            emb.filter(F.col("vec_id") % 2 == 1),
            cent_ids, cent_vecs, "test_ivf_incr",
        )
        full = sorted(
            map(tuple, spark.table("test_ivf_full")
                .select("vec_id", "cell").collect())
        )
        incr = sorted(
            map(tuple, spark.table("test_ivf_incr")
                .select("vec_id", "cell").collect())
        )
        assert full == incr and len(full) > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS test_ivf_full")
        spark.sql("DROP TABLE IF EXISTS test_ivf_incr")


def test_indexed_topk_matches_unindexed_multiprobe(spark, emb, centroids,
                                                   ivf_index):
    cent_ids, cent_vecs = centroids
    got = sorted(map(tuple, AI.ann_indexed_topk(
        spark, ivf_index, cent_ids, cent_vecs,
        emb.filter(F.col("vec_id") < 5), k=5, n_probe=2,
    ).collect()))
    want = sorted(map(tuple, S.ivf_multiprobe_topk(
        emb, query_max_id=5, k=5, n_cells=N_CELLS, n_probe=2,
    ).collect()))
    assert got == want and len(got) > 0


def test_probe_scan_prunes_buckets(spark, emb, centroids, ivf_index):
    """The probed cells reach the scan as IN literals and prune the
    bucket set: SelectedBucketsCount strictly below the table's bucket
    count. 5 queries x 2 probes hit <= 10 of 16 cells, and cells map
    onto 8 buckets — with the golden corpus they never cover all 8."""
    cent_ids, cent_vecs = centroids
    df = AI.ann_indexed_topk(
        spark, ivf_index, cent_ids, cent_vecs,
        emb.filter(F.col("vec_id") < 2), k=5, n_probe=1,
    )
    plan = _plan_full(df)
    m = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", plan)
    assert m, f"no bucket pruning in:\n{plan}"
    assert int(m.group(1)) < int(m.group(2)), plan


def test_probe_has_no_index_side_exchange(spark, emb, centroids, ivf_index):
    cent_ids, cent_vecs = centroids
    df = AI.ann_indexed_topk(
        spark, ivf_index, cent_ids, cent_vecs,
        emb.filter(F.col("vec_id") < 5), k=5, n_probe=2,
    )
    tree = _plan_tree(df)
    path = _path_to_join(tree, f"default.{ivf_index}")
    assert "Join" in path[-1]
    assert not any("Exchange" in n for n in path), (path, tree)


def test_append_rejects_missing_index(spark, emb, centroids):
    cent_ids, cent_vecs = centroids
    with pytest.raises(Exception):
        AI.append_to_ivf_index(
            emb.limit(1), cent_ids, cent_vecs, "test_ivf_nonexistent"
        )


def test_centroid_guard(emb):
    with pytest.raises(ValueError, match="MAX_DRIVER_QUERY_ROWS"):
        AI.ivf_centroids(emb, S.MAX_DRIVER_QUERY_ROWS + 1)
    with pytest.raises(ValueError, match="n_probe"):
        AI.ann_indexed_topk(
            emb.sparkSession, "whatever", [0], [[0.0]], emb, n_probe=0
        )


def test_verify_ivf_index_audit(spark, emb, centroids, tmp_path):
    """The offline integrity audit: green on a healthy index, loud on
    duplicate vec_ids. append_to_ivf_index itself now absorbs retries
    (r16), so the duplicates are injected with a RAW bucketed append —
    the contract-violating legacy writer the audit exists to catch."""
    cent_ids, cent_vecs = centroids
    AI.write_ivf_index(
        emb, cent_ids, cent_vecs, "test_ivf_audit",
        path=str(tmp_path / "audit"),
    )
    try:
        AI.verify_ivf_index(spark, "test_ivf_audit")  # healthy: no raise
        dup_rows = spark.table("test_ivf_audit").limit(3)
        (
            dup_rows.write.format("parquet").mode("append")
            .bucketBy(AI.DEFAULT_IVF_BUCKETS, "cell").sortBy("cell")
            .saveAsTable("test_ivf_audit")
        )
        with pytest.raises(RuntimeError, match="duplicate vec_ids"):
            AI.verify_ivf_index(spark, "test_ivf_audit")
    finally:
        spark.sql("DROP TABLE IF EXISTS test_ivf_audit")


def test_append_retry_absorbed_silently(spark, emb, centroids, tmp_path):
    """The r16 delivery-contract upgrade: a lost-ack RETRY of a
    succeeded append inserts nothing — the anti-join against the
    batch's own (bucket-pruned) cells recognizes every vec_id as
    already present. Count unchanged, audit clean, probe identical —
    with no change to the entry's oracle (a first-time append still
    inserts everything, pinned by test_incremental_equals_full_build)."""
    cent_ids, cent_vecs = centroids
    AI.write_ivf_index(
        emb.filter(F.col("vec_id") % 2 == 0),
        cent_ids, cent_vecs, "test_ivf_retry",
        path=str(tmp_path / "retry"),
    )
    try:
        batch = emb.filter(F.col("vec_id") % 2 == 1)
        AI.append_to_ivf_index(batch, cent_ids, cent_vecs,
                               "test_ivf_retry")
        q = emb.filter(F.col("vec_id") < 3)
        before = spark.table("test_ivf_retry").count()
        want = sorted(map(tuple, AI.ann_indexed_topk(
            spark, "test_ivf_retry", cent_ids, cent_vecs, q).collect()))
        # the retry: the maintenance loop lost the ack and resends
        AI.append_to_ivf_index(batch, cent_ids, cent_vecs,
                               "test_ivf_retry")
        assert spark.table("test_ivf_retry").count() == before
        AI.verify_ivf_index(spark, "test_ivf_retry")  # clean
        got = sorted(map(tuple, AI.ann_indexed_topk(
            spark, "test_ivf_retry", cent_ids, cent_vecs, q).collect()))
        assert got == want and len(got) > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS test_ivf_retry")


def test_attach_recovers_ivf_index(spark, emb, centroids, tmp_path):
    """The generic attach path covers the ANN index too: drop the
    catalog entry, re-attach from the sidecar, probe identically."""
    from duckdb_redis_olap_scanner_spark.operators import dedup_index as DI

    cent_ids, cent_vecs = centroids
    path = str(tmp_path / "ivf")
    AI.write_ivf_index(emb, cent_ids, cent_vecs, "test_ivf_attach",
                       path=path)
    try:
        q = emb.filter(F.col("vec_id") < 3)
        want = sorted(map(tuple, AI.ann_indexed_topk(
            spark, "test_ivf_attach", cent_ids, cent_vecs, q).collect()))
        spark.sql("DROP TABLE test_ivf_attach")
        DI._LOCATION_CACHE.pop(
            (spark.sparkContext.applicationId, "test_ivf_attach"), None
        )
        DI.attach_bucketed(spark, "test_ivf_attach", path)
        got = sorted(map(tuple, AI.ann_indexed_topk(
            spark, "test_ivf_attach", cent_ids, cent_vecs, q).collect()))
        assert got == want and len(got) > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS test_ivf_attach")


def test_driver_bound_guard_fires_before_collect(spark, emb, centroids,
                                                 ivf_index, monkeypatch):
    """The driver-OOM guard must (a) raise when the query batch's
    probe fan-out exceeds the bound, and (b) return COMPLETE results
    at exactly the bound — a regression that drops the limit's +1
    would silently truncate the batch instead of raising (r15 review
    pass 2)."""
    cent_ids, cent_vecs = centroids
    q3 = emb.filter(F.col("vec_id") < 3)  # 3 query rows
    want = sorted(map(tuple, AI.ann_indexed_topk(
        spark, ivf_index, cent_ids, cent_vecs, q3, k=5, n_probe=2,
    ).collect()))
    monkeypatch.setattr(S, "MAX_DRIVER_QUERY_ROWS", 2)
    with pytest.raises(ValueError, match="MAX_DRIVER_QUERY_ROWS"):
        AI.ann_indexed_topk(
            spark, ivf_index, cent_ids, cent_vecs, q3, k=5, n_probe=2
        )
    monkeypatch.setattr(S, "MAX_DRIVER_QUERY_ROWS", 3)  # exactly at bound
    got = sorted(map(tuple, AI.ann_indexed_topk(
        spark, ivf_index, cent_ids, cent_vecs, q3, k=5, n_probe=2,
    ).collect()))
    assert got == want and len(got) > 0


def test_paged_probe_matches_manual_pages(spark, emb, centroids,
                                          ivf_index, monkeypatch):
    """page_queries=True at 2x the driver bound must return results
    rank-identical to running the two halves as manual bounded probes
    (VERDICT r16 #4). Also pinned: the unpaged call still raises, and
    probe()'s passthrough reaches the paged path."""
    cent_ids, cent_vecs = centroids
    q6 = emb.filter(F.col("vec_id") < 6)  # 6 query rows
    monkeypatch.setattr(S, "MAX_DRIVER_QUERY_ROWS", 3)  # 2x the bound
    with pytest.raises(ValueError, match="page_queries"):
        AI.ann_indexed_topk(
            spark, ivf_index, cent_ids, cent_vecs, q6, k=5, n_probe=2
        )
    # manual pages: any 3/3 split by query id — per-query top-k is
    # independent of which page carries the query
    manual = []
    for pred in (F.col("vec_id") < 3,
                 (F.col("vec_id") >= 3) & (F.col("vec_id") < 6)):
        manual += AI.ann_indexed_topk(
            spark, ivf_index, cent_ids, cent_vecs, emb.filter(pred),
            k=5, n_probe=2,
        ).collect()
    got = AI.ann_indexed_topk(
        spark, ivf_index, cent_ids, cent_vecs, q6,
        k=5, n_probe=2, page_queries=True,
    ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, manual))
    assert len(got) > 0
    assert {r.rank for r in got} <= set(range(1, 6))
    # probe() passthrough: same paged results by index NAME
    via_probe = AI.probe(
        spark, ivf_index, q6, k=5, n_probe=2, page_queries=True
    ).collect()
    assert sorted(map(tuple, via_probe)) == sorted(map(tuple, got))


def test_paged_probe_release(spark, emb, centroids, ivf_index,
                             monkeypatch):
    """release_paged_result (VERDICT r17 #3): two paged probes, release
    the first, assert ITS page blocks are gone from the context's
    persistent-RDD registry while the second probe's blocks survive;
    the released result is dead (lineage truncated — next action
    fails, per the ADVICE r17 unrecoverability note); double release
    is a safe no-op; the survivor still collects."""
    cent_ids, cent_vecs = centroids
    monkeypatch.setattr(S, "MAX_DRIVER_QUERY_ROWS", 3)
    q6 = emb.filter(F.col("vec_id") < 6)  # 2 pages of 3

    def run_paged():
        return AI.ann_indexed_topk(
            spark, ivf_index, cent_ids, cent_vecs, q6,
            k=5, n_probe=2, page_queries=True,
        )

    def persistent_ids() -> set[int]:
        # JavaSparkContext returns a java.util.Map (py4j-iterable);
        # the scala Map from _jsc.sc() is not.
        return {
            int(i) for i in spark.sparkContext._jsc
            .getPersistentRDDs().keySet()
        }

    r1 = run_paged()
    r2 = run_paged()
    want = sorted(map(tuple, r2.collect()))
    ids1 = AI.release_paged_result(r1)
    assert len(ids1) == 2  # one checkpointed block set per page
    live = persistent_ids()
    assert not (set(ids1) & live), "released page blocks still pinned"
    # released result is DEAD: truncated lineage cannot recompute
    with pytest.raises(Exception):
        r1.collect()
    # double release: no-op, nothing new released
    assert AI.release_paged_result(r1) == []
    # the OTHER probe's pages were untouched by r1's release (still in
    # the live set captured just after it) and collected fine
    ids2 = AI.release_paged_result(r2, blocking=True)
    assert len(ids2) == 2 and not (set(ids2) & set(ids1))
    assert set(ids2) <= live, "r1's release must not touch r2's blocks"
    assert want  # r2 collected fine before ITS release
    assert not (set(ids2) & persistent_ids())


def test_centroids_recover_from_sidecar(spark, emb, centroids, tmp_path):
    """Full restart recovery: attach the index AND read the frozen
    centroid generation back from its sidecar — real centroids come
    from an offline k-means job and are not recomputable from the
    corpus, so the index must carry them (r15)."""
    from duckdb_redis_olap_scanner_spark.operators import dedup_index as DI

    cent_ids, cent_vecs = centroids
    path = str(tmp_path / "ivfc")
    AI.write_ivf_index(emb, cent_ids, cent_vecs, "test_ivf_cent",
                       path=path)
    try:
        q = emb.filter(F.col("vec_id") < 3)
        want = sorted(map(tuple, AI.ann_indexed_topk(
            spark, "test_ivf_cent", cent_ids, cent_vecs, q).collect()))
        spark.sql("DROP TABLE test_ivf_cent")  # the restart

        DI.attach_bucketed(spark, "test_ivf_cent", path)
        rid, rvec = AI.load_ivf_centroids(spark, path)
        assert rid == cent_ids and rvec == cent_vecs  # lossless JSON
        got = sorted(map(tuple, AI.ann_indexed_topk(
            spark, "test_ivf_cent", rid, rvec, q).collect()))
        assert got == want and len(got) > 0
        # a non-IVF index's sidecar refuses loudly
        fp_path = str(tmp_path / "fp")
        DI.write_fingerprint_index(
            emb.sparkSession.table("test_ivf_cent").limit(0)
            .selectExpr("'x' as doc_id", "'t' as text",
                        "'en' as lang", "'w' as source"),
            "test_fp_for_cent", path=fp_path,
        )
        with pytest.raises(ValueError, match="ivf_centroids"):
            AI.load_ivf_centroids(spark, fp_path)
    finally:
        spark.sql("DROP TABLE IF EXISTS test_ivf_cent")
        spark.sql("DROP TABLE IF EXISTS test_fp_for_cent")


def test_centroid_generation_mismatch_is_loud(spark, emb, centroids,
                                              tmp_path):
    """Probing or appending with centroids that differ from the
    generation the sidecar records must raise — mixing generations
    silently mis-assigns cells (r15 review: the truth was stored but
    unenforced at the two sites where corruption happens)."""
    cent_ids, cent_vecs = centroids
    AI.write_ivf_index(emb, cent_ids, cent_vecs, "test_ivf_gen",
                       path=str(tmp_path / "gen"))
    try:
        wrong = [[v + 1.0 for v in vec] for vec in cent_vecs]  # retrained
        q = emb.filter(F.col("vec_id") < 2)
        with pytest.raises(ValueError, match="generation mismatch"):
            AI.ann_indexed_topk(
                spark, "test_ivf_gen", cent_ids, wrong, q
            )
        with pytest.raises(ValueError, match="generation mismatch"):
            AI.append_to_ivf_index(
                emb.limit(1), cent_ids, wrong, "test_ivf_gen"
            )
        # the recorded generation still works
        assert AI.ann_indexed_topk(
            spark, "test_ivf_gen", cent_ids, cent_vecs, q
        ).count() > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS test_ivf_gen")


def test_external_queries_outside_corpus_id_space(spark, emb, centroids,
                                                  ivf_index):
    """The serving case: query vectors NOT in the corpus. With ids
    outside the corpus range the self-exclusion never fires, so an
    exact duplicate of a corpus vector must come back as the rank-1
    neighbor with cos_sim ~ 1.0 (dot == both norms in exact int64;
    the double sqrt rounds the ratio a ulp under 1)."""
    cent_ids, cent_vecs = centroids
    # clone corpus vector 7 as an external query with a fresh id
    src = emb.filter(F.col("vec_id") == 7).select("embedding").collect()
    ext = spark.createDataFrame(
        [(10_000_000, src[0].embedding)],
        schema="vec_id bigint, embedding array<float>",
    )
    got = AI.ann_indexed_topk(
        spark, ivf_index, cent_ids, cent_vecs, ext, k=3, n_probe=2
    ).collect()
    assert len(got) == 3
    top = [r for r in got if r["rank"] == 1][0]
    assert top["neighbor_id"] == 7 and top["cos_sim"] > 0.999999


def test_probe_wrapper_recovers_and_matches(spark, emb, centroids,
                                            tmp_path):
    """probe(spark, name, queries): attach-if-absent + centroids from
    the sidecar + topk — the user-facing shape that exercises the
    recovery path on every call (VERDICT r15 #7). Must equal the
    hand-carried ann_indexed_topk, both before and after a restart,
    and refuse a cold probe with no path to attach from."""
    cent_ids, cent_vecs = centroids
    path = str(tmp_path / "pw")
    AI.write_ivf_index(emb, cent_ids, cent_vecs, "test_ivf_probe",
                       path=path)
    try:
        q = emb.filter(F.col("vec_id") < 3)
        want = sorted(map(tuple, AI.ann_indexed_topk(
            spark, "test_ivf_probe", cent_ids, cent_vecs, q).collect()))
        got = sorted(map(tuple, AI.probe(
            spark, "test_ivf_probe", q).collect()))
        assert got == want and len(got) > 0
        spark.sql("DROP TABLE test_ivf_probe")  # the restart
        with pytest.raises(ValueError, match="not registered"):
            AI.probe(spark, "test_ivf_probe", q)
        got2 = sorted(map(tuple, AI.probe(
            spark, "test_ivf_probe", q, path=path).collect()))
        assert got2 == want
        # path is honored even when the name is registered: a
        # matching location is idempotent, a DIFFERENT location is
        # the generation swap attach_bucketed refuses (review r16 —
        # silently serving the registered table would answer from
        # the wrong index generation).
        got3 = sorted(map(tuple, AI.probe(
            spark, "test_ivf_probe", q, path=path).collect()))
        assert got3 == want
        other = str(tmp_path / "pw_other")
        cent_ids2, cent_vecs2 = cent_ids, cent_vecs
        AI.write_ivf_index(emb, cent_ids2, cent_vecs2,
                           "test_ivf_probe_other", path=other)
        spark.sql("DROP TABLE test_ivf_probe_other")
        with pytest.raises(ValueError):
            AI.probe(spark, "test_ivf_probe", q, path=other)
    finally:
        spark.sql("DROP TABLE IF EXISTS test_ivf_probe")
        spark.sql("DROP TABLE IF EXISTS test_ivf_probe_other")


def test_append_dedupes_within_batch(spark, emb, centroids, tmp_path):
    """vec_id is the identity WITHIN a batch too (review r16): a
    source that emits the same vec_id twice gets ONE row — both
    copies would pass the index anti-join (neither exists yet) and
    corrupt the index the audit then condemns."""
    cent_ids, cent_vecs = centroids
    AI.write_ivf_index(
        emb.filter(F.col("vec_id") % 2 == 0),
        cent_ids, cent_vecs, "test_ivf_batchdup",
        path=str(tmp_path / "bd"),
    )
    try:
        batch = emb.filter(F.col("vec_id") % 2 == 1)
        AI.append_to_ivf_index(batch.union(batch), cent_ids, cent_vecs,
                               "test_ivf_batchdup")
        assert spark.table("test_ivf_batchdup").count() == emb.count()
        AI.verify_ivf_index(spark, "test_ivf_batchdup")  # clean
    finally:
        spark.sql("DROP TABLE IF EXISTS test_ivf_batchdup")


def test_append_dedup_survivor_is_deterministic_across_retry(
    spark, emb, centroids, tmp_path
):
    """The scenario the min-reduce (not dropDuplicates) exists for
    (review r16): one batch carries the SAME new vec_id with two
    DIFFERENT embeddings that assign to different cells. The survivor
    must be a pure function of the batch contents — a nondeterministic
    pick would let a lost-ack retry keep the OTHER copy, whose
    anti-join may not scan the first survivor's cell, double-inserting
    the id. One row lands, the retry is absorbed, the audit stays
    clean."""
    cent_ids, cent_vecs = centroids
    AI.write_ivf_index(emb, cent_ids, cent_vecs, "test_ivf_detdup",
                       path=str(tmp_path / "dd"))
    try:
        # two corpus embeddings known to live in different cells
        by_cell = {
            int(r.cell): r.embedding
            for r in spark.table("test_ivf_detdup")
            .select("cell", "embedding").collect()
        }
        assert len(by_cell) >= 2, "golden corpus spans multiple cells"
        (e1, e2) = list(by_cell.values())[:2]
        batch = spark.createDataFrame(
            [(10_000_001, e1), (10_000_001, e2)],
            schema="vec_id bigint, embedding array<float>",
        )
        before = spark.table("test_ivf_detdup").count()
        AI.append_to_ivf_index(batch, cent_ids, cent_vecs,
                               "test_ivf_detdup")
        assert spark.table("test_ivf_detdup").count() == before + 1
        AI.append_to_ivf_index(batch, cent_ids, cent_vecs,
                               "test_ivf_detdup")  # lost-ack retry
        assert spark.table("test_ivf_detdup").count() == before + 1
        AI.verify_ivf_index(spark, "test_ivf_detdup")  # clean
    finally:
        spark.sql("DROP TABLE IF EXISTS test_ivf_detdup")


def test_corrupt_sidecar_fails_generation_check(spark, emb, centroids,
                                                tmp_path):
    """ADVICE r16: a sidecar that EXISTS but cannot be parsed must
    propagate, not silently disable the generation guard — probing or
    appending against unverifiable centroids is exactly the corruption
    the guard exists for. Absent sidecars still skip (pre-sidecar
    indexes)."""
    import os

    cent_ids, cent_vecs = centroids
    path = str(tmp_path / "corrupt")
    AI.write_ivf_index(emb, cent_ids, cent_vecs, "test_ivf_corrupt",
                       path=path)
    try:
        from duckdb_redis_olap_scanner_spark.operators import (
            dedup_index as DI,
        )

        sidecar = os.path.join(path, DI._SIDECAR)
        with open(sidecar, "wb") as f:
            f.write(b"{not json")
        q = emb.filter(F.col("vec_id") < 2)
        with pytest.raises(Exception) as ei:
            AI.ann_indexed_topk(
                spark, "test_ivf_corrupt", cent_ids, cent_vecs, q
            ).collect()
        assert "json" in type(ei.value).__name__.lower() or \
            "JSON" in str(ei.value)
        os.remove(sidecar)  # absent sidecar: designed skip, probe runs
        assert AI.ann_indexed_topk(
            spark, "test_ivf_corrupt", cent_ids, cent_vecs, q
        ).count() > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS test_ivf_corrupt")


class _Collectable:
    """weakref-able stand-in for a page/result DataFrame."""


def test_single_page_result_is_not_pinned_by_registry():
    """Single-page shape: pages == [out]. The registry entry must not
    hold OUT strongly — before the fix _PAGED_RESULT_PAGES[id(out)]
    was [out] itself, so the finalize never fired and the handle (and
    its checkpoint blocks' Python-side handle) was pinned for the
    session."""
    out = _Collectable()
    AI._register_paged_result(out, [out])
    key = id(out)
    ref = weakref.ref(out)
    del out
    gc.collect()
    assert ref() is None, "registry pinned the single-page result"
    assert key not in AI._PAGED_RESULT_PAGES


def test_multi_page_registration_still_releases_and_finalizes():
    """Multi-page behavior is unchanged: pages are held until the
    result handle dies (release needs them), then the finalize drops
    the entry."""
    pages = [_Collectable(), _Collectable()]
    out = _Collectable()
    AI._register_paged_result(out, pages)
    key = id(out)
    assert key in AI._PAGED_RESULT_PAGES
    page_ref = weakref.ref(pages[0])
    del pages
    gc.collect()
    # pages survive while the result handle lives — release depends on it
    assert page_ref() is not None
    del out
    gc.collect()
    assert key not in AI._PAGED_RESULT_PAGES
    gc.collect()
    assert page_ref() is None


def test_release_resolves_single_page_weakref():
    """release_paged_result on a live single-page result must still
    find the page through the weak slot (and pop the entry). The stub
    has no JVM plan, so the unpersist attempt is swallowed by the
    plan-shape guard — the contract here is entry resolution, not RDD
    ids."""
    out = _Collectable()
    AI._register_paged_result(out, [out])
    key = id(out)
    assert AI.release_paged_result(out) == []
    assert key not in AI._PAGED_RESULT_PAGES
    # double release: safe no-op
    assert AI.release_paged_result(out) == []
