"""Persisted IVF-PQ index (operators/ann_index.py, r20; VERDICT r19
"Next round" #4's third candidate).

The PQ twin of the persisted IVF index: (vec_id, cell, codes) on disk
— probes scan codes, never raw vectors. Pins: (a) result equality of
the incremental build+append loop against both the one-shot full
build and the un-indexed ivf_pq_topk, (b) bucket PRUNING on the probe
scan, (c) zero index-side Exchange, (d) retry-idempotent appends,
(e) restart recovery (DROP TABLE -> attach + sidecar codebooks),
(f) generation and verification guards.
"""

from __future__ import annotations

import contextlib
import io
import re

import pytest
from pyspark.sql import functions as F

from duckdb_redis_olap_scanner_spark.operators import ann_index as AI
from duckdb_redis_olap_scanner_spark.operators import dedup_index as DI
from duckdb_redis_olap_scanner_spark.operators import similarity as S
from duckdb_redis_olap_scanner_spark.plans.catalog import table

from .conftest import SF_DIR

N_CELLS = 16


@pytest.fixture(scope="module")
def emb(spark):
    return table(spark, SF_DIR, "embeddings")


@pytest.fixture(scope="module")
def books(emb):
    return AI.ivf_pq_codebooks(emb, N_CELLS)


@pytest.fixture(scope="module")
def pq_index(spark, emb, books, tmp_path_factory):
    """Index built incrementally: even vec_ids at build, odd appended."""
    coarse, cent, sd = books
    path = str(tmp_path_factory.mktemp("idx") / "ivfpq")
    AI.write_ivf_pq_index(
        emb.filter(F.col("vec_id") % 2 == 0),
        coarse, cent, sd, "test_ivf_pq_idx", path=path,
    )
    AI.append_to_ivf_pq_index(
        emb.filter(F.col("vec_id") % 2 == 1),
        coarse, cent, sd, "test_ivf_pq_idx",
    )
    yield "test_ivf_pq_idx", path
    spark.sql("DROP TABLE IF EXISTS test_ivf_pq_idx")


def _plan_full(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _plan_tree(df) -> str:
    return _plan_full(df).split("\n\n")[0]


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_indexed_probe_matches_unindexed_ivf_pq(spark, emb, books, pq_index):
    """The persisted probe answers exactly what the one-shot
    ivf_pq_topk computes over the same corpus — the contract the
    persisted entry's oracle reuse rests on."""
    coarse, cent, sd = books
    name, _path = pq_index
    got = _rows(
        AI.ivf_pq_indexed_topk(
            spark, name, coarse, cent, sd,
            emb.filter(F.col("vec_id") < 3), k=5, n_probe=2,
        )
    )
    want = _rows(S.ivf_pq_topk(emb))
    assert got == want


def test_incremental_equals_full_build(spark, emb, books, tmp_path):
    coarse, cent, sd = books
    AI.write_ivf_pq_index(
        emb, coarse, cent, sd, "test_ivf_pq_full",
        path=str(tmp_path / "full"),
    )
    try:
        full = _rows(spark.table("test_ivf_pq_full"))
        AI.write_ivf_pq_index(
            emb.filter(F.col("vec_id") % 2 == 0), coarse, cent, sd,
            "test_ivf_pq_incr", path=str(tmp_path / "incr"),
        )
        AI.append_to_ivf_pq_index(
            emb.filter(F.col("vec_id") % 2 == 1), coarse, cent, sd,
            "test_ivf_pq_incr",
        )
        assert _rows(spark.table("test_ivf_pq_incr")) == full
    finally:
        spark.sql("DROP TABLE IF EXISTS test_ivf_pq_full")
        spark.sql("DROP TABLE IF EXISTS test_ivf_pq_incr")


def test_probe_scan_prunes_buckets(spark, emb, books, pq_index):
    coarse, cent, sd = books
    name, _path = pq_index
    plan = _plan_full(
        AI.ivf_pq_indexed_topk(
            spark, name, coarse, cent, sd,
            emb.filter(F.col("vec_id") < 3), k=5, n_probe=2,
        )
    )
    m = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", plan)
    assert m, f"no bucket pruning in plan:\n{plan}"
    assert int(m.group(1)) < int(m.group(2))


def test_probe_has_no_index_side_exchange(spark, emb, books, pq_index):
    """Between the pruned index scan and its broadcast join there must
    be NO Exchange: the corpus side stays in place."""
    coarse, cent, sd = books
    name, _path = pq_index
    tree = _plan_tree(
        AI.ivf_pq_indexed_topk(
            spark, name, coarse, cent, sd,
            emb.filter(F.col("vec_id") < 3), k=5, n_probe=2,
        )
    )
    lines = tree.splitlines()
    idx = next(
        i for i, ln in enumerate(lines)
        if "Scan" in ln and "test_ivf_pq_idx" in ln
    )

    def indent(ln: str) -> int:
        return len(ln) - len(ln.lstrip(" :+-"))

    cur = indent(lines[idx])
    for ln in reversed(lines[:idx]):
        if indent(ln) < cur:
            cur = indent(ln)
            name_ = re.sub(r"[^A-Za-z].*", "", ln.lstrip(" :+-* "))
            assert name_ != "Exchange", f"index-side Exchange:\n{tree}"
            if "Join" in name_:
                return
    raise AssertionError(f"no join above the index scan:\n{tree}")


def test_append_retry_absorbed_silently(spark, emb, books, tmp_path):
    coarse, cent, sd = books
    AI.write_ivf_pq_index(
        emb.filter(F.col("vec_id") % 2 == 0), coarse, cent, sd,
        "test_ivf_pq_retry", path=str(tmp_path / "retry"),
    )
    try:
        batch = emb.filter(F.col("vec_id") % 2 == 1)
        AI.append_to_ivf_pq_index(batch, coarse, cent, sd,
                                  "test_ivf_pq_retry")
        before = _rows(spark.table("test_ivf_pq_retry"))
        AI.append_to_ivf_pq_index(batch, coarse, cent, sd,
                                  "test_ivf_pq_retry")  # lost-ack retry
        assert _rows(spark.table("test_ivf_pq_retry")) == before
    finally:
        spark.sql("DROP TABLE IF EXISTS test_ivf_pq_retry")


def test_attach_recovers_index_and_codebooks(spark, emb, books, pq_index):
    """Restart shape: catalog entry lost, files + sidecar survive.
    attach_bucketed + load_ivf_pq_codebooks must restore an identical
    probe with no original training artifacts in memory."""
    coarse, cent, sd = books
    name, path = pq_index
    queries = emb.filter(F.col("vec_id") < 3)
    want = _rows(
        AI.ivf_pq_indexed_topk(spark, name, coarse, cent, sd, queries)
    )
    spark.sql(f"DROP TABLE {name}")
    DI.attach_bucketed(spark, name, path)
    coarse2, cent2, sd2 = AI.load_ivf_pq_codebooks(spark, path)
    assert (coarse2, cent2, sd2) == (coarse, cent, sd)
    assert _rows(
        AI.ivf_pq_indexed_topk(spark, name, coarse2, cent2, sd2, queries)
    ) == want


def test_generation_mismatch_is_loud(spark, emb, books, pq_index):
    coarse, cent, sd = books
    name, _path = pq_index
    wrong = [[c + 1 for c in cell] for cell in coarse]
    with pytest.raises(ValueError, match="generation mismatch"):
        AI.ivf_pq_indexed_topk(
            spark, name, wrong, cent, sd, emb.filter(F.col("vec_id") < 3)
        )
    wrong_cent = [[[x + 1 for x in c] for c in cj] for cj in cent]
    with pytest.raises(ValueError, match="generation mismatch"):
        AI.append_to_ivf_pq_index(
            emb.filter(F.col("vec_id") < 2), coarse, wrong_cent, sd, name
        )


def test_verify_audit_passes_then_catches_duplicates(
    spark, emb, books, tmp_path
):
    coarse, cent, sd = books
    AI.write_ivf_pq_index(
        emb, coarse, cent, sd, "test_ivf_pq_verify",
        path=str(tmp_path / "verify"),
    )
    try:
        AI.verify_ivf_pq_index(spark, "test_ivf_pq_verify")  # clean: no raise
        # simulate concurrent-append corruption: one duplicated row
        # (written with the table's own bucket spec, as a racing
        # appender would)
        dup = spark.table("test_ivf_pq_verify").limit(1)
        (
            dup.write.format("parquet").mode("append")
            .bucketBy(8, "cell").sortBy("cell")
            .saveAsTable("test_ivf_pq_verify")
        )
        with pytest.raises(ValueError, match="dup_ids"):
            AI.verify_ivf_pq_index(spark, "test_ivf_pq_verify")
    finally:
        spark.sql("DROP TABLE IF EXISTS test_ivf_pq_verify")


def test_pq_oracle_is_verbatim_ann_ivf_pq():
    """The persisted entry answers exactly what the one-shot ann_ivf_pq
    computes, so it is checked against that entry's oracle itself."""
    from duckdb_redis_olap_scanner_spark.plans.catalog import registry

    reg = registry()
    assert reg["ann_ivf_pq_persisted"].oracle is reg["ann_ivf_pq"].oracle
