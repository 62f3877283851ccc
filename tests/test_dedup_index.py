"""Bucketed incremental-dedup indexes (operators/dedup_index.py).

VERDICT r11 ("What's wrong" #2) asked for proof of the deployment
shape SCALE.md's incremental-dedup design assumes: a history-side
index bucketed on the probe key, so the probe join runs with NO
history-side Exchange and the shingle-hash sets are fetched only for
candidates that actually collide. These tests pin both properties on
the physical plan (the bucketed-join pattern of tests/test_sinks.py,
extended with a scan→join path walk) plus result-equality against the
un-indexed operators.
"""

from __future__ import annotations

import contextlib
import io
import re

import pytest
from pyspark.sql import functions as F

from duckdb_redis_olap_scanner_spark.operators import dedup as D
from duckdb_redis_olap_scanner_spark.operators import dedup_index as DI
from duckdb_redis_olap_scanner_spark.plans.catalog import table

from .conftest import SF_DIR


@pytest.fixture(scope="module")
def split_docs(spark):
    docs = table(spark, SF_DIR, "documents")
    return (
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
    )


@pytest.fixture(scope="module")
def fp_index(spark, split_docs, tmp_path_factory):
    hist, _ = split_docs
    path = str(tmp_path_factory.mktemp("idx") / "fp")
    DI.write_fingerprint_index(hist, "test_fp_idx", path=path)
    yield "test_fp_idx"
    spark.sql("DROP TABLE IF EXISTS test_fp_idx")


@pytest.fixture(scope="module")
def band_index(spark, split_docs, tmp_path_factory):
    hist, _ = split_docs
    path = str(tmp_path_factory.mktemp("idx") / "band")
    DI.write_band_index(hist, "test_band_idx", path_prefix=path)
    yield "test_band_idx"
    spark.sql("DROP TABLE IF EXISTS test_band_idx_bands")
    spark.sql("DROP TABLE IF EXISTS test_band_idx_sets")


def _plan_tree(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue().split("\n\n")[0]


def _path_to_join(tree: str, scan_substr: str) -> list[str]:
    """Node names from the tree line containing ``scan_substr``
    upward (strictly decreasing indentation) to the first *Join node —
    the operators the scanned rows flow through before joining."""
    lines = tree.splitlines()
    idx = next(
        i for i, ln in enumerate(lines) if scan_substr in ln
    )

    def indent(ln: str) -> int:
        return len(ln) - len(ln.lstrip(" :+-"))

    names: list[str] = []
    cur = indent(lines[idx])
    for ln in reversed(lines[:idx]):
        if indent(ln) < cur:
            cur = indent(ln)
            # Strip tree glyphs AND codegen stars ("* Sort (5)")
            # BEFORE the first-non-letter cut — an empty name here
            # would silently satisfy the no-Exchange asserts.
            name = re.sub(r"[^A-Za-z].*", "", ln.lstrip(" :+-* "))
            assert name, f"unparsed plan line {ln!r}"
            names.append(name)
            if "Join" in name:
                return names
    raise AssertionError(f"no join above {scan_substr!r} in:\n{tree}")


@pytest.fixture()
def no_broadcast(spark):
    # Force the SMJ path so the bucketed layout is what gets planned
    # (at toy scale Catalyst would rightly broadcast the index).
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")


def test_incremental_dedup_indexed_matches_unindexed(
    spark, split_docs, fp_index
):
    hist, inc = split_docs
    got = sorted(
        map(tuple, DI.incremental_dedup_indexed(spark, inc, fp_index).collect())
    )
    want = sorted(map(tuple, D.incremental_dedup(hist, inc).collect()))
    assert got == want and len(got) > 0


def test_incremental_minhash_indexed_matches_unindexed(
    spark, split_docs, band_index
):
    hist, inc = split_docs
    got = sorted(
        map(
            tuple,
            DI.incremental_minhash_indexed(spark, inc, band_index).collect(),
        )
    )
    want = sorted(
        map(tuple, D.incremental_minhash_dedup(hist, inc, 0.2).collect())
    )
    assert got == want and len(got) > 0


def test_fingerprint_probe_has_no_history_side_exchange(
    spark, split_docs, fp_index, no_broadcast
):
    _, inc = split_docs
    tree = _plan_tree(DI.incremental_dedup_indexed(spark, inc, fp_index))
    path = _path_to_join(tree, f"default.{fp_index}")
    assert "SortMergeJoin" in path[-1]
    assert not any("Exchange" in n for n in path), (path, tree)
    # ...while the batch side DOES shuffle (that's the design: cost
    # scales with the batch) — the plan has exchanges, just none
    # between the index scan and its join.
    assert "Exchange" in tree


def test_band_probe_and_set_fetch_have_no_history_side_exchange(
    spark, split_docs, band_index, no_broadcast
):
    """The two claims from SCALE.md's incremental-minhash design:
    (1) the probe join reads the band index with no Exchange, and
    (2) the shingle-set table is joined back for collided candidates
    only — also exchange-free on the history side, and the band rows
    carry no set payload (sh_arr appears nowhere in the bands-scan
    subtree)."""
    _, inc = split_docs
    df = DI.incremental_minhash_indexed(spark, inc, band_index)
    tree = _plan_tree(df)
    for scan in (f"default.{band_index}_bands", f"default.{band_index}_sets"):
        path = _path_to_join(tree, scan)
        assert "SortMergeJoin" in path[-1], (scan, path)
        assert not any("Exchange" in n for n in path), (scan, path, tree)

    # The bands table itself must not carry the set payload.
    bands_schema = spark.table(f"{band_index}_bands").columns
    assert bands_schema == ["doc_id", "band", "band_val"]


def test_index_write_is_one_file_per_bucket(spark, fp_index):
    """The write repartitions onto the bucket hash so each bucket is
    exactly one parquet file — the layout that avoids the small-file
    explosion at volume."""
    import os

    loc = (
        spark.sql(f"DESCRIBE TABLE EXTENDED {fp_index}")
        .filter(F.col("col_name") == "Location")
        .collect()[0]["data_type"]
    )
    files = [
        f
        for f in os.listdir(loc.removeprefix("file:"))
        if f.endswith(".parquet")
    ]
    assert len(files) == DI.DEFAULT_BUCKETS


def test_fingerprint_index_append_maintenance(spark, split_docs, tmp_path):
    """The incremental loop closed end-to-end: probe batch 1 against
    the index, APPEND its survivors, then probe batch 2 — batch-1
    texts re-arriving in batch 2 must now be rejected, the probe plan
    must still read the grown index with no history-side Exchange,
    and the append must preserve the table's bucket spec."""
    hist, inc = split_docs
    b1 = inc.filter(F.col("doc_id") % 4 == 1)
    b2 = inc  # includes every batch-1 doc again, plus new ones

    DI.write_fingerprint_index(
        hist, "test_fp_append", path=str(tmp_path / "fp")
    )
    try:
        s1 = DI.incremental_dedup_indexed(spark, b1, "test_fp_append")
        n1 = s1.count()
        assert n1 > 0
        DI.append_fingerprints(s1, "test_fp_append")

        s2 = DI.incremental_dedup_indexed(spark, b2, "test_fp_append")
        got = {r.content_fp for r in s2.collect()}
        # Equivalent reference: dedup b2 against history + batch 1.
        want = {
            r.content_fp
            for r in D.incremental_dedup(hist.unionByName(b1), b2).collect()
        }
        assert got == want
        # None of batch 1's accepted fingerprints re-admit.
        assert not (got & {r.content_fp for r in s1.collect()})

        # The grown index still probes exchange-free.
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            tree = _plan_tree(
                DI.incremental_dedup_indexed(spark, b2, "test_fp_append")
            )
            path = _path_to_join(tree, "default.test_fp_append")
            assert not any("Exchange" in n for n in path), path
        finally:
            spark.conf.set(
                "spark.sql.autoBroadcastJoinThreshold", "10485760"
            )
    finally:
        spark.sql("DROP TABLE IF EXISTS test_fp_append")


def test_band_index_append_maintenance(spark, split_docs, tmp_path):
    """Near-dup twin of the fingerprint append test: accept batch 1
    into the band index, then batch 2 (which re-sends batch 1's docs)
    must flag those docs as near-dups of THEMSELVES in the corpus —
    and the grown index must still probe exchange-free."""
    hist, inc = split_docs
    b1 = inc.filter(F.col("doc_id") % 4 == 1)

    DI.write_band_index(
        hist, "test_band_append", path_prefix=str(tmp_path / "band")
    )
    try:
        flagged1 = {
            r.doc_id
            for r in DI.incremental_minhash_indexed(
                spark, b1, "test_band_append"
            ).collect()
        }
        # Accept batch 1's survivors (docs NOT flagged) into the corpus.
        accepted = b1.filter(~F.col("doc_id").isin(list(flagged1) or [-1]))
        n_accepted = accepted.count()
        assert n_accepted > 0
        DI.append_to_band_index(accepted, "test_band_append")

        # Re-sending the accepted docs: each must now collide with
        # itself (jaccard 1.0 against its own corpus copy).
        m2 = DI.incremental_minhash_indexed(
            spark, accepted, "test_band_append"
        )
        self_hits = {
            r.doc_id for r in m2.collect() if r.doc_id == r.match_id
        }
        shingled = {
            r.doc_id
            for r in D.minhash_signatures(accepted)
            .select("doc_id").collect()
        }
        assert self_hits == shingled  # every shingle-bearing doc self-matches

        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            tree = _plan_tree(
                DI.incremental_minhash_indexed(
                    spark, b1, "test_band_append"
                )
            )
            for scan in (
                "default.test_band_append_bands",
                "default.test_band_append_sets",
            ):
                path = _path_to_join(tree, scan)
                assert not any("Exchange" in n for n in path), (scan, path)
        finally:
            spark.conf.set(
                "spark.sql.autoBroadcastJoinThreshold", "10485760"
            )
    finally:
        spark.sql("DROP TABLE IF EXISTS test_band_append_bands")
        spark.sql("DROP TABLE IF EXISTS test_band_append_sets")


def test_index_edge_cases_empty_sides(spark, split_docs, tmp_path):
    """Degenerate inputs must degrade, not crash: an EMPTY corpus
    index admits every batch row; an empty batch probes to zero rows;
    an all-short-text (shingle-free) corpus yields a valid, empty
    band index."""
    hist, inc = split_docs
    empty = hist.filter(F.lit(False))
    short = spark.createDataFrame(
        [(1, "one two", "en", "web")],  # < 3 tokens -> no 3-gram shingles
        "doc_id long, text string, lang string, source string",
    )
    try:
        DI.write_fingerprint_index(
            empty, "test_fp_empty", path=str(tmp_path / "fpe")
        )
        out = DI.incremental_dedup_indexed(spark, inc, "test_fp_empty")
        # Nothing in history -> every distinct batch fingerprint survives.
        assert out.count() == inc.select(
            F.sha2(
                F.lower(F.trim(F.regexp_replace("text", r"\s+", " "))), 256
            )
        ).distinct().count()

        DI.write_fingerprint_index(
            hist, "test_fp_eb", path=str(tmp_path / "fpeb")
        )
        assert (
            DI.incremental_dedup_indexed(spark, empty, "test_fp_eb").count()
            == 0
        )

        DI.write_band_index(
            short, "test_band_empty", path_prefix=str(tmp_path / "be")
        )
        assert spark.table("test_band_empty_bands").count() == 0
        assert (
            DI.incremental_minhash_indexed(
                spark, inc, "test_band_empty"
            ).count()
            == 0
        )
    finally:
        for t in (
            "test_fp_empty", "test_fp_eb",
            "test_band_empty_bands", "test_band_empty_sets",
        ):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_probe_refreshes_index_dir_mtime(spark, split_docs, tmp_path):
    """A PROBE must refresh the index dirs' mtimes (ADVICE r14): the
    scratch-index GC in plans/pipeline_ops5._index_ns treats mtime age
    as app liveness, and builds/appends refresh it only as a side
    effect of writing files — a read-only phase must not look dead."""
    import os

    hist, inc = split_docs
    fp_path = tmp_path / "fp_live"
    try:
        DI.write_fingerprint_index(hist, "test_fp_live", path=str(fp_path))
        old = os.path.getmtime(fp_path) - 7200
        os.utime(fp_path, (old, old))  # simulate hours of probe-only idle
        DI.incremental_dedup_indexed(spark, inc, "test_fp_live").count()
        assert os.path.getmtime(fp_path) > old + 3600

        DI.write_band_index(hist, "test_band_live",
                            path_prefix=str(tmp_path / "band_live"))
        for suffix in ("_bands", "_sets"):
            p = str(tmp_path / "band_live") + suffix
            os.utime(p, (old, old))
        DI.incremental_minhash_indexed(spark, inc, "test_band_live").count()
        for suffix in ("_bands", "_sets"):
            p = str(tmp_path / "band_live") + suffix
            assert os.path.getmtime(p) > old + 3600, suffix
    finally:
        for t in ("test_fp_live", "test_band_live_bands",
                  "test_band_live_sets"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_index_ns_remote_warehouse_uri_kept_intact(spark, monkeypatch):
    """With an hdfs:// or s3a:// warehouse the index location keeps the
    URI (writes/clears go through the Hadoop FileSystem) and the
    local-filesystem GC is skipped (ADVICE r14: the old 'file:'-strip
    turned the URI into a bogus local path)."""
    from duckdb_redis_olap_scanner_spark.plans.pipeline_ops5 import _index_ns

    real_get = spark.conf.get

    def fake_get(key, default=None):
        if key == "spark.sql.warehouse.dir":
            return "s3a://bucket/warehouse/"
        return real_get(key, default)

    monkeypatch.setattr(spark.conf, "get", fake_get)
    name, path = _index_ns(spark, "idx_remote_test")
    assert path == f"s3a://bucket/warehouse/spark_graft_idx/{name}"
    assert name.startswith("idx_remote_test_")

    def fake_get_hdfs(key, default=None):
        if key == "spark.sql.warehouse.dir":
            return "hdfs://nn:8020/wh"
        return real_get(key, default)

    monkeypatch.setattr(spark.conf, "get", fake_get_hdfs)
    _, path = _index_ns(spark, "idx_remote_test")
    assert path.startswith("hdfs://nn:8020/wh/spark_graft_idx/")


def test_clear_location_scheme_dispatch(spark, tmp_path):
    """_clear_location: local paths (plain or file:) are cleared with
    shutil; a file:// URI exercises the same local branch; missing
    locations are a no-op either way."""
    import os

    d = tmp_path / "victim"
    d.mkdir()
    (d / "part-0000").write_text("x")
    DI._clear_location(spark, str(d))
    assert not d.exists()

    d2 = tmp_path / "victim2"
    d2.mkdir()
    (d2 / "part-0000").write_text("x")
    DI._clear_location(spark, "file://" + str(d2))
    assert not d2.exists()

    DI._clear_location(spark, str(tmp_path / "never_existed"))  # no-op

    assert DI._is_local_uri("/abs/path")
    assert DI._is_local_uri("file:/abs/path")
    assert DI._is_local_uri("file:///abs/path")
    assert not DI._is_local_uri("s3a://bucket/prefix")
    assert not DI._is_local_uri("hdfs://nn:8020/wh")


def test_index_ns_gc_semantics(spark, monkeypatch, tmp_path):
    """The scratch-index GC: this app's own dirs are NEVER touched
    (any age), other apps' dirs are reaped only past the 24h cutoff,
    and fresh foreign dirs (a live concurrent app — builds, appends,
    and probes all refresh mtime) are kept."""
    import os
    import re
    import time

    from duckdb_redis_olap_scanner_spark.plans.pipeline_ops5 import _index_ns

    real_get = spark.conf.get

    def fake_get(key, default=None):
        if key == "spark.sql.warehouse.dir":
            return str(tmp_path)
        return real_get(key, default)

    monkeypatch.setattr(spark.conf, "get", fake_get)
    app = re.sub(r"[^0-9A-Za-z]+", "_", spark.sparkContext.applicationId)
    parent = tmp_path / "spark_graft_idx"
    parent.mkdir()
    ancient = time.time() - 48 * 3600
    cases = {
        f"own_old_{app}_bands": True,      # own app: kept at any age
        "foreign_old_deadapp1_idx": False,  # stale foreign: reaped
        "foreign_fresh_liveapp2_idx": True,  # fresh foreign: kept
    }
    for d, _keep in cases.items():
        (parent / d).mkdir()
    os.utime(parent / f"own_old_{app}_bands", (ancient, ancient))
    os.utime(parent / "foreign_old_deadapp1_idx", (ancient, ancient))

    name, path = _index_ns(spark, "idx_gc_test")
    assert name == f"idx_gc_test_{app}"
    assert path == str(parent / name)
    for d, keep in cases.items():
        assert (parent / d).exists() is keep, d


def test_attach_bucketed_recovers_index_without_rebuild(
    spark, split_docs, tmp_path, no_broadcast
):
    """Restart recovery (r15 write-path hunt): after the session that
    BUILT an index dies, a fresh session must be able to re-register
    it from the sidecar and probe/append with the original bucket
    layout — no history rebuild, still no history-side Exchange."""
    hist, inc = split_docs
    path = str(tmp_path / "fp")
    DI.write_fingerprint_index(hist, "test_fp_attach", path=path)
    try:
        want = sorted(
            map(tuple, DI.incremental_dedup_indexed(
                spark, inc, "test_fp_attach").collect())
        )
        # Simulate the restart: the catalog forgets the table (files
        # survive — the table is external). Deliberately NOT clearing
        # DI._LOCATION_CACHE: attach must trust the catalog, not a
        # stale cache entry, for existence.
        spark.sql("DROP TABLE test_fp_attach")

        DI.attach_bucketed(spark, "test_fp_attach", path)
        got = sorted(
            map(tuple, DI.incremental_dedup_indexed(
                spark, inc, "test_fp_attach").collect())
        )
        assert got == want and len(got) > 0
        # the re-attached table still carries the bucket spec
        assert DI._index_buckets(spark, "test_fp_attach") == \
            DI.DEFAULT_BUCKETS
        tree = _plan_tree(
            DI.incremental_dedup_indexed(spark, inc, "test_fp_attach")
        )
        path_nodes = _path_to_join(tree, "default.test_fp_attach")
        assert not any("Exchange" in n for n in path_nodes), path_nodes
        # idempotent re-attach; a DIFFERENT location refuses
        DI.attach_bucketed(spark, "test_fp_attach", path)
        with pytest.raises(ValueError, match="already registered"):
            DI.attach_bucketed(
                spark, "test_fp_attach", str(tmp_path / "elsewhere")
            )
    finally:
        spark.sql("DROP TABLE IF EXISTS test_fp_attach")


def test_attach_refuses_location_without_sidecar(spark, tmp_path):
    """Attaching a bare parquet directory (no sidecar = no provable
    bucket spec) must refuse: a guessed bucket count that differs from
    how the files were written silently mis-co-locates every join."""
    loc = tmp_path / "bare"
    loc.mkdir()
    (loc / "part-00000.parquet").write_bytes(b"")
    with pytest.raises(ValueError, match="sidecar"):
        DI.attach_bucketed(spark, "test_never_attached", str(loc))


def test_torn_band_append_raises_loudly(spark, split_docs, tmp_path):
    """A crash between append_to_band_index's two appends leaves band
    rows without set rows. The probe must RAISE on such candidates —
    the old inner join silently dropped them, admitting near-dups of
    the torn doc as unique (r15 write-path hunt)."""
    hist, inc = split_docs
    DI.write_band_index(
        hist, "test_band_torn", path_prefix=str(tmp_path / "band")
    )
    try:
        accepted = inc.limit(20)
        # Simulate the torn state: replay ONLY the bands half of the
        # append (same math as append_to_band_index's first write).
        DI._append_bucketed(
            D.lsh_bands(D.minhash_signatures(accepted)),
            "test_band_torn_bands",
            ["band", "band_val"],
        )
        with pytest.raises(Exception, match="band index is torn"):
            DI.incremental_minhash_indexed(
                spark, accepted, "test_band_torn"
            ).collect()
    finally:
        spark.sql("DROP TABLE IF EXISTS test_band_torn_bands")
        spark.sql("DROP TABLE IF EXISTS test_band_torn_sets")


def test_verify_band_index_audit(spark, split_docs, tmp_path):
    """Offline audit: green on a healthy index; loud on the torn
    state (bands without sets) and on double-applied appends
    (duplicate set rows)."""
    hist, inc = split_docs
    DI.write_band_index(
        hist, "test_band_audit", path_prefix=str(tmp_path / "band")
    )
    try:
        DI.verify_band_index(spark, "test_band_audit")  # healthy

        accepted = inc.limit(10)
        DI._append_bucketed(
            D.lsh_bands(D.minhash_signatures(accepted)),
            "test_band_audit_bands",
            ["band", "band_val"],
        )
        with pytest.raises(RuntimeError, match="torn"):
            DI.verify_band_index(spark, "test_band_audit")

        # healing: the full append completes the sets half (and adds
        # benign duplicate band rows)
        DI.append_to_band_index(accepted, "test_band_audit")
        DI.verify_band_index(spark, "test_band_audit")

        # double-applying the SAME append -> duplicate set rows
        DI.append_to_band_index(accepted, "test_band_audit")
        with pytest.raises(RuntimeError, match="duplicate set rows"):
            DI.verify_band_index(spark, "test_band_audit")
    finally:
        spark.sql("DROP TABLE IF EXISTS test_band_audit_bands")
        spark.sql("DROP TABLE IF EXISTS test_band_audit_sets")


def test_sidecar_roundtrip_through_hadoop_filesystem(
    spark, monkeypatch, tmp_path
):
    """Exercise the REMOTE sidecar branch against Hadoop's
    LocalFileSystem (file:/// URI with _is_local_uri forced False):
    the py4j read must hand bytes back as a JVM return value — a
    Python bytearray passed to stream.read() is filled on a Java-side
    COPY and stays zeroed here (r15 review: every remote attach
    decoded NULs) — and the write must publish atomically via
    tmp+rename."""
    monkeypatch.setattr(DI, "_is_local_uri", lambda p: False)
    loc = "file://" + str(tmp_path / "remote_idx")
    meta = {"bucket_cols": ["content_fp"], "buckets": 8,
            "sorted_by": ["content_fp"],
            "schema": [["content_fp", "string"]]}
    DI._write_sidecar(spark, loc, meta)
    assert DI._read_sidecar(spark, loc) == meta
    # absent sidecar reads as None (distinct location)
    assert DI._read_sidecar(
        spark, "file://" + str(tmp_path / "nothing")
    ) is None
    # no torn temp file left behind (Hadoop's .crc checksum sibling is
    # expected — dot-prefixed, invisible to Spark's input listing)
    import os as _os
    files = _os.listdir(tmp_path / "remote_idx")
    assert DI._SIDECAR in files, files
    assert not [f for f in files if f.endswith(".tmp")], files


def test_attach_recovers_band_index_pair(spark, split_docs, tmp_path,
                                         no_broadcast):
    """The two-table band index recovers by attaching BOTH tables from
    their sidecars; the re-attached pair probes identically and still
    exchange-free on the history side."""
    hist, inc = split_docs
    prefix = "test_band_reattach"
    path_prefix = str(tmp_path / "band")
    DI.write_band_index(hist, prefix, path_prefix=path_prefix)
    try:
        want = sorted(map(tuple, DI.incremental_minhash_indexed(
            spark, inc, prefix).collect()))
        spark.sql(f"DROP TABLE {prefix}_bands")
        spark.sql(f"DROP TABLE {prefix}_sets")
        DI.attach_bucketed(spark, f"{prefix}_bands", f"{path_prefix}_bands")
        DI.attach_bucketed(spark, f"{prefix}_sets", f"{path_prefix}_sets")
        got = sorted(map(tuple, DI.incremental_minhash_indexed(
            spark, inc, prefix).collect()))
        assert got == want and len(got) > 0
        tree = _plan_tree(DI.incremental_minhash_indexed(spark, inc, prefix))
        for scan in (f"default.{prefix}_bands", f"default.{prefix}_sets"):
            path_nodes = _path_to_join(tree, scan)
            assert not any("Exchange" in n for n in path_nodes), (
                scan, path_nodes)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {prefix}_bands")
        spark.sql(f"DROP TABLE IF EXISTS {prefix}_sets")
