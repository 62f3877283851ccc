"""Band-gate branches (r21): the mid-band shapes q4/q5/q13/q14 switch
into above the static broadcast thresholds must stay result-identical
to the oracle, and broadcast_when_counted must honor its probe-cap and
row-cap contract.

The branches are volume-gated on real file sizes, so at the test SFs
they never fire on their own; these tests force them by patching the
static gate the query functions consult, then compare rows against the
same DuckDB oracle the registry entry declares. This is the suite twin
of the manual 100× verification recorded in OPTIMIZATION_r21.md.
"""

from __future__ import annotations

import os

import duckdb
import pytest

from duckdb_redis_olap_scanner_spark.plans import catalog as C
from duckdb_redis_olap_scanner_spark.plans import relational as R

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

RELATIONAL = ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem")


def _oracle_rows(name: str):
    con = duckdb.connect()
    try:
        for t in RELATIONAL:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{os.path.join(SF_DIR, t + '.parquet')}')"
            )
        return sorted(map(tuple, con.execute(
            C.registry()[name].oracle).fetchall()))
    finally:
        con.close()


def _force_band(monkeypatch, *, small: tuple[str, ...] = ()):
    """Make the static gates treat every table as above-threshold
    (band regime) except the ones listed in ``small``."""

    def fake_fits(sf_dir, name, cap_bytes=C.BROADCAST_CAP_BYTES):
        return name in small

    monkeypatch.setattr(R, "fits_broadcast", fake_fits)


@pytest.mark.parametrize(
    "query,small",
    [
        ("q4_order_priority", ()),
        # q5's band branch additionally requires customer to stay
        # statically broadcastable.
        ("q5_local_supplier_volume", ("customer",)),
        ("q13_customer_distribution", ()),
        ("q14_promo_effect", ()),
        # r22: q3's qualified-orders band branch (join-first + counted
        # broadcast, group after).
        ("q3_shipping_priority", ()),
    ],
)
def test_band_branch_matches_oracle(spark, monkeypatch, query, small):
    _force_band(monkeypatch, small=small)
    got = sorted(map(tuple, C.registry()[query].fn(spark, SF_DIR).collect()))
    assert got == _oracle_rows(query)


def test_band_branch_q4_uses_broadcast_inner(spark, monkeypatch):
    """With the probe approving, q4's band shape is the broadcast-inner
    distinct — no SortMergeJoin, lineitem never exchanged."""
    _force_band(monkeypatch)
    plan = (
        C.registry()["q4_order_priority"].fn(spark, SF_DIR)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_band_branch_q13_q14_use_merge(spark, monkeypatch):
    _force_band(monkeypatch)
    for q in ("q13_customer_distribution", "q14_promo_effect"):
        plan = (
            C.registry()[q].fn(spark, SF_DIR)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "SortMergeJoin" in plan, q
        assert "BroadcastHashJoin" not in plan, q


def test_broadcast_when_counted_contract(spark, monkeypatch):
    # r21 ADVICE seam fix: patch catalog._file_size (the one stats
    # source every gate reads), NOT os.path.getsize globally — PySpark
    # internals call getsize during collect() and saw the fake too.
    df = spark.range(10)

    # Probe cap: a cluster-sized gate table skips the probe entirely.
    monkeypatch.setattr(
        C, "_file_size", lambda d, n: C.COUNT_PROBE_CAP_BYTES
    )
    assert C.broadcast_when_counted(df, SF_DIR, "orders") is None

    # In-band, over the row cap: probe runs, says no.
    monkeypatch.setattr(C, "_file_size", lambda d, n: 1 << 20)
    assert C.broadcast_when_counted(df, SF_DIR, "orders", max_rows=5) is None

    # In-band, under the row cap: broadcast hint applied.
    out = C.broadcast_when_counted(df, SF_DIR, "orders", max_rows=100)
    assert out is not None
    assert sorted(r[0] for r in out.collect()) == list(range(10))

    # Missing stats: the safe cluster assumption — never broadcast.
    def raise_oserror(d, n):
        raise OSError(n)

    monkeypatch.setattr(C, "_file_size", raise_oserror)
    assert C.broadcast_when_counted(df, SF_DIR, "orders") is None


def test_broadcast_when_counted_byte_budget(spark, monkeypatch):
    """r21 ADVICE: the row cap alone would admit wide frames — a
    probe-approved count must also fit the schema-estimated byte
    budget."""
    df = spark.range(10)
    monkeypatch.setattr(C, "_file_size", lambda d, n: 1 << 20)
    monkeypatch.setattr(C, "_counted_broadcast_max_bytes", lambda: 16)
    # 10 rows x 8 B = 80 B > 16 B budget -> refused despite row cap.
    assert (
        C.broadcast_when_counted(df, SF_DIR, "orders", max_rows=100) is None
    )


def test_broadcast_when_counted_footer_short_circuit(spark, monkeypatch):
    """When the gate table's parquet footer already proves the
    unfiltered row count fits, the count job is skipped (the filtered
    frame can only be smaller)."""
    df = spark.range(10)
    monkeypatch.setattr(C, "_file_size", lambda d, n: 1 << 20)
    rows = int(
        __import__("pyarrow.parquet", fromlist=["ParquetFile"])
        .ParquetFile(os.path.join(SF_DIR, "orders.parquet"))
        .metadata.num_rows
    )
    group = "bwc-footer-test"
    spark.sparkContext.setJobGroup(group, "footer short-circuit probe")
    out = C.broadcast_when_counted(
        df, SF_DIR, "orders", max_rows=rows + 1
    )
    spark.sparkContext.setJobGroup(None, None)
    assert out is not None
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) == 0, "footer-provable fit must not run a count job"


def test_broadcast_when_counted_probe_opt_out(spark, monkeypatch):
    """SPARK_GRAFT_NO_COUNT_PROBE=1 keeps plan capture side-effect
    free: the band gate answers None without running any job."""
    df = spark.range(10)
    monkeypatch.setattr(C, "_file_size", lambda d, n: 1 << 20)
    monkeypatch.setenv("SPARK_GRAFT_NO_COUNT_PROBE", "1")
    assert (
        C.broadcast_when_counted(df, SF_DIR, "orders", max_rows=100) is None
    )


def test_derived_band_thresholds_match_measured_anchors():
    """VERDICT item 6: the band thresholds derive from session facts
    (cores, driver heap) and reproduce the measured anchors exactly at
    this sandbox's default config — so every committed plan artifact
    re-diffs byte-identical."""
    assert C._MERGE_ANCHOR_BYTES == 8 << 20
    # at the default 32 cores the derived value IS the anchor
    assert (C._MERGE_ANCHOR_BYTES * C._MERGE_ANCHOR_CPUS) // 32 == 8 << 20
    # fewer cores -> exchange slower -> broadcast pays longer
    assert (C._MERGE_ANCHOR_BYTES * C._MERGE_ANCHOR_CPUS) // 8 == 32 << 20
    # default 8 GiB driver reproduces the r21 4 M-row cap
    assert int(8.0 * C._COUNTED_ROWS_PER_DRIVER_GIB) == 4_000_000


def test_band_thresholds_follow_live_session_facts(spark, monkeypatch):
    """Both derived thresholds resolve per call, so a changed
    SPARK_GRAFT_CPUS / SPARK_GRAFT_DRIVER_MEM takes effect within one
    process instead of staying frozen at import time."""

    class FakeDF:
        def __init__(self):
            self.hints = []

        def hint(self, h):
            self.hints.append(h)
            return self

    # 16 MiB of orders: above the 8 MiB crossover at 32 cores, below
    # the 64 MiB one at 4 cores.
    monkeypatch.setattr(C, "_file_size", lambda d, n: 16 << 20)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "32")
    assert C.merge_join_above(FakeDF(), SF_DIR, "orders").hints == ["merge"]
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "4")
    assert C.merge_join_above(FakeDF(), SF_DIR, "orders").hints == []

    # 1 M rows: under the 4 M-row cap of an 8 GiB driver, over the
    # 500 k-row cap of a 1 GiB one. The gate table has no parquet
    # footer, so both calls run the count probe.
    df = spark.range(1_000_000)
    monkeypatch.setattr(C, "_file_size", lambda d, n: 1 << 20)
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "8g")
    assert C.broadcast_when_counted(df, SF_DIR, "no_footer") is not None
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "1g")
    assert C.broadcast_when_counted(df, SF_DIR, "no_footer") is None
