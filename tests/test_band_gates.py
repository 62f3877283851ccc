"""Band-gate branches (r21): the mid-band shapes q4/q5/q13/q14 switch
into above the static broadcast thresholds must stay result-identical
to the oracle, and broadcast_when_counted must honor its probe-cap and
row-cap contract.

The branches are volume-gated on real file sizes, so at the test SFs
they never fire on their own; these tests force them by patching the
static gate the query functions consult, then compare rows against the
same DuckDB oracle the registry entry declares, so the branches are
checked in the suite and not only by a manual run at 100×.
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
    (band regime) except the ones listed in ``small``: both the
    shape switches in the query functions and the ``maybe_broadcast``
    hints, which then leave the join strategy to the planner."""

    def fake_fits(sf_dir, name):
        return name in small

    monkeypatch.setattr(R, "fits_broadcast", fake_fits)
    monkeypatch.setattr(C, "fits_broadcast", fake_fits)


@pytest.mark.parametrize(
    "query,small",
    [
        ("q4_order_priority", ()),
        # q5's band branch additionally requires customer to stay
        # statically broadcastable.
        ("q5_local_supplier_volume", ("customer",)),
        # q13/q14 have no band branch: their joins run unhinted.
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
    monkeypatch.setattr(C, "_counted_broadcast_max_bytes", lambda spark: 16)
    # 10 rows x 8 B = 80 B > 16 B budget -> refused despite row cap.
    assert (
        C.broadcast_when_counted(df, SF_DIR, "orders", max_rows=100) is None
    )


def test_derived_band_thresholds_match_measured_anchors():
    """The counted-broadcast row cap derives from the driver heap and
    reproduces the measured 4 M-row anchor at the default 8 GiB."""
    assert int(8.0 * C._COUNTED_ROWS_PER_DRIVER_GIB) == 4_000_000


def test_band_thresholds_follow_live_session_facts(spark, monkeypatch):
    """The count probe's budgets come from the live session's
    ``spark.driver.memory``: an environment variable set after the
    session started does not move them."""
    heap = spark.sparkContext._jsc.sc().conf().getSizeAsBytes(
        "spark.driver.memory", "1g"
    )
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "1g")
    cap = C._counted_broadcast_max_rows(spark)
    assert cap == int(heap / (1 << 30) * 500_000)
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "64g")
    assert C._counted_broadcast_max_rows(spark) == cap

    # The probe admits exactly ``cap`` rows.
    monkeypatch.setattr(C, "_file_size", lambda d, n: 1 << 20)
    assert C.broadcast_when_counted(spark.range(cap), SF_DIR, "orders")
    assert C.broadcast_when_counted(
        spark.range(cap + 1), SF_DIR, "orders"
    ) is None


def test_catalog_reads_no_env_var():
    """Cost gates and the session cache read session facts, not the
    environment: ``plans/catalog.py`` never touches ``os.environ`` or
    ``os.getenv``."""
    import ast
    import pathlib

    tree = ast.parse(pathlib.Path(C.__file__).read_text())
    env_refs = [
        n for n in ast.walk(tree)
        if (isinstance(n, ast.Attribute) and n.attr in ("environ", "getenv"))
        or (isinstance(n, ast.Name) and n.id in ("environ", "getenv"))
    ]
    assert env_refs == []
